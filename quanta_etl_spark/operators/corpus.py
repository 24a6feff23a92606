"""Training-corpus assembly operators: benchmark decontamination,
per-domain quota capping, token-budget sequence packing, deterministic
global shuffle ordering.

These are the steps between "cleaned, deduplicated documents" and "a
training run can consume this" — no counterpart in the reference (its
ETL stops at partitioned parquet, dags/spark/etl.py:171-175); part of
the LLM-data surface this engine adds.

Everything is pure Catalyst — hashes via xxhash64 (or the md5-derived
60-bit portable variant for oracle-checked queries), n-grams via
split + transform/slice, ranks via window functions over explicit
partition keys, never a global single-partition window — EXCEPT
``decontaminate``'s default Arrow kernel: Catalyst's higher-order
lambdas (transform + slice + concat_ws) run interpreted outside
whole-stage codegen, and the measured 15× gap at the sf1 replica
(NOTES r11) justifies the one vectorized mapInPandas pass there.
"""

from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from quanta_etl_spark.functions.text import portable_hash60, ws_tokens
from quanta_etl_spark.operators.dedup import _mix64
from quanta_etl_spark.operators.util import spread as _spread


def _row_hash(col: Column, variant: str) -> Column:
    if variant == "xxhash64":
        return F.xxhash64(col)
    if variant == "md5_60":
        return portable_hash60(col.cast("string"))
    raise ValueError(f"unknown hash variant: {variant!r}")


def word_ngrams(text: Column | str, n: int) -> Column:
    """Distinct word-level n-grams (space-joined) of whitespace-split
    text; documents shorter than n words yield an empty array."""
    t = F.col(text) if isinstance(text, str) else text
    w = ws_tokens(F.lower(t))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(w) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(w, i, n)),
    )
    # guard BEFORE building the sequence: sequence(1, 0) descends in
    # Spark ([1, 0]) and a 0 start crashes slice
    return F.when(
        F.size(w) >= n, F.array_distinct(grams)
    ).otherwise(F.array().cast("array<string>"))


def _gram_hash_arrays(texts, n: int, word_cache: dict) -> list:
    """Per-doc arrays of distinct 64-bit word-n-gram hashes, gram
    semantics identical to ``word_ngrams`` (lower → trim spaces →
    Java-\\s+ split → space-joined n-grams → distinct): tokenization
    mirrors Spark's ``split(trim(lower(t)), '\\s+')`` including its
    edge behavior (Java keeps a LEADING empty token when the trimmed
    string starts with non-space whitespace, and drops TRAILING
    empties; ``trim`` strips 0x20 only). Words hash once per distinct
    word via blake2b-64 (``word_cache`` persists across batches inside
    one Python worker); gram hashes are an order-sensitive splitmix64
    chain over the window's word hashes, vectorized with numpy over
    all window offsets at once — no per-gram string is ever built.
    Gram identity = token-sequence identity = the joined string the
    SQL oracle compares, so counts match the string oracle barring
    64-bit collisions (the same exposure the previous xxhash64-on-
    string form had)."""
    import hashlib

    import numpy as np

    out = []
    for t in texts:
        s = (t or "").lower().strip(" ")
        if not s:
            out.append(np.empty(0, dtype=np.int64))
            continue
        words = re.split(r"[ \t\n\x0b\f\r]+", s)
        if words and words[-1] == "":
            words.pop()
        if len(words) < n:
            out.append(np.empty(0, dtype=np.int64))
            continue
        wh = np.empty(len(words), dtype=np.uint64)
        for i, w in enumerate(words):
            h = word_cache.get(w)
            if h is None:
                h = int.from_bytes(
                    hashlib.blake2b(w.encode(), digest_size=8).digest(), "big"
                )
                if len(word_cache) < 4_000_000:  # bound worker memory
                    word_cache[w] = h
            wh[i] = h
        m = len(words) - n + 1
        acc = np.zeros(m, dtype=np.uint64)
        for k in range(n):
            acc = _mix64(acc ^ wh[k : k + m])
        out.append(np.unique(acc.view(np.int64)))
    return out


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_overlap: int = 1,
    hash_variant: str = "xxhash64",
    use_arrow: bool = True,
    max_broadcast_grams: int = 50_000_000,
) -> DataFrame:
    """Flag corpus documents that share ≥ ``min_overlap`` word n-grams
    with a benchmark/eval set (train-test contamination screening, the
    GPT-3/PaLM 8-gram protocol). Returns the corpus ids with
    ``n_overlap`` (distinct shared n-grams) and ``contaminated``.

    Shape at 100 TB (``use_arrow``, the default): the benchmark side —
    the distinct n-gram hashes of an EVAL set, thousands to a few
    million values — is collected and broadcast as one sorted int64
    array, and the corpus is screened in a single ``mapInPandas`` pass
    that computes each doc's distinct gram hashes in numpy and counts
    membership with one ``np.isin`` per doc: no explode, no join, no
    shuffle — scan → Arrow kernel → done. The bounded collect is the
    same data volume the broadcast hash join would ship to every
    executor anyway; it is guarded by ``max_broadcast_grams`` (the
    benchmark side is counted first — it is tiny by contract), above
    which the operator falls back to the join form below. An Arrow
    kernel rather than ``word_ngrams``: Catalyst evaluates
    higher-order-function lambdas (transform + slice + concat_ws)
    INTERPRETED, outside whole-stage codegen — measured 30s for a
    2.2M-gram corpus at the sf1 replica where the numpy rolling-hash
    kernel takes ~2s (NOTES r11); there is no codegen-native
    sliding-window n-gram. ``hash_variant`` only affects the fallback
    join path — the kernel's internal hashing (blake2b word hashes +
    splitmix64 rolling chain) never leaves the operator.

    Fallback shape (``use_arrow=False`` or an over-budget benchmark):
    n-grams hashed to int64 before the join (8 bytes instead of
    ~50-char strings through the shuffle); the benchmark gram set is
    broadcast, so the corpus is never shuffled at all: scan → explode
    → broadcast-hash-join → partial count. The corpus-side explode is
    streamed row-group by row-group, never materialized.
    """
    if use_arrow:
        import numpy as np
        import pandas as pd

        id_dt = corpus.schema[id_col].dataType.simpleString()

        def bench_grams_kernel(batches):
            cache: dict = {}
            for pdf in batches:
                arrs = _gram_hash_arrays(pdf[text_col], n, cache)
                if arrs:
                    u = np.unique(np.concatenate(arrs))
                    yield pd.DataFrame({"__gh": u})

        bench_gh = (
            _spread(benchmark.select(text_col))
            .mapInPandas(bench_grams_kernel, "__gh long")
            .distinct()
        )
        if bench_gh.count() <= max_broadcast_grams:
            bench_arr = np.sort(
                np.fromiter(
                    (r[0] for r in bench_gh.collect()), dtype=np.int64
                )
            )
            bc = corpus.sparkSession.sparkContext.broadcast(bench_arr)

            def screen(batches):
                cache: dict = {}
                bg = bc.value
                for pdf in batches:
                    arrs = _gram_hash_arrays(pdf[text_col], n, cache)
                    counts = np.fromiter(
                        (
                            int(
                                np.isin(a, bg, assume_unique=True).sum()
                            )
                            for a in arrs
                        ),
                        dtype=np.int64,
                        count=len(arrs),
                    )
                    yield pd.DataFrame(
                        {
                            id_col: pdf[id_col].to_numpy(),
                            "n_overlap": counts,
                            "contaminated": counts >= min_overlap,
                        }
                    )

            return _spread(corpus.select(id_col, text_col)).mapInPandas(
                screen, f"{id_col} {id_dt}, n_overlap long, contaminated boolean"
            )
        # benchmark too large to broadcast as one array: fall through

    gram_h = lambda df: df.select(  # noqa: E731
        F.col(id_col),
        F.explode(word_ngrams(text_col, n)).alias("__gram"),
    ).select(id_col, _row_hash(F.col("__gram"), hash_variant).alias("__gh"))

    bench_grams = gram_h(benchmark).select("__gh").distinct()
    hits = (
        gram_h(corpus)
        .join(F.broadcast(bench_grams), "__gh")
        .groupBy(id_col)
        .agg(F.count_distinct("__gh").alias("n_overlap"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) >= min_overlap).alias(
                "contaminated"
            ),
        )
    )


def cap_per_group(
    df: DataFrame,
    group_cols: str | Sequence[str],
    id_col: str,
    max_per_group: int,
    hash_variant: str = "xxhash64",
) -> DataFrame:
    """Keep at most ``max_per_group`` rows per group, chosen by
    deterministic hash rank (the anti-spam / domain-balance rule: no
    single domain may contribute more than N documents). Hash order —
    not arrival order — so the kept subset is stable across runs,
    partitionings, and retries.

    One shuffle on the group key; the per-group window never
    materializes a group in memory (rank is computed streaming over the
    sorted run). A pathological hot group is one skewed partition — at
    real scale pre-aggregate with a count and only window the groups
    over the cap, or let AQE split the straggler.
    """
    keys = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    w = Window.partitionBy(*keys).orderBy(
        _row_hash(F.col(id_col), hash_variant).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= max_per_group)
        .drop("__rn")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    partition_cols: str | Sequence[str] = (),
    hash_variant: str = "xxhash64",
) -> DataFrame:
    """Assign documents to fixed-token-budget packs (sequence packing
    for training): stream the documents of each partition in
    deterministic hash order, cut a new pack every ``budget`` tokens.
    Adds ``pack_id`` (0-based within partition) and ``pack_offset``
    (tokens before this doc in its stream).

    This is contiguous-chunking packing: a pack may overflow by at most
    one document (the one straddling the boundary), which is the
    standard streaming approximation — exact first-fit-decreasing is
    inherently sequential. Documents longer than ``budget`` occupy
    ⌈tokens/budget⌉ packs' worth of budget on their own.

    Scale shape: ONE shuffle on the partition key; the cumulative sum is
    a streaming window over each sorted run. Partition by something
    with enough cardinality (language × source, date) so no single
    stream is the whole corpus. Empty ``partition_cols`` means ONE
    global stream — a single-partition window, acceptable only for
    bounded slices; at corpus scale always pass partition columns.
    """
    keys = (
        [partition_cols]
        if isinstance(partition_cols, str)
        else list(partition_cols)
    )
    order = [
        _row_hash(F.col(id_col), hash_variant).asc(),
        F.col(id_col).asc(),
    ]
    w = (
        Window.partitionBy(*keys).orderBy(*order)
        if keys
        else Window.partitionBy().orderBy(*order)
    )
    run = F.sum(token_col).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (run - F.col(token_col)).cast("long")
    return df.select(
        *keys,
        id_col,
        F.col(token_col).alias("n_tokens"),
        F.floor(start / F.lit(budget)).cast("long").alias("pack_id"),
        start.alias("pack_offset"),
    )


def shuffle_index(
    df: DataFrame,
    id_col: str,
    num_buckets: int = 1024,
    hash_variant: str = "xxhash64",
) -> DataFrame:
    """Deterministic global training order: a contiguous 0-based
    ``shuffle_idx`` over the hash-permuted corpus, identical across
    runs, partitionings, and task retries (cf. ADVICE r2 on
    monotonically_increasing_id — this is the deterministic replacement
    for zipWithIndex-style indexing too).

    Two-stage contiguous ranking — NO global single-partition window:
      1. bucket = hash mod ``num_buckets``; per-bucket row_number over
         (hash, id) — one shuffle on bucket;
      2. bucket offsets = running count over the ``num_buckets``-row
         per-bucket count table (tiny, broadcast back).
    Global index = bucket offset + in-bucket rank. The total order is
    (bucket, hash, id) — a hash permutation, which is exactly what a
    training shuffle wants.
    """
    h = _row_hash(F.col(id_col), hash_variant)
    with_b = df.withColumn("__h", h).withColumn(
        "__b", F.pmod(F.col("__h"), F.lit(num_buckets)).cast("int")
    )
    wb = Window.partitionBy("__b").orderBy(
        F.col("__h").asc(), F.col(id_col).asc()
    )
    ranked = with_b.withColumn("__rn", F.row_number().over(wb))
    counts = with_b.groupBy("__b").agg(F.count(F.lit(1)).alias("__n"))
    woff = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = counts.select(
        "__b", (F.sum("__n").over(woff) - F.col("__n")).alias("__off")
    )
    return (
        ranked.join(F.broadcast(offsets), "__b")
        .withColumn(
            "shuffle_idx", (F.col("__off") + F.col("__rn") - 1).cast("long")
        )
        .drop("__h", "__b", "__rn", "__off")
    )


def quality_filter(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_quality: float = 0.3,
    max_top_token_frac: float = 0.5,
    min_distinct_frac: float = 0.2,
    langs: Sequence[str] | None = ("en",),
    use_arrow: bool = True,
) -> DataFrame:
    """The end-to-end corpus quality gate: combine language ID, the
    composite quality score, token-count bounds, and the Gopher-style
    repetition signals into one keep/drop decision. Emits the kept
    documents with their signals (``lang_pred``, ``n_tokens``,
    ``quality``, ``top_token_frac``, ``distinct_token_frac``) so the
    decision is auditable downstream.

    Documents too short to measure repetition (NULL fractions) are
    dropped by the token-count floor before the fraction predicates
    can see them; the fraction comparisons drop residual NULLs the
    SQL way (NULL fails every predicate).

    Shape at 100 TB (``use_arrow``, the default): every signal is a
    per-document count, so ONE fused mapInPandas pass emits all the
    integer counts (token/distinct/top/bigram from the normalized
    Counter, per-language stopword hits as dict lookups against the
    same Counter, raw token count, length, punctuation count) and
    Catalyst derives the fractions / quality formula / lang argmax /
    keep predicate from plain ints — zero shuffles, zero joins, one
    scan, one Arrow crossing. The fallback (``use_arrow=False``)
    composes the scalar Catalyst functions with ``repetition_stats``;
    it is exact but pays the repetition aggregation's shuffles AND
    inlines ``lang_id``'s CASE chain into filter + projection, where
    each branch re-evaluates 4 ``regexp_count``s whose Spark
    implementation MATERIALIZES every match just to count
    (size(regexp_extract_all(...)) in the plan) — measured 17-22s vs
    ~3s at the sf1 replica (NOTES r11). Both paths derive the doubles
    with identical Catalyst expressions, so values are bit-equal
    (pinned by test_quality_filter_arrow_matches_fallback).
    """
    from quanta_etl_spark.functions import text as T
    from quanta_etl_spark.operators.text_stats import repetition_stats

    if use_arrow:
        from collections import Counter

        import pandas as pd

        from quanta_etl_spark.operators.text_stats import norm_tokens_py

        id_dt = docs.schema[id_col].dataType.simpleString()
        lang_codes = sorted(T.STOPWORDS)
        stop_sets = {lang: frozenset(T.STOPWORDS[lang]) for lang in lang_codes}
        punct_re = re.compile(r"[.,;:!?'\"()\[\]{}\-]")

        def kernel(batches):
            for pdf in batches:
                rows: list[list] = []
                for i, t in zip(pdf[id_col], pdf[text_col]):
                    toks = norm_tokens_py(t)
                    counts = Counter(toks)
                    bgs = Counter(zip(toks, toks[1:]))
                    # raw ws_tokens(text) count: same non-space runs,
                    # PLUS Java split's leading "" token when the
                    # space-trimmed text starts with other whitespace
                    raw = (t or "").strip(" ")
                    extra = 1 if raw and raw[0] in "\t\n\x0b\f\r" else 0
                    hits = [
                        sum(c for w, c in counts.items() if w in stop_sets[lang])
                        for lang in lang_codes
                    ]
                    rows.append(
                        [
                            i,
                            len(toks),
                            len(counts),
                            max(counts.values()) if counts else 0,
                            max(bgs.values()) if bgs else 0,
                            len(toks) + extra,
                            len(t or ""),
                            len(punct_re.findall(t or "")),
                            *hits,
                        ]
                    )
                if not rows:
                    continue
                cols = [
                    "doc_id", "n_tokens", "n_distinct", "top_c", "top_bg_c",
                    "n_raw", "text_len", "punct_c",
                    *[f"hits_{lang}" for lang in lang_codes],
                ]
                yield pd.DataFrame(dict(zip(cols, map(list, zip(*rows)))))

        schema = (
            f"doc_id {id_dt}, n_tokens long, n_distinct long, top_c long, "
            "top_bg_c long, n_raw long, text_len long, punct_c long, "
            + ", ".join(f"hits_{lang} long" for lang in lang_codes)
        )
        sig = _spread(docs.select(id_col, text_col)).mapInPandas(kernel, schema)

        # ---- identical Catalyst derivations to the scalar functions ----
        # lang_id: argmax of hit counts, earlier code wins ties, 'und'
        # when every count is 0 (functions/text.py:lang_id)
        best = F.greatest(*[F.col(f"hits_{lang}") for lang in lang_codes])
        lang_pred = F.lit("und")
        for lang in reversed(lang_codes):
            lang_pred = F.when(
                (F.col(f"hits_{lang}") == best) & (best > 0), F.lit(lang)
            ).otherwise(lang_pred)
        # quality_score: same op order / casts as functions/text.py
        length_score = F.least(F.col("text_len").cast("double") / 2000.0, F.lit(1.0))
        sw_ratio = F.when(F.col("n_raw") == 0, F.lit(0.0)).otherwise(
            F.col("hits_en").cast("double") / F.col("n_raw").cast("double")
        )
        sw_score = F.least(sw_ratio / 0.4, F.lit(1.0))
        p_ratio = F.when(F.col("text_len") == 0, F.lit(0.0)).otherwise(
            F.col("punct_c").cast("double") / F.col("text_len").cast("double")
        )
        punct_penalty = F.least(
            F.greatest(p_ratio - 0.1, F.lit(0.0)) / 0.4, F.lit(1.0)
        )
        quality = 0.4 * length_score + 0.4 * sw_score + 0.2 * (1.0 - punct_penalty)
        top_frac = (
            F.when(F.col("n_tokens") > 0, F.col("top_c")) / F.col("n_tokens")
        )
        distinct_frac = (
            F.when(F.col("n_tokens") > 0, F.col("n_distinct")) / F.col("n_tokens")
        )
        j = sig.select(
            "doc_id",
            lang_pred.alias("lang_pred"),
            F.col("n_tokens").alias("n_tokens"),
            quality.alias("quality"),
            top_frac.alias("top_token_frac"),
            distinct_frac.alias("distinct_token_frac"),
        )
    else:
        rep = repetition_stats(docs, id_col, text_col, use_arrow=False)
        sig = docs.select(
            F.col(id_col).alias("doc_id"),
            T.lang_id(text_col).alias("lang_pred"),
            T.quality_score(text_col).alias("quality"),
        )
        j = sig.join(rep, "doc_id").select(
            "doc_id",
            "lang_pred",
            "n_tokens",
            "quality",
            "top_token_frac",
            "distinct_token_frac",
        )
    cond = (
        (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)
        & (F.col("quality") >= min_quality)
        & (F.col("top_token_frac") <= max_top_token_frac)
        & (F.col("distinct_token_frac") >= min_distinct_frac)
    )
    if langs is not None:
        cond = cond & F.col("lang_pred").isin(list(langs))
    return j.where(cond).select(
        F.col("doc_id").alias(id_col),
        "lang_pred",
        "n_tokens",
        "quality",
        "top_token_frac",
        "distinct_token_frac",
    )


def chunk_documents(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    standard preprocessing step between a cleaned corpus and a training
    or embedding run. Emits one row per chunk: ``(id, chunk_id,
    chunk_start, n_chunk_tokens, chunk_text)``; ``chunk_id`` is 0-based
    and ``chunk_start`` is the 0-based token offset.

    Chunk starts advance by ``chunk_tokens - overlap``; the final chunk
    is whatever remains (>= 1 token). A document shorter than one chunk
    yields exactly one chunk. Tokenization is the engine's whitespace
    tokenizer over normalized text, so chunk boundaries are reproducible
    anywhere.

    Pure Catalyst: the token array is built once per row, chunk starts
    come from ``sequence()``, and ``posexplode`` fans out the windows —
    output row count is corpus_tokens / stride, no Python and no
    shuffle (chunking rides the scan; downstream ops decide their own
    partitioning).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    w = ws_tokens(F.lower(F.col(text_col)))
    starts = F.sequence(
        F.lit(0),
        # last start: the largest multiple of stride that still leaves
        # unseen tokens; guard the empty doc to one (empty) chunk
        F.greatest(
            F.ceil((F.size(w) - F.lit(chunk_tokens)) / F.lit(stride)).cast(
                "int"
            ),
            F.lit(0),
        )
        * F.lit(stride),
        F.lit(stride),
    )
    return (
        docs.select(F.col(id_col), w.alias("__w"), starts.alias("__starts"))
        .select(
            id_col,
            "__w",
            F.posexplode("__starts").alias("chunk_id", "chunk_start"),
        )
        .select(
            id_col,
            "chunk_id",
            "chunk_start",
            F.slice(
                "__w", F.col("chunk_start") + 1, F.lit(chunk_tokens)
            ).alias("__toks"),
        )
        .select(
            id_col,
            "chunk_id",
            "chunk_start",
            F.size("__toks").alias("n_chunk_tokens"),
            F.concat_ws(" ", "__toks").alias("chunk_text"),
        )
    )


def mix_sources(
    df: DataFrame,
    source_col: str,
    id_col: str,
    weights: dict[str, float],
    num_buckets: int = 10_000,
    allow_missing: bool = False,
) -> DataFrame:
    """Down-sample sources to a TARGET MIXTURE — the training-data op
    behind "50% web, 30% code, 20% books": keep a deterministic subset
    of each named source so the output's composition matches
    ``weights`` as closely as down-sampling allows (never upsamples;
    the scarcest source relative to its target share binds the total
    and keeps rate 1.0, every other source down-samples toward it).

    Everything stays in-plan and engine-portable: one count aggregate
    over the tiny |sources| table, the achievable total from its
    minimum, rates broadcast-joined back, and row selection by the same
    md5 60-bit bucket ``sampling.hash_bucket`` uses — the same rows are
    kept on any cluster size, any run, any engine with md5. Sources
    absent from ``weights`` are dropped (inner join).

    Mixture contract (ADVICE r5): every ``weights`` key must be
    present in the data — a missing source would silently shift the
    output composition away from the stated target, so the plan
    asserts presence and fails loudly (set ``allow_missing=True`` to
    renormalize over the present sources instead; the rate algebra
    renormalizes automatically — the weight total cancels out of
    ``rate = w * min(n_i/w_i) / n``). A tiny positive rate keeps at
    least one hash bucket (``greatest(round(...), 1)``) so no weighted
    source is ever rounded out of the mix entirely.

    Scale: one shuffle (the per-source count), then a broadcast join +
    map-side filter over the corpus — the corpus itself never
    re-shuffles, and the filter rides the scan when ``id_col`` and
    ``source_col`` are stored columns.
    """
    from quanta_etl_spark.operators.sampling import hash_bucket

    w_total = sum(weights.values())
    if w_total <= 0:
        raise ValueError("weights must sum to a positive value")
    wmap = F.create_map(
        *[F.lit(x) for k, v in weights.items() for x in (k, float(v))]
    )
    counts = (
        df.groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn("__share", wmap[F.col(source_col)] / F.lit(float(w_total)))
        .where(F.col("__share").isNotNull() & (F.col("__share") > 0))
    )
    achievable = counts.agg(
        F.min(F.col("__n") / F.col("__share")).alias("__n_target"),
        F.count(F.lit(1)).alias("__n_present"),
    )
    # assert_true lives in the filter so column pruning cannot drop it:
    # NULL on success keeps every row, a missing source raises in-plan.
    n_positive = sum(1 for v in weights.values() if v > 0)
    present_ok = F.lit(allow_missing) | (
        F.col("__n_present") == F.lit(n_positive)
    )
    rates = (
        counts.crossJoin(F.broadcast(achievable))
        .where(
            F.assert_true(
                present_ok,
                F.lit(
                    "mix_sources: weights name sources absent from the "
                    "data; pass allow_missing=True to renormalize"
                ),
            ).isNull()
        )
        .select(
            source_col,
            F.least(
                F.lit(1.0),
                F.col("__share") * F.col("__n_target") / F.col("__n"),
            ).alias("__rate"),
        )
    )
    out = df.join(F.broadcast(rates), source_col, "inner")
    keep = hash_bucket(id_col, num_buckets) < F.greatest(
        F.round(F.col("__rate") * num_buckets).cast("long"), F.lit(1)
    )
    return out.where(keep).drop("__rate")


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = ". ",
    min_repeats: int = 2,
) -> DataFrame:
    """Paragraph-scope dedup (the Dolma/RefinedWeb boilerplate pass):
    split each document on ``sep``, drop every paragraph whose exact
    text occurs in ``min_repeats``+ documents corpus-wide (cookie
    banners, nav text, license footers), and reassemble the survivors
    in original order. Document-level dedup misses these — the
    boilerplate hides inside otherwise-unique documents.

    Returns (id, n_paras, n_kept, clean_text); documents whose every
    paragraph was boilerplate survive with an empty clean_text (left
    join back to the id spine — no rows vanish).

    Shape: posexplode rides the scan; the frequency table aggregates
    md5 fingerprints (fixed 32-byte shuffle payload, never the
    paragraph text); reassembly is one collect_list whose order is
    restored by array_sort on the (pos, para) struct — deterministic
    under any partitioning. At 100 TB the frequency table is the only
    global state and it shrinks with dedup's own selectivity; frequent
    paragraphs are by definition few distinct values.
    """
    import re as _re

    # split() takes a REGEX — escape so the separator is literal
    # (". " would otherwise match any char + space).
    paras = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.split(F.col(text_col), F.lit(_re.escape(sep)), -1)
        ).alias("__pos", "__para"),
    )
    freq = paras.groupBy(F.md5("__para").alias("__fp")).agg(
        F.count_distinct("__id").alias("__docs")
    )
    kept = (
        paras.join(freq, F.md5(paras["__para"]) == freq["__fp"], "left")
        .where(F.col("__docs") < min_repeats)
        .select("__id", "__pos", "__para")
    )
    rebuilt = kept.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__para"))),
                lambda x: x["__para"],
            ),
            sep,
        ).alias("clean_text"),
    )
    # The id spine comes from the INPUT frame, not the exploded one:
    # split(NULL) explodes to zero rows, so a NULL-text document would
    # otherwise vanish — violating the no-rows-vanish contract.
    totals = paras.groupBy("__id").agg(F.count(F.lit(1)).alias("n_paras"))
    spine = df.select(F.col(id_col).alias("__id")).distinct()
    return (
        spine.join(totals, "__id", "left")
        .join(rebuilt, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("n_paras"), F.lit(0)).alias("n_paras"),
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )
