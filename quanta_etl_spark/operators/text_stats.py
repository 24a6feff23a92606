"""Corpus-level text statistics: term frequencies, TF-IDF, n-gram
counts — the operators behind quality filtering and boilerplate
detection in a training-data pipeline.

Pipeline shape (100 TB honest): tokenization is a map-side expression;
the only shuffles are the (doc, term) and (term) aggregations, both
keyed by uniform-cardinality terms. The document count is a scalar
broadcast, not a driver collect of data rows.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from quanta_etl_spark.functions.text import normalize_text, ws_tokens
from quanta_etl_spark.operators.util import python_kernel


def norm_tokens_py(t: str | None) -> list[str]:
    """Python mirror of ``ws_tokens(normalize_text(text))`` for the
    Arrow kernels: lower → collapse Java-\\s runs (ASCII class, no
    unicode spaces) to one space → strip spaces → split. Every kernel
    that tokenizes MUST use this helper so the Catalyst and Arrow
    paths cannot drift."""
    s = re.sub(r"[ \t\n\x0b\f\r]+", " ", (t or "").lower()).strip(" ")
    return s.split(" ") if s else []


def term_frequencies(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(doc, term, tf): whitespace-token counts per document over
    normalized text. One explode + one aggregation."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(ws_tokens(normalize_text(text_col))).alias("term"),
    )
    return toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )


def document_frequencies(tf: DataFrame) -> DataFrame:
    """(term, df): number of documents containing each term, from a
    term-frequency table. tf is already distinct per (doc, term), so a
    plain count per term is the document frequency."""
    return tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


def ngram_counts(
    df: DataFrame,
    text_col: str,
    n: int = 3,
    top_k: int | None = None,
    use_arrow: bool = True,
    max_partial_grams: int = 2_000_000,
) -> DataFrame:
    """Corpus-wide word n-gram counts — the standard boilerplate /
    template detector (a 3-gram appearing in half the corpus is a
    header or license line). Returns (ngram, occurrences);
    ``top_k`` keeps the most frequent by (occurrences desc, ngram) —
    a total order, so results are reproducible. Documents with fewer
    than ``n`` tokens contribute nothing (the ML convention).

    Shape (Arrow path, default): one ``mapInPandas`` kernel holds a
    per-partition Counter keyed by space-joined grams (tokens via
    ``norm_tokens_py``, the shared Python mirror of
    ``ws_tokens(normalize_text(·))``) and emits (gram, partial_count)
    rows; one sum-aggregation merges partials. The kernel is the
    map-side combine done in Python: the shuffle carries
    distinct-grams-per-partition rows either way, but the kernel
    skips materializing + exploding the full gram array per document
    — measured 3.3× at sf1 (8.2s → 2.5s, identical output). The
    Counter is NOT spill-backed like the JVM hash agg, so it flushes
    partial counts and resets whenever it exceeds
    ``max_partial_grams`` entries — correctness is unaffected (the
    downstream sum merges duplicates), memory stays bounded at any
    corpus scale. ``use_arrow=False`` keeps the former JVM
    ``pyspark.ml.feature.NGram`` explode path (itself ~6× faster than
    the interpreted transform/slice/concat_ws lambda chain); the two
    paths are pinned gram-identical by
    ``tests/test_graph_corpus.py::test_ngram_counts_arrow_matches_jvm``.
    """
    if use_arrow:
        import pandas as pd

        out_schema = "ngram string, occurrences long"

        def kernel(it):
            from collections import Counter

            c: Counter = Counter()
            for pdf in it:
                for t in pdf[text_col]:
                    toks = norm_tokens_py(t)
                    if len(toks) >= n:
                        c.update(
                            " ".join(toks[i : i + n])
                            for i in range(len(toks) - n + 1)
                        )
                if len(c) > max_partial_grams:
                    yield pd.DataFrame(
                        {
                            "ngram": list(c.keys()),
                            "occurrences": list(c.values()),
                        }
                    )
                    c = Counter()
            if c:
                yield pd.DataFrame(
                    {"ngram": list(c.keys()), "occurrences": list(c.values())}
                )

        partials = df.select(F.col(text_col)).mapInPandas(
            python_kernel(kernel), out_schema
        )
        counts = partials.groupBy("ngram").agg(
            F.sum("occurrences").alias("occurrences")
        )
    else:
        from pyspark.ml.feature import NGram

        # NULL text → NULL token array → the NGram scala lambda NPEs
        # (latent until r12: every caller pre-filtered empties).
        # Coalesce to an empty array — zero grams, matching the Arrow
        # kernel's norm_tokens_py(None) == [].
        toks_df = df.select(
            F.coalesce(
                ws_tokens(normalize_text(text_col)),
                F.array().cast("array<string>"),
            ).alias("__toks")
        )
        grams_df = NGram(
            n=n, inputCol="__toks", outputCol="__ngrams"
        ).transform(toks_df)
        exploded = grams_df.select(F.explode("__ngrams").alias("ngram"))
        counts = exploded.groupBy("ngram").agg(
            F.count(F.lit(1)).alias("occurrences")
        )
    if top_k is None:
        return counts
    return counts.orderBy(
        F.col("occurrences").desc(), F.col("ngram")
    ).limit(top_k)


def tfidf(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_k: int | None = None,
) -> DataFrame:
    """TF-IDF scores: tf × (ln((N+1)/(df+1)) + 1) — the smoothed idf
    (sklearn's formulation), never negative or divide-by-zero.

    Returns (doc_id, term, tf, df, tfidf); with ``top_k`` set, only the
    k highest-scoring terms per document survive (ties broken by term
    so results are total-ordered and reproducible).

    The corpus size N enters as a scalar subquery-style crossjoin of a
    1-row aggregate — Catalyst broadcasts it; no driver round-trip.
    """
    from pyspark.sql.window import Window

    tf = term_frequencies(df, id_col, text_col)
    dfreq = document_frequencies(tf)
    n_docs = df.select(
        F.count(F.lit(1)).cast("double").alias("__n")
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * (
                F.log((F.col("__n") + 1) / (F.col("df") + 1))
                + F.lit(1.0)
            ),
        )
        .select("doc_id", "term", "tf", "df", "tfidf")
    )
    if top_k is None:
        return scored
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= top_k)
        .drop("__rn")
    )


def repetition_stats(
    df: DataFrame, id_col: str, text_col: str, use_arrow: bool = True
) -> DataFrame:
    """Per-document repetition signals (the Gopher/MassiveText quality
    rules, Rae et al. 2021 §A1.1): documents dominated by a few
    repeated tokens or n-grams are boilerplate/spam and get filtered
    before training. Emits, per document:

    - ``n_tokens``            whitespace token count
    - ``distinct_token_frac`` |distinct tokens| / n_tokens
    - ``top_token_frac``      occurrences of the most frequent token / n_tokens
    - ``top_bigram_frac``     occurrences of the most frequent 2-gram
                              / (n_tokens - 1)

    Empty/one-token documents yield NULL fractions (nothing to measure)
    rather than fake zeros.

    Shape at 100 TB (``use_arrow``, the default): every signal is a
    function of ONE document, so the whole computation is a single
    ``mapInPandas`` pass riding the scan — zero shuffles, one Arrow
    crossing, per-doc Counters in C. The Catalyst fallback below is
    the explode + two-level aggregation form; it is exact but pays
    (a) two corpus shuffles keyed by (doc, gram), and (b) the bigram
    construction through a higher-order ``transform`` lambda, which
    Catalyst evaluates INTERPRETED per element — measured as the
    dominant cost of corpus_quality_filter at the sf1 replica (NOTES
    r11). Both paths compute counts only; the fractions are derived in
    the same Catalyst expressions, so values are bit-identical
    (agreement pinned by test_repetition_stats_arrow_matches_catalyst).
    """
    if use_arrow:
        from collections import Counter

        import pandas as pd

        from quanta_etl_spark.operators.util import spread as _spread

        id_dt = df.schema[id_col].dataType.simpleString()

        def kernel(batches):
            for pdf in batches:
                ids, nt, nd, tc, nb, tb = [], [], [], [], [], []
                for i, t in zip(pdf[id_col], pdf[text_col]):
                    toks = norm_tokens_py(t)
                    counts = Counter(toks)
                    ids.append(i)
                    nt.append(len(toks))
                    nd.append(len(counts))
                    tc.append(max(counts.values()) if counts else 0)
                    bgs = Counter(zip(toks, toks[1:]))
                    nb.append(max(len(toks) - 1, 0))
                    tb.append(max(bgs.values()) if bgs else 0)
                yield pd.DataFrame(
                    {
                        "doc_id": ids,
                        "n_tokens": pd.Series(nt, dtype="int64"),
                        "n_distinct": pd.Series(nd, dtype="int64"),
                        "top_c": pd.Series(tc, dtype="int64"),
                        "n_bigrams": pd.Series(nb, dtype="int64"),
                        "top_bg_c": pd.Series(tb, dtype="int64"),
                    }
                )

        counts = _spread(df.select(id_col, text_col)).mapInPandas(
            python_kernel(kernel),
            f"doc_id {id_dt}, n_tokens long, n_distinct long, "
            "top_c long, n_bigrams long, top_bg_c long",
        )
        return counts.select(
            "doc_id",
            F.col("n_tokens").alias("n_tokens"),
            # 0/0 divisions yield NULL, matching the fallback's
            # left-join-miss NULLs for empty / one-token docs
            (
                F.when(F.col("n_tokens") > 0, F.col("n_distinct"))
                / F.col("n_tokens")
            ).alias("distinct_token_frac"),
            (
                F.when(F.col("n_tokens") > 0, F.col("top_c"))
                / F.col("n_tokens")
            ).alias("top_token_frac"),
            (
                F.when(F.col("n_bigrams") > 0, F.col("top_bg_c"))
                / F.col("n_bigrams")
            ).alias("top_bigram_frac"),
        )

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(ws_tokens(normalize_text(text_col))).alias("tok"),
    )
    # token-level: count per (doc, token) -> max and distinct per doc
    tok_counts = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    tok_stats = tok_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_c"),
    )
    # bigram-level: adjacent-token pairs built map-side from the token
    # array (a pos/pos+1 self-join would cost a second shuffle)
    bigrams = (
        df.withColumn("__w", ws_tokens(normalize_text(text_col)))
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.expr(
                    "transform(slice(__w, 1, greatest(size(__w) - 1, 0)), "
                    "(x, i) -> concat(x, ' ', element_at(__w, i + 2)))"
                )
            ).alias("bg"),
        )
    )
    bg_stats = (
        bigrams.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bg_c"))
    )
    base = df.select(F.col(id_col).alias("doc_id"))
    return (
        base.join(tok_stats, "doc_id", "left")
        .join(bg_stats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            (F.col("n_distinct") / F.col("n_tokens")).alias(
                "distinct_token_frac"
            ),
            (F.col("top_c") / F.col("n_tokens")).alias("top_token_frac"),
            (F.col("top_bg_c") / F.col("n_bigrams")).alias("top_bigram_frac"),
        )
    )


def token_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (bits):
    ``H = -Σ (c/n) · log2(c/n)`` — the standard diversity signal next
    to the repetition fractions (H ≈ 0 flags one-token spam even when
    simple ratios look sane; H is maximal for all-distinct tokens).

    Same two-level aggregation shape as :func:`repetition_stats` (one
    explode, map-side-combinable counts); emits ``(doc_id, n_tokens,
    entropy_bits)`` with NULL entropy for empty documents.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(ws_tokens(normalize_text(text_col))).alias("tok"),
    )
    tok_counts = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    # entropy needs n in the same aggregation: compute Σ c·log2(c) and n,
    # then H = log2(n) - Σ c·log2(c) / n  (algebraic rearrangement that
    # keeps everything one map-side-combinable pass)
    stats = tok_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.sum(F.col("c") * F.log2("c")).alias("__clog"),
    )
    base = df.select(F.col(id_col).alias("doc_id"))
    return base.join(stats, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        (F.log2("n_tokens") - F.col("__clog") / F.col("n_tokens")).alias(
            "entropy_bits"
        ),
    )


def collocations(
    df: DataFrame,
    text_col: str,
    min_count: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Top-k adjacent-bigram collocations by PMI — pointwise mutual
    information log(P(ab) / (P(a)·P(b))) over adjacent token pairs,
    the classic "which word pairs belong together" extractor (phrase
    mining, tokenizer-merge candidates). ``min_count`` filters the
    unstable low-frequency tail PMI notoriously over-ranks.

    Unigram and bigram probabilities use their own totals (token count
    and bigram count), both exact ints; PMI is one ln() per surviving
    bigram on a frame that aggregation already shrank. Adjacent-only
    pairs keep the explode LINEAR in corpus size (window-free: slice +
    zip of the token array rides the scan). Ties break on the bigram
    text, so the top-k is deterministic.
    """
    toks = df.select(ws_tokens(normalize_text(text_col)).alias("__t"))
    uni = toks.select(F.explode("__t").alias("a")).groupBy("a").agg(
        F.count(F.lit(1)).alias("n_a")
    )
    big = (
        toks.select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("__t"), 1, F.greatest(
                        F.size("__t") - 1, F.lit(0))),
                    F.slice(F.col("__t"), 2, F.greatest(
                        F.size("__t") - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    tot_uni = uni.agg(F.sum("n_a").alias("__tu"))
    # P(ab) is over ALL bigram positions (the standard formulation);
    # the min_count cut only prunes what gets SCORED.
    tot_big = big.agg(F.sum("n_ab").alias("__tb"))
    big = big.where(F.col("n_ab") >= min_count)
    scored = (
        big.join(F.broadcast(uni.withColumnRenamed("n_a", "na")), "a")
        .join(
            F.broadcast(
                uni.select(
                    F.col("a").alias("b"), F.col("n_a").alias("nb")
                )
            ),
            "b",
        )
        .crossJoin(F.broadcast(tot_uni))
        .crossJoin(F.broadcast(tot_big))
        .withColumn(
            "pmi",
            F.log(
                (F.col("n_ab").cast("double") / F.col("__tb"))
                / (
                    (F.col("na").cast("double") / F.col("__tu"))
                    * (F.col("nb").cast("double") / F.col("__tu"))
                )
            ),
        )
    )
    return (
        scored.select(
            F.concat_ws(" ", "a", "b").alias("bigram"),
            "n_ab", "pmi",
        )
        .orderBy(F.col("pmi").desc(), F.col("bigram").asc())
        .limit(top_k)
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """BM25 retrieval: score every document against ``query_terms``
    and return the top-k — the lexical-search baseline every corpus /
    RAG pipeline ranks against. Standard Robertson idf with the +1
    floor: idf = ln(1 + (N − df + 0.5)/(df + 0.5)).

    Shape: the query-term filter lands INSIDE the token explode (only
    matching postings aggregate — the inverted-index access pattern,
    not a full-corpus score); document length and N/avgdl come from
    one stats pass; every join against the (|terms|-row) df frame and
    the 1-row corpus frame broadcasts. tf/df/dl are exact ints, avgdl
    derives from a decimal sum, and the score algebra is one
    fixed-shape double expression — deterministic on any engine.
    """
    terms = [t.lower() for t in query_terms]
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(ws_tokens(normalize_text(text_col))).alias("term"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.col("dl").cast("decimal(30,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    tf = (
        toks.where(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (
        F.col("tf") * (k1 + 1)
    ) / (
        F.col("tf")
        + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    per_term = scored.withColumn("__s", idf * tf_part)
    return (
        per_term.groupBy("doc_id")
        .agg(
            F.sum(F.col("__s").cast("decimal(38,18)"))
            .cast("double")
            .alias("score"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(top_k)
    )
