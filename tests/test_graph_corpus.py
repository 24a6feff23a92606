"""Connected components (operators.graph) and corpus-assembly
operators (operators.corpus)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from quanta_etl_spark.operators import corpus as corpus_ops
from quanta_etl_spark.operators import graph as graph_ops


# ---------------------------------------------------------------------------
# connected components
# ---------------------------------------------------------------------------


def _cc_map(spark, edges, max_iterations=20, **kw):
    df = spark.createDataFrame(edges, ["a", "b"])
    out = graph_ops.connected_components(
        df, max_iterations=max_iterations, **kw
    )
    return {r["node"]: r["component"] for r in out.collect()}


def test_cc_two_triangles(spark):
    got = _cc_map(spark, [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_cc_long_chain(spark):
    # a 40-node path: the worst case for naive label propagation
    # (40 rounds); star-contraction closes it in O(log n)
    got = _cc_map(spark, [(i, i + 1) for i in range(40)])
    assert set(got.values()) == {0}
    assert len(got) == 41


def test_cc_self_loops_and_duplicates_ignored(spark):
    got = _cc_map(spark, [(5, 5), (1, 2), (2, 1), (1, 2)])
    assert got == {1: 1, 2: 1}  # pure self-loop node 5 has no edges left


def test_cc_converges_in_few_iterations(spark):
    # bound check: a 100-node random-ish union of cliques converges
    # within the default budget (the checksum fixpoint breaks early)
    edges = [(i, i % 7) for i in range(7, 100)]
    got = _cc_map(spark, edges, max_iterations=6)
    assert set(got.values()) == {0, 1, 2, 3, 4, 5, 6}
    for n, c in got.items():
        assert n % 7 == c % 7


def test_cc_distributed_path_long_chain(spark):
    # small_graph_edges=0 forces the star-contraction rounds — the
    # 100-TB path must stay correct even though small inputs default to
    # the single-task min-label kernel
    got = _cc_map(spark, [(i, i + 1) for i in range(40)], small_graph_edges=0)
    assert set(got.values()) == {0}
    assert len(got) == 41


def test_cc_both_paths_agree(spark):
    edges = [(i, i % 7) for i in range(7, 60)] + [(100, 101), (101, 102)]
    fast = _cc_map(spark, edges)
    dist = _cc_map(spark, edges, small_graph_edges=0)
    assert fast == dist


def test_cc_distributed_path_mod_stitched_sparse_ids(spark):
    """r12 regression (found by the sf10 differential sweep, first
    round the distributed path ever ran on a >500k-edge graph):
    _small_star assumed canonically-ordered (a<b) input, but
    _large_star emits (larger, smaller) — the flip re-grouped by the
    SMALLER endpoint, turning small-star into a NO-OP, so the loop ran
    large-star alone and its checksum-stable fixpoint fragmented the
    sf10 multikey clustering (700 components instead of 100). Chains
    and near-cliques converge under large-star alone, which is why the
    older distributed-path tests missed it; the failing shape is
    star families stitched through congruent SPARSE ids. This replica
    (hashed ids, two mod-key families, star edges per key class like
    multikey_clusters builds) fragments 11-vs-10 under the old
    operator; the fixed one must agree with the single-task kernel
    exactly."""
    ids = sorted({(i * 2654435761) % (1 << 31) for i in range(3000)})
    rows = [(v, f"e{v % 70}", f"p{v % 90}") for v in ids]
    ents = spark.createDataFrame(rows, "id long, ek string, pk string")
    edges = None
    for k in ("ek", "pk"):
        keyed = ents.select(
            F.col("id").alias("__id"), F.col(k).alias("__k")
        )
        centers = keyed.groupBy("__k").agg(F.min("__id").alias("__c"))
        e = (
            keyed.join(centers, "__k")
            .where(F.col("__id") != F.col("__c"))
            .select(F.col("__c").alias("a"), F.col("__id").alias("b"))
        )
        edges = e if edges is None else edges.unionByName(e)
    dist = {
        r["node"]: r["component"]
        for r in graph_ops.connected_components(
            edges, small_graph_edges=0
        ).collect()
    }
    fast = {
        r["node"]: r["component"]
        for r in graph_ops.connected_components(edges).collect()
    }
    assert dist == fast
    # the mod-stitched truth: components = residue classes mod
    # gcd(70, 90) = 10 (hashed ids cover every chaining residue)
    assert len(set(dist.values())) == 10


def test_cc_unconverged_contraction_raises(spark):
    """r12: the star-contraction loop must never emit labels from an
    unconverged edge set — wrong clusters are strictly worse than a
    loud failure."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "a long, b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        graph_ops.connected_components(
            edges, small_graph_edges=0, max_iterations=1
        )


def test_assign_clusters_survivor(spark):
    pairs = spark.createDataFrame(
        [(3, 9), (9, 27), (100, 200)], ["id_a", "id_b"]
    )
    rows = {
        r["id"]: (r["cluster_id"], r["is_survivor"])
        for r in graph_ops.assign_clusters(pairs).collect()
    }
    assert rows == {
        3: (3, True),
        9: (3, False),
        27: (3, False),
        100: (100, True),
        200: (100, False),
    }


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------


def test_decontaminate_flags_overlap(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated text with no shared phrases at all"),
            (3, "another doc where the quick brown fox appears verbatim"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "we ask whether the quick brown fox is fast")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["n_overlap"], r["contaminated"])
        for r in corpus_ops.decontaminate(
            corpus, bench, "doc_id", "text", n=4
        ).collect()
    }
    assert out[1] == (1, True)  # shares "the quick brown fox"
    assert out[2] == (0, False)
    assert out[3] == (1, True)


def test_decontaminate_short_docs_yield_no_grams(spark):
    corpus = spark.createDataFrame([(1, "too short")], ["doc_id", "text"])
    bench = spark.createDataFrame([(2, "too short")], ["doc_id", "text"])
    out = corpus_ops.decontaminate(corpus, bench, "doc_id", "text", n=8)
    assert out.collect()[0]["contaminated"] is False


def test_decontaminate_arrow_matches_join_fallback(spark):
    """The r11 Arrow kernel (numpy rolling word-hash grams + broadcast
    np.isin membership) must agree with the Catalyst explode+join
    fallback on every tokenization edge: empty / NULL / whitespace-only
    text, tab and newline separators, case folding, repeated grams
    (distinct-count semantics), and docs shorter than n."""
    rows = [
        (1, "Alpha beta GAMMA delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),
        (3, ""),
        (4, None),
        (5, "   \t  \n "),
        (6, "alpha\tbeta gamma\ndelta epsilon zeta"),
        (7, "alpha beta gamma delta alpha beta gamma delta"),
        (8, "short doc"),
    ]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    bench = spark.createDataFrame(
        [(100, "we saw alpha beta gamma delta here"),
         (101, "beta gamma delta epsilon appears too")],
        ["doc_id", "text"],
    )
    for n in (2, 4):
        arrow = {
            r["doc_id"]: (r["n_overlap"], r["contaminated"])
            for r in corpus_ops.decontaminate(
                corpus, bench, "doc_id", "text", n=n
            ).collect()
        }
        join = {
            r["doc_id"]: (r["n_overlap"], r["contaminated"])
            for r in corpus_ops.decontaminate(
                corpus, bench, "doc_id", "text", n=n, use_arrow=False
            ).collect()
        }
        assert arrow == join, f"n={n}: {arrow} != {join}"


def test_decontaminate_over_budget_benchmark_falls_back(spark):
    """max_broadcast_grams below the benchmark gram count must route to
    the join path (same results) instead of collecting."""
    corpus = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "x y z w v u")], ["doc_id", "text"]
    )
    bench = spark.createDataFrame([(9, "b c d e f g")], ["doc_id", "text"])
    out = {
        r["doc_id"]: r["contaminated"]
        for r in corpus_ops.decontaminate(
            corpus, bench, "doc_id", "text", n=3, max_broadcast_grams=1
        ).collect()
    }
    assert out == {1: True, 2: False}


# ---------------------------------------------------------------------------
# quota capping / packing / shuffle index
# ---------------------------------------------------------------------------


def test_cap_per_group_deterministic(spark):
    df = spark.createDataFrame(
        [(i, f"dom{i % 3}") for i in range(60)], ["id", "domain"]
    )
    capped = corpus_ops.cap_per_group(df, "domain", "id", 5)
    by_dom = (
        capped.groupBy("domain").count().rdd.collectAsMap()
        if False
        else {
            r["domain"]: r["count"]
            for r in capped.groupBy("domain").count().collect()
        }
    )
    assert by_dom == {"dom0": 5, "dom1": 5, "dom2": 5}
    again = corpus_ops.cap_per_group(df, "domain", "id", 5)
    assert sorted(r["id"] for r in capped.collect()) == sorted(
        r["id"] for r in again.collect()
    )


def test_cap_per_group_under_cap_untouched(spark):
    df = spark.createDataFrame([(1, "x"), (2, "x")], ["id", "domain"])
    assert corpus_ops.cap_per_group(df, "domain", "id", 10).count() == 2


def test_pack_sequences_budget_respected(spark):
    df = spark.createDataFrame(
        [(i, "en", 100) for i in range(10)], ["id", "lang", "toks"]
    )
    out = corpus_ops.pack_sequences(
        df, "id", "toks", budget=250, partition_cols="lang"
    ).collect()
    packs: dict[int, int] = {}
    for r in out:
        packs[r["pack_id"]] = packs.get(r["pack_id"], 0) + r["n_tokens"]
        # every doc STARTS strictly inside its pack's budget window
        assert r["pack_offset"] // 250 == r["pack_id"]
    # 10 docs x 100 tokens at budget 250 -> packs of [300, 200, ...]:
    # contiguous chunking overflows by at most one doc per pack
    assert all(v <= 250 + 100 for v in packs.values())
    assert sum(packs.values()) == 1000


def test_pack_sequences_oversized_doc_own_packs(spark):
    df = spark.createDataFrame(
        [(1, 1000), (2, 10), (3, 10)], ["id", "toks"]
    )
    out = corpus_ops.pack_sequences(df, "id", "toks", budget=100)
    # the 1000-token doc must not share its pack_id slot arithmetic:
    # all three keep distinct offsets and the total span is 1020 tokens
    rows = {r["id"]: r for r in out.collect()}
    assert len({(r["pack_id"], r["pack_offset"]) for r in rows.values()}) == 3


def test_shuffle_index_is_contiguous_permutation(spark):
    df = spark.createDataFrame([(i,) for i in range(500)], ["id"])
    out = corpus_ops.shuffle_index(df, "id", num_buckets=8)
    idx = sorted(r["shuffle_idx"] for r in out.collect())
    assert idx == list(range(500))  # contiguous, 0-based, no dupes
    # deterministic across invocations
    again = sorted(
        (r["id"], r["shuffle_idx"])
        for r in corpus_ops.shuffle_index(df, "id", num_buckets=8).collect()
    )
    first = sorted(
        (r["id"], r["shuffle_idx"]) for r in out.collect()
    )
    assert first == again
    # and it is a real permutation, not identity order
    by_id = dict(first)
    assert [by_id[i] for i in range(500)] != list(range(500))


def test_shuffle_index_plan_shape(spark):
    # plan shape: the corpus side is hash-partitioned by bucket and the
    # per-bucket offsets come back via broadcast — the corpus itself
    # never funnels through a global single-partition window (the only
    # single-partition stage is the num_buckets-row count table)
    df = spark.createDataFrame([(i,) for i in range(100)], ["id"])
    plan = (
        corpus_ops.shuffle_index(df, "id", num_buckets=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastExchange" in plan
    assert "hashpartitioning(__b" in plan


# ---------------------------------------------------------------------------
# apply_dedup / repetition stats
# ---------------------------------------------------------------------------


def test_apply_dedup_keeps_survivors_and_singletons(spark):
    corpus = spark.createDataFrame(
        [(i, f"t{i}") for i in range(8)], ["id", "text"]
    )
    pairs = spark.createDataFrame([(1, 4), (4, 7), (2, 6)], ["id_a", "id_b"])
    kept = sorted(
        r["id"]
        for r in graph_ops.apply_dedup(corpus, pairs, "id").collect()
    )
    # clusters {1,4,7} -> keep 1; {2,6} -> keep 2; 0,3,5 untouched
    assert kept == [0, 1, 2, 3, 5]


def test_repetition_stats_values(spark):
    from quanta_etl_spark.operators import text_stats as ts_ops

    df = spark.createDataFrame(
        [
            (1, "spam spam spam ham"),
            (2, "all tokens here differ completely"),
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in ts_ops.repetition_stats(df, "doc_id", "text").collect()
    }
    r1 = rows[1]
    assert r1["n_tokens"] == 4
    assert r1["distinct_token_frac"] == pytest.approx(0.5)  # {spam, ham}/4
    assert r1["top_token_frac"] == pytest.approx(0.75)  # spam 3/4
    assert r1["top_bigram_frac"] == pytest.approx(2 / 3)  # "spam spam" 2/3
    r2 = rows[2]
    assert r2["distinct_token_frac"] == pytest.approx(1.0)
    assert r2["top_token_frac"] == pytest.approx(0.2)
    r3 = rows[3]
    assert r3["n_tokens"] == 0 and r3["top_token_frac"] is None


def test_ngram_counts_arrow_matches_jvm(spark):
    """The r12 Arrow gram-Counter kernel must emit exactly the JVM
    NGram-explode path's (gram, count) multiset on every tokenization
    edge: empty / NULL / whitespace-only text, docs shorter than n
    (contribute nothing), tab/newline separators, case folding,
    non-ASCII NBSP (NOT a Java-\\s separator — stays inside its
    token in both engines), and repeated grams across documents.
    Also pins the bounded-memory flush path: max_partial_grams=1
    forces a Counter flush after every input batch, and the
    downstream sum must merge the duplicate partials back to the
    same totals."""
    from quanta_etl_spark.operators import text_stats as ts_ops

    df = spark.createDataFrame(
        [
            (1, "The cat sat on the mat"),
            (2, "the cat sat on the mat"),  # cross-doc repeated grams
            (3, ""),
            (4, None),
            (5, "   \t \n "),
            (6, "two tokens"),              # shorter than n=3
            (7, "a\tb\nc  d"),              # tab/newline/run separators
            (8, "x y\u00a0z w"),         # NBSP inside a token
            (9, "a b c a b c a b c"),       # within-doc repeats
        ],
        ["doc_id", "text"],
    )

    def counts(**kw):
        return {
            (r["ngram"], r["occurrences"])
            for r in ts_ops.ngram_counts(df, "text", n=3, **kw).collect()
        }

    arrow = counts(use_arrow=True)
    flushed = counts(use_arrow=True, max_partial_grams=1)
    jvm = counts(use_arrow=False)
    assert arrow == jvm, (arrow ^ jvm)
    assert flushed == jvm, (flushed ^ jvm)
    # NBSP is not a Java-\s separator: doc 8 tokenizes to three
    # tokens and yields exactly one 3-gram with the glued middle token
    assert ("x y\u00a0z w", 1) in jvm

    # top_k total order holds on the Arrow path
    top = ts_ops.ngram_counts(df, "text", n=3, top_k=2).collect()
    assert [(r["ngram"], r["occurrences"]) for r in top] == [
        ("a b c", 4),  # 3 in doc 9 + 1 in doc 7
        ("b c a", 2),
    ]


def test_repetition_stats_arrow_matches_catalyst(spark):
    """The r11 Arrow kernel (per-doc Counters, zero shuffles) must agree
    with the explode + two-level-aggregation fallback on every edge:
    empty / NULL / whitespace-only text, one-token docs (NULL bigram
    frac), repeated tokens and bigrams, tab/newline separators, and
    case folding."""
    from quanta_etl_spark.operators import text_stats as ts_ops

    df = spark.createDataFrame(
        [
            (1, "spam spam spam ham"),
            (2, "all tokens here differ completely"),
            (3, ""),
            (4, None),
            (5, "   \t \n "),
            (6, "single"),
            (7, "A a\ta  B b\nb"),
            (8, "x y x y x y x y"),
        ],
        ["doc_id", "text"],
    )

    def rows(use_arrow):
        return {
            r["doc_id"]: (
                r["n_tokens"],
                r["distinct_token_frac"],
                r["top_token_frac"],
                r["top_bigram_frac"],
            )
            for r in ts_ops.repetition_stats(
                df, "doc_id", "text", use_arrow=use_arrow
            ).collect()
        }

    arrow, catalyst = rows(True), rows(False)
    assert arrow == catalyst, {
        k: (arrow[k], catalyst[k])
        for k in arrow
        if arrow[k] != catalyst[k]
    }


def test_quality_filter_arrow_matches_fallback(spark):
    """The r11 fused signal kernel must agree with the Catalyst
    composition (lang_id + quality_score + repetition_stats) on every
    row AND every emitted signal value, including the raw-token-count
    edge (leading tab adds Java split's empty token to the stopword
    ratio's denominator), ties in lang argmax, 'und' docs, and
    boundary-quality docs."""
    rows = [
        (1, "the cat sat on the mat and then it was looking for food "
            "with his friends at the park because they have time today."),
        (2, "buy " * 30 + "the of and to in is that it was for"),
        (3, "the end"),
        (4, "zzz qqq www eee rrr ttt yyy uuu iii ooo ppp aaa sss ddd "
            "fff ggg hhh jjj kkk lll"),
        (5, ""),
        (6, None),
        (7, "\tder la the el und y and " * 5),  # leading tab + lang tie
        (8, "de de de de de de de de de de"),   # fr/es shared stopword
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    kw = dict(
        min_tokens=2, max_tokens=5000, min_quality=0.0,
        max_top_token_frac=1.0, min_distinct_frac=0.0,
        langs=("en", "de", "es", "fr"),
    )

    def res(use_arrow):
        return {
            r["doc_id"]: tuple(r)[1:]
            for r in corpus_ops.quality_filter(
                docs, "doc_id", "text", use_arrow=use_arrow, **kw
            ).collect()
        }

    arrow, fallback = res(True), res(False)
    assert arrow == fallback, {
        k: (arrow.get(k), fallback.get(k))
        for k in set(arrow) | set(fallback)
        if arrow.get(k) != fallback.get(k)
    }


def test_quality_filter_combined_gate(spark):
    docs = spark.createDataFrame(
        [
            # good english doc: varied tokens, punctuation sane
            (1, "the cat sat on the mat and then it was looking for food "
                "with his friends at the park because they have time today."),
            # spammy: one token dominates
            (2, "buy " * 30 + "the of and to in is that it was for"),
            # too short
            (3, "the end"),
            # no recognizable language
            (4, "zzz qqq www eee rrr ttt yyy uuu iii ooo ppp aaa sss ddd "
                "fff ggg hhh jjj kkk lll"),
        ],
        ["doc_id", "text"],
    )
    kept = [
        r["doc_id"]
        for r in corpus_ops.quality_filter(
            docs,
            "doc_id",
            "text",
            min_tokens=5,
            max_tokens=1000,
            min_quality=0.0,
            max_top_token_frac=0.4,
            min_distinct_frac=0.2,
            langs=("en",),
        ).collect()
    ]
    assert kept == [1]


def test_chunk_documents_windows_and_overlap(spark):
    text = " ".join(f"t{i}" for i in range(10))  # 10 tokens
    docs = spark.createDataFrame([(1, text), (2, "a b"), (3, "")],
                                 ["doc_id", "text"])
    rows = {
        (r["doc_id"], r["chunk_id"]): r
        for r in corpus_ops.chunk_documents(
            docs, "doc_id", "text", chunk_tokens=4, overlap=1
        ).collect()
    }
    # doc 1: stride 3 -> starts 0,3,6 (ceil((10-4)/3)=2); wait 10 tokens:
    # starts 0,3,6 cover t0..t9? chunk@6 = t6..t9 (4 toks) -> yes
    d1 = sorted(k[1] for k in rows if k[0] == 1)
    assert d1 == [0, 1, 2]
    assert rows[(1, 0)]["chunk_text"] == "t0 t1 t2 t3"
    assert rows[(1, 1)]["chunk_start"] == 3
    assert rows[(1, 1)]["chunk_text"] == "t3 t4 t5 t6"
    assert rows[(1, 2)]["chunk_text"] == "t6 t7 t8 t9"
    # short doc: one chunk, whole text
    assert rows[(2, 0)]["chunk_text"] == "a b"
    assert rows[(2, 0)]["n_chunk_tokens"] == 2
    # empty doc: one empty chunk
    assert rows[(3, 0)]["n_chunk_tokens"] == 0
    # every token of doc 1 appears in at least one chunk
    seen = set()
    for (d, _), r in rows.items():
        if d == 1:
            seen.update(r["chunk_text"].split())
    assert seen == {f"t{i}" for i in range(10)}


def test_chunk_documents_rejects_bad_overlap(spark):
    docs = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        corpus_ops.chunk_documents(docs, "doc_id", "text",
                                   chunk_tokens=4, overlap=4)


def test_mix_sources_matches_target_mixture(spark):
    """Down-sample to a target mixture: the binding source keeps every
    row (rate 1.0), the others down-sample toward their shares, and
    selection is deterministic (same rows every run)."""
    from quanta_etl_spark.operators import corpus as corpus_ops

    rows = (
        [(i, "web") for i in range(4000)]
        + [(10_000 + i, "code") for i in range(1000)]
        + [(20_000 + i, "books") for i in range(500)]
        + [(30_000 + i, "junk") for i in range(300)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = corpus_ops.mix_sources(
        df, "source", "doc_id", {"web": 0.5, "code": 0.3, "books": 0.2}
    )
    got = {r["source"]: r["n"] for r in
           out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    # books binds: 500/0.2 = 2500 target → web rate 0.3125, code rate 0.75
    assert "junk" not in got          # unweighted sources dropped
    assert got["books"] == 500        # binding source keeps everything
    assert abs(got["web"] - 1250) < 100   # hash-sampling tolerance
    assert abs(got["code"] - 750) < 75
    # deterministic: the same rows, not just the same counts
    again = corpus_ops.mix_sources(
        df, "source", "doc_id", {"web": 0.5, "code": 0.3, "books": 0.2}
    )
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in again.collect()
    )


def test_mix_sources_missing_source_contract(spark):
    """ADVICE r5: a weights key absent from the data must fail loudly
    (the output mixture would silently deviate from the stated target);
    allow_missing=True opts into renormalizing over present sources.
    A tiny positive rate keeps >= one hash bucket instead of rounding
    the source out of the mix."""
    from quanta_etl_spark.operators import corpus as corpus_ops

    rows = [(i, "web") for i in range(900)] + [
        (10_000 + i, "books") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    missing = corpus_ops.mix_sources(
        df, "source", "doc_id", {"web": 0.5, "code": 0.3, "books": 0.2}
    )
    with pytest.raises(Exception, match="absent from the data"):
        missing.count()
    ok = corpus_ops.mix_sources(
        df,
        "source",
        "doc_id",
        {"web": 0.5, "code": 0.3, "books": 0.2},
        allow_missing=True,
    )
    got = {r["source"]: r["n"] for r in
           ok.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    # renormalized over present sources: books binds (100/0.2=500),
    # web targets 0.5*500=250 of 900 → rate ~0.278
    assert got["books"] == 100
    assert abs(got["web"] - 250) < 50
    # min-cut-1: a rate that rounds to zero buckets still keeps ~1/num_buckets
    tiny = corpus_ops.mix_sources(
        df,
        "source",
        "doc_id",
        {"web": 0.999, "books": 0.001},
        num_buckets=10,
    )
    tn = {r["source"]: r["n"] for r in
          tiny.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    # books' target share is 0.1% → round(rate*10)=0 buckets before the
    # guard; with it, one bucket (~10% of books) survives
    assert tn.get("books", 0) > 0


def _cached_rdd_ids(spark):
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {info.id() for info in infos if info.isCached()}


def test_free_local_checkpoint_actually_frees_blocks(spark):
    """r14 (VERDICT r13 #7): _free_local_checkpoint reaches through
    private py4j API (queryExecution().analyzed().rdd()); it fails
    SOFT, so a Spark upgrade that breaks the reflection would turn it
    into a silent no-op and quietly resurrect the sf100 OOM. This
    storage-status probe makes that drift loud: the checkpoint's
    blocks must be GONE after the call, not merely unpersist-requested.

    Also pins the public-API gap that motivates the helper:
    Dataset.unpersist alone must NOT free a localCheckpoint's blocks
    (if a Spark release ever makes it work, the helper can be retired
    -- this test failing on its second assertion is that signal)."""
    # other tests on the shared session may have left their own
    # cached RDDs — track only the ids THIS checkpoint adds
    pre = _cached_rdd_ids(spark)
    df = spark.range(0, 10_000).localCheckpoint(eager=True)
    mine = _cached_rdd_ids(spark) - pre
    assert mine, "eager localCheckpoint left no cached blocks"

    # public API is a documented no-op on checkpoint blocks
    df.unpersist(blocking=True)
    assert mine <= _cached_rdd_ids(spark), (
        "Dataset.unpersist now frees localCheckpoint blocks - the "
        "private-API helper may be retirable"
    )

    graph_ops._free_local_checkpoint(df)
    assert not (mine & _cached_rdd_ids(spark)), (
        "localCheckpoint blocks still cached after "
        "_free_local_checkpoint - the py4j path has drifted and the "
        "sf100 generation-freeing discipline is silently broken"
    )


def test_free_local_checkpoint_releases_persisted_frames(spark):
    """r14: the CC loop's first superseded generation is now a plain
    persist() cache - the helper must release those too (public
    unpersist path)."""
    pre = _cached_rdd_ids(spark)
    df = spark.range(0, 10_000).persist()
    df.count()
    mine = _cached_rdd_ids(spark) - pre
    assert mine, "persist+count cached nothing"
    graph_ops._free_local_checkpoint(df)
    # allow the blocking=False release a moment to settle
    import time

    for _ in range(20):
        if not (mine & _cached_rdd_ids(spark)):
            break
        time.sleep(0.1)
    assert not (mine & _cached_rdd_ids(spark)), (
        "persisted frame still cached after _free_local_checkpoint"
    )


# ---------------------------------------------------------------------------
# The single-task kernels against the distributed rounds
# ---------------------------------------------------------------------------


def _random_edges(n_nodes, n_edges, seed):
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
    ]


def _shuffled_chain(n_nodes, base, seed):
    """A path over ``n_nodes`` ids from ``base`` up, in shuffled id and
    edge order, so neither id order nor row order follows the path."""
    import random

    rng = random.Random(seed)
    ids = [base + 3 * i for i in range(n_nodes)]
    rng.shuffle(ids)
    edges = list(zip(ids, ids[1:]))
    rng.shuffle(edges)
    return edges


_GRAPHS = {
    # node 6 is dangling; (1, 2) twice; 3 -> 3 is a self-loop
    "dangling_duplicates_selfloop": (
        [(1, 2), (1, 2), (2, 3), (3, 3), (3, 1), (4, 1), (5, 6)],
        "src int, dst int",
    ),
    "null_src_and_dst": (
        [(None, "a"), ("b", None), ("a", "b"), ("b", "c"), ("c", "a")],
        "src string, dst string",
    ),
    # ids past 2**53, with a NULL: a float64 detour would merge them
    "bigint_ids": (
        [(2**62 + 1, 2**62 + 2), (2**62 + 2, 2**62 + 1), (2**62 + 3, None),
         (7, 2**62 + 1)],
        "src bigint, dst bigint",
    ),
    "empty": ([], "src string, dst string"),
    # per-node sums below 2**53 / 1e18, the kernel's one-division range
    "random_500_nodes": (_random_edges(500, 4000, 3), "src bigint, dst bigint"),
    # three components; the minimum label is the byte-wise smallest id
    "string_ids": (
        [("pear", "apple"), ("apple", "Zebra"), ("kiwi", "fig"),
         ("éclair", "kiwi"), ("mango", "mango"), ("b", "a b")],
        "src string, dst string",
    ),
    # one component whose minimum sits mid-path
    "bigint_chain_2000": (
        _shuffled_chain(2000, 2**53 + 1, 5), "src bigint, dst bigint"
    ),
}


def _cc(e, **kw):
    return graph_ops.connected_components(e, "src", "dst", **kw)


# operator -> (call, the gate value that forces the distributed path,
# the node set it labels: PageRank keeps every endpoint, NULL included;
# connected components drops NULL endpoints and self-loops)
_SINGLE_TASK_OPERATORS = {
    "pagerank": (
        graph_ops.pagerank,
        {"in_memory_edges": 0},
        lambda rows: {n for edge in rows for n in edge},
    ),
    "connected_components": (
        _cc,
        {"small_graph_edges": 0},
        lambda rows: {
            n for u, v in rows if None not in (u, v) and u != v for n in (u, v)
        },
    ),
}


def _bits(df):
    return {
        tuple(v.hex() if isinstance(v, float) else v for v in r)
        for r in df.collect()
    }


@pytest.mark.parametrize("graph", sorted(_GRAPHS))
def test_pagerank_kernel_bit_identical_to_distributed_rounds(spark, graph):
    """Below its edge gate each of PageRank and connected components
    runs in one Python task on the shared ``_single_task`` harness; a
    gate of 0 forces the distributed rounds. For both operators the two
    paths must give the same output set to the bit, and the same schema
    (the node column keeps the input's id type)."""
    rows, schema = _GRAPHS[graph]
    e = spark.createDataFrame(rows, schema)
    for op, (run, forced, nodes) in _SINGLE_TASK_OPERATORS.items():
        kernel, big = run(e), run(e, **forced)
        assert kernel.schema == big.schema, op
        assert kernel.schema["node"].dataType == e.schema["src"].dataType, op
        got, want = _bits(kernel), _bits(big)
        graph_ops._free_local_checkpoint(big)
        assert got == want, op
        assert {r[0] for r in got} == nodes(rows), op


def test_pagerank_query_job_count_and_residue(spark, sf_dir):
    """``graph_pagerank`` at sf0.001 takes the single-task path: the
    same job count on two runs, at most 6 (the distributed rounds ran
    45-50, and their count varied run to run under adaptive
    execution), and no persisted RDD left behind after the action.
    A warm-up load infers ``lineitem``'s schema first, so neither run
    pays that job."""
    import __spark_entry__ as E
    from quanta_etl_spark.sources.testdata import load_table

    load_table(spark, sf_dir, "lineitem")
    sc = spark.sparkContext
    jobs = []
    try:
        for run in range(2):
            before = set(sc._jsc.getPersistentRDDs().keySet())
            group = f"pagerank-structure-{run}"
            sc.setJobGroup(group, group)
            assert E.q_graph_pagerank(spark, sf_dir).count() > 0
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            left = set(sc._jsc.getPersistentRDDs().keySet()) - before
            assert not left, f"run {run} left persisted RDDs {left}"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs[0] == jobs[1] <= 6, jobs
