"""Round-6 batch 2: OLS regression, chi-square, MAD outliers,
period-over-period growth, triangle counting, multi-source BFS."""
from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from quanta_etl_spark.operators import aggregates as A
from quanta_etl_spark.operators import graph as G
from quanta_etl_spark.operators import quality as Q
from quanta_etl_spark.operators import resample as R


# ---------- ols_regress ----------

def test_ols_exact_line(spark):
    # y = 3x + 2 exactly -> slope 3, intercept 2, r2 = 1
    rows = [("g", float(x), 3.0 * x + 2.0) for x in range(10)]
    df = spark.createDataFrame(rows, "k string, x double, y double")
    out = A.ols_regress(df, "y", "x", ["k"]).collect()[0]
    assert out["n"] == 10
    assert out["slope"] == pytest.approx(3.0, abs=1e-9)
    assert out["intercept"] == pytest.approx(2.0, abs=1e-9)
    assert out["r2"] == pytest.approx(1.0, abs=1e-9)


def test_ols_matches_numpy(spark):
    import numpy as np

    # noise in eighths: exact in binary AND in decimal(30,6)
    rng = [(i * 37 % 101) / 8.0 for i in range(50)]
    xs = [float(i) for i in range(50)]
    ys = [2.5 * x - 4.0 + r for x, r in zip(xs, rng)]
    df = spark.createDataFrame(
        [("g", x, y) for x, y in zip(xs, ys)], "k string, x double, y double"
    )
    out = A.ols_regress(df, "y", "x", ["k"]).collect()[0]
    slope, intercept = np.polyfit(xs, ys, 1)
    assert out["slope"] == pytest.approx(slope, rel=1e-8)
    assert out["intercept"] == pytest.approx(intercept, rel=1e-8)
    r = np.corrcoef(xs, ys)[0, 1]
    assert out["r2"] == pytest.approx(r * r, rel=1e-8)


def test_ols_degenerate_x(spark):
    df = spark.createDataFrame(
        [("g", 5.0, float(y)) for y in range(4)], "k string, x double, y double"
    )
    out = A.ols_regress(df, "y", "x", ["k"]).collect()[0]
    assert out["slope"] is None and out["intercept"] is None
    assert out["r2"] is None and out["n"] == 4


def test_ols_null_pairs_dropped(spark):
    df = spark.createDataFrame(
        [("g", 1.0, 1.0), ("g", 2.0, 2.0), ("g", None, 9.0), ("g", 3.0, None)],
        "k string, x double, y double",
    )
    assert A.ols_regress(df, "y", "x", ["k"]).collect()[0]["n"] == 2


# ---------- chi_square ----------

def test_chi_square_independent_uniform(spark):
    # Perfectly independent contingency table -> chi2 == 0
    rows = [(a, b) for a in "xy" for b in "pq" for _ in range(25)]
    df = spark.createDataFrame(rows, "a string, b string")
    out = A.chi_square(df, "a", "b").collect()[0]
    assert out["chi2"] == pytest.approx(0.0, abs=1e-12)
    assert out["dof"] == 1
    assert out["n"] == 100


def test_chi_square_matches_scipy_formula(spark):
    # Hand-computed 2x2: cells x/p=10 x/q=20 y/p=30 y/q=40
    rows = (
        [("x", "p")] * 10 + [("x", "q")] * 20
        + [("y", "p")] * 30 + [("y", "q")] * 40
    )
    df = spark.createDataFrame(rows, "a string, b string")
    out = A.chi_square(df, "a", "b").collect()[0]
    # expected: x row=30, y row=70; p col=40, q col=60; n=100
    exp = {("x", "p"): 12.0, ("x", "q"): 18.0,
           ("y", "p"): 28.0, ("y", "q"): 42.0}
    obs = {("x", "p"): 10, ("x", "q"): 20, ("y", "p"): 30, ("y", "q"): 40}
    chi2 = sum((obs[k] - e) ** 2 / e for k, e in exp.items())
    assert out["chi2"] == pytest.approx(chi2, rel=1e-12)
    assert out["dof"] == 1


# ---------- mad_outliers ----------

def test_mad_flags_gross_outlier(spark):
    vals = [10.0, 11.0, 12.0, 13.0, 14.0, 1000.0]
    df = spark.createDataFrame([("g", v) for v in vals], "k string, v double")
    out = {r["v"]: r for r in Q.mad_outliers(df, "v", ["k"], k=3.0).collect()}
    assert out[1000.0]["is_outlier"] is True
    assert all(not out[v]["is_outlier"] for v in vals[:-1])
    # median 12.5, adev of 1000 = 987.5;
    # mad = median(0.5, 0.5, 1.5, 1.5, 2.5, 987.5) = 1.5
    assert out[1000.0]["mad_score"] == pytest.approx(
        987.5 / (1.4826 * 1.5), rel=1e-9
    )


def test_mad_zero_mad_group(spark):
    # >50% identical: mad==0 -> any deviation flags
    df = spark.createDataFrame(
        [("g", 5.0)] * 5 + [("g", 6.0)], "k string, v double"
    )
    out = {r["v"]: r["is_outlier"] for r in
           Q.mad_outliers(df, "v", ["k"]).collect()}
    assert out[6.0] is True and out[5.0] is False


def test_mad_modes(spark):
    df = spark.createDataFrame(
        [("g", float(v)) for v in [1, 2, 3, 4, 100]], "k string, v double"
    )
    assert Q.mad_outliers(df, "v", ["k"], mode="only").count() == 1
    assert Q.mad_outliers(df, "v", ["k"], mode="drop").count() == 4
    with pytest.raises(ValueError):
        Q.mad_outliers(df, "v", ["k"], mode="bogus")


# ---------- period_growth ----------

def test_period_growth_basic(spark):
    df = spark.createDataFrame(
        [("2024-01-05", 10.0), ("2024-01-20", 20.0),
         ("2024-02-10", 60.0), ("2024-04-01", 30.0)],
        "d string, v double",
    ).withColumn("ts", F.to_timestamp("d"))
    out = {r["period"].month: r for r in
           R.period_growth(df, "ts", "v", "month").collect()}
    assert out[1]["value"] == 30.0 and out[1]["prev_value"] is None
    assert out[2]["value"] == 60.0 and out[2]["pct_change"] == pytest.approx(1.0)
    # gap: April compares against February (last PRESENT period)
    assert out[4]["prev_value"] == 60.0
    assert out[4]["pct_change"] == pytest.approx(-0.5)


def test_period_growth_by_key(spark):
    df = spark.createDataFrame(
        [("a", "2024-01-01", 1.0), ("a", "2024-02-01", 2.0),
         ("b", "2024-01-01", 5.0), ("b", "2024-02-01", 5.0)],
        "k string, d string, v double",
    ).withColumn("ts", F.to_timestamp("d"))
    out = {(r["k"], r["period"].month): r for r in
           R.period_growth(df, "ts", "v", "month", by=["k"]).collect()}
    assert out[("a", 2)]["pct_change"] == pytest.approx(1.0)
    assert out[("b", 2)]["pct_change"] == pytest.approx(0.0)


# ---------- triangle_counts ----------

def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_triangles_single(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")])
    out = {r["node"]: r["triangles"] for r in G.triangle_counts(e).collect()}
    assert out == {"a": 1, "b": 1, "c": 1, "d": 0}


def test_triangles_k4(spark):
    # K4: each node is in C(3,2)=3 triangles, 4 triangles total
    nodes = "abcd"
    pairs = [(x, y) for i, x in enumerate(nodes) for y in nodes[i + 1:]]
    out = {r["node"]: r["triangles"]
           for r in G.triangle_counts(_edges(spark, pairs)).collect()}
    assert out == {c: 3 for c in nodes}


def test_triangles_dup_and_reverse_edges(spark):
    # duplicates / reversed duplicates / self-loops must not double count
    e = _edges(spark, [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"),
                       ("a", "a"), ("a", "b")])
    out = {r["node"]: r["triangles"] for r in G.triangle_counts(e).collect()}
    assert out == {"a": 1, "b": 1, "c": 1}


# ---------- bfs_depths ----------

def test_bfs_depths_path(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")])
    src = spark.createDataFrame([("a",)], "node string")
    out = {r["node"]: r["depth"]
           for r in G.bfs_depths(e, src, max_hops=3).collect()}
    assert out == {"a": 0, "b": 1, "c": 2, "d": 3}  # e beyond budget


def test_bfs_multi_source_min(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("z", "c")])
    src = spark.createDataFrame([("a",), ("z",)], "node string")
    out = {r["node"]: r["depth"]
           for r in G.bfs_depths(e, src, max_hops=3).collect()}
    assert out == {"a": 0, "z": 0, "b": 1, "c": 1}


def test_bfs_directed(spark):
    e = _edges(spark, [("a", "b"), ("c", "b")])
    src = spark.createDataFrame([("a",)], "node string")
    out = {r["node"]: r["depth"]
           for r in G.bfs_depths(e, src, max_hops=2, directed=True).collect()}
    assert out == {"a": 0, "b": 1}  # c unreachable along direction


def test_mad_null_values_not_dropped_or_flagged(spark):
    """NULL values are neither outliers nor silently removed by
    mode='drop' (review r6 finding: ~NULL filtered the row)."""
    df = spark.createDataFrame(
        [("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", None)],
        "k string, v double",
    )
    flagged = {r["v"]: r["is_outlier"]
               for r in Q.mad_outliers(df, "v", ["k"]).collect()}
    assert flagged[None] is False
    kept = Q.mad_outliers(df, "v", ["k"], mode="drop").count()
    assert kept == 4  # the NULL row survives the drop


def test_anomaly_zscore_constant_baseline_not_flagged(spark):
    """A zero-variance trailing window must yield NULL zscore, never
    NaN/Inf flags (review r6 finding; mirrors the streaming guard)."""
    from quanta_etl_spark.operators import windows as W2

    rows = [("u", i, 10.0) for i in range(25)] + [("u", 25, 99.0)]
    df = spark.createDataFrame(rows, "k string, o long, v double")
    out = {r["o"]: r for r in W2.anomaly_zscore(
        df, "k", "o", "v", window_rows=20, threshold=2.5
    ).collect()}
    # rows inside the constant run: zscore NULL, not flagged
    assert out[20]["zscore"] is None and out[20]["is_anomaly"] is False
    # the spike against a constant baseline: also unflaggable (sd==0)
    assert out[25]["zscore"] is None and out[25]["is_anomaly"] is False


def test_reconcile_zero_totals_within_tolerance(spark):
    df_fact = spark.createDataFrame([(1, 0.0)], "k long, total double")
    df_det = spark.createDataFrame(
        [(1, 5.0), (1, -5.0)], "fk long, amt double"
    )
    out = Q.reconcile_totals(
        df_fact, df_det, "k", "fk", "total", F.col("amt"), tolerance=0.01
    ).collect()[0]
    assert out["recomputed"] == 0.0
    assert out["within_tolerance"] is True
    assert out["rel_diff"] is None  # undefined against a zero base


# ---------- link prediction / seasonal decompose ----------

def test_link_prediction_jaccard(spark):
    # square a-b-c-d-a: diagonals (a,c) and (b,d) are the predictions
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")])
    out = G.link_prediction_jaccard(e, top_k=10).collect()
    got = {(r["node_a"], r["node_b"]): r for r in out}
    assert set(got) == {("a", "c"), ("b", "d")}
    # each diagonal shares both neighbors: common=2, union=2+2-2=2 -> 1.0
    assert got[("a", "c")]["jaccard"] == 1.0
    assert got[("a", "c")]["common"] == 2
    # existing edges never predicted
    assert ("a", "b") not in got


def test_link_prediction_excludes_no_common(spark):
    e = _edges(spark, [("a", "b"), ("c", "d")])
    assert G.link_prediction_jaccard(e).count() == 0


def test_seasonal_decompose_identity(spark):
    import datetime as dtm

    # 28 days of data: value = 100 + dow_effect
    effects = {1: 5.0, 2: -3.0, 3: 0.0, 4: 1.0, 5: -1.0, 6: 2.0, 7: -4.0}
    rows = []
    for d in range(28):
        day = dtm.datetime(2024, 1, 1) + dtm.timedelta(days=d)
        dow = day.isoweekday() % 7 + 1  # Spark: Sunday=1
        rows.append((day, 100.0 + effects[dow]))
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    out = {r["day"].day: r for r in R.seasonal_decompose(
        df, "ts", "v", trend_window=7
    ).collect() if r["day"].month == 1}
    # interior day: trend = mean over any 7 consecutive days = 100
    mid = out[15]
    assert mid["trend"] == pytest.approx(100.0, abs=1e-9)
    # observed = trend + seasonal + residual reconstructs exactly
    assert mid["observed"] == pytest.approx(
        mid["trend"] + mid["seasonal"] + mid["residual"], abs=1e-9
    )
    # pure weekly signal: residual ~ 0 in the interior
    assert abs(mid["residual"]) < 1e-6
    # edges (first 3 days): partial frame -> NULL trend
    assert out[1]["trend"] is None


def test_seasonal_decompose_even_window_exact_span(spark):
    """Even trend windows must average exactly trend_window days
    (review r6: a symmetric frame quietly spanned w+1)."""
    import datetime as dtm

    rows = [
        (dtm.datetime(2024, 1, 1) + dtm.timedelta(days=d), float(d))
        for d in range(12)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    out = {r["day"].day: r for r in R.seasonal_decompose(
        df, "ts", "v", trend_window=4
    ).collect()}
    # day 5 (index 4): frame = days idx 3..6 -> mean of 3,4,5,6 = 4.5
    assert out[5]["trend"] == pytest.approx(4.5, abs=1e-9)
    # first day: partial frame -> NULL
    assert out[1]["trend"] is None


def test_ols_overflow_row_fully_excluded(spark):
    """x beyond decimal(18,6) (>=1e12) overflows the cast to NULL; the
    row must be excluded from n AND the power sums together, so the
    fit over the remaining in-range rows is still exact (ADVICE r6:
    previously n counted the row while the sums dropped it, quietly
    skewing slope/intercept/r2)."""
    rows = [(1, 1.0, 3.0), (1, 2.0, 5.0), (1, 3.0, 7.0),
            (1, 5e12, 9.0)]
    df = spark.createDataFrame(rows, "k long, x double, y double")
    out = A.ols_regress(df, "y", "x", ["k"]).collect()[0]
    # fit over the three in-range points of y = 2x + 1
    assert out["n"] == 3
    assert out["slope"] == pytest.approx(2.0)
    assert out["intercept"] == pytest.approx(1.0)
    assert out["r2"] == pytest.approx(1.0)


# ---------- graph hot-hub (power-law) skew pins (VERDICT r7 #7) ----------

class TestGraphHotHub:
    """Scale-independent pins behind tools/graph_skew_stress.py: a
    power-law hub (one node with thousands of incident edges — the
    100-TB web/citation-graph shape) must produce exact results, with
    the hub's per-round shuffle cost bounded by map-side decimal
    partial aggregation, not a replan. The sf1-scale wall-times live
    in NOTES.md."""

    HUB_DEG = 5000

    def _star(self, spark):
        # leaves l1..lN each point at the single hub node
        return spark.range(self.HUB_DEG).select(
            F.concat(F.lit("l"), F.col("id")).alias("src"),
            F.lit("hub").alias("dst"),
        )

    def test_pagerank_star_closed_form(self, spark):
        e = self._star(spark)
        n = self.HUB_DEG + 1
        d = 0.85
        ranks = {r.node: r.rank for r in G.pagerank(e, iterations=5).collect()}
        # leaves have no in-edges: rank = (1-d)/N from round 1 onward
        leaf = (1.0 - d) / n
        assert ranks["l0"] == pytest.approx(leaf, rel=1e-12)
        # hub (dangling: holds rank, leaks mass) stabilizes at
        # (1-d)/N + d * HUB_DEG * leaf from round 2 onward
        want_hub = (1.0 - d) / n + d * self.HUB_DEG * leaf
        assert ranks["hub"] == pytest.approx(want_hub, rel=1e-9)
        assert max(ranks, key=ranks.get) == "hub"

    def test_pagerank_big_path_equals_small_and_frees_blocks(self, spark):
        """pagerank picks its path on a counted edge threshold: small
        graphs run every round in one Python task, big graphs take
        DISK_ONLY edges + eager rank checkpoints with real RDD-level
        frees. The two paths must be bit-identical, and the big path
        must leave ONLY the returned frame's own checkpoint blocks
        pinned (Dataset.unpersist is a no-op on checkpoint blocks;
        _free_local_checkpoint reaches the RDD — the r12 code leaked
        every superseded generation)."""
        e = self._star(spark)
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
        small = {(r.node, r.rank) for r in G.pagerank(e).collect()}
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
        big_df = G.pagerank(e, in_memory_edges=0)  # force the big path
        big = {(r.node, r.rank) for r in big_df.collect()}
        assert big == small
        # the final ranks checkpoint is the ONLY storage left pinned
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        assert len(infos) <= 1

    def test_kcore_star_peels_to_empty(self, spark):
        # hub degree 5000 but every leaf has degree 1: the first k=2
        # peel removes all leaves, which removes every edge — the hub's
        # huge degree must not keep a vacuous core alive
        out = G.k_core(self._star(spark), k=2, max_peels=8).collect()
        assert out == []

    def test_kcore_hub_with_core_survives(self, spark):
        # K4 clique + the 5000-leaf star on one clique member: the
        # 3-core is exactly the clique, hub degree notwithstanding
        k4 = [(f"n{a}", f"n{b}") for a in range(4) for b in range(a + 1, 4)]
        star = self._star(spark).withColumn(
            "dst", F.lit("n0")
        )  # all leaves hit clique member n0
        e = spark.createDataFrame(k4, "src string, dst string").unionByName(
            star
        )
        core = {r.node for r in G.k_core(e, k=3, max_peels=8).collect()}
        assert core == {"n0", "n1", "n2", "n3"}
