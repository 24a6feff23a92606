"""sf1-scale graph hot-hub (power-law) skew stress (VERDICT r7 #7).

The dedup family's hot-bucket stress (tools/skew_stress.py) covers the
LSH guard; this covers the ITERATIVE graph operators, whose 100-TB
hazard is a power-law hub: one node with 10⁴-10⁵ incident edges — the
shape of real web/citation/co-purchase graphs — concentrating one
reducer's input in every per-round shuffle.

Builds the sf1 part→supplier edge list (5.91M distinct edges from 6M
lineitem rows — the measured count in NOTES.md's r8 record) plus ONE
synthetic hub supplier connected to ``HUB``
parts (default 50,000 — every part at sf1 has an edge to it), then
times:

- ``pagerank`` (5 iterations): the hub's in-contributions all hash to
  one reducer per round; decimal partial aggregation combines map-side,
  so the hot key costs one task's skew, not a replan. AQE skew-join
  splitting (enabled in the engine session) bounds the join side.
- ``k_core`` (k=3, 8 peels): the hub survives every peel; degree
  aggregation on the hub node is one hot reducer per round.

Asserts: the hub lands rank-1 in PageRank and in the surviving core;
wall-times print for the NOTES record, with the unskewed baseline run
in the same session for an apples-to-apples ratio.

The scale-independent behavior (hub correctness, no cartesian/collect)
is pinned by tests/test_stats_graph_r6.py::TestGraphHotHub; this script
is the sf1-scale evidence run (reproducible:
``python tools/make_sfN.py && python tools/graph_skew_stress.py``).

Usage:
    python tools/graph_skew_stress.py [hub_degree] [sf_dir]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> int:
    hub = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/.benchdata/sf1"

    from pyspark.sql import functions as F

    from quanta_etl_spark.operators import graph as G
    from quanta_etl_spark.session import get_spark

    spark = get_spark(
        app_name="graph-skew-stress", master="local[32]",
        shuffle_partitions=32,
    )
    spark.sparkContext.setLogLevel("ERROR")

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    edges = li.select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    ).distinct()
    hub_edges = spark.range(hub).select(
        F.concat(F.lit("p"), (F.col("id") % 200_000) + 1).alias("src"),
        F.lit("sHUB").alias("dst"),
    ).distinct()
    skewed = edges.unionByName(hub_edges)
    edges.cache().count()
    n_base = edges.count()
    skewed.cache()
    n_skew = skewed.count()
    print(f"edges: base={n_base} skewed={n_skew} (hub degree {n_skew - n_base})")

    results: dict[str, float] = {}
    for label, e in [("base", edges), ("hot-hub", skewed)]:
        t0 = time.time()
        pr = G.pagerank(e, iterations=5)
        top = pr.orderBy(F.col("rank").desc()).limit(3).collect()
        results[f"pagerank/{label}"] = time.time() - t0
        print(
            f"pagerank {label:8s}: {results[f'pagerank/{label}']:.1f}s  "
            f"top3={[(r.node, round(r.rank, 6)) for r in top]}"
        )
        if label == "hot-hub":
            assert top[0].node == "sHUB", "hub must dominate PageRank"

        t0 = time.time()
        core = G.k_core(e, k=3, max_peels=8)
        n_core = core.count()
        results[f"kcore/{label}"] = time.time() - t0
        in_core = (
            core.where(F.col("node") == "sHUB").count() if label == "hot-hub"
            else None
        )
        print(
            f"k_core   {label:8s}: {results[f'kcore/{label}']:.1f}s  "
            f"core_nodes={n_core} hub_in_core={in_core}"
        )
        if label == "hot-hub":
            assert in_core == 1, "a 50k-degree hub must survive every peel"

    for op in ("pagerank", "kcore"):
        ratio = results[f"{op}/hot-hub"] / results[f"{op}/base"]
        print(f"{op}: hot-hub/base wall ratio = {ratio:.2f}x")

    # r12: distributed-CC stress on the shape that exposed the
    # small-star orientation bug — star families stitched through
    # congruent SPARSE ids (the sf10 multikey entity graph). Chains
    # and near-cliques converge under large-star alone, so THIS is the
    # adversarial input for the star-contraction loop; the single-task
    # min-label kernel is the exact baseline (the whole edge set fits
    # one task). Asserts label-for-label equality.
    n_ids = 1_500_000
    ents = (
        spark.range(n_ids)
        .select(
            ((F.col("id") * F.lit(2654435761)) % F.lit(1 << 31))
            .alias("eid")
        )
        .distinct()
        .select(
            F.col("eid").alias("id"),
            F.concat(F.lit("e"), F.col("eid") % 700).alias("ek"),
            F.concat(F.lit("p"), F.col("eid") % 900).alias("pk"),
        )
    )
    cc_edges = None
    for k in ("ek", "pk"):
        keyed = ents.select(F.col("id").alias("__id"), F.col(k).alias("__k"))
        centers = keyed.groupBy("__k").agg(F.min("__id").alias("__c"))
        e = (
            keyed.join(centers, "__k")
            .where(F.col("__id") != F.col("__c"))
            .select(F.col("__c").alias("a"), F.col("__id").alias("b"))
        )
        cc_edges = e if cc_edges is None else cc_edges.unionByName(e)
    cc_edges = cc_edges.cache()
    n_edges = cc_edges.count()
    t0 = time.time()
    dist = G.connected_components(cc_edges, small_graph_edges=0)
    d_labels = {r["node"]: r["component"] for r in dist.collect()}
    t_dist = time.time() - t0
    t0 = time.time()
    one = G.connected_components(cc_edges, small_graph_edges=1 << 62)
    k_labels = {r["node"]: r["component"] for r in one.collect()}
    t_one = time.time() - t0
    n_comp = len(set(d_labels.values()))
    print(
        f"cc mod-stitched: {n_edges} edges, {len(d_labels)} nodes, "
        f"{n_comp} components; star-contraction {t_dist:.1f}s, "
        f"single-task kernel {t_one:.1f}s"
    )
    assert d_labels == k_labels, (
        "distributed CC labels diverge from the single-task kernel baseline"
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
