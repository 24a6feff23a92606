"""Distributed connected components and dedup-cluster assembly.

Near-duplicate PAIRS (from MinHash/SimHash/embedding LSH — see
``operators.dedup``) are only half of a dedup pipeline: the pairs must
be grouped into clusters and one survivor kept per cluster. The
reference has no counterpart (its ETL is linear — dags/spark/etl.py has
no dedup at all); this is part of the LLM-training-data surface this
engine adds on top.

Connected components uses the alternating **large-star / small-star**
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC 2014): each round is one groupBy + one join on node id,
and the edge set converges to a star forest (every node points at its
cluster's minimum id) in O(log²  n) rounds — in practice 2-4 rounds for
dedup graphs, whose clusters are near-cliques. Contrast with naive
min-label propagation, which needs O(diameter) rounds and dies on long
chains.

At 100 TB every step here is a plain hash shuffle on node id: min() is
map-side combinable, hot nodes (a template shared by millions of docs)
are one skewed group that AQE splits, and no step ever materializes a
neighborhood in driver memory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _canonical_undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical undirected simple edge set (a < b): least/greatest
    orientation, self-loops dropped, duplicates collapsed — the shared
    first step of every undirected-graph operator here (one fix to
    edge canonicalization lands everywhere)."""
    lo, hi = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    return (
        edges.select(lo.alias("a"), hi.alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u: attach every LARGER neighbor to the minimum of
    N(u) ∪ {u}. Emits (v, m) for v > u — strictly decreases the sum of
    component heights without ever disconnecting anything."""
    bidir = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = bidir.groupBy("a").agg(
        F.least(F.min("b"), F.first("a")).alias("m")
    )
    return (
        bidir.join(mins, "a")
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """For each node u: attach u and every SMALLER-or-equal neighbor to
    the minimum of that set. The (u, m) edge keeps u connected.

    The larger→smaller direction is derived with greatest/least, NOT
    by assuming the input arrives canonically ordered (r12 bug, found
    by the sf10 differential sweep): ``_large_star`` emits its edges
    as (larger, smaller), so the old ``b→a`` flip re-oriented them to
    (smaller, larger) — grouping by the SMALLER endpoint, whose
    "smaller-or-equal neighbors" set is empty, which made small-star a
    NO-OP on every round after the first large-star. The loop then ran
    large-star alone, whose own fixpoint is not necessarily a star
    forest: on the sf10 multikey entity graph (1.5M sparse ids
    stitched by two mod-key families, 2.84M edges) it settled at 2.79M
    edges and fragmented the true 100×15,000-member clustering into
    ~700 pieces — silently, because the composed checksum was stable.
    Every graph below ``small_graph_edges`` dodged the bug via the
    single-task path, which is why eleven rounds of sf0.01/sf1 sweeps
    never caught it."""
    # direct every edge from the larger endpoint to the smaller,
    # regardless of the input's orientation
    dir_e = e.select(
        F.greatest(F.col("a"), F.col("b")).alias("a"),
        F.least(F.col("a"), F.col("b")).alias("b"),
    )
    mins = dir_e.groupBy("a").agg(
        F.least(F.min("b"), F.first("a")).alias("m")
    )
    joined = dir_e.join(mins, "a")
    out = joined.select(F.col("b").alias("a"), F.col("m").alias("b")).union(
        mins.select(F.col("a"), F.col("m").alias("b"))
    )
    return out.where(F.col("a") != F.col("b")).distinct()


def _edge_checksum(e: DataFrame) -> tuple[int, int]:
    """(count, order-insensitive hash) — one tiny job per iteration.

    Equality of checksums across an iteration certifies the fixpoint
    without a full set-difference join."""
    # bit_xor, not sum: order-insensitive and overflow-free under ANSI
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("a", "b")), F.lit(0)).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def _free_local_checkpoint(df: DataFrame) -> None:
    """Release a localCheckpointed DataFrame's storage blocks NOW.

    ``Dataset.unpersist`` only uncaches CacheManager-registered
    ``persist()`` entries; a localCheckpoint's blocks are NOT
    registered there, so the public API is a silent no-op on them
    (verified on PySpark 4.1.2: blocks remain fully cached after
    ``unpersist(blocking=True)``). Reaching the LogicalRDD's
    underlying RDD via py4j and unpersisting THAT frees the blocks
    immediately — without it, superseded rank/edge generations pin
    storage until driver GC + ContextCleaner get around to them,
    which at sf100 working sets means "never, before the OOM".

    The frame is UNUSABLE afterwards (its lineage was truncated at
    the checkpoint, so lost blocks cannot be recomputed) — callers
    must only pass generations nothing references again. Best-effort:
    the py4j path is private API, so any reflection failure falls
    back to the old GC-eventually behavior rather than erroring.

    Also releases plain ``persist()`` caches (r14): the first
    superseded generation of the CC loop is now a persisted frame,
    not a checkpoint, and for those the public ``Dataset.unpersist``
    IS the correct (and sufficient) release path.
    """
    try:
        df.unpersist(False)
    except Exception:
        pass
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def _single_task(
    pair: DataFrame, kernel, value: str, value_t=None
) -> DataFrame:
    """Run a small graph through ``kernel`` in ONE executor task — the
    path below an iterative operator's edge gate, where the distributed
    rounds cost several Spark jobs each however small the graph is.

    ``pair`` is a two-column id frame (source, target; one row per
    edge). Both columns are concatenated and encoded to dense indices
    in id order: index i is the i-th smallest id, so an index minimum
    is an id minimum. A NULL id is one more node, the last index.
    ``kernel(n, k, s, d)`` gets the node count, the count of non-NULL
    nodes (the NULL node, if any, is index ``k``) and the per-edge
    index arrays, and returns one value per node: doubles emitted as
    ``value_t``, or, with ``value_t=None``, node indices emitted as the
    ids they encode. Output: ``(node, <value>)``, the node column in
    the input's id type.

    Arrow in, Arrow out (``mapInArrow``): pandas would turn a bigint id
    column holding a NULL into float64, and ids past 2**53 stay exact.
    The closure imports only numpy, pyarrow and the standard library,
    never this package, so a worker without it installed can run it."""
    from pyspark.sql.types import StructField, StructType

    a, b = pair.columns
    node_t = pair.select(a).union(pair.select(b)).schema[0].dataType
    out_schema = StructType(
        [StructField("node", node_t), StructField(value, value_t or node_t)]
    )

    def part(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        batches = list(batches)
        m = sum(t.num_rows for t in batches)
        if m == 0:
            return
        ids = pa.concat_arrays(
            [t.column(0) for t in batches] + [t.column(1) for t in batches]
        )
        nodes = pc.unique(ids)
        nodes = nodes.take(pc.array_sort_indices(nodes))  # NULL sorts last
        idx = pc.index_in(ids, value_set=nodes, skip_nulls=False).to_numpy()
        n = len(nodes)
        out = kernel(n, n - nodes.null_count, idx[:m], idx[m:])
        values = pa.array(out) if value_t else nodes.take(pa.array(out))
        yield pa.RecordBatch.from_arrays([nodes, values], names=["node", value])

    # A persisted input is read in place by one task (a narrow coalesce:
    # no shuffle, no extra job); any other input is shuffled to one
    # partition, so the stages above it keep their parallelism.
    one = pair.select(*[F.col(c).cast(node_t).alias(c) for c in (a, b)])
    one = one.coalesce(1) if pair.is_cached else one.repartition(1)
    return one.mapInArrow(part, out_schema)


def connected_components(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    max_iterations: int = 20,
    small_graph_edges: int = 500_000,
) -> DataFrame:
    """Label every node in the undirected graph with the MINIMUM node id
    reachable from it. Returns ``(node, component)`` — one row per
    distinct node appearing in ``edges``.

    Size-adaptive: the deduped edge count (already computed for the
    convergence checksum) picks the algorithm. At or below
    ``small_graph_edges`` the whole graph goes through one min-label
    kernel in one task (dedup-pair graphs are tiny relative to their
    corpus — bounded by the duplicate count, not the corpus size);
    above it, the O(log n)-round star contraction whose every step is a
    plain hash shuffle. Pass ``small_graph_edges=0`` to force the
    distributed path.

    Each iteration eagerly localCheckpoints the edge frame: the output
    of round k is consumed by both round k+1 and the convergence
    checksum, and a lazily-checkpointed subtree consumed twice gets
    computed twice (see NOTES.md round-2 landmine).

    The INITIAL edge set is persisted, not checkpointed (r14): the
    checksum aggregate that immediately follows materializes the
    cache in the same action, so the separate eager-checkpoint
    barrier job disappears — one job instead of two before the
    algorithm is even chosen. Lineage depth grows by just the one
    dedup layer (the loop still truncates per round), and
    ``_free_local_checkpoint`` releases persisted frames too, so the
    generation-freeing discipline is unchanged.
    """
    from pyspark import StorageLevel

    e = _canonical_undirected(edges, a, b).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    prev = _edge_checksum(e)
    if prev[0] <= small_graph_edges:

        def min_labels(n, k, s, d):
            # Hook the larger of each edge's two root labels to the
            # smaller, pointer-jump every label to its root, and repeat
            # on the edges whose endpoints still differ. Labels only
            # fall and lab[i] <= i, so each root is its tree's minimum
            # index — the minimum member id.
            import numpy as np

            lab = np.arange(n)
            while len(s):
                ls, ld = lab[s], lab[d]
                live = ls != ld
                s, d, ls, ld = s[live], d[live], ls[live], ld[live]
                lo = np.minimum(ls, ld)
                np.minimum.at(lab, ls, lo)
                np.minimum.at(lab, ld, lo)
                jumped = lab[lab]
                while not np.array_equal(jumped, lab):
                    lab, jumped = jumped, jumped[jumped]
            return lab

        return _single_task(e, min_labels, "component")
    for _ in range(max_iterations):
        superseded = e
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        # free the PREVIOUS generation's checkpoint blocks now that the
        # new one is materialized — bounds live storage to 2 edge
        # generations instead of one per round (r13; see
        # _free_local_checkpoint for why Dataset.unpersist can't)
        _free_local_checkpoint(superseded)
        cur = _edge_checksum(e)
        if cur == prev:
            break
        prev = cur
    else:
        # r12: never proceed silently on an unconverged edge set — the
        # labels below assume a star forest, and wrong clusters are
        # strictly worse than a loud failure.
        raise RuntimeError(
            f"connected_components: star contraction did not converge "
            f"within max_iterations={max_iterations} "
            f"({prev[0]} edges at last round); raise max_iterations"
        )
    # Certify the fixpoint IS a star forest before trusting it: in a
    # star forest no node appears as both a child (left) and a root
    # (right). A checksum-stable state that fails this would have
    # produced silently fragmented clusters (the r12 small-star
    # orientation bug did exactly that at sf10); one set-intersection
    # job at exit is cheap insurance against any future operator drift.
    if e.select("a").intersect(e.select("b")).limit(1).count() > 0:
        raise RuntimeError(
            "connected_components: contraction reached a checksum "
            "fixpoint that is not a star forest (a node is both child "
            "and root) — star operators are broken; refusing to emit "
            "fragmented clusters"
        )
    # fixpoint: e is a star forest (child -> root). Roots appear only on
    # the right; give each a self-labelled row so every node gets one.
    labels = e.select(F.col("a").alias("node"), F.col("b").alias("component"))
    roots = e.select(F.col("b").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return labels.unionByName(roots).groupBy("node").agg(
        F.min("component").alias("component")
    )


def assign_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    small_graph_edges: int = 500_000,
) -> DataFrame:
    """Near-dup pairs → ``(id, cluster_id, is_survivor)``: cluster_id is
    the minimum member id (the deterministic survivor — same rule as
    ``exact_dedup_by_fingerprint``), ``is_survivor`` marks it. Docs not
    in any pair are absent — join back to the corpus with a left join
    and ``coalesce(cluster_id, id)`` to keep singletons."""
    cc = connected_components(
        pairs, id_a, id_b, max_iterations, small_graph_edges
    )
    return cc.select(
        F.col("node").alias("id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_survivor"),
    )


def apply_dedup(
    corpus: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    small_graph_edges: int = 500_000,
) -> DataFrame:
    """The last step of the dedup pipeline: drop every non-survivor.
    Clusters the near-dup pairs, keeps the minimum-id member of each
    cluster, and anti-joins the losers out of the corpus — documents in
    no pair pass through untouched.

    The loser set is tiny relative to the corpus (it is bounded by the
    number of near-duplicate documents), so the anti-join's build side
    is the loser table; AQE turns it into a broadcast join when it fits.
    """
    losers = (
        assign_clusters(pairs, id_a, id_b, max_iterations, small_graph_edges)
        .where(~F.col("is_survivor"))
        .select(F.col("id").alias(id_col))
    )
    return corpus.join(losers, id_col, "left_anti")


def _pagerank_single_task(
    pair: DataFrame, iterations: int, damping: float
) -> DataFrame:
    """All ``iterations`` rounds of ``pagerank`` in ONE executor task —
    the small-graph path, with the distributed rounds' arithmetic to
    the bit. Spark casts each contribution rank/out_deg (a double) to
    decimal(38,18) HALF_UP from its shortest repr; the kernel does the
    same once per source node, sums the scaled int64s exactly with
    ``np.add.at`` (ranks are <= 1, so no per-node sum overflows) and
    converts back with one correctly rounded division, as Spark's
    decimal->double cast does. A NULL id follows the equi-joins: it
    counts in N and keeps (1-d)/N, sending and receiving nothing, and a
    NULL dst still counts in its source's out-degree."""
    from pyspark.sql.types import DoubleType

    def rounds(n, k, s, d):
        from decimal import ROUND_HALF_UP, Decimal

        import numpy as np

        deg = np.bincount(s[s < k], minlength=n)
        live = (s < k) & (d < k)
        s, d = s[live], d[live]
        senders = np.flatnonzero(deg)
        rank = np.full(n, 1.0 / n)
        for _ in range(iterations):
            c, inv = np.unique(rank[senders] / deg[senders], return_inverse=True)
            q = np.zeros(n, np.int64)
            q[senders] = np.array(
                [
                    int(Decimal(repr(x)).scaleb(18).to_integral_value(ROUND_HALF_UP))
                    for x in c.tolist()
                ],
                np.int64,
            )[inv]
            total = np.zeros(n, np.int64)
            np.add.at(total, d, q[s])
            # int64 -> double is exact up to 2**53, and 1e18 is an exact
            # double, so one IEEE division rounds once; larger sums take
            # Python's correctly rounded int division
            summed = total / 1e18
            wide = np.flatnonzero(total > 2**53)
            summed[wide] = [t / 10**18 for t in total[wide].tolist()]
            rank = (1.0 - damping) / n + damping * summed
        return rank

    return _single_task(pair, rounds, "rank", DoubleType())


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
    in_memory_edges: int = 8_000_000,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list, returning
    ``(node, rank)`` — the canonical iterative-join algorithm, run for
    a declared iteration budget (the common production choice: rank
    deltas stabilize long before exact convergence).

    Semantics: dangling nodes (no out-edges) hold rank but leak their
    mass (the simple formulation most SQL engines mirror 1:1).
    Initial rank 1/N; each round: rank = (1-d)/N + d * Σ_in rank/out_deg,
    with the per-node sums accumulated in decimal(38,18), so results are
    identical across partitionings, task orders and the two paths.

    The edge count picks the path. At or below ``in_memory_edges`` all
    rounds run in one Python task (``_pagerank_single_task``): the
    distributed loop costs dozens of Spark jobs however small the
    graph. Above it, K chained (join + groupBy) rounds hash on node id
    against a DISK_ONLY edge checkpoint (memory discipline measured at
    sf100 = 600M distinct edges / 21M nodes in one JVM: an on-heap edge
    cache OOMed a 72g heap before round 1). Each rank generation is
    checkpointed eagerly, so the superseded one is freed at once via
    ``_free_local_checkpoint`` (``Dataset.unpersist`` is a no-op on
    checkpoint blocks), and the loop invariants are freed before
    returning: only the returned frame's own blocks stay pinned.
    """
    from pyspark import StorageLevel

    pairs = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e = pairs.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    # the count is the checkpoint's materializing action
    if e.count() <= in_memory_edges:
        _free_local_checkpoint(e)
        return _pagerank_single_task(pairs, iterations, damping)
    # Loop invariants are checkpointed once: every round references
    # them, and without truncation each round would re-derive them from
    # the raw edge source (measured: 4x the per-round cost at sf0.1).
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    out_deg = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("out_deg"))
        .localCheckpoint(eager=False)
    )
    # N via a 1-row frame, crossJoin-broadcast (never .collect())
    n_frame = nodes.agg(
        F.count(F.lit(1)).cast("double").alias("n")
    ).localCheckpoint(eager=False)
    ranks = nodes.crossJoin(F.broadcast(n_frame)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("rank")
    ).localCheckpoint(eager=True)
    for _ in range(iterations):
        contribs = (
            e.join(out_deg, "src")
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("out_deg")).alias("c"),
            )
        )
        summed = contribs.groupBy("node").agg(
            F.sum(F.col("c").cast("decimal(38,18)")).cast("double").alias("s")
        )
        prev = ranks
        ranks = (
            nodes.join(summed, "node", "left")
            .crossJoin(F.broadcast(n_frame))
            .select(
                "node",
                (
                    (1.0 - damping) / F.col("n")
                    + damping * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("rank"),
            )
            # eager: materialize THIS generation before dropping the
            # previous one (lazy would pin all K generations until the
            # terminal action)
            .localCheckpoint(eager=True)
        )
        _free_local_checkpoint(prev)
    for invariant in (e, nodes, out_deg, n_frame):
        _free_local_checkpoint(invariant)
    return ranks


def _both_directions(e: DataFrame) -> DataFrame:
    return e.select("a", "b").union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )


def _degrees(e: DataFrame) -> DataFrame:
    """(node, deg) over a canonical undirected edge set."""
    return _both_directions(e).groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph —
    the clustering/community primitive, via the standard degree-
    ordered wedge join (each triangle found exactly once).

    Algorithm: canonicalize edges to (lo, hi) by (degree, id) order —
    every edge points from the lower-degree endpoint to the higher —
    then join wedges (a→b, a→c with b<c) against the edge set to close
    them. Degree ordering bounds wedge fan-out by O(sqrt(m)) per node
    (arboricity argument), which is what makes this survive power-law
    graphs at 100 TB where naive wedge-joining on raw direction
    explodes on hub nodes. Three hash shuffles total (degree agg,
    wedge build, closing join) — no iteration.

    Returns (node, triangles) for every node of the graph, 0 included.
    """
    # The canonical edge set and the degree frame are each read by
    # several downstream joins; checkpoint once so the upstream scan +
    # distinct doesn't re-execute per consumer (same discipline as
    # pagerank's loop invariants).
    e = _canonical_undirected(edges, src, dst).localCheckpoint(eager=False)
    both = _both_directions(e)
    deg = _degrees(e).localCheckpoint(eager=False)
    # Orient every edge lower-rank → higher-rank by (deg, id).
    ranked = (
        both.join(deg.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("deg", "da")
        .join(
            deg.select(
                F.col("node").alias("b"), F.col("deg").alias("db")
            ),
            "b",
        )
    )
    oriented = ranked.where(
        (F.col("da") < F.col("db"))
        | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    ).select(F.col("a").alias("lo"), F.col("b").alias("hi")).localCheckpoint(
        eager=False
    )
    # Wedges centered at the lowest-ranked vertex; close with an edge.
    w1 = oriented.select(
        F.col("lo").alias("c"), F.col("hi").alias("x")
    )
    w2 = oriented.select(
        F.col("lo").alias("c"), F.col("hi").alias("y")
    )
    wedges = w1.join(w2, "c").where(F.col("x") < F.col("y"))
    # NOTE: union() is positional — the reversed frame must emit
    # (hi, lo) in column ORDER, not rely on aliases.
    closing = oriented.select(
        F.col("lo").alias("x"), F.col("hi").alias("y")
    ).union(
        oriented.select(
            F.col("hi").alias("x"), F.col("lo").alias("y")
        )
    ).distinct()
    tri = wedges.join(closing, ["x", "y"])
    per_node = (
        tri.select(F.col("c").alias("node"))
        .union(tri.select(F.col("x").alias("node")))
        .union(tri.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.select("node")
        .join(per_node, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
        )
    )


def bfs_depths(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 3,
    directed: bool = False,
) -> DataFrame:
    """Multi-source breadth-first search: minimum hop count from any
    source node, up to ``max_hops`` — reachability/radius analysis as
    a fixed-budget iterative join (the same fixpoint pattern as
    :func:`pagerank`, min-aggregated instead of summed).

    ``sources`` is a 1-column DataFrame of node ids (depth 0). Each
    round expands the CURRENT frontier only (rows at depth k), unions
    into the visited set, and min-aggregates — so work per round is
    proportional to the frontier, not the visited set. Frontiers are
    localCheckpointed to truncate lineage. Unreachable nodes (within
    the budget) are absent from the result.

    At 100 TB: the edge list is the loop invariant — pre-partition it
    on the join key once (bucketing) and every round's expansion is
    exchange-free on the big side.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if not directed:
        e = e.union(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        )
    e = e.distinct().localCheckpoint(eager=False)
    visited = (
        sources.toDF("node")
        .distinct()
        .select("node", F.lit(0).alias("depth"))
        .localCheckpoint(eager=False)
    )
    frontier = visited
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(
                e, frontier["node"] == e["u"], "inner"
            )
            .select(F.col("v").alias("node"), F.lit(hop).alias("depth"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .localCheckpoint(eager=False)
        )
        visited = visited.union(nxt).localCheckpoint(eager=False)
        frontier = nxt
    return visited.groupBy("node").agg(F.min("depth").alias("depth"))


def link_prediction_jaccard(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    top_k: int = 20,
) -> DataFrame:
    """Jaccard-coefficient link prediction: for node pairs that share
    at least one neighbor but are NOT connected, score
    |Γ(a)∩Γ(b)| / |Γ(a)∪Γ(b)| and return the ``top_k`` predicted
    links — the classic "who should connect next" primitive
    (recommendations, knowledge-graph completion).

    Shape: candidates come from a wedge join through the shared
    neighbor (only pairs with ≥1 common neighbor ever materialize —
    never the all-pairs square), common-neighbor counts aggregate on
    the pair key, degrees join in from a broadcastable node frame, and
    existing edges are anti-joined away. Hub fan-out in the wedge is
    the scale knob — cap or sample super-hub adjacency in the same way
    the dedup family caps hot buckets.
    """
    e = _canonical_undirected(edges, src, dst).localCheckpoint(eager=False)
    adj = e.select(F.col("a").alias("n"), F.col("b").alias("nb")).union(
        e.select(F.col("b").alias("n"), F.col("a").alias("nb"))
    )
    deg = adj.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
    # wedges through the shared neighbor nb: (x, nb), (y, nb), x < y
    w1 = adj.select(F.col("nb").alias("c"), F.col("n").alias("x"))
    w2 = adj.select(F.col("nb").alias("c"), F.col("n").alias("y"))
    common = (
        w1.join(w2, "c")
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    candidates = common.join(
        e, (common["x"] == e["a"]) & (common["y"] == e["b"]), "left_anti"
    )
    scored = (
        candidates.join(deg.withColumnRenamed("n", "x"), "x")
        .withColumnRenamed("deg", "deg_x")
        .join(
            deg.select(F.col("n").alias("y"), F.col("deg").alias("deg_y")),
            "y",
        )
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("deg_x") + F.col("deg_y") - F.col("common")),
        )
    )
    return (
        scored.select(
            F.col("x").alias("node_a"),
            F.col("y").alias("node_b"),
            "common",
            "jaccard",
        )
        .orderBy(
            F.col("jaccard").desc(),
            F.col("node_a").asc(),
            F.col("node_b").asc(),
        )
        .limit(top_k)
    )


def clustering_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Local clustering coefficient per node over an undirected simple
    graph: ``2·T(v) / (deg(v)·(deg(v)−1))`` — how close each node's
    neighborhood is to a clique (the community-structure diagnostic
    that pairs with ``triangle_counts``).

    Reuses the degree-ordered wedge join of :func:`triangle_counts`
    (O(sqrt(m)) wedge fan-out per node, hub-safe), plus one degree
    aggregation and a join on the node key. Degree-0/1 nodes have no
    possible wedge — their coefficient is NULL, not 0 (a 0 would
    conflate "no closed wedges" with "no wedges possible").

    Returns (node, deg, triangles, clustering_coeff).
    """
    tri = triangle_counts(edges, src, dst)
    deg = _degrees(_canonical_undirected(edges, src, dst))
    d = F.col("deg").cast("double")
    coeff = F.when(
        F.col("deg") >= 2,
        F.lit(2.0) * F.col("triangles").cast("double") / (d * (d - 1.0)),
    )
    return (
        tri.join(deg, "node")
        .select("node", "deg", "triangles", coeff.alias("clustering_coeff"))
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_peels: int = 8,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly drop
    nodes of degree < ``k`` (and their incident edges) until stable or
    ``max_peels`` rounds — the standard dense-subgraph / influence
    filter.

    Semantics are FIXED-ROUND: the result is "the graph after
    ``max_peels`` peels", which equals the true k-core whenever
    peeling converges earlier (extra rounds are then no-ops — the
    early-exit below is a pure optimization, never a semantic change).
    This makes the operator oracle-checkable by unrolling the same
    rounds in SQL (the ``pagerank`` discipline).

    Scale shape: each round is one degree aggregation + two semi-joins
    on the canonical edge set, with ``localCheckpoint`` truncating
    lineage per round (iterative-algorithm discipline shared with
    ``pagerank``/``connected_components``); the early-exit costs one
    count action per round and stops the common case after the graph
    stabilizes in 2-4 peels.

    Returns (node, deg) for nodes in the surviving core (deg >= k
    within the peeled edge set).
    """
    # The connected_components-style persist+count fusion was tried
    # here too (r14) and REVERTED on measurement: k_core re-reads the
    # edge frame several times per peel round (degree agg + two
    # semi-joins), and iterating against the InMemoryRelation measured
    # ~2× slower than against the materialized checkpoint RDD
    # (isolated A/B min-of-3: 1.38s checkpoint vs 2.65s persist) —
    # the barrier job it saves is cheaper than what the loop loses.
    e = _canonical_undirected(edges, src, dst).localCheckpoint(eager=True)
    n_edges = e.count()
    for _ in range(max_peels):
        if n_edges == 0:
            break
        keep = _degrees(e).where(F.col("deg") >= k).select("node")
        e = (
            e.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        n2 = e.count()
        if n2 == n_edges:
            break  # stable: further peels are no-ops
        n_edges = n2
    return _degrees(e).where(F.col("deg") >= k)
