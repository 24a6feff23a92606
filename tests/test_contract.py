"""Driver-contract integrity: the invariants the correctness gate
assumes about __spark_entry__ itself."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import __spark_entry__ as E


def test_every_query_has_an_oracle():
    qs, osql = E.queries(), E.oracle_sql()
    missing = sorted(set(qs) - set(osql))
    orphans = sorted(set(osql) - set(qs))
    assert not missing, f"queries without oracle SQL: {missing}"
    assert not orphans, f"oracle SQL without a query: {orphans}"


def test_registry_is_callable_and_unique():
    qs = E.queries()
    assert len(qs) == len(set(qs)), "duplicate query names"
    for name, fn in qs.items():
        assert callable(fn), name


def test_oracle_sql_names_registered_tables_only():
    """Oracle SQL may only reference the driver's pre-registered views;
    a typo'd table name would fail at gate time, not review time."""
    import re

    tables = {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
        # DuckDB table functions (FROM generate_series(...) s(g)) are
        # not table refs; allowlist the ones oracles legitimately use
        "generate_series", "range",
    }
    for name, sql in E.oracle_sql().items():
        refs = set(
            m.group(2).lower()
            for m in re.finditer(
                r"\b(FROM|JOIN)\s+([A-Za-z_][A-Za-z0-9_]*)", sql, re.I
            )
        )
        unknown = refs - tables
        # CTE names are legitimate non-table refs; only flag refs that
        # are neither known tables nor defined as CTEs in the same SQL
        # CTE form: name [(col, ...)] AS (
        ctes = set(
            m.group(1).lower()
            for m in re.finditer(
                r"\b([A-Za-z_][A-Za-z0-9_]*)\s*(?:\([^)]*\))?\s+AS\s*"
                r"(?:MATERIALIZED\s*)?\(",
                sql,
                re.I,
            )
        )
        unknown -= ctes
        # parenthesized subqueries: FROM ( — captured group would be
        # empty/non-identifier, regex already excludes
        assert not unknown, f"{name}: unknown table refs {sorted(unknown)}"


def _duck_con(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def test_duck_gate_unsafe_detector_flags_uncast_sum_case(sf_dir):
    """The r6 gate failures (profile_columns/referential_check) were
    caused by bare integer sum(CASE...) columns: DuckDB types them
    HUGEINT, and the driver's pandas fetch renders HUGEINT as float64
    ("3.000000" vs Spark long "3") — values equal, hash red.  The
    replica must flag that oracle shape red even though fetchall()
    values would match."""
    from tools.check_oracle import duck_gate_unsafe_columns

    con = _duck_con(sf_dir)
    rel = con.sql(
        "SELECT sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS n "
        "FROM orders"
    )
    assert duck_gate_unsafe_columns(rel) == ["n:HUGEINT"]
    ok = con.sql(
        "SELECT CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n FROM orders"
    )
    assert duck_gate_unsafe_columns(ok) == []
    # DECIMAL final columns are equally pandas-hazardous
    dec = con.sql(
        "SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s FROM orders"
    )
    assert duck_gate_unsafe_columns(dec) == ["s:DECIMAL(38,2)"]


def test_all_oracles_emit_gate_safe_duckdb_types(sf_dir):
    """Every oracle's FINAL columns must be pandas-safe DuckDB types:
    no HUGEINT/UHUGEINT/DECIMAL may reach the driver's canonicalizer."""
    from tools.check_oracle import duck_gate_unsafe_columns

    con = _duck_con(sf_dir)
    bad = {}
    for name, sql in E.oracle_sql().items():
        unsafe = duck_gate_unsafe_columns(con.sql(sql))
        if unsafe:
            bad[name] = unsafe
    assert not bad, f"gate-unsafe DuckDB oracle output types: {bad}"


def test_r13_gate_window_composition():
    """The driver gates the FIRST 50 queries() entries; the r13 window
    is: the FULL 49-query cohort last driver-gated in r9 (the stalest
    driver rows, alphabetical — VERDICT r12 #2), then graph_pagerank
    in the changed-code 50th slot (its checkpoint path changes this
    round: adaptive storage level + real RDD unpersist — VERDICT r12
    #4 + ADVICE medium). Past the cap, cohorts queue in staleness
    order (r10-stale minus the promoted graph_pagerank, r11, r12),
    each alphabetical. Counted from the CORRECTNESS history, not
    assumed (r5/r6 lesson)."""
    import json
    import os

    names = list(E.queries().keys())
    rounds: dict[str, list[int]] = {}
    for r in range(1, 13):
        p = f"/root/repo/CORRECTNESS_r{r:02d}.json"
        if os.path.exists(p):
            for k in json.load(open(p)):
                rounds.setdefault(k, []).append(r)
    # every registered query has held a driver row by now
    assert not [n for n in names if n not in rounds]
    cohort = {
        r: sorted(n for n in names if max(rounds[n]) == r)
        for r in (9, 10, 11, 12)
    }
    assert len(cohort[9]) == 49 and len(cohort[10]) == 49
    assert len(cohort[11]) == 50 and len(cohort[12]) == 50
    # positions 1-49: the full r9-stale cohort, alphabetical
    assert names[:49] == cohort[9]
    # position 50: graph_pagerank, promoted from the r10 cohort
    assert names[49] == "graph_pagerank"
    assert "graph_pagerank" in cohort[10]
    # past the cap: r10-stale minus the promoted slot, then r11, then
    # r12, each alphabetical
    r10_rest = [n for n in cohort[10] if n != "graph_pagerank"]
    assert names[50 : 50 + 48] == r10_rest
    assert names[98 : 98 + 50] == cohort[11]
    assert names[148:] == cohort[12]


def test_bench_summary_line_always_fits_capture_window():
    """BENCH_r08.json shipped parsed:null because the stdout line
    (45 inline sanity_violations dicts) outgrew the driver's tail
    capture (VERDICT r8 wrong #1). The summary line must stay under
    budget and parse for ANY input — including a worst-case record
    with every query in sanity_violations — and must carry counts,
    not the unbounded dicts themselves."""
    import json

    import bench

    queries = {f"very_long_query_name_{i:03d}": 1.2345 for i in range(198)}
    full = {
        "metric": "total_query_seconds",
        "value": 244.43,
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "n_queries": 198,
        "n_failed": 2,
        "queries_file": "BENCH_LOCAL.json",
        "errors": {f"err_query_{i}": "X" * 500 for i in range(25)},
        "sanity_violations": {
            n: {"sf0.1": 9.99, "sf1": 1.11} for n in queries
        },
        "overhead_dominated": sorted(queries)[:60],
        "gate_sf1": {n: 3.21 for n in sorted(queries)[:60]},
        "gate_sf1_source": "BENCH_LOCAL_sf1.json",
    }
    line = bench.make_summary_line(full)
    assert len(line) <= bench.LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["value"] == 244.43
    assert parsed["n_queries"] == 198
    assert parsed["n_failed"] == 2
    assert parsed["n_sanity_violations"] == 198
    assert parsed["n_overhead_dominated"] == 60
    assert parsed["n_gate_sf1"] == 60  # sf1-sourced gate provenance
    assert parsed["queries_file"] == "BENCH_LOCAL.json"
    # unbounded payloads never appear inline
    assert "sanity_violations" not in parsed
    assert "overhead_dominated" not in parsed
    assert "gate_sf1" not in parsed
    assert len(parsed["errors"]) <= 20
    # the inlined queries subset + truncation count stay consistent
    assert parsed["queries_truncated"] + len(parsed["queries"]) == 198

    # r9 self-review: the shrink ladder's -4 stride never reached
    # keep=0 when len(queries) % 4 != 0 (198 % 4 == 2 leaves >= 2
    # entries inlined forever), and the 20-name errors block was never
    # shed — long names re-created the parsed:null overflow the
    # function exists to prevent. Force both paths with a budget only
    # the bare headline scalars can satisfy.
    tiny_full = dict(full)
    tiny_full["queries"] = {
        f"q_{'x' * 120}_{i:03d}": 1.0 for i in range(7)  # 7 % 4 == 3
    }
    tiny_full["errors"] = {f"e_{'y' * 200}_{i}": "m" for i in range(20)}
    headline_only = bench.make_summary_line(tiny_full, budget=600)
    assert len(headline_only) <= 600
    parsed_tiny = json.loads(headline_only)
    assert parsed_tiny["queries"] == {}  # keep reached 0
    assert parsed_tiny["queries_truncated"] == 7
    assert "errors" not in parsed_tiny  # shed; n_failed keeps count
    assert parsed_tiny["n_failed"] == 2


def test_bench_write_path_provenance_rule():
    """VERDICT r11 #5: a default bench run (the driver's) must never
    write over the committed clean-host BENCH_LOCAL*.json records —
    only --record does. The committed name is still returned as the
    read-prior source in both modes."""
    import bench

    # sf0.1: the headline record
    assert bench.bench_paths("0.1", 0.1, record=True) == (
        "BENCH_LOCAL.json",
        "BENCH_LOCAL.json",
    )
    assert bench.bench_paths("0.1", 0.1, record=False) == (
        "BENCH_LOCAL.json",
        "BENCH_DRIVER.json",
    )
    # sf1: integral tag, no trailing .0
    assert bench.bench_paths("1", 1.0, record=False) == (
        "BENCH_LOCAL_sf1.json",
        "BENCH_DRIVER_sf1.json",
    )
    assert bench.bench_paths("1", 1.0, record=True) == (
        "BENCH_LOCAL_sf1.json",
        "BENCH_LOCAL_sf1.json",
    )
    # unknown sf dir: tagged, never crashes
    assert bench.bench_paths("unknown", None, record=False) == (
        "BENCH_LOCAL_sfunknown.json",
        "BENCH_DRIVER_sfunknown.json",
    )


def test_bench_overhead_dominated_flag():
    """A query whose sf0.001 time is >= 0.8× its sf0.1 time is fixed-
    overhead-bound (VERDICT r8 #5): ~100× less data should be far
    faster; when it isn't, the timing measures session setup, and the
    per-query perf gate must be able to exclude the row honestly."""
    import bench

    # streaming micro-batch style: 5.7s at sf0.001 vs 6.4s at sf0.1
    assert bench.is_overhead_dominated(5.7, 6.4)
    # data-bound query: 0.05s at sf0.001 vs 2.8s at sf0.1
    assert not bench.is_overhead_dominated(0.05, 2.8)
    # boundary: exactly 0.8× counts as overhead-dominated
    assert bench.is_overhead_dominated(0.8, 1.0)
    # no sf0.001 record → never flagged (no evidence, no claim)
    assert not bench.is_overhead_dominated(None, 2.0)
    assert not bench.is_overhead_dominated(1.0, 0.0)


def test_oracle_timeout_interrupts_and_connection_survives():
    """r10: above-gate-scale sweeps need per-oracle wall bounds — the
    brute-force all-pairs oracles (dedup_minhash family) are Ω(n²) by
    design and infeasible at a 50k-doc sf1 replica. The contract:
    duckdb_result(timeout=...) raises InterruptException on an
    over-budget oracle, the SAME connection keeps serving subsequent
    oracles (a sweep is one connection), and an in-budget query is
    untouched by the timer."""
    import duckdb
    import pytest as _pytest

    from tools.check_oracle import duckdb_result

    con = duckdb.connect()
    with _pytest.raises(duckdb.InterruptException):
        duckdb_result(
            con,
            "SELECT count(*) FROM range(1000000000000) a, range(100) b",
            timeout=0.2,
        )
    # the connection survives the interrupt and the timer is cancelled
    rows, cols, unsafe = duckdb_result(con, "SELECT 1 AS x", timeout=30)
    assert rows == [{"x": 1}] and cols == ["x"] and unsafe == []
    # no timeout → no timer at all (the default sweep path)
    rows, _, _ = duckdb_result(con, "SELECT 2 AS y")
    assert rows == [{"y": 2}]


def test_completed_at_deadline_oracle_never_poisons_next_verdict():
    """r11 ADVICE / VERDICT r11 #4: if the timer fires in the window
    between fetchall() returning and timer.cancel(), the interrupt
    would land on an idle connection and could spuriously abort the
    NEXT oracle — misrecording a healthy query as oracle_timeout. The
    done-event gate + timer join + post-fire drain close that race.
    Exercise it by racing a fast query against an expiring timer many
    times: each attempt must either return the right answer or raise
    InterruptException, and the FOLLOWING untimed query must always
    succeed with the right rows (never inherit a stale interrupt)."""
    import duckdb

    from tools.check_oracle import duckdb_result

    con = duckdb.connect()
    for i in range(40):
        # timeout ≈ query cost → the timer fires arbitrarily close to
        # completion, landing on both sides of the done.set() boundary
        # across iterations
        try:
            rows, _, _ = duckdb_result(
                con,
                f"SELECT count(*) AS c FROM range({(i + 1) * 5000})",
                timeout=0.001 * (i % 5 + 1),
            )
            assert rows == [{"c": (i + 1) * 5000}]
        except duckdb.InterruptException:
            pass  # in-flight timeout: the documented path
        # the next verdict on the same connection must be clean
        rows, _, _ = duckdb_result(con, f"SELECT {i} AS i")
        assert rows == [{"i": i}]


def test_unrolled_cc_labels_converge_and_fail_loudly():
    """r10: the dedup cluster oracles replaced the UNION-based
    recursive min-label CTE (O(m²) label states on a clique — sf1 has
    1,560-doc cliques) with 8 unrolled AS MATERIALIZED min-propagation
    rounds. Pin both halves of that contract on synthetic path graphs:
    (a) a node exactly 8 hops from its component minimum converges
    (every sf1 component measures diameter ≤ 2, a 4× margin), and
    (b) nodes BEYOND 8 hops keep a non-minimal label — an unconverged
    oracle diverges from Spark's fixpoint and FAILS the hash gate
    loudly; it can never silently agree."""
    import duckdb

    from __spark_entry__ import _cc_label_ctes

    con = duckdb.connect()

    def cc(n_edges, where="1=1"):
        vals = ",".join(f"({i},{i + 1},1.0)" for i in range(n_edges))
        return con.sql(
            f"WITH pairs AS (SELECT * FROM (VALUES {vals})"
            f" t(id_a, id_b, jaccard)){_cc_label_ctes()}"
            f" SELECT node, lbl FROM cc_final WHERE {where} ORDER BY node"
        ).fetchall()

    # path 0-1-…-8: the far end is exactly 8 hops out → fully labeled 0
    assert cc(8) == [(i, 0) for i in range(9)]
    # path 0-1-…-11: nodes 9/10/11 are 9-11 hops out → non-minimal
    # labels (their 8-hop minimum), i.e. a loud gate mismatch
    assert cc(11, where="node >= 9") == [(9, 1), (10, 2), (11, 3)]


def test_oracle_decimal_double_casts_roundtrip_through_varchar():
    """r12 (found by the sf10 sweep): DuckDB's DECIMAL→DOUBLE cast is
    not correctly rounded — the exact decimal 753509526545.000000
    casts one ulp low (…544.9999) while Spark's BigDecimal.doubleValue
    is exact. Below ~8.6e9 the gate's 6-decimal rounding masks the
    ulp; at sf10 money-sum magnitudes it broke allocate_budget and
    cube_status_priority. oracle_sql() therefore rewrites EVERY
    cast-to-double to a VARCHAR roundtrip (correctly-rounded parse).
    Broadened in ca9bb8d: the original pass rewrote only operands
    whose text mentioned DECIMAL, which missed columns that are
    decimal via a CTE (gini_revenue diverged at sf100's ~9e11
    totals). The unconditional wrap is the identity on int/double
    operands (see the property test below), so it removes
    magnitude-dependent luck without changing any green hash."""
    import duckdb

    import __spark_entry__ as E

    f = E._roundtrip_decimal_double_casts
    # the rewrite, on the shapes the oracles actually use
    assert f("CAST(sum(CAST(x AS DECIMAL(30,6))) AS DOUBLE)") == (
        "CAST(CAST(sum(CAST(x AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE)"
    )
    assert f("CAST(sum(CAST(r AS DECIMAL(30,6))) OVER () AS DOUBLE)") == (
        "CAST(CAST(sum(CAST(r AS DECIMAL(30,6))) OVER () AS VARCHAR) AS DOUBLE)"
    )
    # ca9bb8d: EVERY cast-to-double is wrapped, even operands with no
    # textual DECIMAL (decimal-via-CTE columns look exactly like this)
    assert f("CAST(n AS DOUBLE)") == "CAST(CAST(n AS VARCHAR) AS DOUBLE)"
    assert f("CAST(sum(x) AS DOUBLE)") == (
        "CAST(CAST(sum(x) AS VARCHAR) AS DOUBLE)"
    )
    # DOUBLE[] (array) casts untouched — not a scalar double cast
    s = "list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv)"
    assert f(s) == s
    # idempotent (the fixpoint loop terminates on AS VARCHAR operands)
    once = f("CAST(sum(CAST(x AS DECIMAL(30,6))) AS DOUBLE) AS v")
    assert f(once) == once
    # the transform is live in oracle_sql()
    assert "AS VARCHAR) AS DOUBLE)" in E.oracle_sql()["allocate_budget"]
    # DuckDB ground truth: the lossy cast misses an exactly-
    # representable integer decimal; the varchar roundtrip hits it
    con = duckdb.connect()
    lossy, fixed = con.sql(
        "SELECT CAST(CAST('753509526545.000000' AS DECIMAL(30,6)) AS DOUBLE),"
        " CAST(CAST(CAST('753509526545.000000' AS DECIMAL(30,6)) AS VARCHAR)"
        " AS DOUBLE)"
    ).fetchall()[0]
    assert fixed == 753509526545.0
    if lossy == fixed:
        # if a future duckdb fixes the cast, the rewrite is a no-op
        # and this pin documents history rather than behavior
        pass


def test_event_timestamps_stay_below_temporal_join_sentinel():
    """temporal_join's oracle rewrites ``valid_to IS NULL OR ts <
    valid_to`` to ``ts < coalesce(valid_to, TIMESTAMP '9999-12-31
    23:59:59.999999')`` so DuckDB keeps its IEJoin plan (r12; the
    OR-form fell back to a quadratic nested loop at sf100). The
    rewrite is only equivalent while every event timestamp is below
    the sentinel — a far-future click joined to a current (NULL
    valid_to) status would be dropped by the oracle but kept by the
    engine (ADVICE r12). Pin the data contract the rewrite assumes,
    on every scale dir the harness uses."""
    import glob
    import os

    import duckdb

    con = duckdb.connect()
    checked = 0
    for d in sorted(glob.glob("/root/testdata/sf*")):
        p = os.path.join(d, "events.parquet")
        if not os.path.exists(p):
            continue
        n, ok = con.sql(
            f"SELECT count(*), "
            f"count(*) FILTER (ts < TIMESTAMP "
            f"'9999-12-31 23:59:59.999999') FROM read_parquet('{p}')"
        ).fetchone()
        assert n > 0 and ok == n, d
        checked += 1
    assert checked >= 1  # the assertion actually ran


def test_varchar_roundtrip_is_identity_on_int_and_double_operands():
    """The safety half of the ca9bb8d broadening: wrapping a cast-to-
    double whose operand is ALREADY int/double must be value-
    preserving, else the unconditional rewrite would corrupt oracles
    that never needed it. DuckDB's double→varchar is shortest-
    roundtrip and its varchar→double parse is correctly rounded, so
    CAST(CAST(x AS VARCHAR) AS DOUBLE) == x bit-for-bit. Pinned over
    deterministic bit-pattern-random doubles (the builder's 3k-sample
    evidence, encoded), the int64 extremes, and denormals/specials."""
    import random
    import struct

    import duckdb

    con = duckdb.connect()
    rng = random.Random(0xD0B7)
    doubles = []
    while len(doubles) < 3000:
        bits = rng.getrandbits(64)
        (x,) = struct.unpack("<d", struct.pack("<Q", bits))
        if x == x and abs(x) != float("inf"):  # finite, not NaN
            doubles.append(x)
    doubles += [0.0, -0.0, 5e-324, -5e-324, 1.7976931348623157e308]
    vals = ",".join(f"({i},{repr(x)})" for i, x in enumerate(doubles))
    bad = con.sql(
        f"SELECT count(*) FROM (VALUES {vals}) t(i, x) WHERE"
        " CAST(CAST(CAST(x AS DOUBLE) AS VARCHAR) AS DOUBLE)"
        " IS DISTINCT FROM CAST(x AS DOUBLE)"
    ).fetchone()[0]
    assert bad == 0
    # int64 operands: every magnitude class incl. the extremes
    ints = [0, 1, -1, 2**53, -(2**53), 2**63 - 1, -(2**63)]
    ivals = ",".join(f"({i},{v})" for i, v in enumerate(ints))
    ibad = con.sql(
        f"SELECT count(*) FROM (VALUES {ivals}) t(i, x) WHERE"
        " CAST(CAST(x AS VARCHAR) AS DOUBLE)"
        " IS DISTINCT FROM CAST(x AS DOUBLE)"
    ).fetchone()[0]
    assert ibad == 0


# Run from a working directory outside the repo, with the repo on the
# driver's sys.path only: Python workers then cannot import the package
# (checked first), so every kernel must carry what it calls.
_PORTABLE_RUN = """
import importlib.util, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "1g").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
probe = spark.sparkContext.parallelize([0], 1).map(
    lambda _: importlib.util.find_spec("quanta_etl_spark") is None)
assert probe.collect() == [True], "workers can import the package"
import __spark_entry__ as E
for name in sys.argv[3:]:
    print(name, len(E.queries()[name](spark, sys.argv[2]).collect()), flush=True)
spark.stop()
"""


def test_kernels_run_on_workers_without_the_package(sf_dir, tmp_path):
    """``corpus_decontaminate``, ``graph_pagerank``, ``dedup_clusters``
    and ``stream_stateful_running`` run their Python kernels on workers
    that cannot import ``quanta_etl_spark``: a kernel that imports from
    it inside its own body fails there with ``ModuleNotFoundError``."""
    names = [
        "corpus_decontaminate", "graph_pagerank", "dedup_clusters",
        "stream_stateful_running",
    ]
    repo = str(Path(__file__).resolve().parents[1])
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", _PORTABLE_RUN, repo, sf_dir, *names],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    rows = dict(line.split() for line in run.stdout.splitlines())
    assert list(rows) == names and all(int(n) > 0 for n in rows.values())


# One core, so every task lands on the same reused Python worker: an
# engine kernel runs first, then a probe task reports what the kernel
# left in that worker's importer cache.
_IMPORTER_PROBE = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "1g").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as E
assert E.queries()["graph_pagerank"](spark, sys.argv[2]).collect()

def probe(batches):
    import importlib, sys, zipimport
    import pyarrow as pa
    list(batches)
    zips = sum(isinstance(f, zipimport.zipimporter)
               for f in sys.path_importer_cache.values())
    name = "pyspark.sql.avro.functions"
    loaded = name in sys.modules
    mod = importlib.import_module(name)
    yield pa.RecordBatch.from_pylist(
        [{"zips": zips, "loaded": loaded, "file": mod.__file__}])

row = spark.range(1, numPartitions=1).mapInArrow(
    probe, "zips long, loaded boolean, file string").collect()[0]
print(row.zips, row.loaded, row.file)
spark.stop()
"""


def test_kernels_leave_no_zip_importers_for_the_next_task(sf_dir, tmp_path):
    """A PySpark worker calls ``importlib.invalidate_caches()`` at the
    start of every task, which on CPython 3.10–3.12 re-reads the
    central directory of every cached zipimporter (pyspark.zip, py4j,
    the spark-core jar: ≥ 12 entries in a reused worker). After an
    engine kernel (``python_kernel``) the worker holds none, and a
    pyspark submodule that worker never loaded still imports from the
    zip."""
    repo = str(Path(__file__).resolve().parents[1])
    run = subprocess.run(
        [sys.executable, "-c", _IMPORTER_PROBE, repo, sf_dir],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    zips, loaded, file = run.stdout.split()
    assert int(zips) == 0
    assert loaded == "False" and ".zip" in file


def test_python_kernel_keeps_the_call_shape_and_prunes_after(tmp_path):
    """The wrapper keeps what Spark reads off a kernel — the argument
    count ``applyInPandas`` takes from ``getfullargspec`` (1 or 2 args
    decides whether the key is passed) and the type hints
    ``pandas_udf`` resolves — and drops the zipimporter entries only
    once the kernel is done: a generator kernel when it is exhausted."""
    import inspect
    import typing
    import zipfile
    import zipimport

    from quanta_etl_spark.operators.util import python_kernel

    def keyed(key, pdf):
        return pdf

    def scalar(s: int) -> int:
        return s

    assert inspect.getfullargspec(python_kernel(keyed)).args == ["key", "pdf"]
    assert typing.get_type_hints(python_kernel(scalar)) == {
        "s": int, "return": int,
    }

    archive = str(tmp_path / "k.zip")
    zipfile.ZipFile(archive, "w").close()

    def gen(n):
        yield from range(n)

    wrapped = python_kernel(gen)
    assert inspect.isgeneratorfunction(wrapped)
    sys.path_importer_cache[archive] = zipimport.zipimporter(archive)
    try:
        it = wrapped(3)
        assert next(it) == 0 and archive in sys.path_importer_cache
        assert list(it) == [1, 2] and archive not in sys.path_importer_cache
        sys.path_importer_cache[archive] = zipimport.zipimporter(archive)
        assert python_kernel(scalar)(1) == 1
        assert archive not in sys.path_importer_cache
    finally:
        sys.path_importer_cache.pop(archive, None)
