"""The benchmark's workloads: their inputs, their ops and their output checks.

Each workload is a closed loop with one client: a pass issues the
workload's ops back to back, each op is one call into the engine's
public surface followed by the action that completes it.

* ``etl_bars`` — the paper's own job: ``process_xetra`` and
  ``process_eurex`` to partitioned parquet, then
  ``join_derivative_to_underlying`` on the read-back output.
* ``fixed_cost`` — 5-round PageRank (``graph_pagerank``) and a stateful
  stream run (``stream_stateful_running``, ``applyInPandasWithState``)
  from ``__spark_entry__.queries()``: time set by driver round trips,
  eager barriers, cached residue and micro-batch overhead rather than
  by data volume.
"""

from __future__ import annotations

import importlib.util
import os
import time
from dataclasses import dataclass, field

import gen_market
import gen_tables

FIXED_COST_OPS = ["graph_pagerank", "stream_stateful_running"]
ETL_OPS = ["xetra", "eurex", "b2_join"]


@dataclass
class Workload:
    name: str
    ops: list[str]
    scale: float = 0.001  # table scale factor, query workloads
    market: dict = field(default_factory=dict)  # generator sizes, etl_bars

    @property
    def is_etl(self) -> bool:
        return self.name == "etl_bars"


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "etl_bars",
            ETL_OPS,
            market=dict(days=3, hours=6, xetra_instruments=150, eurex_contracts=250),
        ),
        Workload("fixed_cost", FIXED_COST_OPS, scale=0.001),
    )
}


class Inputs:
    """Generated inputs of one run, plus the engine calls that use them."""

    def __init__(self, workload: Workload, work_dir: str, seed: int):
        self.w = workload
        self.data = os.path.join(work_dir, "data")
        self.out = os.path.join(work_dir, "out")
        if workload.is_etl:
            self.truth = gen_market.generate(self.data, seed, **workload.market)
        else:
            gen_tables.write_tables(self.data, seed, workload.scale)
        self._queries = None

    @property
    def xetra_glob(self) -> str:
        return f"{self.data}/*/*_BINS_XETR*.csv"

    @property
    def eurex_glob(self) -> str:
        return f"{self.data}/*/*_BINS_XEUR*.csv"

    @property
    def dim_csv(self) -> str:
        return f"{self.data}/product_spec.csv"

    def queries(self):
        if self._queries is None:
            import __spark_entry__

            self._queries = __spark_entry__.queries()
        return self._queries

    def run_op(self, spark, op: str) -> tuple[float, float, float]:
        """Run ``op`` to completion; return the clock at its start, at the
        end of its build and at the end of its action. Build is the engine
        call (with any eager work it does); action is the no-op write that
        executes the frame it returns."""
        t0 = time.perf_counter()
        df = self._build(spark, op)
        t1 = time.perf_counter()
        if df is not None:
            df.write.format("noop").mode("overwrite").save()
        return t0, t1, time.perf_counter()

    def _build(self, spark, op: str):
        """The engine call of ``op``: a frame still to execute, or None when
        the call wrote its own output (the two ETL pipelines)."""
        if not self.w.is_etl:
            return self.queries()[op](spark, self.data)
        from quanta_etl_spark.pipelines import eurex, xetra

        if op == "xetra":
            xetra.process_xetra(spark, self.xetra_glob, f"{self.out}/xetra")
        elif op == "eurex":
            eurex.process_eurex(spark, self.eurex_glob, self.dim_csv, f"{self.out}/eurex")
        elif op == "b2_join":
            return self.b2_join(spark)
        else:
            raise KeyError(op)
        return None

    def b2_join(self, spark):
        from quanta_etl_spark.pipelines.eurex import join_derivative_to_underlying

        return join_derivative_to_underlying(
            spark.read.parquet(f"{self.out}/eurex/eurex"),
            spark.read.parquet(f"{self.out}/xetra"),
        )

    def output_files(self) -> int:
        """Parquet files under the ETL output directory."""
        return sum(
            f.endswith(".parquet") for _, _, fs in os.walk(self.out) for f in fs
        )

    # -- output checks (outside every timed pass) ------------------------
    def check(self, spark, ops: list[str]) -> dict[str, str]:
        """Check every op's output; return {op: problem} for the wrong ones.
        Queries run once more and are compared with DuckDB; the ETL's
        parquet is read back as the last pass wrote it."""
        if self.w.is_etl:
            return self._check_etl(spark)
        return self._check_oracle(spark, ops)

    def _check_etl(self, spark) -> dict[str, str]:
        from pyspark.sql import functions as F

        t = self.truth
        bad: dict[str, str] = {}
        xe = spark.read.parquet(f"{self.out}/xetra")
        n = xe.count()
        if n != t["xetra_rows"]:
            bad["xetra"] = f"{n} rows, expected {t['xetra_rows']}"
        dates = sorted(str(r[0]) for r in xe.select("trading_date").distinct().collect())
        if dates != t["trading_dates"]:
            bad["xetra"] = f"partitions {dates}, expected {t['trading_dates']}"
        if xe.where(F.col("trading_ts").isNull()).count():
            bad["xetra"] = "null trading_ts"
        eu = spark.read.parquet(f"{self.out}/eurex/eurex")
        n = eu.count()
        if n != t["eurex_rows"]:
            bad["eurex"] = f"{n} rows, expected {t['eurex_rows']}"
        for sink in ("missing_isin", "missing_underlying"):
            got = sorted(
                ([r.market_segment, r.mleg] for r in spark.read.parquet(
                    f"{self.out}/eurex/{sink}"
                ).collect()),
                key=str,
            )
            want = sorted((list(p) for p in t[sink]), key=str)
            if got != want:
                bad["eurex"] = f"{sink}: {len(got)} pairs, expected {len(want)}"
        n = self.b2_join(spark).count()
        if n != t["b2_rows"]:
            bad["b2_join"] = f"{n} rows, expected {t['b2_rows']}"
        return bad

    def _check_oracle(self, spark, ops: list[str]) -> dict[str, str]:
        import duckdb
        import __spark_entry__

        co = _check_oracle_module()
        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{self.out}/duckdb'")
        for f in sorted(f for f in os.listdir(self.data) if f.endswith(".parquet")):
            con.sql(
                f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM "
                f"read_parquet('{self.data}/{f}')"
            )
        bad: dict[str, str] = {}
        try:
            for op in ops:
                try:
                    s_rows, s_cols = co.spark_result(self.queries()[op](spark, self.data))
                    d_rows, d_cols, _ = co.duckdb_result(con, oracles[op])
                except Exception as e:  # noqa: BLE001 — recorded as a failed op
                    bad[op] = f"error: {type(e).__name__}: {e}"[:300]
                    continue
                sh, sn = co.canonicalize(s_rows, s_cols)
                dh, dn = co.canonicalize(d_rows, d_cols)
                if sorted(s_cols) != sorted(d_cols):
                    bad[op] = f"columns {sorted(s_cols)} != {sorted(d_cols)}"
                elif sn == 0 and dn == 0:
                    bad[op] = "0 rows on both sides"
                elif (sh, sn) != (dh, dn):
                    bad[op] = f"hash mismatch: spark {sn} rows, duckdb {dn} rows"
        finally:
            con.close()
        return bad


def _check_oracle_module():
    """``tools/check_oracle.py``'s hashing, imported without running it."""
    path = os.path.join(os.getcwd(), "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod
