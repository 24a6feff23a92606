"""quanta-spark benchmark: one closed-loop workload per invocation.

Run from the repository root:

    python3 perfbench/run.py --workload etl_bars --seed 1 --seconds 15 --trace 0

The run generates its inputs from ``--seed`` (outside every timed span)
and starts a ``local[<cores>]`` session twice, each time in a fresh
JVM. In the second JVM it runs one cold pass (``setup_s`` is the median
session start plus that pass), checks every op's output (the ETL's
parquet against the generator's ground truth, each query against
DuckDB running ``oracle_sql()``), runs two warm passes, then issues
timed passes over the workload's ops back to back for ``--seconds``
(at least four). The last stdout line is one JSON object:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` alternates untraced and traced passes (job group per op,
Spark REST counters, a streaming listener, spans) and reports the
per-layer metrics, including the tracing overhead. A record with
host context (cores, session conf, steal time per pass) and, when
traced, the spans are written under ``perfbench/.work/``. The exit code
is 1 when an output check fails and 2 when the engine is not found.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BENCH_FILE = os.path.join(ROOT, "BENCHMARK.json")

SETUPS = 2  # session starts per run, each in a fresh JVM
MIN_PASSES = 4  # timed passes per window, whatever --seconds says
WARM_PASSES = 2  # untimed passes between the check and the window
RUN_BUDGET_S = 150.0  # stop issuing passes past this much wall time


def _steal_s() -> float:
    """Guest steal time of the whole host so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _jvm_peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class Bench:
    def __init__(self, args, workload, inputs, cores: int):
        self.args = args
        self.w = workload
        self.inp = inputs
        self.cores = cores
        self.spark = None
        self.jvm_pid = None
        self.t_start = time.perf_counter()
        self.attempted = 0
        self.failures: dict[str, str] = {}
        self.tracer = None  # set during the traced passes of a traced run
        self.failed = 0
        self.counters = self.streams = None
        self.jvm_peak_rss_mb = 0.0
        self.cold_pass = None  # the first pass of the JVM the window runs in

    # -- session ----------------------------------------------------------
    def start_session(self) -> float:
        from quanta_etl_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.args.trace:
            # keep every job, stage and SQL execution of the run in the REST API
            conf.update(
                {
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                    "spark.sql.ui.retainedExecutions": "100000",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.w.name}",
            master=f"local[{self.cores}]",
            extra_conf=conf,
        )
        took = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        return took

    def stop(self) -> None:
        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM behind it, and wait for both."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.stop()
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=60)

    # -- passes -----------------------------------------------------------
    def _release_residue(self) -> int:
        """Drop whatever the last op left cached; return how many RDDs.
        The SQL cache goes first: unpersisting its RDDs alone would leave
        its entries behind, and a later ``persist`` of an equal plan would
        then reuse an entry whose data is gone."""
        n = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        self.spark.catalog.clearCache()
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
        return n

    def one_pass(self, index: int | None = None) -> dict:
        tr = self.tracer
        sc = self.spark.sparkContext
        steal0 = _steal_s()
        pass_span = tr.start(f"pass {index}") if tr else None
        rec = {"ops": {}, "wall_s": 0.0}
        for op in self.w.ops:
            self._release_residue()
            if tr:
                group = f"{tr.run_id}/{index}/{op}"
                sc.setJobGroup(group, op)
                streams_before = set(self.streams.run_ids)
                op_span = tr.start(f"pipelines.{op}" if self.w.is_etl else f"op.{op}")
            self.attempted += 1
            try:
                t0, t1, t2 = self.inp.run_op(self.spark, op)
            except Exception as e:  # noqa: BLE001 — a failed op is counted, the loop goes on
                self.failures[op] = f"{type(e).__name__}: {e}"[:300]
                self.failed += 1
                t0 = t1 = t2 = time.perf_counter()
            o = rec["ops"][op] = {"wall_s": t2 - t0}
            rec["wall_s"] += t2 - t0
            if tr:
                tr.end(op_span)
                tr.add("build", t0, t1, op_span)
                tr.add("action", t1, t2, op_span)
                sc.setLocalProperty("spark.jobGroup.id", None)
                # micro-batch jobs run on the stream's thread, in a job
                # group named by the stream's run id
                o.update(
                    build_s=t1 - t0,
                    action_s=t2 - t1,
                    residue_rdds=self._release_residue(),
                    groups=[group, *sorted(self.streams.run_ids - streams_before)],
                )
        rec["steal_s"] = _steal_s() - steal0
        if tr:
            tr.end(pass_span)
        return rec

    def elapsed(self) -> float:
        return time.perf_counter() - self.t_start

    def window(self, seconds: float) -> list[dict]:
        passes: list[dict] = []
        t0 = time.perf_counter()
        while len(passes) < MIN_PASSES or (
            time.perf_counter() - t0 < seconds and self.elapsed() < RUN_BUDGET_S
        ):
            passes.append(self.one_pass())
        return passes


def end_to_end(setups: list[float], cold_pass: dict, passes: list[dict]) -> dict:
    return {
        "setup_s": statistics.median(setups) + cold_pass["wall_s"],
        "pass_s": statistics.median(p["wall_s"] for p in passes),
    }


def per_layer(bench: Bench, setups, untraced, traced) -> dict:
    """Median over traced passes of each per-layer metric."""
    from workloads import FIXED_COST_OPS

    rows = []
    for p in traced:
        groups = {g for o in p["ops"].values() for g in o["groups"]}
        c = bench.counters.totals(groups)
        s = bench.streams.summary(groups)
        ops = p["ops"]
        row = {
            "operators.build_s": sum(o["build_s"] for o in ops.values()),
            "operators.action_s": sum(o["action_s"] for o in ops.values()),
            "operators.residue_rdds": sum(o["residue_rdds"] for o in ops.values()),
            **{k: c[k] for k in c if k != "spark.task_run_s"},
            "spark.core_busy_frac": c["spark.task_run_s"] / (bench.cores * p["wall_s"]),
            "pipelines.xetra_s": ops.get("xetra", {}).get("wall_s", 0.0),
            "pipelines.eurex_s": ops.get("eurex", {}).get("wall_s", 0.0),
            "pipelines.b2_join_s": ops.get("b2_join", {}).get("wall_s", 0.0),
            "sources.output_files": p.get("output_files", 0),
            "host.steal_s": p["steal_s"],
        }
        for k in (
            "streaming.batches",
            "streaming.input_rows",
            "streaming.trigger_s",
            "streaming.state_rows",
            "streaming.state_mem_bytes",
        ):
            row[k] = s.get(k, 0)
        for op in FIXED_COST_OPS:
            o = ops.get(op)
            row[f"op.{op}.wall_s"] = o["wall_s"] if o else 0.0
            row[f"op.{op}.jobs"] = (
                bench.counters.totals(set(o["groups"]))["spark.jobs"] if o else 0
            )
        rows.append(row)
    bench.layer_rows = rows
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    out["session.start_s"] = statistics.median(setups)
    out["session.cold_pass_s"] = bench.cold_pass["wall_s"]
    out["session.jvm_peak_rss_mb"] = bench.jvm_peak_rss_mb
    out["trace.overhead_s"] = statistics.median(p["wall_s"] for p in traced) - statistics.median(
        p["wall_s"] for p in untraced
    )
    return out


def declared_metrics() -> tuple[dict, dict]:
    """(end_to_end, per_layer) name -> unit, from BENCHMARK.json."""
    with open(BENCH_FILE) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, "quanta_etl_spark"))
        and os.path.isfile(BENCH_FILE)
    ):
        print(
            "perfbench: run from the repository root (needs __spark_entry__.py, "
            "quanta_etl_spark/ and BENCHMARK.json)",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS, Inputs

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    e2e_units, layer_units = declared_metrics()
    workload = WORKLOADS[args.workload]

    # Everything the run writes stays under perfbench/.work.
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # hsperfdata would go to /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # get_spark's local default heap is 16g; 4g keeps a run within the
    # memory of a small host (the JVM peaks below 2.5 GB resident)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)

    inputs = Inputs(workload, work, args.seed)
    bench = Bench(args, workload, inputs, cores)
    setups: list[float] = []
    try:
        # A set-up is a session start in a fresh JVM: the ops read their
        # inputs by path, so there is nothing else to register.
        for i in range(SETUPS):
            if i:
                bench.shutdown()
            setups.append(bench.start_session())
        bench.cold_pass = bench.one_pass()
        # Outside every timed pass: each op once more, output checked.
        t0 = time.perf_counter()
        bench.attempted += len(workload.ops)
        wrong = inputs.check(bench.spark, workload.ops)
        check_s = time.perf_counter() - t0
        bench.failed += len(wrong)
        warm = [bench.one_pass()["wall_s"] for _ in range(WARM_PASSES)]
        if not args.trace:
            passes = bench.window(args.seconds)
            untraced = traced = None
        else:
            untraced, traced = traced_window(bench, args.seconds)
        failures = {**bench.failures, **wrong}
        bench.jvm_peak_rss_mb = _jvm_peak_rss_mb(bench.jvm_pid)
        session_conf = dict(bench.spark.sparkContext.getConf().getAll())
        if args.trace:
            bench.counters.collect()
            layer = per_layer(bench, setups, untraced, traced)
    finally:
        bench.shutdown()

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "session_conf": session_conf,
        "setups": setups,
        "cold_pass": bench.cold_pass,
        "check_s": check_s,
        "warm_pass_s": warm,
        "failures": failures,
    }
    if args.trace:
        metrics = {k: {"value": layer[k], "unit": u} for k, u in layer_units.items()}
        record.update(
            untraced=untraced,
            traced=traced,
            traced_layers=bench.layer_rows,
            # where the task time of the last traced pass went, stage by stage
            stages={
                op: bench.counters.stage_breakdown(set(o["groups"]))
                for op, o in traced[-1]["ops"].items()
            },
        )
        bench.tracer.write(os.path.join(work, "spans.json"))
    else:
        values = end_to_end(setups, bench.cold_pass, passes)
        metrics = {k: {"value": values[k], "unit": u} for k, u in e2e_units.items()}
        record.update(passes=passes)
    with open(os.path.join(work, "record.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for d in ("data", "out", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    for op, why in failures.items():
        print(f"perfbench: FAILED {op}: {why}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if not failures else 1


def traced_window(bench: Bench, seconds: float) -> tuple[list[dict], list[dict]]:
    """Untraced and traced passes, alternating, so that their difference
    is the tracing overhead. Traced passes get a job group per op, spans,
    REST counters and, for stream runs, a streaming query listener."""
    from tracing import SparkCounters, StreamCounters, Tracer

    tracer = Tracer(bench.w.name, bench.args.seed)
    bench.counters = SparkCounters(bench.spark)
    bench.streams = StreamCounters()
    bench.spark.streams.addListener(bench.streams)
    run_span = tracer.start(f"window {bench.w.name}")
    untraced, traced = [], []
    t0 = time.perf_counter()
    while len(traced) < MIN_PASSES or (
        time.perf_counter() - t0 < seconds and bench.elapsed() < RUN_BUDGET_S
    ):
        bench.tracer = None
        untraced.append(bench.one_pass())
        bench.tracer = tracer
        rec = bench.one_pass(len(traced))
        if bench.w.is_etl:
            rec["output_files"] = bench.inp.output_files()
        traced.append(rec)
    tracer.end(run_span)
    if bench.streams.run_ids:
        time.sleep(2)  # progress events arrive on the listener bus asynchronously
    bench.spark.streams.removeListener(bench.streams)
    return untraced, traced


if __name__ == "__main__":
    sys.exit(main())
