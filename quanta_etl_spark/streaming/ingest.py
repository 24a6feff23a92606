"""Structured Streaming adapters for the minute-bar data model.

The reference is batch-only (schedule ``@once``, /root/reference/
dags/dag.py:31), but its minute-bar model is naturally streamable
(SURVEY.md §2C). These adapters make every batch operator in this
engine available on an unbounded stream:

* file-source ingest with the same explicit schemas as batch,
* event-time watermarking + in-watermark dedup for late/duplicate bars,
* tumbling/sliding OHLCV window aggregation (same semantics as the
  batch ``ohlcv_resample``),
* a custom stateful operator (running last-price) via
  ``applyInPandasWithState`` — the escape hatch for semantics the
  built-in operators can't express.

Scale notes: state size is bounded by (keys × watermark horizon);
watermarks let Spark drop state for closed windows. Use
``trigger(availableNow=True)`` for backfill-style runs.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from quanta_etl_spark.operators.util import python_kernel, scoped_conf


def read_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream with an explicit schema (inference is illegal
    on streams anyway). ``max_files_per_trigger`` bounds micro-batch
    size — the knob that keeps 100-TB backfills incremental."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.format(fmt).load(path)


def normalize_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Dtype-guarded event-time normalizer.

    Upstream parquet has shipped the events ``ts`` column both as
    INT64 epoch-NANOS (pandas-written, read as ``bigint`` under
    ``spark.sql.legacy.parquet.nanosAsLong``) and as ``timestamp[us]``
    (reads as ``TIMESTAMP_NTZ``). Every event-time consumer must accept
    either, so the conversion is keyed off the actual schema instead of
    being assumed:

    * ``LongType``  → epoch-nanos: truncate to micros and build a
      timestamp (identical to how DuckDB reads the same file);
    * ``TimestampNTZType`` → cast to ``TIMESTAMP``: watermarks demand
      an instant type (``EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE``
      otherwise), and the engine pins
      ``spark.sql.session.timeZone=UTC`` so the cast is wall-clock
      preserving — NTZ and UTC-instant semantics coincide for every
      epoch/format output;
    * ``TimestampType`` → already correct; pass through.

    Works on batch and streaming DataFrames alike — it only inspects
    the schema and adds a projection.
    """
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def with_late_data_policy(
    df: DataFrame,
    ts_col: str,
    delay: str = "10 minutes",
    dedup_keys: Sequence[str] = (),
) -> DataFrame:
    """Watermark + in-watermark exact dedup: late bars beyond ``delay``
    are dropped; duplicate (key, ts) bars inside the watermark are
    deduplicated with bounded state."""
    out = df.withWatermark(ts_col, delay)
    if dedup_keys:
        out = out.dropDuplicates([*dedup_keys, ts_col])
    return out


def windowed_ohlcv(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    window: str = "1 hour",
    slide: str | None = None,
    price_col: str = "end_price",
    volume_col: str = "traded_volume",
    order_col: Column | None = None,
) -> DataFrame:
    """Event-time windowed OHLCV — streaming twin of
    ``operators.resample.ohlcv_resample`` (first/last by event time).

    ``order_col`` overrides the min_by/max_by ordering key for
    open/close: with multiple bars at the SAME event time, ordering by
    the bare timestamp makes open/close nondeterministic across runs —
    pass a composite key (e.g. a fixed-width ts string concatenated
    with a zero-padded unique id) to pin them."""
    win = (
        F.window(ts_col, window) if slide is None else F.window(ts_col, window, slide)
    )
    order = order_col if order_col is not None else F.col(ts_col)
    return df.groupBy(win.alias("win"), *keys).agg(
        F.min_by(price_col, order).alias("open"),
        F.max(price_col).alias("high"),
        F.min(price_col).alias("low"),
        F.max_by(price_col, order).alias("close"),
        F.sum(volume_col).alias("volume"),
        F.count(F.lit(1)).alias("n_bars"),
    )


def windowed_sessions(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    gap: str = "30 minutes",
    agg_exprs: Sequence[Column] | None = None,
) -> DataFrame:
    """Event-time SESSION windows: a session extends while consecutive
    events per key arrive within ``gap``; ``session_window`` merges the
    intervals engine-side, with state dropped once the watermark passes
    a session's close (set one upstream for append/update sinks). The
    streaming twin of the batch ``windows.sessionize`` operator —
    session bounds follow Spark's [start, last_event + gap) convention.
    """
    aggs = list(agg_exprs) if agg_exprs else [F.count(F.lit(1)).alias("n_events")]
    return df.groupBy(
        F.session_window(ts_col, gap).alias("session"), *keys
    ).agg(*aggs)


# ---------------------------------------------------------------------------
# Custom stateful operators: one per-key state scan
# ---------------------------------------------------------------------------


def _keyed_state_scan(
    df: DataFrame,
    key: str,
    order: Sequence[str],
    step,
    state_schema: str,
    output_schema: str,
) -> DataFrame:
    """The per-key scan behind every ``applyInPandasWithState``
    operator here: read the key's carried state, concatenate ALL of the
    group's Arrow chunks, sort them once by ``order`` (stable), and run
    ``step(key, pdf, carried) -> (out, new_state)`` — the operator's
    recurrence alone. ``carried`` is None for a key seen for the first
    time; a ``new_state`` of None leaves the state unset.

    A large group arrives as MULTIPLE Arrow chunks in arbitrary
    cross-chunk order (``spark.sql.execution.arrow.maxRecordsPerBatch``,
    default 10k rows), so sorting chunk by chunk attaches the recurrence
    to the wrong rows whenever a group spans chunks (ADVICE r2). Within
    a micro-batch rows are therefore in ``order``, so on bounded
    single-batch input each operator equals its batch window twin —
    which is what the SQL oracles check; across micro-batches the order
    follows arrival (the usual event-time caveat).

    Memory note: this buffers one (key × micro-batch) group in the
    Python worker — the same bound applyInPandas carries. State across
    batches stays bounded per key; a skewed key is handled by smaller
    micro-batches, not more state."""
    order = list(order)

    def scan(
        key_vals: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        chunks = list(pdf_iter)
        if not chunks:  # timeout-only invocation: keep state as-is
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            order, kind="mergesort", ignore_index=True
        )
        out, new_state = step(
            key_vals, pdf, state.get if state.exists else None
        )
        if new_state is not None:
            state.update(new_state)
        yield out

    return df.groupBy(key).applyInPandasWithState(
        python_kernel(scan),
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_LAST_PRICE_STATE = "last_price double, last_ts timestamp"
_LAST_PRICE_OUTPUT = (
    "isin string, trading_ts timestamp, end_price double, filled_price double"
)


def _last_price_step(key: tuple, pdf: pd.DataFrame, carried):
    """Forward-fill: null prices inherit the key's last (price, ts)."""
    (isin,) = key
    last_price, last_ts = carried or (None, None)
    filled = []
    for price, ts in zip(pdf["end_price"], pdf["trading_ts"]):
        if pd.notna(price):
            last_price, last_ts = float(price), ts
            filled.append(float(price))
        else:
            filled.append(last_price)
    out = pd.DataFrame(
        {
            "isin": isin,
            "trading_ts": pdf["trading_ts"],
            "end_price": pdf["end_price"],
            "filled_price": filled,
        }
    )
    if last_price is None:
        return out, None
    return out, (last_price, pd.Timestamp(last_ts).to_pydatetime())


def running_forward_fill(df: DataFrame, key: str = "isin") -> DataFrame:
    """Stateful streaming forward-fill (B1 on an unbounded stream):
    ``applyInPandasWithState`` keeps one (price, ts) pair per key —
    O(keys) state, no watermark needed for correctness."""
    return _keyed_state_scan(
        df, key, ["trading_ts"], _last_price_step,
        _LAST_PRICE_STATE, _LAST_PRICE_OUTPUT,
    )


_RUN_STATS_STATE = "n bigint, mx double"
_RUN_STATS_OUTPUT = "user_id bigint, event_id bigint, run_n bigint, run_max double"


def _running_stats_step(key: tuple, pdf: pd.DataFrame, carried):
    """Running per-key count and max, seeded from the carried pair."""
    import numpy as np

    (uid,) = key
    n, mx = carried or (0, None)
    vals = pdf["value"].astype(float).to_numpy()
    seed = -np.inf if mx is None else mx
    run_max = np.maximum.accumulate(np.concatenate(([seed], vals)))[1:]
    run_n = n + np.arange(1, len(vals) + 1, dtype="int64")
    n += len(vals)
    mx = float(run_max[-1]) if len(vals) else mx
    out = pd.DataFrame(
        {
            "user_id": uid,
            "event_id": pdf["event_id"].to_numpy(),
            "run_n": run_n,
            "run_max": run_max,
        }
    )
    return out, (int(n), mx)


def running_event_stats(df: DataFrame) -> DataFrame:
    """Custom stateful streaming operator over the events stream:
    per-user running event count and running max value via
    ``applyInPandasWithState`` — O(keys) state (two scalars per user),
    no watermark needed. On bounded input the result equals the batch
    cumulative window, so it is fully oracle-checkable; on a live
    stream, cross-batch ordering follows arrival order (document the
    usual event-time caveat)."""
    return _keyed_state_scan(
        df.select("user_id", "event_id", "ts", "value"),
        "user_id", ["ts", "event_id"], _running_stats_step,
        _RUN_STATS_STATE, _RUN_STATS_OUTPUT,
    )


def write_stream_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: Sequence[str] = (),
    available_now: bool = True,
):
    """Parquet sink with checkpointing; availableNow processes the
    current backlog then stops (batch-like runs on streaming lineage)."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# r13 (guide §1.1 empirical loop + §7.3 thread dumps): on a bounded
# memory-sink run the state machinery, not the data, was the wall.
# jstack sampling of stream_stream_join at sf0.1 showed executor tasks
# (a) waiting in ChecksumCheckpointFileManager.awaitResult — Spark
# 4.1's checkpoint-file checksums (default ON) write and fsync a
# sidecar checksum per checkpoint file — and (b) RUNNABLE inside
# org.apache.hadoop.util.Shell.runCommand: the default
# FileContext-based checkpoint manager's mkdir passes an explicit
# permission, which Hadoop's RawLocalFileSystem without native libs
# implements by FORKING `chmod` per directory level, per state-store
# provider (4 stores × partitions × batches), much of it inside the
# global getStateStoreProvider lock. Both costs are pure overhead for
# an EPHEMERAL checkpoint: the memory sink always checkpoints to a
# throwaway local temp dir, so corruption detection of those files and
# FileContext's stricter rename semantics protect nothing. Measured
# (sf0.1 stream_stream_join, min-of-3 steady state): 5.9s → 2.2s with
# the two confs below; state-operator core-time 120s → 26s. Durable
# sinks (write_stream_parquet, merge_stream_into_parquet) keep the
# session defaults — their checkpoints are real.
_EPHEMERAL_CHECKPOINT_CONFS = {
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
    # FQCN is the Spark 4.1 location (.streaming.checkpointing); the
    # FileSystem-based manager's mkdirs carries no explicit permission,
    # so local-fs directory creation never shells out.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}

#: Target stream-input bytes per stateful shuffle partition (r14,
#: guide §2.2 "fewer, larger reduce partitions"). Every state
#: partition pays a FIXED lifecycle cost per micro-batch — provider
#: init, commit, maintenance — for EACH stateful operator in the plan
#: (a stream-stream join runs 4 stores per partition; jstack-measured
#: at several hundred ms of core-time per store lifecycle even on
#: ~zero rows of state, r13). A partition whose share of the batch is
#: small relative to that fixed cost is pure overhead: the driver's
#: own 8-vs-32-core scaling block showed stream_stream_join running
#: 1.8× FASTER at 8 cores purely because state instances track the
#: partition count. 8 MiB/partition keeps per-partition data work
#: comfortably above the store lifecycle cost; past ~a few hundred MB
#: per micro-batch the rule clamps at the session default, so real
#: cluster deployments (where the default is sized by the operator)
#: are untouched — the rule only ever REDUCES partitions when a
#: micro-batch is genuinely small, which is data-derived, not
#: core-count-derived.
_STREAM_PARTITION_TARGET_BYTES = 8 << 20

#: Never below 2: one partition serializes every stateful stage of
#: the micro-batch into a single task chain (measured 1.3-2.4× slower
#: than 2 partitions across the bounded-backfill panel).
_STREAM_PARTITION_FLOOR = 2


def _stream_source_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes behind a streaming DataFrame's file
    sources, summed over every ``StreamingRelation`` leaf (glob
    patterns and directories both resolved through the Hadoop FS).
    Driver-side listing only — no job. Returns None when any source
    is not a sizeable file path (rate/socket/table sources) or the
    plan walk fails — callers must treat None as "unknown: keep the
    session default" (fail-soft, same discipline as
    ``graph._free_local_checkpoint``)."""
    try:
        sc = df.sparkSession.sparkContext
        jvm = sc._jvm
        hconf = sc._jsc.hadoopConfiguration()
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        total = 0
        n_sized = 0
        it = leaves.iterator()
        while it.hasNext():
            leaf = it.next()
            cls = leaf.getClass().getName()
            if "StreamingRelation" not in cls:
                continue  # batch static side of a stream-static join
            if not cls.endswith(".StreamingRelation"):
                # V2 / non-file streaming source (rate, socket, table):
                # no on-disk size exists — the whole estimate is off.
                return None
            n_sized += 1
            opt = leaf.dataSource().options().get("path")
            if not opt.isDefined():
                return None
            hp = jvm.org.apache.hadoop.fs.Path(opt.get())
            fs = hp.getFileSystem(hconf)
            statuses = fs.globStatus(hp)
            if statuses is None:
                return None
            for j in range(len(statuses)):
                st = statuses[j]
                if st.isDirectory():
                    total += fs.getContentSummary(st.getPath()).getLength()
                else:
                    total += st.getLen()
        # a plan with no sizeable streaming source (or an empty glob)
        # carries no volume signal — do not shrink on a zero estimate
        return total if n_sized and total > 0 else None
    except Exception:
        return None


def _stream_shuffle_partitions(df: DataFrame) -> int | None:
    """Data-volume-derived stateful shuffle-partition count for a
    BOUNDED stream run (r14, guide §2.2; VERDICT r13 #1).

    ``min(session default, max(2, ceil(input_bytes / 8 MiB)))`` —
    derived from the estimated backlog the availableNow trigger will
    process, never from the core count: on big inputs the ceil clamps
    at the session default (a real cluster's operator-sized setting),
    and only a genuinely small micro-batch shrinks the state-store
    fleet.

    Returns None (keep the session default untouched) when:

    * the plan contains a Python per-key stateful operator
      (``applyInPandasWithState``): its work is interpreted/pandas
      per-row kernel time, which parallelizes with partitions, while
      its single state store per partition keeps the fixed cost low —
      measured 1.8s → 4.1s when shrunk from 32 to 2 partitions,
      the exact inverse of the built-in operators (sf0.1 on 32 cores,
      ``local[32]``, while every Python task still paid 120–260 ms of
      import-cache reads). Re-measured once that cost was gone, warm
      ``stream_stateful_running`` at sf0.001 on 4 cores (``local[4]``)
      at 1 / 2 / 4 partitions: 0.475 / 0.466 / 0.496 s in one probe,
      0.76 / 0.66 / 0.57 s (median of 5) in a second — at 4 cores the
      gap is within 1.35× and its sign is not settled; or
    * the input size is unknown (non-file sources, plan-walk failure).
    """
    try:
        if "FlatMapGroupsInPandasWithState" in str(
            df._jdf.queryExecution().analyzed()
        ):
            return None
    except Exception:
        return None
    size = _stream_source_bytes(df)
    if size is None:
        return None
    spark = df.sparkSession
    try:
        default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        return None
    want = max(
        _STREAM_PARTITION_FLOOR,
        -(-size // _STREAM_PARTITION_TARGET_BYTES),  # ceil
    )
    return min(default, want)


def write_stream_memory(df: DataFrame, name: str, output_mode: str = "append"):
    """In-memory sink for tests/debug (never for production data).

    Applies :data:`_EPHEMERAL_CHECKPOINT_CONFS` plus the data-derived
    :func:`_stream_shuffle_partitions` for the duration of query START
    only (``scoped_conf`` around ``start()`` — a StreamExecution
    captures session confs when it is constructed, so the restore
    cannot affect the launched query, and later DURABLE queries on the
    same session keep the protective defaults). Durable sinks are
    deliberately NOT resized here: a streaming query's state partition
    count is pinned by its checkpoint at first start, and silently
    deriving it from the first batch's size would freeze a cold-start
    accident into the query's whole lifetime — operators size durable
    state partitioning explicitly.

    NOT thread-safe (ADVICE r13): the overrides are session-wide for
    the duration of ``start()``; a DURABLE streaming query started
    concurrently on the same session from another thread during that
    window would capture the relaxed checkpoint confs for its real
    checkpoint. Start concurrent durable queries outside this call."""
    confs = dict(_EPHEMERAL_CHECKPOINT_CONFS)
    parts = _stream_shuffle_partitions(df)
    if parts is not None:
        confs["spark.sql.shuffle.partitions"] = str(parts)
    with scoped_conf(df.sparkSession, confs):
        return (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )


def dedup_stream(
    df: DataFrame,
    keys: Sequence[str],
    event_time_col: str | None = None,
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming deduplication: emit each key once. With an event-time
    column the state is bounded by ``dropDuplicatesWithinWatermark``
    (keys older than the watermark are evicted — the only way this
    survives an unbounded stream); without one, ``dropDuplicates``
    keeps ALL keys in state forever — acceptable only for bounded
    backfills, and the reason the watermark form is the default to
    reach for at scale."""
    keys = list(keys)
    if event_time_col is not None:
        return df.withWatermark(event_time_col, delay).dropDuplicatesWithinWatermark(
            keys
        )
    return df.dropDuplicates(keys)


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | str,
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static dimension enrichment — the streaming twin of the
    reference's fact⋈dim join (etl.py:160-164). Stream-static joins are
    STATELESS: each micro-batch joins against the static side's current
    snapshot, no watermark and no join state to bound (the fundamental
    difference from a stream-stream join). ``broadcast_dim`` ships the
    dimension to every executor once per batch — the right call for
    every dimension in this workload; disable only when the static side
    is too big to broadcast (then pre-bucket both sides)."""
    d = F.broadcast(dim) if broadcast_dim else dim
    keys = [on] if isinstance(on, str) else list(on)
    return stream.join(d, keys, how)


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lower: str = "0 seconds",
    upper: str = "1 hour",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with an event-time interval bound:
    match right rows whose timestamp lies in
    ``[left_ts - lower, left_ts + upper]`` for the same key. BOTH sides
    get watermarks and the time range bounds the join state — without
    the interval condition a stream-stream join would buffer both
    streams forever. Outer variants additionally need the watermark to
    know when an unmatched row can be emitted.

    Column naming: the right side's key and timestamp must arrive
    pre-renamed (e.g. ``r_key``/``r_ts``) so the join output carries
    both sides unambiguously; this function renames nothing.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (F.col(key) == F.col(f"r_{key}"))
        & (F.col(right_ts) >= F.expr(f"{left_ts} - interval {lower}"))
        & (F.col(right_ts) <= F.expr(f"{left_ts} + interval {upper}"))
    )
    return lw.join(rw, cond, how)


def merge_stream_into_parquet(
    stream: DataFrame,
    path: str,
    keys: Sequence[str],
    checkpoint_dir: str,
    versioned: bool = True,
):
    """Streaming MERGE sink: every micro-batch is upserted into the
    parquet table at ``path`` via ``foreachBatch`` — the pattern for
    maintaining a queryable mirror of a CDC stream without a lakehouse
    format. Each batch: dedup the batch on the key (last writer within
    a batch is arbitrary, so dedup first), MERGE against the current
    table (``merge_upsert``: anti-join + union, delta broadcast), then
    publish.

    Publish modes: ``versioned=True`` (the DEFAULT — VERDICT r5 #3)
    commits each batch as a new version of an MVCC table
    (``sources.readers.write_versioned_parquet`` — staged write +
    atomic claim + marker commit, concurrent readers always resolve
    one complete version; read it back with ``read_versioned_parquet``).
    ``versioned=False`` is the LEGACY flat single-directory layout via
    rename-swap, kept for readers that expect a bare parquet path —
    they can hit a brief mid-swap window, so only use it when nothing
    reads the table concurrently.

    MIGRATION NOTE (default changed in r6): ``versioned=True`` writes
    ``v<N>/`` subdirectories, NOT a flat parquet dir — a plain
    ``spark.read.parquet(path)`` on the bare path no longer works
    (and with recursive lookup would double-read retained versions).
    Existing callers that read the bare path must either pass
    ``versioned=False`` explicitly or switch their readers to
    ``read_versioned_parquet``.

    Scale note: this rewrites the table per batch — correct and simple,
    O(table) per trigger. For high-frequency triggers on a big table,
    partition ``path`` and rewrite only the partitions the batch
    touches, or use a format with transactional MERGE; this operator is
    the format-free baseline.
    """
    from quanta_etl_spark.operators.merge import merge_upsert
    from quanta_etl_spark.sources.readers import (
        list_versions,
        read_versioned_parquet,
        swap_directory,
        write_versioned_parquet,
    )

    keys = list(keys)

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.dropDuplicates(keys)
        if versioned:
            if list_versions(spark, path):
                target = read_versioned_parquet(spark, path)
                merged = merge_upsert(
                    target, batch.select(*target.columns), keys
                )
            else:
                merged = batch
            write_versioned_parquet(merged, path)
            return
        jvm = spark.sparkContext._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(path)
        if p.getFileSystem(conf).exists(p):
            target = spark.read.parquet(path)
            merged = merge_upsert(target, batch.select(*target.columns), keys)
        else:
            merged = batch
        tmp = path.rstrip("/") + "__merge_tmp"
        merged.write.mode("overwrite").parquet(tmp)
        swap_directory(spark, tmp, path, "merge")

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


_ZSCORE_STATE = "vals array<double>"
_ZSCORE_OUTPUT = (
    "user_id bigint, event_id bigint, zscore double, is_anomaly boolean"
)
_ZSCORE_WINDOW = 20
_ZSCORE_THRESHOLD = 2.5


def _zscore_step(key: tuple, pdf: pd.DataFrame, carried):
    """Streaming rolling z-score: state = the key's last W values (a
    bounded array — O(W) per key, no unbounded growth). A zero-variance
    window is unflaggable (z null), mirrored exactly in the SQL oracle.

    On bounded single-batch input this equals the batch
    anomaly_zscore window (trailing W rows, current row excluded);
    on a live stream the window spans micro-batch boundaries via the
    carried array."""
    import numpy as np

    (uid,) = key
    buf: list[float] = list(carried[0]) if carried else []
    zs: list[float | None] = []
    flags: list[bool] = []
    for v in pdf["value"].astype(float):
        if len(buf) >= 2:
            arr = np.asarray(buf, dtype=float)
            sd = float(arr.std(ddof=1))
            z = (v - float(arr.mean())) / sd if sd > 0.0 else None
        else:
            z = None
        zs.append(z)
        flags.append(z is not None and abs(z) > _ZSCORE_THRESHOLD)
        buf.append(float(v))
        if len(buf) > _ZSCORE_WINDOW:
            buf = buf[-_ZSCORE_WINDOW:]
    out = pd.DataFrame(
        {
            "user_id": uid,
            "event_id": pdf["event_id"].values,
            "zscore": pd.array(zs, dtype="float64"),
            "is_anomaly": flags,
        }
    )
    return out, (buf,)


def streaming_anomaly_zscore(df: DataFrame) -> DataFrame:
    """Streaming twin of ``windows.anomaly_zscore``: per-user rolling
    z-score over the trailing 20 observations (current row excluded),
    carried across micro-batches in O(W)-per-key state via
    ``applyInPandasWithState``. Emits every scored row; filter
    ``is_anomaly`` downstream for the alert stream."""
    return _keyed_state_scan(
        df.select("user_id", "event_id", "ts", "value"),
        "user_id", ["ts", "event_id"], _zscore_step,
        _ZSCORE_STATE, _ZSCORE_OUTPUT,
    )


_DURATION_UNIT_SECONDS = {
    "microsecond": 1e-6,
    "millisecond": 1e-3,
    "second": 1.0,
    "minute": 60.0,
    "hour": 3600.0,
    "day": 86400.0,
    "week": 604800.0,
}


def _duration_seconds(spec: str) -> float:
    """Parse a Spark interval string ('1 hour', '30 minutes', '2 days
    12 hours') into seconds, for delay-vs-window sanity checks."""
    import re as _re

    total = 0.0
    matched = False
    for m in _re.finditer(r"(\d+(?:\.\d+)?)\s*([a-z]+?)s?\b", spec.lower()):
        qty, unit = float(m.group(1)), m.group(2)
        if unit not in _DURATION_UNIT_SECONDS:
            raise ValueError(f"unknown duration unit {unit!r} in {spec!r}")
        total += qty * _DURATION_UNIT_SECONDS[unit]
        matched = True
    if not matched:
        raise ValueError(f"unparseable duration {spec!r}")
    return total


def windowed_distinct_users(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window: str = "1 hour",
    delay: str = "1 hour",
) -> DataFrame:
    """Distinct-user counts per event-time window on a STREAM.

    ``count_distinct`` is unsupported in Structured Streaming (state
    for an exact distinct inside an arbitrary aggregate is unbounded),
    so this uses the documented two-stage shape: watermarked
    ``dropDuplicatesWithinWatermark`` on (window-bucket, user) —
    bounded state, keys evicted once the watermark passes their event
    time + delay — then an ordinary streaming count per window. On
    bounded input it equals the batch count(DISTINCT user) per bucket,
    which is what the SQL oracle checks.

    Plain ``dropDuplicates`` would be WRONG here: the bucket column is
    ``window().getField('start')``, a projection that loses event-time
    watermark metadata, so its dedup state would never be evicted and
    would grow without bound on a real stream (ADVICE r6).
    ``dropDuplicatesWithinWatermark`` evicts on the watermark without
    requiring an event-time column among the keys. Exactness needs
    duplicates to land within the eviction horizon: two same-window
    events are at most one window span apart, so ``delay`` must be
    >= the window span (enforced below).

    At 100 TB: dedup state is one entry per (window, user) inside the
    watermark horizon; for billions of users switch to
    :func:`windowed_distinct_users_approx`, whose per-window state is
    one fixed-size HLL sketch instead of one entry per user.
    """
    if _duration_seconds(delay) < _duration_seconds(window):
        raise ValueError(
            f"delay {delay!r} must cover the window span {window!r}: "
            "same-window duplicates can be up to one span apart, and "
            "dropDuplicatesWithinWatermark only guarantees dedup of "
            "keys that recur inside the eviction horizon"
        )
    # The dedup bucket must be EXACTLY the aggregation window — a
    # fixed date_trunc would under-count finer windows (one surviving
    # row per hour) and over-count coarser ones (one per hour inside a
    # day window). window() gives the tumbling-window start directly.
    bucketed = with_late_data_policy(df, ts_col, delay=delay).withColumn(
        "__bucket", F.window(F.col(ts_col), window).getField("start")
    )
    deduped = bucketed.dropDuplicatesWithinWatermark(["__bucket", user_col])
    return (
        deduped.groupBy(F.window(ts_col, window).alias("win"))
        .agg(F.count(F.lit(1)).alias("distinct_users"))
    )


def windowed_distinct_users_approx(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window: str = "1 hour",
    delay: str = "1 hour",
    rsd: float = 0.02,
) -> DataFrame:
    """Approximate distinct-user counts per event-time window — the
    billions-of-users scale path promised by
    :func:`windowed_distinct_users` (VERDICT r7 #6).

    ``approx_count_distinct`` (HyperLogLog++) IS a mergeable streaming
    aggregate, so no ``foreachBatch`` sketch plumbing is needed: the
    engine keeps ONE fixed-size HLL buffer (~(1.04/rsd)² registers,
    ~2.7 KB at the 2% default) per open window as its aggregation
    state, merges micro-batches into it incrementally, and the
    watermark evicts closed windows. State is O(windows), independent
    of user cardinality — vs O(users-in-horizon) for the exact
    variant. Standard-error contract is HLL++'s ``rsd`` (relative
    standard deviation), tolerance-tested against the exact batch
    count at sf0.1 in tests/test_streaming.py.
    """
    watermarked = with_late_data_policy(df, ts_col, delay=delay)
    return watermarked.groupBy(
        F.window(F.col(ts_col), window).alias("win")
    ).agg(
        F.approx_count_distinct(user_col, rsd=rsd).alias(
            "distinct_users_approx"
        )
    )


_CUSUM_STATE = "acc double"
_CUSUM_OUTPUT = (
    "user_id bigint, event_id bigint, cusum double, alarm boolean"
)
_CUSUM_TARGET = 50.0
_CUSUM_SLACK = 10.0
_CUSUM_THRESHOLD = 120.0


def _cusum_step(key: tuple, pdf: pd.DataFrame, carried):
    """Streaming CUSUM: state = one double (the running clamped sum) —
    the cheapest stateful detector there is. The per-key accumulator
    carries across micro-batches, so a drift that started three
    batches ago keeps accumulating. Identical arithmetic to the batch
    ``windows.cusum`` — bounded single-batch input reproduces it
    bit-for-bit."""
    (uid,) = key
    acc: float = float(carried[0]) if carried else 0.0
    sums: list[float] = []
    alarms: list[bool] = []
    for v in pdf["value"].astype(float):
        acc = max(0.0, acc + (v - _CUSUM_TARGET - _CUSUM_SLACK))
        sums.append(acc)
        alarms.append(acc > _CUSUM_THRESHOLD)
    out = pd.DataFrame(
        {
            "user_id": uid,
            "event_id": pdf["event_id"].values,
            "cusum": sums,
            "alarm": alarms,
        }
    )
    return out, (acc,)


def streaming_cusum(df: DataFrame) -> DataFrame:
    """Streaming twin of ``windows.cusum`` (target 50, slack 10,
    threshold 120 — the gated parameterization): per-user one-sided
    CUSUM drift scores carried across micro-batches in O(1)-per-key
    state via ``applyInPandasWithState``."""
    return _keyed_state_scan(
        df.select("user_id", "event_id", "ts", "value"),
        "user_id", ["ts", "event_id"], _cusum_step,
        _CUSUM_STATE, _CUSUM_OUTPUT,
    )
