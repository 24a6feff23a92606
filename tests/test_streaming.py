"""Structured Streaming adapters (streaming/ingest.py).

The reference is batch-only (/root/reference/dags/dag.py:31 schedules
``@once``); these tests prove the minute-bar model streams: file-source
ingest with explicit schema, watermark + in-watermark dedup, windowed
OHLCV, and the stateful forward-fill operator — each run with
``availableNow`` triggers against a temp parquet directory so the full
micro-batch path (planning, state store, sink commit) executes.
"""

from __future__ import annotations

import datetime as dt
import json

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from quanta_etl_spark.streaming import ingest

BAR_SCHEMA = StructType(
    [
        StructField("isin", StringType()),
        StructField("trading_ts", TimestampType()),
        StructField("end_price", DoubleType()),
        StructField("traded_volume", DoubleType()),
    ]
)


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2020, 11, 24, 8, 0) + dt.timedelta(minutes=minute)


@pytest.fixture(scope="module")
def bar_dir(spark, tmp_path_factory):
    rows = [
        ("DE0001", _ts(0), 10.0, 100.0),
        ("DE0001", _ts(1), 11.0, 50.0),
        ("DE0001", _ts(1), 11.0, 50.0),  # exact duplicate bar
        ("DE0001", _ts(2), None, 0.0),  # silent minute -> forward-fill
        ("DE0002", _ts(0), 5.0, 10.0),
        ("DE0002", _ts(61), 6.0, 20.0),  # second hour window
    ]
    path = str(tmp_path_factory.mktemp("bars") / "bars.parquet")
    spark.createDataFrame(rows, BAR_SCHEMA).write.parquet(path)
    return path


def _run_to_memory(spark, df, name, output_mode="append"):
    q = ingest.write_stream_memory(df, name, output_mode=output_mode)
    q.awaitTermination(120)
    return spark.table(name)


def test_read_stream_is_streaming(spark, bar_dir):
    df = ingest.read_stream(spark, bar_dir, BAR_SCHEMA, max_files_per_trigger=1)
    assert df.isStreaming
    assert df.schema == BAR_SCHEMA


def test_watermark_dedup_drops_duplicate_bars(spark, bar_dir):
    df = ingest.read_stream(spark, bar_dir, BAR_SCHEMA)
    deduped = ingest.with_late_data_policy(
        df, "trading_ts", delay="10 minutes", dedup_keys=["isin"]
    )
    out = _run_to_memory(spark, deduped, "dedup_bars")
    assert out.count() == 5  # 6 input bars, 1 duplicate dropped
    assert (
        out.where((F.col("isin") == "DE0001") & (F.col("trading_ts") == _ts(1))).count()
        == 1
    )


def test_windowed_ohlcv_stream(spark, bar_dir):
    df = ingest.read_stream(spark, bar_dir, BAR_SCHEMA)
    agg = ingest.windowed_ohlcv(
        ingest.with_late_data_policy(df, "trading_ts", delay="10 minutes"),
        "trading_ts",
        ["isin"],
        window="1 hour",
    )
    # complete mode: append would hold windows open until the watermark
    # passes window end, which a single availableNow batch never does.
    out = _run_to_memory(spark, agg, "ohlcv_bars", output_mode="complete").collect()
    by_key = {(r["isin"], r["win"]["start"].hour): r for r in out}
    first = by_key[("DE0001", 8)]
    assert first["open"] == 10.0
    assert first["high"] == 11.0
    assert first["low"] == 10.0
    assert first["volume"] == 200.0
    assert first["n_bars"] == 4
    assert by_key[("DE0002", 9)]["close"] == 6.0


def test_stateful_forward_fill_stream(spark, bar_dir):
    df = ingest.read_stream(spark, bar_dir, BAR_SCHEMA).select(
        "isin", "trading_ts", "end_price"
    )
    filled = ingest.running_forward_fill(df, key="isin")
    out = _run_to_memory(spark, filled, "ffill_bars")
    silent = out.where(
        (F.col("isin") == "DE0001") & (F.col("trading_ts") == _ts(2))
    ).collect()
    assert len(silent) == 1
    assert silent[0]["end_price"] is None
    assert silent[0]["filled_price"] == 11.0


def test_write_stream_parquet_partitioned(spark, bar_dir, tmp_path):
    df = ingest.read_stream(spark, bar_dir, BAR_SCHEMA)
    out_path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = ingest.write_stream_parquet(
        df.withColumn("trading_date", F.to_date("trading_ts")),
        out_path,
        ckpt,
        partition_by=["trading_date"],
    )
    q.awaitTermination(120)
    back = spark.read.parquet(out_path)
    assert back.count() == 6
    assert "trading_date=2020-11-24" in str(
        [f.name for f in __import__("pathlib").Path(out_path).iterdir()]
    )


def test_running_event_stats_state_across_batches(spark, tmp_path):
    """applyInPandasWithState carries (count, max) across micro-batches:
    two files streamed one-per-trigger must produce the same running
    stats as one global cumulative pass (files are time-ordered)."""
    from pyspark.sql.types import LongType

    ev_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("ts", LongType()),
            StructField("value", DoubleType()),
        ]
    )
    d = tmp_path / "ev"
    d.mkdir()
    batch1 = [(1, 1, 100, 5.0), (1, 2, 200, 3.0), (2, 10, 150, 1.0)]
    batch2 = [(1, 3, 300, 9.0), (2, 11, 250, 0.5)]
    spark.createDataFrame(batch1, ev_schema).coalesce(1).write.parquet(
        str(d / "b0")
    )
    spark.createDataFrame(batch2, ev_schema).coalesce(1).write.parquet(
        str(d / "b1")
    )
    stream = ingest.read_stream(
        spark, f"{d}/b*/part-*.parquet", ev_schema, max_files_per_trigger=1
    )
    out = ingest.running_event_stats(stream)
    got = {
        (r.user_id, r.event_id): (r.run_n, r.run_max)
        for r in _run_to_memory(spark, out, "run_stats").collect()
    }
    assert got == {
        (1, 1): (1, 5.0),
        (1, 2): (2, 5.0),
        (1, 3): (3, 9.0),   # state carried: count continues, max kept
        (2, 10): (1, 1.0),
        (2, 11): (2, 1.0),  # 0.5 < carried max 1.0
    }


def test_session_window_gap_boundary(spark, tmp_path):
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )
    import datetime as dt
    import pyspark.sql.functions as F

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 1.0),
        (1, t0 + dt.timedelta(minutes=29), 2.0),   # inside gap: same session
        (1, t0 + dt.timedelta(minutes=59), 4.0),   # exactly at session end: MERGES
        (1, t0 + dt.timedelta(minutes=90), 16.0),  # 31min after prev: new session
        (2, t0, 8.0),
    ]
    d = tmp_path / "sess"
    d.mkdir()
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(d / "b0"))
    stream = ingest.read_stream(spark, f"{d}/b*/part-*.parquet", schema)
    agg = ingest.windowed_sessions(
        stream.withWatermark("ts", "1 hour"),
        "ts",
        ["user_id"],
        gap="30 minutes",
        agg_exprs=[
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
        ],
    )
    out = _run_to_memory(spark, agg, "sess_win", output_mode="complete")
    got = sorted(
        (r["user_id"], r["session"]["start"], r["n"], r["s"])
        for r in out.collect()
    )
    assert got == [
        (1, t0, 3, 7.0),
        (1, t0 + dt.timedelta(minutes=90), 1, 16.0),
        (2, t0, 1, 8.0),
    ]


def test_merge_stream_into_parquet_upserts_across_batches(spark, tmp_path):
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("status", StringType()),
            StructField("v", DoubleType()),
        ]
    )
    src = tmp_path / "cdc"
    src.mkdir()
    # batch 0: initial rows; batch 1: update k=1, insert k=3
    spark.createDataFrame(
        [(1, "new", 1.0), (2, "new", 2.0)], schema
    ).coalesce(1).write.parquet(str(src / "b0"))
    spark.createDataFrame(
        [(1, "done", 9.0), (3, "new", 3.0)], schema
    ).coalesce(1).write.parquet(str(src / "b1"))
    stream = ingest.read_stream(
        spark, f"{src}/b*/part-*.parquet", schema, max_files_per_trigger=1
    )
    target = str(tmp_path / "table")
    q = ingest.merge_stream_into_parquet(
        stream, target, ["k"], str(tmp_path / "ckpt"), versioned=False
    )
    q.awaitTermination(120)
    got = {
        r["k"]: (r["status"], r["v"])
        for r in spark.read.parquet(target).collect()
    }
    assert got == {1: ("done", 9.0), 2: ("new", 2.0), 3: ("new", 3.0)}


def test_normalize_event_time_variants(spark):
    """normalize_event_time must map every dtype the driver's testdata
    has shipped for events.ts (int64 epoch-nanos, timestamp[us] →
    TIMESTAMP_NTZ, plain TIMESTAMP) to a watermark-legal TIMESTAMP with
    identical instants (session tz is pinned UTC)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 8, 0, 0, 123000)
    epoch_s = int(base.replace(tzinfo=dt.timezone.utc).timestamp())
    nanos = epoch_s * 1_000_000_000 + base.microsecond * 1_000

    long_df = spark.createDataFrame([(nanos,)], "ts long")
    ntz_df = spark.createDataFrame([(base,)], "ts timestamp_ntz")
    ts_df = spark.createDataFrame([(base,)], "ts timestamp")
    outs = []
    for df in (long_df, ntz_df, ts_df):
        out = ingest.normalize_event_time(df)
        assert dict(out.dtypes)["ts"] == "timestamp"
        outs.append(out.select(F.unix_micros("ts").alias("us")).first().us)
    assert outs[0] == outs[1] == outs[2]


def test_watermark_accepts_normalized_ntz_stream(spark, tmp_path):
    """End-to-end: an NTZ-typed file stream passes through
    normalize_event_time and sustains a watermarked windowed agg (the
    exact shape that broke in round 4)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 8, 0)
    rows = [(i, base + dt.timedelta(minutes=7 * i), float(i)) for i in range(10)]
    path = str(tmp_path / "ntz_events")
    spark.createDataFrame(rows, "eid long, ts timestamp_ntz, v double").write.parquet(
        path
    )
    raw_schema = spark.read.parquet(path).schema
    assert "timestamp_ntz" in [t for _, t in [(n, d) for n, d in
                               spark.read.parquet(path).dtypes]]
    stream = ingest.normalize_event_time(ingest.read_stream(spark, path, raw_schema))
    agg = (
        ingest.with_late_data_policy(stream, "ts", delay="10 minutes")
        .groupBy(F.window("ts", "30 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = _run_to_memory(spark, agg, "ntz_watermark_agg", output_mode="complete")
    assert got.agg(F.sum("n")).first()[0] == 10


def test_merge_stream_versioned_atomic_commits(spark, tmp_path):
    """versioned=True publishes each micro-batch as an MVCC version:
    readers resolve a complete committed version at all times (no
    rename-swap window), and the final version holds the merged state."""
    from quanta_etl_spark.sources import readers
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("status", StringType()),
            StructField("v", DoubleType()),
        ]
    )
    src = tmp_path / "cdc_v"
    src.mkdir()
    spark.createDataFrame(
        [(1, "new", 1.0), (2, "new", 2.0)], schema
    ).coalesce(1).write.parquet(str(src / "b0"))
    spark.createDataFrame(
        [(1, "done", 9.0), (3, "new", 3.0)], schema
    ).coalesce(1).write.parquet(str(src / "b1"))
    stream = ingest.read_stream(
        spark, f"{src}/b*/part-*.parquet", schema, max_files_per_trigger=1
    )
    target = str(tmp_path / "vtable")
    q = ingest.merge_stream_into_parquet(
        stream, target, ["k"], str(tmp_path / "ckpt_v"), versioned=True
    )
    q.awaitTermination(120)
    versions = readers.list_versions(spark, target)
    assert len(versions) == 2  # one committed version per micro-batch
    got = {
        r["k"]: (r["status"], r["v"])
        for r in readers.read_versioned_parquet(spark, target).collect()
    }
    assert got == {1: ("done", 9.0), 2: ("new", 2.0), 3: ("new", 3.0)}


def test_windowed_ohlcv_order_col_tiebreak(spark, tmp_path):
    """Two bars at the SAME event time: the composite order_col pins
    open/close deterministically (bare-ts ordering would be
    arbitrary)."""
    t0 = dt.datetime(2024, 1, 1, 9, 30)
    rows = [
        ("X", t0, 100.0, 1.0, 1),
        ("X", t0, 50.0, 1.0, 2),   # same ts, larger id -> open stays 100
        ("X", t0 + dt.timedelta(minutes=5), 70.0, 1.0, 3),
    ]
    schema = "isin string, trading_ts timestamp, end_price double, traded_volume double, bar_id long"
    d = tmp_path / "tie"
    d.mkdir()
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(d / "b0"))
    stream = ingest.read_stream(
        spark, f"{d}/b*/part-*.parquet", spark.read.parquet(str(d / "b0")).schema
    )
    order_key = F.concat(
        F.date_format("trading_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        F.lpad(F.col("bar_id").cast("string"), 12, "0"),
    )
    agg = ingest.windowed_ohlcv(
        stream.withWatermark("trading_ts", "10 minutes"),
        "trading_ts",
        ["isin"],
        window="1 hour",
        order_col=order_key,
    )
    out = _run_to_memory(spark, agg, "tie_ohlcv", output_mode="complete").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["open"], r["close"], r["high"], r["low"]) == (100.0, 70.0, 100.0, 50.0)


def test_enrich_stream_is_stateless_broadcast(spark, bar_dir):
    """Stream-static joins are stateless (no watermark, no join state);
    the static side broadcasts. Values must equal the batch join."""
    stream = ingest.read_stream(spark, bar_dir, BAR_SCHEMA)
    dim = spark.createDataFrame(
        [("DE0001", "SAP SE"), ("DE0002", "BMW AG")], "isin string, name string"
    )
    out = ingest.enrich_stream(stream, dim, "isin").select(
        "isin", "trading_ts", "name"
    )
    got = _run_to_memory(spark, out, "enriched_bars")
    assert got.count() == 6
    assert {r.name for r in got.collect()} == {"SAP SE", "BMW AG"}


def test_streaming_anomaly_state_across_batches(spark, tmp_path):
    """The z-score window buffer must carry across micro-batches: a
    spike arriving in batch 2 is judged against baseline values that
    all arrived in batch 1."""
    from pyspark.sql.types import LongType

    ev_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("ts", LongType()),
            StructField("value", DoubleType()),
        ]
    )
    d = tmp_path / "ev"
    d.mkdir()
    baseline = [(1, i, 100 * i, 10.0 + (i % 3)) for i in range(1, 8)]
    spike = [(1, 8, 800, 500.0), (1, 9, 900, 10.0)]
    spark.createDataFrame(baseline, ev_schema).coalesce(1).write.parquet(
        str(d / "b0")
    )
    spark.createDataFrame(spike, ev_schema).coalesce(1).write.parquet(
        str(d / "b1")
    )
    stream = ingest.read_stream(
        spark, f"{d}/b*/part-*.parquet", ev_schema, max_files_per_trigger=1
    )
    out = ingest.streaming_anomaly_zscore(stream)
    rows = {
        r.event_id: (r.zscore, r.is_anomaly)
        for r in _run_to_memory(spark, out, "stream_anomaly_t").collect()
    }
    # first two events have <2 priors: never flagged, z null
    assert rows[1] == (None, False) and rows[2] == (None, False)
    # the spike (batch 2) is flagged against batch-1 state
    assert rows[8][1] is True and rows[8][0] > 2.5
    # the return to baseline right after the spike is NOT flagged (the
    # spike inflates the window stddev)
    assert rows[9][1] is False
    # baseline rows in batch 1 are unflagged
    assert all(not rows[i][1] for i in range(3, 8))


def test_windowed_distinct_users_matches_batch(spark, tmp_path):
    """Streaming distinct users per hour (dropDuplicates + count) must
    equal batch count(DISTINCT) on bounded input — including a user
    active in two different hours (counted once per hour) and repeated
    events within one hour (counted once)."""
    from pyspark.sql.types import LongType, TimestampType

    ev_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
        ]
    )
    rows = [
        (1, dt.datetime(2024, 1, 1, 10, 5)),
        (1, dt.datetime(2024, 1, 1, 10, 40)),  # same user, same hour
        (2, dt.datetime(2024, 1, 1, 10, 50)),
        (1, dt.datetime(2024, 1, 1, 11, 1)),   # same user, next hour
    ]
    src = str(tmp_path / "ev")
    spark.createDataFrame(rows, ev_schema).write.parquet(src)
    stream = ingest.read_stream(spark, src, ev_schema)
    agg = ingest.windowed_distinct_users(stream)
    out = _run_to_memory(
        spark, agg, "distinct_users_t", output_mode="complete"
    ).collect()
    got = {r["win"]["start"].hour: r["distinct_users"] for r in out}
    assert got == {10: 2, 11: 1}


def test_windowed_distinct_users_non_hour_window(spark, tmp_path):
    """The dedup bucket must track the window parameter: 30-min windows
    count a user once per half hour, not once per hour."""
    from pyspark.sql.types import LongType, TimestampType

    ev_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
        ]
    )
    rows = [
        (1, dt.datetime(2024, 1, 1, 10, 5)),
        (1, dt.datetime(2024, 1, 1, 10, 40)),  # same hour, next 30-min
        (2, dt.datetime(2024, 1, 1, 10, 10)),
    ]
    src = str(tmp_path / "ev30")
    spark.createDataFrame(rows, ev_schema).write.parquet(src)
    stream = ingest.read_stream(spark, src, ev_schema)
    agg = ingest.windowed_distinct_users(stream, window="30 minutes")
    out = _run_to_memory(
        spark, agg, "distinct_users_30m", output_mode="complete"
    ).collect()
    got = {(r["win"]["start"].hour, r["win"]["start"].minute):
           r["distinct_users"] for r in out}
    assert got == {(10, 0): 2, (10, 30): 1}


def test_streaming_cusum_state_across_batches(spark, tmp_path):
    """The CUSUM accumulator must carry across micro-batches: drift
    that accumulates in batch 1 keeps the alarm latched in batch 2."""
    from pyspark.sql.types import DoubleType, LongType, TimestampType

    ev_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1, 10, 0)
    # batch 1: values 110 -> each adds 50 to the accumulator
    b1 = [(1, i, t0 + dt.timedelta(seconds=i), 110.0) for i in range(3)]
    # batch 2: value at target: drift -10 but acc stays > threshold
    b2 = [(1, 10, t0 + dt.timedelta(seconds=10), 50.0)]
    src = str(tmp_path / "cusum_src")
    spark.createDataFrame(b1, ev_schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(b2, ev_schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = ingest.read_stream(spark, src, ev_schema, max_files_per_trigger=1)
    out = ingest.streaming_cusum(stream)
    got = {r["event_id"]: r for r in _run_to_memory(
        spark, out, "cusum_stream"
    ).collect()}
    # batch 1 recursion: 50, 100, 150
    assert got[0]["cusum"] == pytest.approx(50.0)
    assert got[2]["cusum"] == pytest.approx(150.0)
    assert got[2]["alarm"] is True
    # batch 2: 150 + (50 - 60) = 140 -> still alarming; state carried
    assert got[10]["cusum"] == pytest.approx(140.0)
    assert got[10]["alarm"] is True


def test_interval_join_left_outer_emits_unmatched(spark, tmp_path):
    """Left-outer stream-stream interval join: unmatched left rows
    flush as NULL-right rows once the watermark passes their join
    range (driven here by later data in batch 2)."""
    from pyspark.sql.types import LongType, TimestampType

    sch = StructType(
        [
            StructField("user_id", LongType()),
            StructField("id", LongType()),
            StructField("ts", TimestampType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1, 10, 0)
    late = t0 + dt.timedelta(hours=6)
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    # left batch 1: one row that will never match; batch 2: watermark pusher
    spark.createDataFrame([(1, 1, t0)], sch).coalesce(1).write.parquet(ldir)
    spark.createDataFrame([(9, 99, late)], sch).coalesce(1).write.mode(
        "append"
    ).parquet(ldir)
    # right: only a row far in the future (advances right watermark)
    spark.createDataFrame(
        [(8, 88, late)],
        StructType(
            [
                StructField("r_user_id", LongType()),
                StructField("r_id", LongType()),
                StructField("r_ts", TimestampType()),
            ]
        ),
    ).coalesce(1).write.parquet(rdir)
    left = ingest.read_stream(spark, ldir, sch, max_files_per_trigger=1)
    right = ingest.read_stream(
        spark,
        rdir,
        StructType(
            [
                StructField("r_user_id", LongType()),
                StructField("r_id", LongType()),
                StructField("r_ts", TimestampType()),
            ]
        ),
    )
    joined = ingest.interval_join_streams(
        left, right, "user_id", "ts", "r_ts",
        lower="0 seconds", upper="10 minutes",
        watermark="1 hour", how="leftOuter",
    )
    got = _run_to_memory(spark, joined, "louter_join").collect()
    by_id = {r["id"]: r for r in got}
    assert 1 in by_id, "unmatched left row must flush as outer result"
    assert by_id[1]["r_id"] is None


def test_windowed_distinct_users_state_is_watermark_evicted(spark, tmp_path):
    """The dedup stage must be DeduplicateWithinWatermark, not plain
    Deduplicate: the bucket column (window().getField('start')) loses
    event-time metadata, so plain dropDuplicates state would never be
    evicted and grows without bound on a real stream (ADVICE r6)."""
    from pyspark.sql.types import LongType, TimestampType

    ev_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
        ]
    )
    src = str(tmp_path / "evw")
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 10, 5))], ev_schema
    ).write.parquet(src)
    stream = ingest.read_stream(spark, src, ev_schema)
    agg = ingest.windowed_distinct_users(stream)
    plan = agg._jdf.queryExecution().analyzed().toString()
    assert "DeduplicateWithinWatermark" in plan, plan


def test_windowed_distinct_users_rejects_short_delay(spark, tmp_path):
    """delay < window span breaks exactness (same-window duplicates can
    be one span apart, beyond the dedup eviction horizon): rejected."""
    from pyspark.sql.types import LongType, TimestampType

    ev_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
        ]
    )
    src = str(tmp_path / "evd")
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 10, 5))], ev_schema
    ).write.parquet(src)
    stream = ingest.read_stream(spark, src, ev_schema)
    with pytest.raises(ValueError, match="must cover the window span"):
        ingest.windowed_distinct_users(
            stream, window="1 day", delay="1 hour"
        )


def test_duration_seconds_parser():
    assert ingest._duration_seconds("1 hour") == 3600.0
    assert ingest._duration_seconds("30 minutes") == 1800.0
    assert ingest._duration_seconds("2 days 12 hours") == 2.5 * 86400
    assert ingest._duration_seconds("500 milliseconds") == 0.5
    with pytest.raises(ValueError):
        ingest._duration_seconds("3 fortnights")
    with pytest.raises(ValueError):
        ingest._duration_seconds("")


def test_stateful_restart_from_checkpoint_continues_state(spark, tmp_path):
    """Crash-restart continuity: a stateful query
    (applyInPandasWithState running stats) stopped after batch 1 and
    RESTARTED as a brand-new query object from the same checkpoint must
    (a) restore per-key state — counts continue, maxima carry — and
    (b) not reprocess batch-1 rows (exactly-once against the file
    source). This is the recovery contract a real deployment relies
    on; the in-session state tests above can't catch a broken
    checkpoint round-trip."""
    from pyspark.sql.types import LongType

    ev_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("ts", LongType()),
            StructField("value", DoubleType()),
        ]
    )
    src = tmp_path / "src"
    src.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, 1, 100, 5.0), (2, 10, 150, 1.0)], ev_schema
    ).coalesce(1).write.parquet(str(src / "b0"))

    def start_query():
        stream = ingest.read_stream(
            spark, f"{src}/b*/part-*.parquet", ev_schema,
            max_files_per_trigger=1,
        )
        return (
            ingest.running_event_stats(stream)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .option("path", sink)
            .trigger(availableNow=True)
            .start()
        )

    q1 = start_query()
    q1.awaitTermination(120)
    # simulated crash boundary: query object gone, new data arrives
    spark.createDataFrame(
        [(1, 2, 300, 9.0), (2, 11, 250, 0.5)], ev_schema
    ).coalesce(1).write.parquet(str(src / "b1"))
    q2 = start_query()
    q2.awaitTermination(120)

    rows = spark.read.parquet(sink).collect()
    got = {(r.user_id, r.event_id): (r.run_n, r.run_max) for r in rows}
    assert got == {
        (1, 1): (1, 5.0),
        (2, 10): (1, 1.0),
        (1, 2): (2, 9.0),   # count continued across the restart
        (2, 11): (2, 1.0),  # carried max survived the restart
    }
    # exactly-once: batch-1 keys appear exactly once in the sink
    assert len(rows) == 4


def test_windowed_distinct_users_approx_tolerance_sf01(spark):
    """VERDICT r7 #6: the approximate (HLL) variant must land within
    5% relative error of the exact batch count(DISTINCT) per window,
    measured on the real sf0.1 events table (~1.3k users/day over 30
    daily windows), while keeping O(1)-per-window state."""
    sf = "/root/testdata/sf0.1"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw_schema = spark.read.parquet(f"{sf}/events.parquet").schema
    stream = ingest.read_stream(spark, f"{sf}/events.parque[t]", raw_schema)
    ev = ingest.normalize_event_time(stream)
    agg = ingest.windowed_distinct_users_approx(
        ev, window="1 day", delay="1 day"
    )
    out = _run_to_memory(
        spark, agg, "distinct_users_approx_t", output_mode="complete"
    ).collect()
    got = {r["win"]["start"]: r["distinct_users_approx"] for r in out}

    batch = ingest.normalize_event_time(spark.read.parquet(f"{sf}/events.parquet"))
    exact = {
        r["d"]: r["u"]
        for r in batch.groupBy(
            F.date_trunc("day", F.col("ts")).alias("d")
        ).agg(F.count_distinct("user_id").alias("u")).collect()
    }
    assert len(got) == len(exact) == 30
    worst = max(
        abs(got[d] - exact[d]) / exact[d] for d in exact
    )
    assert worst <= 0.05, f"worst relative error {worst:.3f} > 5%"


class TestStreamHotKeySkew:
    """VERDICT r8 #6: batch dedup (r6) and graph (r8) carry hot-key
    stress records; this pins the STREAMING state path's
    scale-independent behaviors under a bot user owning half of all
    events. The sf1 evidence run is tools/stream_skew_stress.py."""

    BOT = 999_999

    @pytest.fixture()
    def skewed_dir(self, spark, tmp_path):
        """Three time-ordered chunks over 6 hours: 3 normal users with
        one event/minute each, plus a bot emitting 10 events/minute —
        half the traffic concentrated on one grouping key."""
        from pyspark.sql.types import LongType

        schema = StructType(
            [
                StructField("user_id", LongType()),
                StructField("event_id", LongType()),
                StructField("ts", TimestampType()),
                StructField("event_type", StringType()),
            ]
        )
        base = dt.datetime(2024, 3, 1, 0, 0)
        rows = []
        eid = 0
        for minute in range(6 * 60):
            t = base + dt.timedelta(minutes=minute)
            for u in (1, 2, 3):
                eid += 1
                rows.append(
                    (u, eid, t, "click" if minute % 2 == 0 else "purchase")
                )
            for k in range(10):  # the bot
                eid += 1
                rows.append(
                    (
                        self.BOT,
                        eid,
                        t + dt.timedelta(seconds=k),
                        "click" if k % 2 == 0 else "purchase",
                    )
                )
        d = tmp_path / "skew"
        d.mkdir()
        for i in range(3):  # 2h per chunk, written in time order
            chunk = [
                r for r in rows
                if i * 120 <= (r[2] - base).total_seconds() // 60 < (i + 1) * 120
            ]
            spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(
                str(d / f"c{i}")
            )
        return f"{d}/c*/part-*.parquet", schema, rows

    @staticmethod
    def _state(q):
        return (q.lastProgress or {}).get("stateOperators", [])

    def test_exact_distinct_users_state_bounded_under_hot_key(
        self, spark, skewed_dir
    ):
        """The bot's 600-events-per-hour collapse to ONE dedup-state
        entry per (window, user): exact counts survive the hot key and
        dedup state is bounded by distinct pairs, not event volume."""
        glob, schema, rows = skewed_dir
        stream = ingest.read_stream(
            spark, glob, schema, max_files_per_trigger=1
        )
        agg = ingest.windowed_distinct_users(stream, window="1 hour")
        q = ingest.write_stream_memory(agg, "hot_wdu")
        q.awaitTermination(120)
        out = {
            r["win"]["start"]: r["distinct_users"]
            for r in spark.table("hot_wdu").collect()
        }
        # watermark (1h delay) finalizes at least the first 4 hours
        assert len(out) >= 4
        # every emitted window: 3 users + bot = 4, despite the bot's
        # 10×-per-minute event share
        assert set(out.values()) == {4}
        # dedup state never exceeds the distinct (window, user) pairs
        # of the whole run (6 windows × 4 users) — NOT the ~4.7k rows
        dedup = [
            op for op in self._state(q)
            if "dedupe" in op.get("operatorName", "").lower()
        ]
        assert dedup, self._state(q)
        assert dedup[0]["numRowsTotal"] <= 6 * 4

    def test_approx_state_is_per_window_not_per_user(
        self, spark, skewed_dir
    ):
        """HLL state rows == open windows (sketches), independent of
        both user cardinality and the hot key's event share."""
        glob, schema, rows = skewed_dir
        stream = ingest.read_stream(
            spark, glob, schema, max_files_per_trigger=1
        )
        agg = ingest.windowed_distinct_users_approx(
            stream, window="1 hour", rsd=0.01
        )
        q = ingest.write_stream_memory(agg, "hot_wda")
        q.awaitTermination(120)
        got = {
            r["win"]["start"]: r["distinct_users_approx"]
            for r in spark.table("hot_wda").collect()
        }
        assert len(got) >= 4
        # 4 true distinct per window; rsd=1% on n=4 is exact in practice
        assert set(got.values()) == {4}
        aggstate = [
            op for op in self._state(q)
            if "dedupe" not in op.get("operatorName", "").lower()
        ]
        assert aggstate
        # one state row per un-evicted window — never per user/event
        assert aggstate[0]["numRowsTotal"] <= 6

    def test_interval_join_output_parity_and_eviction_under_hot_key(
        self, spark, skewed_dir
    ):
        """Bot click×purchase amplification is the join's SEMANTICS:
        streaming output must equal the batch interval join row-for-row
        count, and join state must be watermark-evicted (rows removed
        as event time advances), not retained for the bot's history."""
        glob, schema, rows = skewed_dir
        left = ingest.read_stream(
            spark, glob, schema, max_files_per_trigger=1
        )
        right = ingest.read_stream(
            spark, glob, schema, max_files_per_trigger=1
        )
        clicks = left.where(F.col("event_type") == "click").select(
            "user_id", "event_id", "ts"
        )
        purchases = right.where(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("r_user_id"),
            F.col("event_id").alias("r_event_id"),
            F.col("ts").alias("r_ts"),
        )
        joined = ingest.interval_join_streams(
            clicks, purchases, "user_id", "ts", "r_ts",
            lower="0 seconds", upper="10 minutes",
            watermark="30 minutes",
        )
        q = ingest.write_stream_memory(joined, "hot_ssj")
        q.awaitTermination(180)
        got = spark.table("hot_ssj").count()

        batch = spark.read.schema(schema).parquet(glob)
        bc = batch.where(F.col("event_type") == "click").select(
            "user_id", "event_id", "ts"
        )
        bp = batch.where(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("r_user_id"),
            F.col("ts").alias("r_ts"),
        )
        exp = bc.join(
            bp,
            (F.col("user_id") == F.col("r_user_id"))
            & (F.col("r_ts") >= F.col("ts"))
            & (
                F.col("r_ts")
                <= F.col("ts") + F.expr("INTERVAL 10 MINUTE")
            ),
        ).count()
        assert got == exp
        # state was evicted across batches: rows removed, and end-state
        # is far below the total rows buffered over the run
        ops = self._state(q)
        assert ops
        total_removed = sum(op.get("numRowsRemoved", 0) for op in ops)
        assert total_removed > 0, ops
        n_input = len(
            [r for r in rows if r[3] in ("click", "purchase")]
        )
        assert sum(op["numRowsTotal"] for op in ops) < n_input


class TestStreamShufflePartitionSizing:
    """r14: stateful stream shuffle partitions derive from input
    volume (guide §2.2), never core count — pinned here so the rule's
    three regimes (volume-derived, Python-stateful opt-out, unknown-
    source opt-out) stay loud."""

    def _bar_stream(self, spark, bar_dir):
        return ingest.read_stream(spark, bar_dir, BAR_SCHEMA)

    def test_small_file_source_floors_at_two(self, spark, bar_dir):
        df = self._bar_stream(spark, bar_dir).groupBy("isin").count()
        size = ingest._stream_source_bytes(df)
        assert size is not None and 0 < size < (8 << 20)
        assert ingest._stream_shuffle_partitions(df) == 2

    def test_volume_rule_clamps_at_session_default(
        self, spark, bar_dir, monkeypatch
    ):
        # shrink the per-partition target so even the tiny fixture
        # "wants" thousands of partitions: the session default (4 in
        # the test session) must cap it — the rule can only ever
        # REDUCE partitions, never exceed the operator-sized setting
        monkeypatch.setattr(ingest, "_STREAM_PARTITION_TARGET_BYTES", 1)
        df = self._bar_stream(spark, bar_dir).groupBy("isin").count()
        default = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert ingest._stream_shuffle_partitions(df) == default

    def test_python_stateful_plan_keeps_default(self, spark, bar_dir):
        # applyInPandasWithState work is per-row Python kernel time:
        # partitions are its parallelism — the sizing must opt out
        df = ingest.running_forward_fill(self._bar_stream(spark, bar_dir))
        assert ingest._stream_shuffle_partitions(df) is None

    def test_non_file_source_keeps_default(self, spark):
        df = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", "1")
            .load()
            .groupBy("value")
            .count()
        )
        assert ingest._stream_source_bytes(df) is None
        assert ingest._stream_shuffle_partitions(df) is None

    def test_write_stream_memory_restores_session_conf(
        self, spark, bar_dir
    ):
        before = spark.conf.get("spark.sql.shuffle.partitions")
        agg = self._bar_stream(spark, bar_dir).groupBy("isin").count()
        q = ingest.write_stream_memory(
            agg, "conf_restore_probe", output_mode="complete"
        )
        q.awaitTermination(120)
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
        # the launched query really ran at the derived count: its
        # state operator reports 2 partitions, not the session's 4
        progress = q.recentProgress
        assert progress, "query produced no progress"
        ops = progress[-1]["stateOperators"]
        assert ops and all(
            op["numShufflePartitions"] == 2 for op in ops
        ), ops


_T0 = dt.datetime(2020, 11, 24, 9, 0)

# Quotes with silent minutes between them: the forward-filled price must
# never come from a LATER quote.
_CHUNK_BARS = [
    ("DE0001", _T0 + dt.timedelta(minutes=m), p)
    for m, p in [(0, 100.0), (1, None), (2, None), (3, None), (4, None),
                 (5, 105.0), (6, None)]
] + [
    ("DE0002", _T0 + dt.timedelta(minutes=m), p)
    for m, p in [(0, None), (1, 7.0), (2, None), (3, 6.5), (4, None)]
]
_CHUNK_BAR_SCHEMA = "isin string, trading_ts timestamp, end_price double"

# Non-monotone values so running max, z-score and CUSUM all depend on
# row order; user 1 drifts far enough above target to raise alarms.
_CHUNK_EVENTS = [
    (uid, uid * 100 + i, _T0 + dt.timedelta(seconds=i), v)
    for uid, vals in [
        (1, [70.0, 95.0, 40.0, 130.0, 55.0, 120.0, 20.0, 150.0]),
        (2, [10.0, 12.0, 11.0, 90.0, 9.0, 13.0, 12.0]),
    ]
    for i, v in enumerate(vals)
]
_CHUNK_EVENT_SCHEMA = "user_id bigint, event_id bigint, ts timestamp, value double"

_PER_KEY_STATE_OPS = {
    "running_forward_fill": (
        ingest.running_forward_fill, _CHUNK_BARS, _CHUNK_BAR_SCHEMA
    ),
    "running_event_stats": (
        ingest.running_event_stats, _CHUNK_EVENTS, _CHUNK_EVENT_SCHEMA
    ),
    "streaming_anomaly_zscore": (
        ingest.streaming_anomaly_zscore, _CHUNK_EVENTS, _CHUNK_EVENT_SCHEMA
    ),
    "streaming_cusum": (
        ingest.streaming_cusum, _CHUNK_EVENTS, _CHUNK_EVENT_SCHEMA
    ),
}


@pytest.mark.parametrize("op", sorted(_PER_KEY_STATE_OPS))
def test_per_key_state_scan_sorts_across_arrow_chunks(spark, tmp_path, op):
    """A key's rows reach the stateful kernel as several Arrow chunks
    in arrival order. Written in descending time order and cut into
    2-row chunks, every per-key stream operator must give exactly the
    output it gives on ascending input in one chunk: the scan sorts
    the concatenated group once, never chunk by chunk (a per-chunk
    sort made the forward fill carry a later quote backwards)."""
    build, rows, schema = _PER_KEY_STATE_OPS[op]

    def run(tag, ordered):
        src = str(tmp_path / tag)
        spark.createDataFrame(ordered, schema).coalesce(1).write.parquet(src)
        stream = ingest.read_stream(spark, src, spark.read.parquet(src).schema)
        out = _run_to_memory(spark, build(stream), f"chunks_{op}_{tag}")
        return sorted(out.collect(), key=str)

    # the timestamp is the second-to-last field of both row shapes
    expected = run("asc", sorted(rows, key=lambda r: r[-2]))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "2")
    try:
        got = run("desc", sorted(rows, key=lambda r: r[-2], reverse=True))
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert len(expected) == len(rows)
    assert got == expected


# A group whose value column is NULL on every row, so each of its 2-row
# chunks is all-NA there: the entries whose dtype inference pandas has
# deprecated in concatenation.
_ALL_NA_GROUP = {
    _CHUNK_BAR_SCHEMA: [
        ("DE0003", _T0 + dt.timedelta(minutes=m), None) for m in range(3)
    ],
    _CHUNK_EVENT_SCHEMA: [
        (3, 300 + i, _T0 + dt.timedelta(seconds=i), None) for i in range(3)
    ],
}
_STEP_INPUT_DTYPES = {
    _CHUNK_BAR_SCHEMA: {
        "isin": "object", "trading_ts": "datetime64[ns]", "end_price": "float64",
    },
    _CHUNK_EVENT_SCHEMA: {
        "user_id": "int64", "event_id": "int64", "ts": "datetime64[ns]",
        "value": "float64",
    },
}


@pytest.mark.parametrize("op", sorted(_PER_KEY_STATE_OPS))
def test_per_key_state_scan_step_input_dtypes(spark, tmp_path, monkeypatch, op):
    """The pandas dtypes ``_keyed_state_scan`` hands each step function
    are pinned per column, for every group, the all-NA one included, so
    a pandas upgrade cannot change them silently. The step is swapped
    for a probe that reports its frame's dtypes as its output."""
    from quanta_etl_spark.operators.util import scoped_conf

    build, rows, schema = _PER_KEY_STATE_OPS[op]
    rows = rows + _ALL_NA_GROUP[schema]
    scan = ingest._keyed_state_scan

    def probing_scan(df, key, order, step, state_schema, output_schema):
        def probe(key_vals, pdf, carried):
            dtypes = json.dumps({c: str(t) for c, t in pdf.dtypes.items()})
            return pd.DataFrame({"k": [str(key_vals[0])], "dtypes": [dtypes]}), None

        return scan(df, key, order, probe, state_schema, "k string, dtypes string")

    monkeypatch.setattr(ingest, "_keyed_state_scan", probing_scan)
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = ingest.read_stream(spark, src, spark.read.parquet(src).schema)
    with scoped_conf(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "2"}):
        seen = _run_to_memory(spark, build(stream), f"dtypes_{op}").collect()
    assert sorted(r.k for r in seen) == sorted({str(r[0]) for r in rows})
    for r in seen:
        assert json.loads(r.dtypes) == _STEP_INPUT_DTYPES[schema], r.k


def _stream_query_names() -> list[str]:
    import __spark_entry__ as E

    return sorted(n for n in E.queries() if n.startswith("stream_"))


@pytest.fixture(scope="module")
def duck_oracle(sf_dir):
    """DuckDB views over every sf_dir table, as the oracle gate builds them."""
    import os

    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.sql(
                f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * "
                f"FROM read_parquet('{sf_dir}/{f}')"
            )
    yield con
    con.close()


@pytest.mark.parametrize("name", _stream_query_names())
def test_stream_query_matches_duckdb_oracle(spark, sf_dir, duck_oracle, name):
    """Every bounded stream query hash-matches its DuckDB oracle at
    sf0.001 (the canonical hash of tools/check_oracle.py)."""
    import __spark_entry__ as E
    from tools.check_oracle import canonicalize, duckdb_result, spark_result

    s_rows, s_cols = spark_result(E.queries()[name](spark, sf_dir))
    d_rows, d_cols, _ = duckdb_result(duck_oracle, E.oracle_sql()[name])
    assert sorted(s_cols) == sorted(d_cols)
    s_hash, s_n = canonicalize(s_rows, s_cols)
    d_hash, d_n = canonicalize(d_rows, d_cols)
    assert s_n > 0
    assert (s_hash, s_n) == (d_hash, d_n)


def test_scoped_conf_restores_on_every_exit_path(spark):
    """A set key gets its old value back and an unset key is unset
    again, also when the body raises."""
    from quanta_etl_spark.operators.util import scoped_conf

    unset_key = "spark.quanta.test.scopedConf"
    set_key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(set_key)
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {set_key: "7", unset_key: "x"}):
            assert spark.conf.get(set_key) == "7"
            assert spark.conf.get(unset_key) == "x"
            raise RuntimeError("body failed")
    assert spark.conf.get(set_key) == before
    assert spark.conf.get(unset_key, None) is None


@pytest.mark.parametrize(
    "name",
    ["stream_stateful_running", "stream_sliding_window", "stream_hourly_stats"],
)
def test_stream_query_restores_session_confs(spark, sf_dir, name):
    """A stream query pins UTC and nanosAsLong only while it is built
    and run: on a Europe/Berlin session the session stays at
    Europe/Berlin, and the canonical hash is the one a UTC session
    gives. stream_sliding_window emits epoch seconds, so it fails if
    the stream's NTZ->TIMESTAMP cast sees Berlin; stream_hourly_stats
    formats its window starts after the run, so it fails unless the
    time zone is fixed when the frame is built, inside the scope."""
    import __spark_entry__ as E
    from quanta_etl_spark.operators.util import scoped_conf
    from tools.check_oracle import canonicalize, spark_result

    tz, nanos = "spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong"
    query = E.queries()[name]
    utc = canonicalize(*spark_result(query(spark, sf_dir)))
    with scoped_conf(spark, {tz: "Europe/Berlin", nanos: "false"}):
        berlin = canonicalize(*spark_result(query(spark, sf_dir)))
        assert spark.conf.get(tz) == "Europe/Berlin"
        assert spark.conf.get(nanos) == "false"
    assert berlin == utc


def test_stateful_running_query_job_count(spark, sf_dir):
    """``stream_stateful_running`` at sf0.001, with a no-op write as
    its action, runs the same number of Spark jobs on two runs, at most
    2 per run: the jobs of its build and action plus the micro-batch
    jobs, which run under the stream's own job group (its run id). A
    warm-up load infers ``events``' schema first, so neither run pays
    that job."""
    import __spark_entry__ as E
    from pyspark.sql.streaming import StreamingQueryListener

    from quanta_etl_spark.sources.testdata import load_table

    class RunIds(StreamingQueryListener):
        def __init__(self):
            self.ids = []

        def onQueryStarted(self, event):
            self.ids.append(str(event.runId))

        def onQueryProgress(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    load_table(spark, sf_dir, "events")
    sc = spark.sparkContext
    runs = RunIds()
    spark.streams.addListener(runs)
    jobs = []
    try:
        for run in range(2):
            group = f"stateful-running-structure-{run}"
            started = len(runs.ids)
            sc.setJobGroup(group, group)
            try:
                E.q_stream_stateful_running(spark, sf_dir).write.format(
                    "noop"
                ).mode("overwrite").save()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            groups = [group, *runs.ids[started:]]
            assert len(groups) == 2, groups
            jobs.append(
                sum(len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups)
            )
    finally:
        spark.streams.removeListener(runs)
    assert jobs[0] == jobs[1] <= 2, jobs
