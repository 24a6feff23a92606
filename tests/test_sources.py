"""Source readers (sources/readers.py): CSV positional schema bind,
JSON/ORC/parquet round-trips, partitioned sink layout."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from quanta_etl_spark.sources import readers


@pytest.fixture(scope="module")
def small_df(spark):
    return spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, None, 3.5)],
        "id long, name string, score double",
    )


def test_csv_positional_bind(spark, tmp_path):
    """header=True + explicit schema binds by POSITION: the header row is
    only used to skip line 1, so the schema renames AND retypes in one
    step (the reference's trick, etl.py:53 — SURVEY.md §1.3)."""
    p = tmp_path / "in.csv"
    p.write_text("ISIN,Mnemonic,Price\nDE01,SAP,42.5\nDE02,BMW,13.25\n")
    schema = StructType(
        [
            StructField("isin", StringType()),
            StructField("mnemonic", StringType()),
            StructField("price", DoubleType()),
        ]
    )
    df = readers.read_csv(spark, str(p), schema)
    assert df.columns == ["isin", "mnemonic", "price"]
    rows = {r["isin"]: r for r in df.collect()}
    assert rows["DE01"]["price"] == 42.5
    assert df.schema["price"].dataType == DoubleType()


def test_json_roundtrip(spark, small_df, tmp_path):
    p = str(tmp_path / "j")
    small_df.write.json(p)
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("score", DoubleType()),
        ]
    )
    back = readers.read_json(spark, p, schema)
    assert sorted(tuple(r) for r in back.select("id", "name", "score").collect()) == \
        sorted(tuple(r) for r in small_df.collect())


def test_orc_roundtrip(spark, small_df, tmp_path):
    p = str(tmp_path / "o")
    small_df.write.orc(p)
    back = readers.read_orc(spark, p)
    assert sorted(tuple(r) for r in back.select("id", "name", "score").collect()) == \
        sorted(tuple(r) for r in small_df.collect())


def test_partitioned_sink_layout(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, ["x", "y"][i % 2], float(i)) for i in range(10)],
        "id long, part string, v double",
    )
    out = str(tmp_path / "part_out")
    readers.write_partitioned_parquet(df, out, "part", max_records_per_file=2)
    names = {f.name for f in __import__("pathlib").Path(out).iterdir()}
    assert "part=x" in names and "part=y" in names
    back = spark.read.parquet(out)
    assert back.count() == 10
    # partition column survives the hive layout round-trip
    assert back.where(F.col("part") == "x").count() == 5


def test_decimal_price_schema_variant(spark, tmp_path):
    """with_decimal_prices swaps every price column to DECIMAL(18,4) and
    decimal sums are exact (no binary-float drift)."""
    from decimal import Decimal

    from quanta_etl_spark import schemas

    dec = schemas.with_decimal_prices(schemas.XETRA_SCHEMA)
    by_name = {f.name: f.dataType for f in dec.fields}
    assert str(by_name["start_price"]) == "DecimalType(18,4)"
    assert str(by_name["end_price"]) == "DecimalType(18,4)"
    assert str(by_name["isin"]) == "StringType()"  # untouched
    assert str(by_name["traded_volume"]) == "LongType()"

    # 0.1 summed 100x: exact 10.0000 in decimal (would be 9.99..98 in double)
    df = spark.createDataFrame(
        [(Decimal("0.1000"),)] * 100, schema="p decimal(18,4)"
    )
    total = df.agg(F.sum("p").alias("s")).collect()[0]["s"]
    assert total == Decimal("10.0000")


def test_write_clustered_parquet_rowgroup_ranges(spark, tmp_path):
    """Clustered writes must produce key-disjoint files: each file's
    min/max range on the cluster key should not overlap others (that is
    what makes parquet zone-map skipping effective)."""
    import pyarrow.parquet as pq

    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    out = str(tmp_path / "clustered")
    readers.write_clustered_parquet(df, out, "id", num_files=4)
    files = sorted(str(p) for p in __import__("pathlib").Path(out).glob("*.parquet"))
    assert len(files) == 4
    ranges = []
    for f in files:
        t = pq.read_table(f, columns=["id"])
        ids = t.column("id").to_pylist()
        assert ids == sorted(ids)  # sorted within file
        ranges.append((ids[0], ids[-1]))
    ranges.sort()
    for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint key ranges across files


def test_compact_parquet_migrates_flat_dir_to_versioned(spark, tmp_path):
    """First compaction of a plain directory commits v0000000001 +
    _COMMITTED and sweeps the flat part-files (VERDICT r6 #6 — the
    rename-swap's reader-visible window is gone)."""
    out = str(tmp_path / "many")
    spark.range(0, 1000).repartition(50).write.parquet(out)
    import pathlib

    before = len(list(pathlib.Path(out).glob("*.parquet")))
    assert before == 50
    n = readers.compact_parquet(spark, out, target_partition_bytes=1 << 30)
    assert n == 1
    # migrated: exactly one committed version, flat files swept
    assert readers.list_versions(spark, out) == [1]
    v1 = pathlib.Path(out) / readers._VERSION_FMT.format(1)
    assert (v1 / readers._COMMIT_MARKER).exists()
    assert len(list(v1.glob("*.parquet"))) == 1
    assert list(pathlib.Path(out).glob("*.parquet")) == []
    back = readers.read_versioned_parquet(spark, out)
    assert back.count() == 1000
    assert back.agg(F.sum("id")).collect()[0][0] == 499500


def test_compact_parquet_migration_crash_recovery(spark, tmp_path):
    """Crash-injection for first-compaction of a flat dir: a writer
    that died between its v1 commit and its flat-file sweep leaves
    both visible. Versioned readers already see only v1; the next
    compact_parquet must finish the sweep and not resurrect flat
    rows."""
    out = str(tmp_path / "crashy")
    spark.range(0, 100).repartition(10).write.parquet(out)
    import pathlib

    # Simulate the crash window: v1 fully committed (as the migration
    # does), but the flat part-files were never swept.
    readers.write_versioned_parquet(
        spark.read.parquet(out).repartition(2), out
    )
    assert readers.list_versions(spark, out) == [1]
    assert len(list(pathlib.Path(out).glob("*.parquet"))) == 10
    # Recovery run: takes the versioned branch, compacts v1 -> v2,
    # sweeps the flat leftovers.
    n = readers.compact_parquet(spark, out, target_partition_bytes=1 << 30)
    assert n == 1
    assert readers.list_versions(spark, out) == [1, 2]
    assert list(pathlib.Path(out).glob("*.parquet")) == []
    assert list(pathlib.Path(out).glob("_SUCCESS")) == []
    back = readers.read_versioned_parquet(spark, out)
    assert back.count() == 100
    assert back.agg(F.sum("id")).collect()[0][0] == 4950
    # claim tombstones survive the sweep (they guard version numbers)
    assert (pathlib.Path(out) / "v0000000001._claim").exists()


def test_read_text_lines_and_whole_file(spark, tmp_path):
    from quanta_etl_spark.sources import readers
    import pyspark.sql.functions as F

    d = tmp_path / "txt"
    d.mkdir()
    (d / "a.txt").write_text("line one\nline two\n")
    (d / "b.txt").write_text("solo document")
    lines = readers.read_text(spark, str(d / "*.txt"))
    assert sorted(r["value"] for r in lines.collect()) == [
        "line one",
        "line two",
        "solo document",
    ]
    docs = readers.read_text(spark, str(d / "*.txt"), whole_file=True)
    vals = sorted(r["value"] for r in docs.collect())
    assert vals == ["line one\nline two\n", "solo document"]
    # provenance pairing
    named = docs.select(
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("f"),
        "value",
    )
    assert {r["f"] for r in named.collect()} == {"a.txt", "b.txt"}


def test_python_datasource_synthetic_events(spark):
    from quanta_etl_spark.sources.pysource import SyntheticEventsDataSource

    spark.dataSource.register(SyntheticEventsDataSource)

    def load(**opts):
        r = spark.read.format("synthetic_events")
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    df = load(rows=500, partitions=5, seed=9)
    assert df.count() == 500
    assert df.rdd.getNumPartitions() == 5
    assert df.schema.simpleString() == (
        "struct<event_id:bigint,ts:timestamp,user_id:bigint,"
        "event_type:string,value:double>"
    )
    # deterministic across invocations (retry safety)
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, load(rows=500, partitions=5, seed=9).collect())
    )
    # event_ids are a contiguous 0-based range across partitions
    ids = sorted(r["event_id"] for r in df.collect())
    assert ids == list(range(500))
    # partition plan drops empty tails (rows < partitions)
    assert load(rows=3, partitions=8, seed=1).rdd.getNumPartitions() == 3


def test_python_datasource_streaming(spark, tmp_path):
    from quanta_etl_spark.sources.pysource import SyntheticEventsDataSource

    spark.dataSource.register(SyntheticEventsDataSource)
    stream = (
        spark.readStream.format("synthetic_events")
        .option("rows_per_batch", 50)
        .option("seed", 3)
        .load()
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("synthetic_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("synthetic_stream")
    n = out.count()
    assert n >= 50 and n % 50 == 0  # whole micro-batches of 50
    ids = sorted(r["event_id"] for r in out.collect())
    assert ids == list(range(n))  # offset = next event_id, no gaps


# ---------------------------------------------------------------------------
# Versioned (MVCC) parquet table — atomic commit, crash injection
# ---------------------------------------------------------------------------


def test_versioned_publish_and_read(spark, tmp_path):
    path = str(tmp_path / "vtable")
    v1 = readers.write_versioned_parquet(
        spark.createDataFrame([(1, "a")], "k int, v string"), path
    )
    v2 = readers.write_versioned_parquet(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), path
    )
    assert (v1, v2) == (1, 2)
    assert readers.list_versions(spark, path) == [1, 2]
    assert readers.read_versioned_parquet(spark, path).count() == 2
    # pinned read of the retained old version
    assert readers.read_versioned_parquet(spark, path, version=1).count() == 1


def test_versioned_crashed_writer_is_invisible(spark, tmp_path):
    """Crash injection: a writer that died AFTER writing data but
    BEFORE creating the _COMMITTED marker must leave the table exactly
    as it was — readers resolve the previous version, never a partial
    one."""
    path = str(tmp_path / "vtable")
    readers.write_versioned_parquet(
        spark.createDataFrame([(1, "a")], "k int, v string"), path
    )
    # simulate the crash: data fully written, marker never created
    orphan = path + "/" + readers._VERSION_FMT.format(2)
    spark.createDataFrame([(99, "z")], "k int, v string").write.parquet(orphan)
    assert readers.list_versions(spark, path) == [1]
    got = readers.read_versioned_parquet(spark, path).collect()
    assert [(r.k, r.v) for r in got] == [(1, "a")]
    # next successful publish skips over the orphan's number or reuses
    # it safely — either way it commits and the orphan stays invisible
    readers.write_versioned_parquet(
        spark.createDataFrame([(2, "b")], "k int, v string"), path,
    )
    assert readers.read_versioned_parquet(spark, path).count() == 1
    assert [
        (r.k, r.v) for r in readers.read_versioned_parquet(spark, path).collect()
    ] == [(2, "b")]


def test_versioned_reader_survives_concurrent_publish(spark, tmp_path):
    """The flaw this layout fixes: with rename-swap a reader caught
    mid-swap 404s. Here a DataFrame bound to version N keeps reading
    its immutable directory while version N+1 is published, and fresh
    readers see N+1 — at every instant every reader has one complete
    version."""
    path = str(tmp_path / "vtable")
    readers.write_versioned_parquet(
        spark.createDataFrame([(i, "old") for i in range(5)], "k int, v string"),
        path,
    )
    old_reader = readers.read_versioned_parquet(spark, path)
    readers.write_versioned_parquet(
        spark.createDataFrame([(i, "new") for i in range(7)], "k int, v string"),
        path,
        keep_versions=2,
    )
    assert old_reader.count() == 5  # v1 retained, still complete
    assert readers.read_versioned_parquet(spark, path).count() == 7
    # retention GC: keep_versions=1 drops v1 strictly AFTER v3 commits
    readers.write_versioned_parquet(
        spark.createDataFrame([(0, "x")], "k int, v string"), path,
        keep_versions=1,
    )
    assert readers.list_versions(spark, path) == [3]


def test_versioned_racing_writers_one_wins(spark, tmp_path):
    """Two writers racing to commit the same version number: marker
    create uses overwrite=False, so the second create throws instead of
    silently double-committing. (Serialized here; the atomicity is the
    FS create's.)"""
    path = str(tmp_path / "vtable")
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    readers.write_versioned_parquet(df, path)
    jvm, fs, _ = readers._hadoop_fs(spark, path)
    marker = jvm.org.apache.hadoop.fs.Path(
        path + "/" + readers._VERSION_FMT.format(1) + "/" + readers._COMMIT_MARKER
    )
    import py4j.protocol
    import pytest as _pytest

    with _pytest.raises(py4j.protocol.Py4JJavaError):
        fs.create(marker, False).close()


def test_versioned_claim_race_loser_retries(spark, tmp_path):
    """ADVICE r5 commit-protocol hardening: a concurrent writer's
    ``v<N>._claim`` makes the next writer retry with a HIGHER number —
    data is staged in a writer-unique directory first, so the loser
    never writes a single part-file into someone else's version."""
    path = str(tmp_path / "vtable")
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    readers.write_versioned_parquet(df, path)
    # simulate a racing writer holding the claim for version 2
    jvm, fs, _ = readers._hadoop_fs(spark, path)
    held = jvm.org.apache.hadoop.fs.Path(
        path + "/" + readers._VERSION_FMT.format(2) + readers._CLAIM_SUFFIX
    )
    fs.create(held, False).close()
    v = readers.write_versioned_parquet(
        spark.createDataFrame([(2, "b")], "k int, v string"), path
    )
    assert v == 3  # skipped the held number, never touched v2
    assert readers.list_versions(spark, path) == [1, 3]
    assert [
        (r.k, r.v)
        for r in readers.read_versioned_parquet(spark, path).collect()
    ] == [(2, "b")]
    # no stray staging directories left behind
    stray = [
        st.getPath().getName()
        for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(path))
        if st.getPath().getName().startswith("_staging_")
    ]
    assert stray == []


def test_versioned_pinned_reader_gc_contract(spark, tmp_path):
    """VERDICT r5 #7: the retention contract under GC. A reader pinned
    to version N stays valid as long as N is inside the retention
    window; once GC drops N the pinned plan fails LOUDLY on its next
    action (never silently serves other data). Size keep_versions to
    the longest-running reader."""
    path = str(tmp_path / "vtable")
    readers.write_versioned_parquet(
        spark.createDataFrame([(i, "v1") for i in range(5)], "k int, v string"),
        path,
    )
    pinned = readers.read_versioned_parquet(spark, path, version=1)
    # publish v2 with retention covering v1: pinned reader still whole
    readers.write_versioned_parquet(
        spark.createDataFrame([(0, "v2")], "k int, v string"),
        path,
        keep_versions=2,
    )
    assert pinned.count() == 5
    # publish v3 with retention 1: v1 and v2 are GC'd; the pinned
    # reader's directory is gone → loud failure, not wrong rows
    readers.write_versioned_parquet(
        spark.createDataFrame([(0, "v3")], "k int, v string"),
        path,
        keep_versions=1,
    )
    assert readers.list_versions(spark, path) == [3]
    with pytest.raises(Exception):
        pinned.count()


def test_compact_versioned_table_publishes_new_version(spark, tmp_path):
    """VERDICT r5 #3: compaction of an MVCC table goes through the
    commit protocol — the compacted rewrite lands as the NEXT version
    (no rename window), and the pre-compaction version stays readable
    within retention."""
    import pathlib

    path = str(tmp_path / "vtable")
    readers.write_versioned_parquet(
        spark.createDataFrame(
            [(i, f"s{i}") for i in range(64)], "k int, v string"
        ).repartition(16),
        path,
    )
    before = readers.read_versioned_parquet(spark, path, version=1)
    n_files_before = len(
        list((pathlib.Path(path) / readers._VERSION_FMT.format(1)).glob(
            "*.parquet"
        ))
    )
    assert n_files_before == 16
    n = readers.compact_parquet(spark, path, target_partition_bytes=1 << 30)
    assert n == 1
    assert readers.list_versions(spark, path) == [1, 2]
    v2_files = list(
        (pathlib.Path(path) / readers._VERSION_FMT.format(2)).glob("*.parquet")
    )
    assert len(v2_files) == 1
    after = readers.read_versioned_parquet(spark, path)
    assert sorted((r.k, r.v) for r in after.collect()) == sorted(
        (r.k, r.v) for r in before.collect()
    )


def test_zorder_write_skips_on_both_columns(spark, tmp_path):
    """Z-order clustering: with two independent uniform columns, every
    file must cover a NARROW range of BOTH dimensions (a plain
    single-column sort leaves the second dimension's per-file range at
    ~100% — no skipping). Verified from the parquet footer min/max
    stats, i.e. exactly what a scan's row-group pruning reads."""
    import pyarrow.parquet as pq
    import pathlib

    n = 40_000
    df = spark.range(n).select(
        (F.xxhash64("id") % 10_000).cast("double").alias("x"),
        (F.xxhash64("id", F.lit(1)) % 10_000).cast("double").alias("y"),
        F.col("id"),
    )
    zpath = str(tmp_path / "zordered")
    readers.write_zordered_parquet(df, zpath, ["x", "y"], bits=8, num_files=16)

    def coverage(path, col):
        spans = []
        for f in pathlib.Path(path).glob("*.parquet"):
            md = pq.ParquetFile(str(f)).metadata
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                for i in range(md.num_columns):
                    c = md.row_group(rg).column(i)
                    if c.path_in_schema == col and c.statistics:
                        s = c.statistics
                        lo = s.min if lo is None else min(lo, s.min)
                        hi = s.max if hi is None else max(hi, s.max)
            if lo is not None:
                spans.append((hi - lo) / 20_000.0)  # global range ≈ 20k
        return sum(spans) / len(spans)

    # plain x-sorted baseline: y is uncorrelated -> per-file y range ~ 1
    ppath = str(tmp_path / "xsorted")
    readers.write_clustered_parquet(df, ppath, "x", num_files=16)
    assert coverage(ppath, "y") > 0.85
    # z-ordered: BOTH dims narrow per file
    cx, cy = coverage(zpath, "x"), coverage(zpath, "y")
    assert cx < 0.5 and cy < 0.5, (cx, cy)
    # and the data survived intact
    assert spark.read.parquet(zpath).count() == n
    assert (
        spark.read.parquet(zpath).agg(F.sum("id")).first()[0]
        == df.agg(F.sum("id")).first()[0]
    )


def test_clustered_write_bloom_filters(spark, tmp_path):
    """bloom_cols must land real parquet bloom filters — the point-
    lookup skipping mechanism for columns the clustering doesn't order
    (min/max is useless on a scattered hash id). Neither pyarrow 16 nor
    duckdb 1.0 exposes the bloom offset in footer metadata, so the
    evidence is the on-disk footprint: the same clustered data written
    with a bloom filter must carry the extra filter bytes (~1.2
    bytes/NDV), and the data itself must be unchanged."""
    import pathlib

    df = spark.range(0, 50_000).select(
        F.col("id"), F.xxhash64("id").alias("doc_hash")
    )
    plain, bloomed = str(tmp_path / "plain"), str(tmp_path / "bloomed")
    readers.write_clustered_parquet(df, plain, "id", num_files=2)
    readers.write_clustered_parquet(
        df, bloomed, "id", num_files=2, bloom_cols=["doc_hash"]
    )

    def nbytes(path):
        return sum(
            f.stat().st_size for f in pathlib.Path(path).glob("*.parquet")
        )

    delta = nbytes(bloomed) - nbytes(plain)
    assert delta > 20_000, delta  # ≥ the expected filter footprint
    a = spark.read.parquet(plain).agg(F.bit_xor("doc_hash")).first()[0]
    b = spark.read.parquet(bloomed).agg(F.bit_xor("doc_hash")).first()[0]
    assert a == b


def test_schema_evolution_merge_and_union(spark, tmp_path):
    """Evolving corpus batches: mergeSchema reconciles footers written
    before/after a column was added; union_evolved aligns drifted
    batch schemas by NAME with NULL-fill (positional union would
    silently mismatch)."""
    old = spark.createDataFrame([(1, "a")], "id long, text string")
    new = spark.createDataFrame(
        [(2, "b", "en")], "id long, text string, lang string"
    )
    p = str(tmp_path / "evolving")
    old.write.parquet(p + "/batch=0")
    new.write.parquet(p + "/batch=1")
    merged = readers.read_parquet(spark, p, merge_schema=True)
    assert set(merged.columns) >= {"id", "text", "lang"}
    got = {r.id: r.lang for r in merged.collect()}
    assert got == {1: None, 2: "en"}
    # name-based union of drifted in-memory batches
    u = readers.union_evolved(old, new.select("lang", "text", "id"))
    assert u.count() == 2
    assert {r.id: (r.text, r.lang) for r in u.collect()} == {
        1: ("a", None), 2: ("b", "en")
    }


def test_diff_versions_cdc(spark, tmp_path):
    """CDC between MVCC versions: insert/delete/update detection with
    both row images; unchanged rows never appear."""
    path = str(tmp_path / "cdc_table")
    readers.write_versioned_parquet(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
            "k int, s string, v double",
        ),
        path,
    )
    readers.write_versioned_parquet(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "B", 2.5), (4, "d", 4.0)],
            "k int, s string, v double",
        ),
        path,
    )
    got = {
        r.k: (r.change_type, r.old_s, r.new_s, r.old_v, r.new_v)
        for r in readers.diff_versions(spark, path, 1, 2, ["k"]).collect()
    }
    assert got == {
        2: ("update", "b", "B", 2.0, 2.5),
        3: ("delete", "c", None, 3.0, None),
        4: ("insert", None, "d", None, 4.0),
    }


def test_versioned_claim_persists_as_tombstone(spark, tmp_path):
    """Claims are retained after commit (review r6: deleting them lets
    a stale writer re-claim a committed number and rename INTO the
    committed directory); GC removes a version's claim with it."""
    path = str(tmp_path / "vt_claims")
    df = spark.range(3).toDF("id")
    for _ in range(3):
        readers.write_versioned_parquet(df, path, keep_versions=2)
    import os

    names = set(os.listdir(path))
    # live versions keep their claim tombstones
    assert "v0000000002._claim" in names
    assert "v0000000003._claim" in names
    # GC'd version 1 lost both its directory and its claim
    assert "v0000000001" not in names
    assert "v0000000001._claim" not in names
    # and the table still reads the latest version fine
    assert readers.read_versioned_parquet(spark, path).count() == 3


def test_versioned_truly_concurrent_writers_both_commit(spark, tmp_path):
    """REAL concurrency (not simulated): two threads race
    write_versioned_parquet on one table through one SparkSession.
    The claim protocol must give each a DISTINCT version number, both
    datasets must be fully readable afterwards, and no staging residue
    may remain — the multi-writer contract the ADVICE-r5 hardening
    promised, exercised with actual interleaving."""
    import threading

    path = str(tmp_path / "vtable")
    results: dict = {}
    errors: list = []

    def writer(tag: str, n_rows: int):
        try:
            df = spark.createDataFrame(
                [(i, tag) for i in range(n_rows)], "k int, v string"
            )
            results[tag] = readers.write_versioned_parquet(
                df, path, keep_versions=10
            )
        except Exception as e:  # pragma: no cover - failure detail
            errors.append((tag, repr(e)))

    threads = [
        threading.Thread(target=writer, args=("a", 7)),
        threading.Thread(target=writer, args=("b", 11)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert not errors, errors
    va, vb = results["a"], results["b"]
    assert va != vb and {va, vb} == {1, 2}
    assert readers.list_versions(spark, path) == [1, 2]
    # each committed version holds exactly its writer's complete data
    for tag, n_rows in (("a", 7), ("b", 11)):
        got = readers.read_versioned_parquet(
            spark, path, version=results[tag]
        ).collect()
        assert len(got) == n_rows
        assert {r.v for r in got} == {tag}
    # no staging residue
    jvm, fs, _ = readers._hadoop_fs(spark, path)
    stray = [
        st.getPath().getName()
        for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(path))
        if st.getPath().getName().startswith("_staging_")
    ]
    assert stray == []


def test_compact_parquet_migrates_hive_partitioned_flat_dir(spark, tmp_path):
    """Review r7: a hive-partitioned flat directory keeps its data in
    key=value SUBDIRECTORIES — the migration sweep must remove those
    too (a files-only sweep would permanently double storage), while
    never touching v-dirs, _staging_*, or claim tombstones."""
    out = str(tmp_path / "hive")
    df = spark.createDataFrame(
        [(i, ["x", "y"][i % 2], float(i)) for i in range(100)],
        "id long, part string, v double",
    )
    df.write.partitionBy("part").parquet(out)
    import pathlib

    assert (pathlib.Path(out) / "part=x").is_dir()
    n = readers.compact_parquet(spark, out, target_partition_bytes=1 << 30)
    assert n == 1
    assert readers.list_versions(spark, out) == [1]
    # old partition dirs swept; only MVCC entries remain at the root
    leftover = {
        p.name
        for p in pathlib.Path(out).iterdir()
        if not p.name.endswith(".crc")  # local-FS checksum shadows
    }
    assert leftover == {"v0000000001", "v0000000001._claim"}, leftover
    back = readers.read_versioned_parquet(spark, out)
    assert back.count() == 100
    # the inferred partition column survives as a regular column
    assert back.where(F.col("part") == "x").count() == 50


def test_compact_parquet_preserves_foreign_sidecars(spark, tmp_path):
    """ADVICE r7: the recovery sweep must only delete recognized
    flat-table artifacts — a user README, a foreign _metadata file,
    or an unrelated subdirectory at the table root survives both the
    flat->MVCC migration and subsequent versioned compactions."""
    import pathlib

    out = str(tmp_path / "sidecars")
    spark.range(0, 100).repartition(4).write.parquet(out)
    root = pathlib.Path(out)
    (root / "README.txt").write_text("do not delete")
    (root / "_metadata_notes").write_text("foreign sidecar")
    (root / "extras").mkdir()
    (root / "extras" / "keep.json").write_text("{}")

    # migration sweep: flat part-files go, foreign entries stay
    readers.compact_parquet(spark, out, target_partition_bytes=1 << 30)
    assert readers.list_versions(spark, out) == [1]
    assert list(root.glob("*.parquet")) == []
    assert not (root / "_SUCCESS").exists()
    assert (root / "README.txt").read_text() == "do not delete"
    assert (root / "_metadata_notes").exists()
    assert (root / "extras" / "keep.json").exists()

    # versioned-branch sweep (runs on EVERY compaction): still safe
    readers.compact_parquet(spark, out, target_partition_bytes=1 << 30)
    assert readers.list_versions(spark, out) == [1, 2]
    assert (root / "README.txt").exists()
    assert (root / "_metadata_notes").exists()
    assert (root / "extras" / "keep.json").exists()
    back = readers.read_versioned_parquet(spark, out)
    assert back.count() == 100


def test_compact_parquet_migration_warns_on_unrecognized_entries(
    spark, tmp_path
):
    """ADVICE r8: foreign entries survive the migration untouched, but
    they are also EXCLUDED from the versioned view — a flat dir whose
    data files came from a non-Spark writer (names outside the
    recognized contract) would silently lose rows. The migration must
    warn, naming the unmatched entries."""
    import pathlib
    import warnings

    out = str(tmp_path / "foreign")
    spark.range(0, 50).repartition(2).write.parquet(out)
    root = pathlib.Path(out)
    (root / "data_0001.bin").write_bytes(b"\x00" * 16)  # foreign "data"
    (root / "notes").mkdir()
    (root / "notes" / "x.txt").write_text("x")

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        readers.compact_parquet(spark, out, target_partition_bytes=1 << 30)
    msgs = [str(w.message) for w in caught if w.category is UserWarning]
    assert any(
        "did not match the recognized flat-parquet names" in m
        and "data_0001.bin" in m
        and "notes/" in m
        for m in msgs
    ), msgs
    # foreign entries still untouched; table migrated and readable
    assert (root / "data_0001.bin").exists()
    assert readers.read_versioned_parquet(spark, out).count() == 50

    # a CLEAN flat dir migrates with no warning at all
    clean = str(tmp_path / "clean")
    spark.range(0, 10).write.parquet(clean)
    with warnings.catch_warnings(record=True) as caught2:
        warnings.simplefilter("always")
        readers.compact_parquet(
            spark, clean, target_partition_bytes=1 << 30
        )
    assert not [
        w for w in caught2
        if w.category is UserWarning
        and "recognized flat-parquet" in str(w.message)
    ]


@pytest.mark.parametrize("vectorized", ["true", "false"])
def test_load_table_scopes_the_nanos_conf(spark, tmp_path, vectorized):
    """``load_table`` sets ``nanosAsLong`` only while it resolves the
    schema: the caller's session gets its value back, and the frame,
    collected after that, still reads the ns column right (truncated to
    microseconds), with the vectorized parquet reader on and off."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quanta_etl_spark.sources.testdata import load_table

    ns = [1_700_000_000_123_456_789, 1_600_000_000_000_001_999, None]
    pq.write_table(
        pa.table({"id": [1, 2, 3], "ts": pa.array(ns, pa.timestamp("ns", "UTC"))}),
        tmp_path / "events.parquet",
    )
    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    reader = "spark.sql.parquet.enableVectorizedReader"
    saved = {k: spark.conf.get(k, None) for k in (nanos, reader)}
    try:
        spark.conf.unset(nanos)
        spark.conf.set(reader, vectorized)
        df = load_table(spark, str(tmp_path), "events")
        assert spark.conf.get(nanos, None) is None
        got = df.orderBy("id").select(F.unix_micros("ts")).collect()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert [r[0] for r in got] == [1_700_000_000_123_456, 1_600_000_000_000_001, None]


def _jobs_run_by(spark, group, call):
    """``call()``'s result and the number of Spark jobs it launched
    under the job group ``group`` (unique per call)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("vectorized", ["true", "false"])
def test_load_table_infers_a_schema_once_per_listing_and_settings(
    spark, tmp_path, vectorized
):
    """The first ``load_table`` of a table path runs the schema
    inference job; a second one, with the file and the parquet reader
    settings unchanged, launches no job, gives the same schema and
    still reads the ns column right with the caller's ``nanosAsLong``
    unset. A new file at the same path with another schema, and a
    changed ``inferTimestampNTZ`` setting, each infer again."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampNTZType, TimestampType

    from quanta_etl_spark.sources.testdata import load_table

    path = tmp_path / "events.parquet"
    ns = [1_700_000_000_123_456_789, None]
    pq.write_table(
        pa.table({"id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns", "UTC"))}),
        path,
    )
    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    reader = "spark.sql.parquet.enableVectorizedReader"
    ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    saved = {k: spark.conf.get(k, None) for k in (nanos, reader, ntz)}
    group = f"schema-memo-{tmp_path.name}"
    try:
        spark.conf.unset(nanos)
        spark.conf.unset(ntz)
        spark.conf.set(reader, vectorized)
        load = lambda: load_table(spark, str(tmp_path), "events")  # noqa: E731
        first, first_jobs = _jobs_run_by(spark, f"{group}-first", load)
        again, again_jobs = _jobs_run_by(spark, f"{group}-again", load)
        assert (first_jobs >= 1, again_jobs) == (True, 0), (first_jobs, again_jobs)
        assert again.schema == first.schema
        assert spark.conf.get(nanos, None) is None
        got = again.orderBy("id").select(F.unix_micros("ts")).collect()
        assert [r[0] for r in got] == [1_700_000_000_123_456, None]

        at = pa.array([1_700_000_000_000_000], pa.timestamp("us"))
        pq.write_table(pa.table({"id": [1], "at": at}), path)
        rewritten = load().schema
        assert rewritten.names == ["id", "at"]
        assert rewritten["at"].dataType == TimestampNTZType()
        spark.conf.set(ntz, "false")
        assert load().schema["at"].dataType == TimestampType()
        spark.conf.set(ntz, "true")
        assert load().schema["at"].dataType == TimestampNTZType()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
