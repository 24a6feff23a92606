"""End-to-end golden tests of the rebuilt reference pipelines over the
reference's own sample data (read-only at /root/reference/sample-data;
row counts per SURVEY.md §5: xetra 15,057, eurex 3,546, dim 2,728),
plus Eurex sink tests over tiny synthetic CSVs written per test."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from quanta_etl_spark.pipelines import eurex as EX
from quanta_etl_spark.pipelines import xetra as XT

SAMPLE = "/root/reference/sample-data"
XETRA_CSV = f"{SAMPLE}/2020-11-24_BINS_XETR08.csv"
EUREX_CSV = f"{SAMPLE}/2020-11-24_BINS_XEUR08.csv"
DIM_CSV = "/root/reference/dags/dimension_data/eurex_product_specification.csv"

needs_sample = pytest.mark.skipif(
    not os.path.exists(XETRA_CSV), reason="reference sample data unavailable"
)


@needs_sample
def test_xetra_pipeline_golden(spark, tmp_path):
    out = XT.process_xetra(spark, XETRA_CSV, str(tmp_path / "xetra"))
    assert out.count() == 15057
    # positional header bind: CSV header ISIN,... lands in field isin
    row = out.where(F.col("mnemonic") == "SANT").orderBy("trading_time").first()
    assert row.isin == "AT0000A0E9W5"
    # typed derivation: real timestamp, hour-08 file
    assert isinstance(row.trading_ts, dt.datetime)
    assert row.trading_ts.hour == 8
    # reference-format string view
    sref = XT.as_reference_strings(out).where(F.col("mnemonic") == "SANT")
    assert sref.first().trading_ts.startswith("2020-11-24 08:")
    # partitioned parquet sink round-trips
    back = spark.read.parquet(str(tmp_path / "xetra"))
    assert back.count() == 15057
    assert any(f.name.startswith("trading_date=") for f in (tmp_path / "xetra").iterdir())


@needs_sample
def test_eurex_pipeline_golden(spark):
    res = EX.process_eurex(spark, EUREX_CSV, DIM_CSV)
    df = res.enriched
    assert df.count() == 3546
    # dimension enrichment (positional bind of 25-col dim; 2,729 data
    # rows — the file's last line has no trailing newline, so wc -l
    # undercounts by one vs the actual data rows)
    assert EX.load_product_spec(spark, DIM_CSV).count() == 2729
    enriched = df.where(F.col("product_name").isNotNull())
    assert enriched.count() > 0
    # maturity semantics: date-typed, days/months arithmetic
    r = df.where(F.col("maturity_string") == "20201218").first()
    assert r.maturity_date == dt.date(2020, 12, 18)
    assert r.maturity_days == (dt.date(2020, 12, 18) - dt.date(2020, 11, 24)).days
    assert r.maturity_months == pytest.approx(r.maturity_days / 30.5)


@needs_sample
def test_eurex_quality_checks_match_reference_shape(spark):
    res = EX.process_eurex(spark, EUREX_CSV, DIM_CSV)
    for qc in (res.missing_isin, res.missing_underlying):
        assert qc.columns == ["market_segment", "mleg"]
        # distinct: no duplicate offender pairs
        assert qc.count() == qc.dropDuplicates().count()


@needs_sample
def test_derivative_underlying_join(spark):
    xetra = XT.process_xetra(spark, XETRA_CSV)
    res = EX.process_eurex(spark, EUREX_CSV, DIM_CSV)
    joined = EX.join_derivative_to_underlying(res.enriched, xetra)
    n = joined.count()
    assert n > 0  # sample hour has overlapping (underlying_isin, minute) pairs
    assert "underlying_end_price" in joined.columns
    # inner-join semantics: rows with null underlying_isin are dropped
    assert joined.where(F.col("underlying_isin").isNull()).count() == 0


# README.md:120-171 data-model tables, name → Spark simpleString.
_README_XETRA = {
    "isin": "string", "mnemonic": "string",
    "security_description": "string", "security_type": "string",
    "currency": "string", "security_id": "string",
    "trading_date": "date", "trading_time": "string",
    "start_price": "double", "max_price": "double",
    "min_price": "double", "end_price": "double",
    "traded_volume": "bigint", "number_of_trades": "bigint",
    "trading_ts": "timestamp",
}
_README_EUREX = {
    "isin": "string", "market_segment": "string",
    "underlying_symbol": "string", "underlying_isin": "string",
    "currency": "string", "security_type": "string",
    "maturity_string": "string", "strike_price": "double",
    "put_or_call": "string", "mleg": "string",
    "contract_generation_number": "int", "security_id": "string",
    "trading_date": "date", "trading_time": "string",
    "start_price": "double", "max_price": "double",
    "min_price": "double", "end_price": "double",
    "number_of_contracts": "bigint", "number_of_trades": "bigint",
    "trading_ts": "timestamp", "maturity_date": "date",
    # README says LongType; datediff is int — documented divergence
    # (narrower, lossless: day counts fit int), pipelines/eurex.py
    "maturity_days": "int",
    "maturity_months": "double", "product_name": "string",
    "product_type": "string", "underlying_name": "string",
    "underlying_category": "string",
}


@needs_sample
def test_pipeline_schemas_match_reference_data_model(spark):
    """Golden schema check against the reference README's data-model
    tables (README.md:120-171): every documented column exists with
    the documented type — name→type equality, order-insensitive
    (the one divergence, maturity_days int vs Long, is annotated
    above)."""
    x = XT.process_xetra(spark, XETRA_CSV)
    got_x = {f.name: f.dataType.simpleString() for f in x.schema.fields}
    assert got_x == _README_XETRA
    res = EX.process_eurex(spark, EUREX_CSV, DIM_CSV)
    got_e = {
        f.name: f.dataType.simpleString() for f in res.enriched.schema.fields
    }
    assert got_e == _README_EUREX


@needs_sample
def test_job_registry_runs_reference_main(spark, tmp_path):
    """The job registry's full_etl mirrors the reference main():
    both pipelines run sequentially to partitioned parquet."""
    import os

    from quanta_etl_spark import jobs

    assert set(jobs.available_jobs()) >= {"xetra", "eurex", "full_etl"}
    out = str(tmp_path / "etl_out")
    jobs.get_job("full_etl")(
        spark,
        input=XETRA_CSV,
        eurex_input=EUREX_CSV,
        dim_input=DIM_CSV,
        output=out,
    )
    x = spark.read.parquet(f"{out}/xetra")
    # eurex_job's output dir holds the fact + the two quality reports
    e = spark.read.parquet(f"{out}/eurex/eurex")
    assert x.count() == 15057
    assert e.count() == 3546
    assert os.path.isdir(f"{out}/eurex/missing_isin")
    # hive-partitioned layout on trading_date (reference etl.py:62,171)
    assert any(
        d.startswith("trading_date=") for d in os.listdir(f"{out}/xetra")
    )
    with pytest.raises(KeyError):
        jobs.get_job("nope")


# -- Eurex sinks over synthetic input ----------------------------------------

_EUREX_HEADER = (
    "ISIN,MarketSegment,UnderlyingSymbol,UnderlyingISIN,Currency,SecurityType,"
    "MaturityDate,StrikePrice,PutOrCall,MLEG,ContractGenerationNumber,"
    "SecurityID,Date,Time,StartPrice,MaxPrice,MinPrice,EndPrice,"
    "NumberOfContracts,NumberOfTrades"
)
_SINKS = ("missing_isin", "missing_underlying")


def _bar(isin: str, seg: str, sym: str, mleg: str, time: str = "08:00") -> str:
    """One Eurex CSV line; an empty field reads back as NULL."""
    return ",".join(
        [isin, seg, sym, "DE000U000001", "EUR", "OPT", "20201218", "100.0",
         "C", mleg, "1", "1001", "2020-11-24", time, "1.0", "1.5", "0.5",
         "1.2", "10", "2"]
    )


def _market(root, files: list[list[str]]) -> tuple[str, str]:
    """Write each list of bars as one hourly Eurex CSV, plus a product spec
    (25 positional columns) for segments AAAA-CCCC; return (glob, dim)."""
    day = root / "in" / "2020-11-24"
    day.mkdir(parents=True)
    for hour, bars in enumerate(files, start=8):
        (day / f"2020-11-24_BINS_XEUR{hour:02d}.csv").write_text(
            "\n".join([_EUREX_HEADER, *bars]) + "\n"
        )
    dim = root / "in" / "product_spec.csv"
    dim.write_text(
        "\n".join(
            [",".join(f"c{i}" for i in range(25))]
            + [",".join([seg, f"PRODUCT {seg}", *[""] * 23]) for seg in ("AAAA", "BBBB", "CCCC")]
        )
        + "\n"
    )
    return str(day.parent / "*" / "*_BINS_XEUR*.csv"), str(dim)


# Offenders repeat across the two files; AAAA and ZZZZ have a NULL mleg
# pair; ZZZZ is missing both keys and has no product spec row.
_OFFENDER_FILES = [
    [
        _bar("", "AAAA", "U1", "OSTR"),
        _bar("", "AAAA", "U1", ""),
        _bar("DE1", "BBBB", "", "FUT"),
        _bar("DE2", "CCCC", "U2", ""),
    ],
    [
        _bar("", "AAAA", "U1", "OSTR", "09:00"),
        _bar("DE1", "BBBB", "", "FUT", "09:00"),
        _bar("", "ZZZZ", "", "", "09:00"),
    ],
]
_CLEAN_FILES = [[_bar("DE1", "AAAA", "U1", "OSTR"), _bar("DE2", "BBBB", "U2", "")]]


def _pairs(frame) -> list[tuple]:
    return sorted((tuple(r) for r in frame.select(*EX.QUALITY_KEYS).collect()), key=str)


def _sink_pairs(spark, out: str) -> dict[str, list[tuple]]:
    return {name: _pairs(spark.read.parquet(f"{out}/{name}")) for name in _SINKS}


@pytest.mark.parametrize("source", ["reference_sample", "synthetic"])
def test_eurex_write_scans_once_and_persists_nothing(spark, tmp_path, source):
    """With an output path, process_eurex runs at most 4 jobs in its job
    group (the persisted fan-out ran 7), leaves no persisted RDD and no
    SQL cache entry behind, and each sink reads back equal to the lazy
    ``offenders`` frame over the returned enriched frame."""
    from quanta_etl_spark.operators.quality import offenders

    if source == "reference_sample":
        if not os.path.exists(EUREX_CSV):
            pytest.skip("reference sample data unavailable")
        inputs = (EUREX_CSV, DIM_CSV)
    else:
        inputs = _market(tmp_path, _OFFENDER_FILES)
    sc = spark.sparkContext
    out = str(tmp_path / "out")
    group = f"eurex-structure-{source}"
    before = set(sc._jsc.getPersistentRDDs().keySet())
    sc.setJobGroup(group, group)
    try:
        res = EX.process_eurex(spark, *inputs, out)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs <= 4, jobs
    assert set(sc._jsc.getPersistentRDDs().keySet()) == before
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.lookupCachedData(res.enriched._jdf).isEmpty()
    got = _sink_pairs(spark, out)
    for name, bad in (
        ("missing_isin", F.col("isin").isNull()),
        ("missing_underlying", F.col("underlying_symbol").isNull()),
    ):
        assert got[name] == _pairs(offenders(res.enriched, bad, EX.QUALITY_KEYS)), name
        assert _pairs(getattr(res, name)) == got[name], name


def test_eurex_sinks_keep_null_mleg_and_dedupe_across_files(spark, tmp_path):
    """A (segment, NULL) pair is an offender like any other, a pair seen
    in two files is written once, and each market_segment directory holds
    one file, as the shuffled ``offenders`` write laid them out."""
    out = tmp_path / "out"
    EX.process_eurex(spark, *_market(tmp_path, _OFFENDER_FILES), str(out))
    assert _sink_pairs(spark, str(out)) == {
        "missing_isin": [("AAAA", "OSTR"), ("AAAA", None), ("ZZZZ", None)],
        "missing_underlying": [("BBBB", "FUT"), ("ZZZZ", None)],
    }
    for name in _SINKS:
        for seg_dir in (out / name).glob("market_segment=*"):
            assert len(list(seg_dir.glob("*.parquet"))) == 1, seg_dir
    assert spark.read.parquet(str(out / "eurex")).count() == 7


def test_eurex_no_null_keys_writes_success_only(spark, tmp_path):
    """No offenders: each sink directory holds ``_SUCCESS`` alone, the
    layout an empty ``offenders`` frame's write leaves."""
    out = tmp_path / "out"
    res = EX.process_eurex(spark, *_market(tmp_path, _CLEAN_FILES), str(out))
    for name in _SINKS:
        files = sorted(p.name for p in (out / name).iterdir() if not p.name.startswith("."))
        assert files == ["_SUCCESS"], name
        assert getattr(res, name).count() == 0
        assert getattr(res, name).columns == EX.QUALITY_KEYS


def test_eurex_back_to_back_writes_to_one_path(spark, tmp_path):
    """Two calls on one session to the same output path both complete
    (each write observes through its own Observation) and the second
    overwrites the first."""
    inputs = _market(tmp_path, _OFFENDER_FILES)
    out = str(tmp_path / "out")
    results = []
    for _ in range(2):
        EX.process_eurex(spark, *inputs, out)
        results.append(_sink_pairs(spark, out))
    assert results[0] == results[1]
    assert len(results[0]["missing_isin"]) == 3


def test_eurex_sinks_past_the_observed_cap_read_back_the_write(
    spark, tmp_path, monkeypatch
):
    """Past ``MAX_OBSERVED_PAIRS`` a sink is built from the parquet the main
    write committed, and its rows equal the observed path's."""
    inputs = _market(tmp_path, _OFFENDER_FILES)
    observed = str(tmp_path / "observed")
    EX.process_eurex(spark, *inputs, observed)
    monkeypatch.setattr(EX, "MAX_OBSERVED_PAIRS", 0)
    fallback = str(tmp_path / "fallback")
    res = EX.process_eurex(spark, *inputs, fallback)
    assert _sink_pairs(spark, fallback) == _sink_pairs(spark, observed)
    for name in _SINKS:
        files = getattr(res, name).inputFiles()
        assert files and all(f"{fallback}/eurex/" in f for f in files), name
