"""CSV/JSON reader tests — quarantine and schema-drift reporting."""

import pytest

from bdq_spark.sources.readers import (
    read_csv,
    read_json,
    schema_drift_report,
    split_corrupt,
)


def test_read_csv_quarantines_bad_rows(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text(
        "id,qty,price\n"
        "1,5,10.50\n"
        "2,not_a_number,3.00\n"   # malformed qty
        "3,7,1.25\n"
    )
    df = read_csv(spark, str(p), "id int, qty int, price double")
    clean, bad = split_corrupt(df)
    assert {r.id for r in clean.collect()} == {1, 3}
    quarantined = bad.collect()
    assert len(quarantined) == 1
    assert "not_a_number" in quarantined[0][0]


def test_read_json_quarantines_bad_rows(spark, tmp_path):
    p = tmp_path / "data.jsonl"
    p.write_text(
        '{"id": 1, "name": "a"}\n'
        "{totally broken json\n"
        '{"id": 3, "name": "c"}\n'
    )
    df = read_json(spark, str(p), "id long, name string")
    clean, bad = split_corrupt(df)
    assert {r.id for r in clean.collect()} == {1, 3}
    assert bad.count() == 1


def test_failfast_mode_raises(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("id,qty\n1,ok_not_int\n")
    df = read_csv(spark, str(p), "id int, qty int", mode="FAILFAST")
    with pytest.raises(Exception, match="Malformed|FAILFAST"):
        df.collect()


def test_schema_drift_report(spark, tmp_path):
    p = tmp_path / "drift.csv"
    p.write_text("id,qty,extra\n1,5,x\n")
    df = read_csv(spark, str(p), "id int, qty int, extra string")
    report = schema_drift_report(df, "id int, qty long, expected_col string")
    assert report["added"] == {"extra"}          # in file, not in contract
    assert report["removed"] == {"expected_col"}  # in contract, not in file
    assert report["changed"] == {"qty": {"before": "int", "after": "bigint"}}
    assert report["not_changed"] == {"id"}


def test_split_corrupt_requires_column(spark):
    df = spark.range(3)
    with pytest.raises(ValueError, match="_corrupt_record"):
        split_corrupt(df)


def test_load_table_events_requires_utc_session(spark):
    """events.ts (TIMESTAMP_NTZ vintage) may only be cast to timestamp
    under a UTC session TZ — any other zone would silently shift values."""
    import pytest as _pytest

    from bdq_spark.sources import load_table

    if dict(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet").dtypes
    ).get("ts") != "timestamp_ntz":
        _pytest.skip("testdata vintage does not ship NTZ timestamps")

    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    load_table(spark, "/root/testdata/sf0.001", "events")  # ok under UTC

    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with _pytest.raises(ValueError, match="timeZone"):
            load_table(spark, "/root/testdata/sf0.001", "events")
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_load_table_reads_nanos_events_without_touching_conf(spark, tmp_path):
    """An events.parquet whose ``ts`` is TIMESTAMP(NANOS), which Spark 4
    rejects on a plain read, loads as a timestamp truncated to micros,
    and the caller's ``nanosAsLong`` conf stays as it was."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bdq_spark.sources import load_table

    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    ns = [1_700_000_000_123_456_789, 1_700_000_360_000_000_999, None]
    pq.write_table(
        pa.table(
            {"event_id": [1, 2, 3], "ts": pa.array(ns, pa.timestamp("ns"))}
        ),
        str(tmp_path / "events.parquet"),
    )
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        spark.read.parquet(str(tmp_path / "events.parquet")).collect()

    df = load_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = dict(df.selectExpr("event_id", "unix_micros(ts)").collect())
    assert got == {1: ns[0] // 1000, 2: ns[1] // 1000, 3: None}
    df.createOrReplaceTempView("nanos_events")
    try:
        n = spark.sql(
            "SELECT count(*) FROM nanos_events WHERE ts IS NOT NULL"
        ).first()[0]
    finally:
        spark.catalog.dropTempView("nanos_events")
    assert n == 2
    assert spark.conf.get(key) == before


def test_utc_equivalence_rejects_historical_offsets():
    """Zones that are zero TODAY but had a historical offset (Monrovia
    -00:44:30 until 1972, Reykjavik DST pre-1968) must fail the guard:
    pre-transition wall-clock values would still be shifted by the
    NTZ->LTZ cast."""
    from bdq_spark.sources.testdata import _is_utc_equivalent

    assert _is_utc_equivalent("UTC")
    assert _is_utc_equivalent("Etc/UTC")
    assert _is_utc_equivalent("Etc/GMT")
    assert _is_utc_equivalent("GMT0")
    assert not _is_utc_equivalent("Africa/Monrovia")
    assert not _is_utc_equivalent("Atlantic/Reykjavik")
    assert not _is_utc_equivalent("Europe/Paris")
    assert not _is_utc_equivalent("No/Such_Zone")
