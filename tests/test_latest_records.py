"""Latest-records goldens — fixture F2, expected outputs from
/root/reference/README.md:256-276."""

from datetime import datetime

from bdq_spark.operators import (
    get_latest_records,
    get_latest_records_with_pk_confict_detection_flag,
)


def _increment_df(spark):
    # /root/reference/tests/get_latest_records_test.py:6-17
    rows = [
        (1, datetime(2023, 1, 1, 0, 0), "1001"),
        (1, datetime(2023, 1, 1, 2, 0), "1002"),
        (2, datetime(2023, 1, 1, 0, 0), "2001"),
        (2, datetime(2023, 1, 1, 0, 0), "2001"),  # carbon-copy duplicate
        (3, datetime(2023, 1, 1, 0, 0), "3001"),
        (3, datetime(2023, 1, 1, 5, 0), "3002#1"),  # tied at latest ts
        (3, datetime(2023, 1, 1, 5, 0), "3002#2"),  # tied at latest ts
    ]
    return spark.createDataFrame(rows, "pk:int, change_ts:timestamp, attr:string")


def test_get_latest_records(spark):
    df = _increment_df(spark)
    got = get_latest_records(df, ["pk"], ["change_ts"])
    rows = {r.pk: r for r in got.collect()}
    assert len(rows) == 3  # one winner per pk
    assert rows[1].attr == "1002"
    assert rows[2].attr == "2001"
    assert rows[3].attr in ("3002#1", "3002#2")  # tie broken arbitrarily


def test_latest_records_with_conflict_flag(spark):
    df = _increment_df(spark)
    got = get_latest_records_with_pk_confict_detection_flag(
        df, ["pk"], ["change_ts"]
    ).collect()
    by_pk: dict = {}
    for r in got:
        by_pk.setdefault(r.pk, []).append(r)

    # pk=1: clean latest
    assert len(by_pk[1]) == 1
    assert by_pk[1][0].attr == "1002"
    assert by_pk[1][0]["__has_pk_conflict"] is False
    # pk=2: carbon copies collapse via distinct -> no conflict
    assert len(by_pk[2]) == 1
    assert by_pk[2][0]["__has_pk_conflict"] is False
    # pk=3: both tied rows kept, both flagged
    assert len(by_pk[3]) == 2
    assert {r.attr for r in by_pk[3]} == {"3002#1", "3002#2"}
    assert all(r["__has_pk_conflict"] for r in by_pk[3])
    # total rows: O7 keeps 4 (README.md:269-276)
    assert len(got) == 4


def test_conflict_flag_column_name(spark):
    df = _increment_df(spark)
    got = get_latest_records_with_pk_confict_detection_flag(df, ["pk"], ["change_ts"])
    assert got.columns == ["pk", "change_ts", "attr", "__has_pk_conflict"]

