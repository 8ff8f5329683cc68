"""Parquet sources for the driver-generated TPC-H-ish testdata.

The reference has no file readers of its own (everything comes from catalog
tables / temp views, `/root/reference/bdq/__init__.py:6`); the rebuild adds
plain ``spark.read.parquet`` sources so every operator can run against
`/root/testdata/sf*/` (see TESTDATA.md).

Scale notes:

- ``spark.read.parquet`` is a V2 file scan: Catalyst pushes filters and
  prunes columns into the scan (verify via ``PushedFilters`` /
  ``ReadSchema`` in ``.explain``), so callers should filter/select on the
  returned DataFrame rather than materializing it.
- No ``.cache()`` here — the caller decides lifetime; caching 100 TB scans
  by default would be a footgun.
"""

from __future__ import annotations

import os
from typing import Dict

from pyspark.sql import DataFrame, SparkSession

from bdq_spark.session import private_session, rebind

__all__ = ["TABLES", "load_table", "load_tables", "register_views"]

#: Tables the driver generates at every scale factor (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table as a lazy DataFrame.

    ``events.ts`` has shipped as both parquet TIMESTAMP(NANOS) and
    TIMESTAMP(MICROS, isAdjustedToUTC=false) across driver testdata
    generations.  Spark 4 rejects NANOS outright (we re-read it as a
    bigint via ``spark.sql.legacy.parquet.nanosAsLong`` and truncate to
    microseconds), and reads no-tz MICROS as TIMESTAMP_NTZ.  Either way
    we normalize ``ts`` to plain TimestampType so downstream operators
    (streaming watermarks, window aggs, the DuckDB oracle compare — the
    session TZ is pinned to UTC, so the NTZ→LTZ cast is value-preserving)
    see one stable type regardless of testdata vintage.
    """
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # the NTZ->LTZ cast interprets wall-clock values in the
            # session TZ; it is value-preserving ONLY under a zero-offset
            # zone.  Every repo session builder pins UTC, but load_table
            # accepts arbitrary sessions — enforce the invariant instead
            # of assuming it, or a caller with a local-TZ session would
            # get silently shifted timestamps.
            tz = spark.conf.get("spark.sql.session.timeZone")
            if not _is_utc_equivalent(tz):
                raise ValueError(
                    "load_table requires a UTC-equivalent "
                    "spark.sql.session.timeZone to read events.ts "
                    f"(TIMESTAMP_NTZ) losslessly; got {tz!r}. Build the "
                    "session via bdq_spark.session.builder_defaults or "
                    "set the conf explicitly."
                )
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _is_utc_equivalent(tz: str) -> bool:
    """True when the zone id resolves to a permanently zero UTC offset
    (UTC, Etc/UTC, GMT, GMT0, Etc/GMT, +00:00, ...) — the condition
    under which an NTZ->LTZ cast is value-preserving.  Checks the
    resolved offset rather than a string allow-list, so every valid
    zero-offset spelling passes.  Probes January + July of every year
    across the tzdb's transition history (1880-2050): zones that are
    zero TODAY but had a historical offset (e.g. Africa/Monrovia at
    -00:44:30 until 1972) must fail, because pre-transition wall-clock
    values would still be silently shifted by the cast."""
    if tz in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
        return True
    from datetime import datetime

    try:
        from zoneinfo import ZoneInfo

        zone = ZoneInfo(tz)
        return all(
            datetime(y, m, 1, tzinfo=zone).utcoffset().total_seconds() == 0
            for y in range(1880, 2051, 1)
            for m in (1, 7)
        )
    except Exception:
        return False


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    try:
        return spark.read.parquet(path)
    except Exception:
        pass
    # retry with nanos-as-long for TIMESTAMP(NANOS) files (events.parquet)
    # on a private clone, so the caller's conf is never set.  The file
    # relation keeps the clone's conf, so the scan still reads the
    # nanos as longs after the frame is rebound to the caller.
    nanos = private_session(
        spark, {"spark.sql.legacy.parquet.nanosAsLong": "true"}
    )
    return rebind(nanos.read.parquet(path), spark)


def load_tables(spark: SparkSession, sf_dir: str) -> Dict[str, DataFrame]:
    """Read all testdata tables; returns {name: DataFrame}."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> None:
    """Register every table as a temp view (``spark.sql`` entry point)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(f"{prefix}{name}")
