"""Lazy SparkSession helpers.

The reference (`/root/reference/bdq/__init__.py:3-10`) eagerly calls
``SparkSession.builder.getOrCreate()`` and instantiates Databricks
``DBUtils`` at import time, which makes the package un-importable off
Databricks. Here session acquisition is lazy and Databricks-free: callers
either pass a session explicitly or we pick up the active one, building a
local[*] session only as a last resort.

Scale note: the builder defaults below are tuned for correctness at any
scale — AQE on (runtime re-plan, skew-join splitting, partition
coalescing), shuffle partitions sized by the driver via
``SPARK_GRAFT_CPUS``; on a real cluster these come from spark-submit conf
and `get_spark` never overrides an already-running session's conf.
"""

from __future__ import annotations

import os
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType, StringType

__all__ = ["get_spark", "builder_defaults"]


def builder_defaults(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply scale-aware defaults to a builder (no-op for running sessions)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    return (
        builder.config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )


def get_spark(spark: SparkSession | None = None) -> SparkSession:
    """Return an explicit session, else the active one, else build local[*]."""
    if spark is not None:
        return spark
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    return (
        builder_defaults(SparkSession.builder.master(f"local[{cpus}]"))
        .appName("bdq_spark")
        .getOrCreate()
    )


def private_session(spark: SparkSession, confs: dict) -> SparkSession:
    """A clone of ``spark`` with ``confs`` set, for a hand-scheduled
    loop that plans under its own SQL conf (AQE off, a pinned shuffle
    width, dynamic partition overwrite).

    ``cloneSession()`` shares the SparkContext, executors, cached
    blocks and catalog, and copies the runtime SQL conf, so everything
    the caller set keeps governing the loop except ``confs``.  Nothing
    is restored: the clone is private to the call, so a query planned
    concurrently on ``spark`` (a parallel ``SparkPipeline`` step) never
    sees the loop's conf.  Frames cross between the sessions with
    :func:`rebind`."""
    clone = SparkSession(
        spark.sparkContext, jsparkSession=spark._jsparkSession.cloneSession()
    )
    for key, value in confs.items():
        clone.conf.set(key, value)
    return clone


def rebind(df: DataFrame, session: SparkSession) -> DataFrame:
    """``df`` as a frame of ``session``: its analyzed logical plan is
    re-planned there, so optimization and physical planning follow
    ``session``'s conf.  Nothing executes.  Checkpointed leaves keep
    their RDD, partitioning and size statistics, so joins against a
    rebound relation still broadcast where they did before."""
    if int(session.version.split(".")[0]) >= 4:
        dataset = session._jvm.org.apache.spark.sql.classic.Dataset
    else:
        dataset = session._jvm.org.apache.spark.sql.Dataset
    jdf = dataset.ofRows(session._jsparkSession, df._jdf.logicalPlan())
    return DataFrame(jdf, session)


# id types whose numpy order is Spark's order (integers; strings compare
# by code point, which is UTF-8 byte order): a loop finished on the
# driver may take minima and sort by them
DRIVER_ORDERED_TYPES = (ByteType, ShortType, IntegerType, LongType, StringType)


def driver_row_cap(spark: SparkSession, row_bytes: int) -> int:
    """How many ``row_bytes``-wide rows fit the session's broadcast
    threshold (read as bytes from the JVM ``SQLConf``); 0 when
    broadcasts are disabled.  The one budget of every driver finish:
    :func:`collect_for_driver` collects at most this many rows, and a
    finish that grows its input on the driver (a self-join) checks the
    grown size against it too."""
    conf = spark._jsparkSession.sessionState().conf()
    return max(conf.autoBroadcastJoinThreshold() // row_bytes, 0)


def collect_for_driver(
    df: DataFrame,
    ordered: Sequence[str],
    row_bytes: Optional[int] = None,
    max_rows: Optional[int] = None,
):
    """``df`` as one ``pyarrow.Table`` for a loop that numpy replays on
    the driver, or ``None`` when the replay could differ from Spark's or
    the input is too large: a column in ``ordered`` (the columns whose
    order the replay takes minima or sorts by) has a type outside
    ``DRIVER_ORDERED_TYPES``, ``df`` has more than ``cap =
    autoBroadcastJoinThreshold // row_bytes`` rows (or ``max_rows``),
    or any top-level value is null (numpy cannot replay Spark's null
    ordering).  ``row_bytes`` defaults to the JVM schema's
    ``defaultSize()``.

    The session's broadcast threshold is the budget: a relation under
    it is already shipped through the driver whole whenever a join
    broadcasts it, so finishing a loop over it on the driver adds no
    new memory class and no new knob.  A threshold <= 0 (broadcast
    disabled) always returns ``None``.  The probe is one job and one
    task, ``df.coalesce(1).limit(cap + 1)`` collected through Arrow
    whatever the session's Arrow conf says: the single task stops
    reading after ``cap + 1`` rows, where a plain limit would shuffle up
    to ``cap + 1`` rows from EVERY partition of a large input.
    ``spark.createDataFrame(table, schema)`` turns a driver-side result
    back into a ``LocalRelation`` with exact size statistics."""
    if not hasattr(df, "toArrow"):  # PySpark < 4.0
        return None
    if not all(isinstance(df.schema[c].dataType, DRIVER_ORDERED_TYPES) for c in ordered):
        return None
    if row_bytes is None:
        row_bytes = df._jdf.schema().defaultSize()
    cap = driver_row_cap(df.sparkSession, row_bytes)
    if max_rows is not None:
        cap = min(cap, max_rows)
    if cap <= 0:
        return None
    table = df.coalesce(1).limit(cap + 1).toArrow()
    if table.num_rows > cap or any(col.null_count for col in table.columns):
        return None
    return table
