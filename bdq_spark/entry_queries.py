"""Driver-facing query registry: Spark queries + DuckDB oracle SQL.

Each entry exercises one operator from SURVEY.md §2 (or a headline
analytical query) end-to-end against the driver testdata.  Conventions:

- identical column aliases in Spark and SQL (driver hashes by sorted
  column name);
- timestamps output as ``unix_millis`` / ``epoch_ms`` bigints (ns-vs-us
  parquet precision differs between engines);
- money/quantity aggregations go through exact ``decimal`` arithmetic and
  are cast back to ``double`` at the end, so results don't depend on
  floating-point summation order (all testdata doubles are exact
  2-decimal values — verified);
- every query takes ``(spark, sf_dir)`` and returns a lazy DataFrame.
"""

from __future__ import annotations

import re
import shutil
import tempfile
from typing import Callable, Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bdq_spark.functions import surrogate_key_hash, surrogate_key_string
from bdq_spark.operators import (
    compare_dataframes,
    fact_dim_broken_relationship,
    get_latest_records,
    get_latest_records_with_pk_confict_detection_flag,
    validate_primary_key_candidate,
)
from bdq_spark.sources import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: Dict[str, QueryFn] = {}
ORACLE_SQL: Dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def wrap(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return wrap


def _dec(col: str, prec: int = 12, scale: int = 2):
    return F.col(col).cast(f"decimal({prec},{scale})")


def _spread_narrow_scan(df: DataFrame) -> DataFrame:
    """Round-robin a NARROW scan across the session's cores before an
    expensive per-row compute stage (payload synthesis + Python decode
    in the multimodal entries).  A small parquet table arrives as ONE
    split, so everything downstream of it — including a heavyweight
    mapInPandas — runs in one task (measured: the whole
    multimodal_mjpeg_pixel_stats entry was a single-task job).
    Repartitioning the id-only projection moves a few bytes per row and
    buys full-width decode (guide §8: move the lightweight proxy,
    synthesize the heavy bytes after; §2.6: fill the idle cores).
    Scale-adaptive, not a local-mode constant: when the scan already
    has >= session-parallelism splits (any real at-scale table) this is
    the identity — no exchange is added.  Keyless repartition is
    deterministic here (sort-before-repartition over a deterministic
    scan, guide §2.5)."""
    spark = df.sparkSession
    width = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < width:
        return df.repartition(width)
    return df


def _plan_has_exchange(plan: str) -> bool:
    """True iff a formatted physical plan contains a shuffle Exchange.

    ``explain("formatted")`` prints the node name (``(7) Exchange``) and
    its arguments (``Arguments: hashpartitioning(...)``) on SEPARATE
    lines, so matching the legacy single-line substring ``"Exchange
    hashpartitioning"`` never fires — a vacuous guard (round-6 ADVICE).
    Match the node-header shape instead; BroadcastExchange is a
    different node name and intentionally not matched.
    """
    import re

    return re.search(r"\(\d+\) Exchange\b", plan) is not None


# ---------------------------------------------------------------------------
# O6 — get_latest_records: latest event per user (flagship)
# ---------------------------------------------------------------------------

@_register(
    "latest_events",
    """
    SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type, value
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t
    WHERE rn = 1
    """,
)
def latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    latest = get_latest_records(ev, ["user_id"], ["ts", "event_id"])
    return latest.select(
        "user_id",
        "event_id",
        F.unix_millis("ts").alias("ts_ms"),
        "event_type",
        "value",
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver smoke entry: latest event per user at sf0.001."""
    return latest_events(spark, sf_dir)


# ---------------------------------------------------------------------------
# O7 — latest records with PK-conflict flag (day-truncated ts => real ties)
# ---------------------------------------------------------------------------

@_register(
    "latest_events_conflict",
    """
    WITH d AS (
      SELECT DISTINCT user_id, event_type, value,
             date_trunc('day', ts) AS ts_day
      FROM events),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY user_id ORDER BY ts_day DESC) AS rn,
             dense_rank() OVER (PARTITION BY user_id ORDER BY ts_day DESC) AS dr
      FROM d),
    kept AS (SELECT * FROM r WHERE dr = 1),
    conflicts AS (SELECT DISTINCT user_id FROM kept WHERE rn <> 1)
    SELECT k.user_id, k.event_type, k.value,
           epoch_ms(k.ts_day) AS ts_day_ms,
           (c.user_id IS NOT NULL) AS has_pk_conflict
    FROM kept k LEFT JOIN conflicts c ON k.user_id = c.user_id
    """,
)
def latest_events_conflict(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value", F.date_trunc("day", F.col("ts")).alias("ts_day")
    )
    out = get_latest_records_with_pk_confict_detection_flag(ev, ["user_id"], ["ts_day"])
    return out.select(
        "user_id",
        "event_type",
        "value",
        F.unix_millis("ts_day").alias("ts_day_ms"),
        F.col("__has_pk_conflict").alias("has_pk_conflict"),
    )


# ---------------------------------------------------------------------------
# O1 — compare_dataframes: diff two deterministic perturbations of orders
# ---------------------------------------------------------------------------

_COMPARE_ORACLE = """
WITH df1 AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
df2 AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate,
         CASE WHEN o_orderkey % 11 = 0 THEN 'X-PERTURBED'
              ELSE o_orderpriority END AS o_orderpriority
  FROM orders WHERE o_orderkey % 5 <> 0)
SELECT COALESCE(df1.o_orderkey, df2.o_orderkey) AS o_orderkey,
       CASE WHEN df1.o_orderkey IS NULL THEN 'added'
            WHEN df2.o_orderkey IS NULL THEN 'removed'
            WHEN (df1.o_custkey       IS DISTINCT FROM df2.o_custkey)
              OR (df1.o_orderstatus   IS DISTINCT FROM df2.o_orderstatus)
              OR (df1.o_totalprice    IS DISTINCT FROM df2.o_totalprice)
              OR (df1.o_orderdate     IS DISTINCT FROM df2.o_orderdate)
              OR (df1.o_orderpriority IS DISTINCT FROM df2.o_orderpriority)
            THEN 'changed' ELSE 'not_changed' END AS diff_status
FROM df1 FULL OUTER JOIN df2 ON df1.o_orderkey = df2.o_orderkey
"""


@_register("compare_orders_diff", _COMPARE_ORACLE)
def compare_orders_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    df1 = orders.filter(F.col("o_orderkey") % 3 != 0)
    df2 = (
        orders.filter(F.col("o_orderkey") % 5 != 0)
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 10.0)
            .otherwise(F.col("o_totalprice")),
        )
        .withColumn(
            "o_orderpriority",
            F.when(F.col("o_orderkey") % 11 == 0, F.lit("X-PERTURBED"))
            .otherwise(F.col("o_orderpriority")),
        )
    )
    diff = compare_dataframes(df1, df2, ["o_orderkey"])
    parts = [
        diff["added"].select("o_orderkey", F.lit("added").alias("diff_status")),
        diff["removed"].select("o_orderkey", F.lit("removed").alias("diff_status")),
        diff["changed"].select("o_orderkey", F.lit("changed").alias("diff_status")),
        diff["not_changed"].select(
            "o_orderkey", F.lit("not_changed").alias("diff_status")
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# O4 — fact_dim_broken_relationship: lineitem.l_partkey -> filtered part
# ---------------------------------------------------------------------------

@_register(
    "fk_broken_lineitem_part",
    """
    SELECT DISTINCT l_partkey FROM lineitem l
    WHERE NOT EXISTS (
      SELECT 1 FROM part p
      WHERE p.p_partkey % 97 <> 0 AND p.p_partkey = l.l_partkey)
    """,
)
def fk_broken_lineitem_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    dim = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 97 != 0)
    return fact_dim_broken_relationship(
        lineitem, ["l_partkey"], dim, ["p_partkey"], sample_broken_records=0
    )


@_register(
    "fk_broken_sampled",
    """
    SELECT l_partkey, CAST(LEAST(count(*), 3) AS BIGINT) AS n_samples
    FROM lineitem l
    WHERE NOT EXISTS (
      SELECT 1 FROM part p
      WHERE p.p_partkey % 97 <> 0 AND p.p_partkey = l.l_partkey)
    GROUP BY l_partkey
    """,
)
def fk_broken_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    dim = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 97 != 0)
    sampled = fact_dim_broken_relationship(
        lineitem, ["l_partkey"], dim, ["p_partkey"], sample_broken_records=3
    )
    return sampled.select(
        "l_partkey", F.size("sample_records").cast("bigint").alias("n_samples")
    )


# ---------------------------------------------------------------------------
# O8 — validate_primary_key_candidate
# ---------------------------------------------------------------------------

_PK_ORACLE = """
SELECT (SELECT count(*) FROM lineitem) AS record_count,
       CAST(COALESCE((SELECT sum(cnt) FROM (
         SELECT count(*) AS cnt FROM lineitem GROUP BY {keys}
         HAVING count(*) > 1) g), 0) AS BIGINT) AS failed_records
"""


@_register("pk_validate_lineitem_orderkey", _PK_ORACLE.format(keys="l_orderkey"))
def pk_validate_lineitem_orderkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "lineitem")
    res = validate_primary_key_candidate(df, ["l_orderkey"])
    return spark.createDataFrame(
        [(res["record_count"], res["failed_records"])],
        "record_count: long, failed_records: long",
    )


@_register(
    "pk_validate_lineitem_composite",
    _PK_ORACLE.format(keys="l_orderkey, l_linenumber"),
)
def pk_validate_lineitem_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "lineitem")
    res = validate_primary_key_candidate(df, ["l_orderkey", "l_linenumber"])
    return spark.createDataFrame(
        [(res["record_count"], res["failed_records"])],
        "record_count: long, failed_records: long",
    )


# ---------------------------------------------------------------------------
# O10/O11 — surrogate keys on customer
# ---------------------------------------------------------------------------

@_register(
    "surrogate_key_string_customer",
    """
    SELECT c_custkey,
           '[' || COALESCE(upper(c_name), '@~<null>~@') || ', '
               || COALESCE(upper(c_mktsegment), '@~<null>~@') || ']' AS sk
    FROM customer
    """,
)
def surrogate_key_string_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "customer")
    return df.select(
        "c_custkey", surrogate_key_string(["c_name", "c_mktsegment"]).alias("sk")
    )


@_register("surrogate_key_hash_customer")  # rows-only: DuckDB lacks sha224
def surrogate_key_hash_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "customer")
    return df.select(
        "c_custkey",
        F.hex(surrogate_key_hash(["c_name", "c_mktsegment"])).alias("sk_hex"),
    )


#: expected post-merge customer snapshot — shared by the batch
#: (`cdc_apply_customer`) and streaming (`streaming_cdc_merge`) entries
_CDC_SNAPSHOT_ORACLE = """
    SELECT c_custkey, c_name, acctbal FROM (
      SELECT c_custkey,
             CASE WHEN c_custkey % 10 = 1 THEN c_name || '_v2'
                  ELSE c_name END AS c_name,
             CAST(CAST(c_acctbal AS DECIMAL(12,2))
                  + CASE WHEN c_custkey % 10 = 1
                         THEN CAST(100 AS DECIMAL(12,2))
                         ELSE CAST(0 AS DECIMAL(12,2)) END AS DOUBLE)
               AS acctbal
      FROM customer WHERE c_custkey % 10 <> 2
      UNION ALL
      SELECT c_custkey + 1000000,
             'new_' || (c_custkey + 1000000)::VARCHAR,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE)
      FROM customer WHERE c_custkey % 10 = 3) t
    """


@_register("cdc_apply_customer", _CDC_SNAPSHOT_ORACLE)
def cdc_apply_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge (the relational core of MERGE INTO): a synthesized
    change feed — stale update superseded by a v2 update, update
    followed by delete, fresh inserts — applied to the customer
    snapshot with latest-change-per-key-wins.  The oracle constructs
    the expected post-merge snapshot directly, so ordering, delete and
    column-restriction semantics are all value-hash-checked."""
    from bdq_spark.operators.cdc import apply_cdc

    c = _cdc_customer_base(spark, sf_dir)
    snap = apply_cdc(c, _cdc_customer_changes(c), ["c_custkey"], ["ver"])
    return snap.select(
        "c_custkey", "c_name", F.col("acctbal").cast("double").alias("acctbal")
    )


# Version of the synthesized CDC feed staged to the shared temp dir by
# ``streaming_cdc_merge``.  BUMP whenever ``_cdc_customer_changes``, the
# micro-batch partitioning, or the staged schema changes — the version
# is baked into the staging key and the ``_STAGED`` marker body, so a
# stale cache regenerates instead of silently testing old parquet.
_CDC_FEED_VERSION = 2


def _cdc_customer_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", _dec("c_acctbal").alias("acctbal")
    )


def _cdc_customer_changes(c: DataFrame) -> DataFrame:
    """The synthesized customer change feed shared by the batch and
    streaming CDC entries (stale update superseded, update-then-delete,
    fresh inserts) — every key's full change history touches ONE key
    group (``c_custkey % 10``), which is what lets the streaming entry
    partition the feed into key-group micro-batches whose processing
    order cannot change the merged result."""
    m = F.col("c_custkey") % 10

    def gen(flt, key, name, bal, op, ver):
        return c.filter(flt).select(
            key.alias("c_custkey"),
            name.alias("c_name"),
            bal.alias("acctbal"),
            F.lit(op).alias("op"),
            F.lit(ver).alias("ver"),
        )

    k, n, b = F.col("c_custkey"), F.col("c_name"), F.col("acctbal")
    return (
        # stale v1 update that the v2 update must supersede
        gen(m == 1, k, F.concat(n, F.lit("_WRONG")), b, "U", 1)
        .unionByName(gen(m == 1, k, F.concat(n, F.lit("_v2")),
                         b + F.lit(100).cast("decimal(12,2)"), "U", 2))
        # update then delete -> key disappears
        .unionByName(gen(m == 2, k, F.concat(n, F.lit("_x")), b, "U", 1))
        .unionByName(gen(m == 2, k, n, b, "D", 2))
        # inserts under fresh keys
        .unionByName(gen(
            m == 3,
            k + 1000000,
            F.concat(F.lit("new_"), (k + 1000000).cast("string")),
            b, "I", 1,
        ))
    )


@_register("streaming_cdc_merge", _CDC_SNAPSHOT_ORACLE)
def streaming_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming CDC ingest, value-hash-checked against the
    ONE-SHOT merge oracle: the same change feed as ``cdc_apply_customer``
    is staged as three key-group micro-batch files, driven through a
    TRUE readStream → ``foreachBatch`` → :func:`cdc_merge_sink_partitioned`
    run (MERGE-per-micro-batch into a key-hash-partitioned snapshot:
    only the buckets a batch touches are read or rewritten — the
    O(touched)-per-trigger scale path, committed per batch by the atomic
    manifest rename that gives concurrent readers whole-generation
    snapshot isolation), and the final snapshot must equal applying
    all changes at once.  Each key's full history lives in one
    micro-batch, so the sequential merge is order-independent and the
    batch oracle is exact — the stream/batch unification claim for
    MERGE, not just aggregates.  Restart/replay/crash convergence and
    the untouched-buckets-unmodified file census are pinned in
    ``tests/test_streaming_step.py``."""
    import hashlib
    import os

    from bdq_spark.streaming import (
        cdc_merge_sink_partitioned,
        init_snapshot,
        read_snapshot,
    )

    c = _cdc_customer_base(spark, sf_dir)
    changes = _cdc_customer_changes(c)

    # _CDC_FEED_VERSION is part of the staging key AND the marker body:
    # bump it whenever _cdc_customer_changes / the partitioning / the
    # schema below changes, so a machine that cached the old feed
    # regenerates instead of silently testing stale parquet.
    key = hashlib.md5(
        f"{sf_dir}:cdc_feed:v{_CDC_FEED_VERSION}".encode()
    ).hexdigest()[:12]
    feed = os.path.join(tempfile.gettempdir(), f"bdq_stage_cdc_feed_{key}")
    marker = os.path.join(feed, "_STAGED")
    expected_marker = f"{sf_dir}:v{_CDC_FEED_VERSION}"
    staged = False
    if os.path.exists(marker):
        with open(marker) as fh:
            staged = fh.read() == expected_marker
    if not staged:
        # micro-batches grouped by SNAPSHOT BUCKET ranges (the same
        # pmod(xxhash64(key), 16) the sink partitions by): each key's
        # full history still lands in exactly one batch (key → one
        # bucket → one group, so the sequential merge stays
        # order-independent and the one-shot oracle exact), and each
        # batch touches a DISJOINT third of the partitions — the
        # pruned-rewrite path this entry exists to exercise, instead of
        # three batches that each rewrite every bucket.
        b = F.pmod(F.xxhash64(F.col("c_custkey").cast("bigint")), F.lit(16))
        for i, flt in enumerate([b <= 5, (b > 5) & (b <= 10), b > 10]):
            changes.filter(flt).withColumn(
                "acctbal", F.col("acctbal").cast("decimal(12,2)")
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(feed, f"g{i}")
            )
        with open(marker, "w") as fh:
            fh.write(expected_marker)

    snap_path = tempfile.mkdtemp(prefix="entry_cdc_snap_")
    merge = cdc_merge_sink_partitioned(
        spark, snap_path, ["c_custkey"], ["ver"],
        columns=["c_custkey", "c_name", "acctbal"],
        num_buckets=16,
    )
    # seed the snapshot via the bulk initial-load path (a straight
    # bucketed write committed as generation 1, not a MERGE of an
    # all-insert feed — base rows have no per-key history to collapse,
    # so paying latest_changes + anti-join over the full table buys
    # nothing)
    init_snapshot(spark, snap_path, c, ["c_custkey"], num_buckets=16)
    ckpt = tempfile.mkdtemp(prefix="entry_cdc_ckpt_")
    stream = (
        spark.readStream.schema(
            "c_custkey bigint, c_name string, acctbal decimal(12,2), "
            "op string, ver int"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{feed}/g*")
    )
    q = (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                "streaming_cdc_merge: stream did not finish within "
                "300 s — refusing to return a partially merged snapshot"
            )
        # detach the result from the snapshot path so the per-invocation
        # dir + checkpoint can be dropped (no unbounded temp growth
        # across bench reps); localCheckpoint blocks self-release on GC
        return (
            read_snapshot(spark, snap_path)
            .select(
                "c_custkey",
                "c_name",
                F.col("acctbal").cast("double").alias("acctbal"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        # the timeout/raise path must not leak the snapshot either
        # (generations + manifests all live under snap_path)
        shutil.rmtree(snap_path, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


@_register(
    "cheapest_supplier_per_part",
    """
    WITH m AS (
      SELECT l_partkey, l_suppkey,
             CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
             min(CAST(l_extendedprice AS DECIMAL(12,2)))
               OVER (PARTITION BY l_partkey) AS mn
      FROM lineitem)
    SELECT l_partkey, l_suppkey, CAST(price AS DOUBLE) AS price
    FROM m WHERE price = mn
    """,
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: per-group argmin with ALL ties kept — the min is a
    window over the part partition (parallel across parts, unlike a
    global-max single partition) and the equality filter runs on exact
    decimal so tie detection is bit-portable."""
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey")
    price = _dec("l_extendedprice")
    return (
        l.select("l_partkey", "l_suppkey", price.alias("price"))
        .withColumn("__mn", F.min("price").over(w))
        .filter(F.col("price") == F.col("__mn"))
        .select(
            "l_partkey", "l_suppkey", F.col("price").cast("double").alias("price")
        )
    )


@_register(
    "customer_pseudonymize",
    """
    SELECT substr(sha256('demo-secret' || chr(31)
                         || '[' || c_custkey::VARCHAR || ', '
                         || c_name || ']'), 1, 16) AS pseudonym,
           c_mktsegment,
           CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal
    FROM customer
    """,
)
def customer_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-pipeline pseudonymization: direct identifiers replaced by
    a keyed sha2-256 token (stable across tables/runs, so joins keep
    working; re-keyable by rotating the secret).  The oracle recomputes
    the full mapping byte-for-byte in DuckDB — engine-portable, pure
    codegen, no UDF."""
    from bdq_spark.functions import pseudonymize

    df = load_table(spark, sf_dir, "customer")
    return df.select(
        pseudonymize(["c_custkey", "c_name"], "demo-secret").alias("pseudonym"),
        "c_mktsegment",
        _dec("c_acctbal").cast("double").alias("acctbal"),
    )


# ---------------------------------------------------------------------------
# Headline analytical queries (scan/filter/agg/join coverage + bench)
# ---------------------------------------------------------------------------

@_register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
                AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
                    * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2))))
                AS DOUBLE) AS sum_charge,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(3,2)")
    price = _dec("l_extendedprice")
    disc = F.col("l_discount").cast("decimal(3,2)")
    tax = F.col("l_tax").cast("decimal(3,2)")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (one - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (one - disc) * (one + tax)).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_register(
    "shipping_priority",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
           epoch_ms(o_orderdate) AS o_orderdate_ms,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (o_orderpriority standing in for o_shippriority).

    Scale notes: all three predicates push to the parquet scans; the
    mktsegment-filtered customer projection is 2 columns wide; join order
    (orders x customer first, lineitem last) and algorithms are left to
    Catalyst/AQE — at 100 TB both sides shuffle on their join keys and
    AQE picks broadcast when the filtered side turns out small.
    """
    cutoff = F.lit("1997-06-01 00:00:00").cast("timestamp")
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < cutoff
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > cutoff
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    rev = _dec("l_extendedprice") * (1 - F.col("l_discount").cast("decimal(3,2)"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            # o_orderdate is TIMESTAMP_NTZ in the parquet; session TZ is UTC
            # so the cast matches DuckDB's naive epoch_ms
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias(
                "o_orderdate_ms"
            ),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@_register(
    "local_supplier_volume",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join, revenue by nation in one region.

    Scale notes: nation x region is tiny at ANY scale factor (25 x 5
    rows) so it is broadcast explicitly into supplier and customer; the
    fact-side joins (orders, lineitem) stay declarative for AQE.  The
    non-equi-ish c_nationkey = s_nationkey constraint rides on the
    supplier equi-join as a second key pair, not a post-filter, so it
    participates in the shuffle hash.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = F.broadcast(
        n.join(r, n.n_regionkey == r.r_regionkey).select("n_nationkey", "n_name")
    )
    s_asia = s.join(asia_nations, s.s_nationkey == F.col("n_nationkey"))
    rev = _dec("l_extendedprice") * (1 - F.col("l_discount").cast("decimal(3,2)"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s_asia,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@_register(
    "nation_pair_volume",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
             AS revenue,
           count(*) AS n_items
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ns ON s_nationkey = ns.n_nationkey
    JOIN nation nc ON c_nationkey = nc.n_nationkey
    CROSS JOIN LATERAL (SELECT ns.n_name AS supp_nation,
                               nc.n_name AS cust_nation,
                               year(l_shipdate) AS l_year) x
    WHERE (supp_nation = 'NATION_1' AND cust_nation = 'NATION_2')
       OR (supp_nation = 'NATION_2' AND cust_nation = 'NATION_1')
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations by ship year.

    The nation filter is pushed into the two broadcast dimension joins
    (supplier-side and customer-side nation lookups are independent tiny
    broadcasts), so the fact-side shuffles carry only matching rows.
    """
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    ).select("n_nationkey", "n_name")
    ns = F.broadcast(n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    ))
    nc = F.broadcast(n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    ))
    rev = _dec("l_extendedprice") * (1 - F.col("l_discount").cast("decimal(3,2)"))
    return (
        l.join(s.join(ns, F.col("s_nationkey") == F.col("s_nkey")),
               F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c.join(nc, F.col("c_nationkey") == F.col("c_nkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_register(
    "returned_items_top_customers",
    """
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
             AS revenue,
           count(*) AS n_items
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def returned_items_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue.

    The returnflag filter is pushed to the lineitem scan; the top-k is a
    TakeOrderedAndProject (no global sort materialization), tie-broken
    on c_custkey so the LIMIT is deterministic across engines.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    rev = _dec("l_extendedprice") * (1 - F.col("l_discount").cast("decimal(3,2)"))
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@_register(
    "top_customers_by_revenue",
    """
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
           count(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 10
    """,
)
def top_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    # aggregate orders first (shrinks the join's big side to one row per
    # customer), then join — at 100 TB this is agg-then-join, not join-then-agg
    rev = orders.groupBy("o_custkey").agg(
        F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        rev.join(customer, rev.o_custkey == customer.c_custkey)
        .select("c_custkey", "c_name", "revenue", "n_orders")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(10)
    )


@_register(
    "order_priority_check",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").alias("o")
    l = load_table(spark, sf_dir, "lineitem").alias("l")
    filtered = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    cond = (F.col("l.l_orderkey") == F.col("o.o_orderkey")) & (
        F.col("l.l_shipdate") > F.col("o.o_orderdate")
    )
    return (
        filtered.join(l, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@_register(
    "customers_per_region",
    """
    SELECT r_name, count(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def customers_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    # nation/region are tiny dims: broadcast both so the fact never shuffles
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Extension — exact dedup by business key (latest wins)
# ---------------------------------------------------------------------------

@_register(
    "dedup_events_by_user_type",
    """
    SELECT user_id, event_type, event_id, epoch_ms(ts) AS ts_ms, value
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t
    WHERE rn = 1
    """,
)
def dedup_events_by_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    latest = get_latest_records(ev, ["user_id", "event_type"], ["ts", "event_id"])
    return latest.select(
        "user_id", "event_type", "event_id", F.unix_millis("ts").alias("ts_ms"), "value"
    )


# ---------------------------------------------------------------------------
# Extensions — text analysis (SURVEY §2.4 / BASELINE north star)
# ---------------------------------------------------------------------------

@_register(
    "doc_stats",
    """
    SELECT doc_id,
           length(text) AS n_chars_c,
           len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
             AS n_tokens,
           length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
             AS punct_cnt,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bdq_spark.functions import text as TXT

    df = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    return df.select(
        "doc_id",
        TXT.char_count(c).alias("n_chars_c"),
        TXT.token_count(c).alias("n_tokens"),
        TXT.punct_count(c).alias("punct_cnt"),
        TXT.doc_fingerprint(c).alias("fingerprint"),
    )


def _sw_sql(words: list) -> str:
    arr = ", ".join(f"'{w}'" for w in words)
    return (
        "len(list_filter(list_filter(string_split_regex(lower(text), "
        f"'[^a-z0-9]+'), x -> x <> ''), x -> list_contains([{arr}], x)))"
    )


def _lang_oracle() -> str:
    from bdq_spark.functions.text import STOPWORDS

    c = {lang: _sw_sql(words) for lang, words in STOPWORDS.items()}
    return f"""
    SELECT doc_id,
      CASE
        WHEN length(regexp_replace(text, '[^\\x{{4e00}}-\\x{{9fff}}]', '', 'g')) * 20
             > length(text) THEN 'zh'
        WHEN {c['en']} >= {c['es']} AND {c['en']} >= {c['de']}
             AND {c['en']} >= {c['fr']} THEN 'en'
        WHEN {c['es']} >= {c['de']} AND {c['es']} >= {c['fr']} THEN 'es'
        WHEN {c['de']} >= {c['fr']} THEN 'de'
        ELSE 'fr'
      END AS lang_pred
    FROM documents
    """


@_register("doc_language", None)
def doc_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bdq_spark.functions import text as TXT

    df = load_table(spark, sf_dir, "documents")
    return df.select("doc_id", TXT.language_id(F.col("text")).alias("lang_pred"))


ORACLE_SQL["doc_language"] = _lang_oracle()


@_register("language_confusion", None)
def language_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation matrix for the heuristic language-ID:
    labeled language (the corpus ground truth) x predicted language,
    with counts — the standard accuracy diagnostic, as one aggregate
    over the scored scan."""
    from bdq_spark.functions import text as TXT

    df = load_table(spark, sf_dir, "documents")
    return (
        df.select("lang", TXT.language_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


ORACLE_SQL["language_confusion"] = f"""
    SELECT lang, lang_pred, count(*) AS n_docs
    FROM ({_lang_oracle().replace("SELECT doc_id,", "SELECT lang,")}) p
    GROUP BY 1, 2
    """


#: shared quality-score CTE chain (mirrors functions/text.py
#: quality_score); used by the doc_quality AND corpus_prepare oracles so
#: the formula lives in exactly one SQL copy.  Keeps the {sw_*}
#: placeholders — filled once per oracle by _fill_stopword_oracle.
_QUALITY_CTES = """t AS (
  SELECT doc_id, text,
    length(text)::DOUBLE AS chars,
    len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::DOUBLE
      AS tokens,
    (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
      AS punct_cnt
  FROM documents),
scored AS (
  SELECT doc_id, text, tokens,
    least(chars / 500.0, 1.0) AS len_comp,
    CASE WHEN chars / greatest(tokens, 1.0) >= 2.0
          AND chars / greatest(tokens, 1.0) <= 12.0 THEN 1.0 ELSE 0.0 END
      AS tok_comp,
    1.0 - least(punct_cnt / greatest(chars, 1.0) * 4.0, 1.0) AS punct_comp,
    least(({sw_en} + {sw_es} + {sw_de} + {sw_fr}) / 5.0, 1.0) AS sw_comp
  FROM t)"""

#: the rounded 0-1 score expression over a `scored` row
_QUALITY_EXPR = """CASE WHEN tokens = 0 THEN 0.0
       ELSE round(len_comp * 0.3 + tok_comp * 0.2
                  + punct_comp * 0.25 + sw_comp * 0.25, 6) END"""


def _fill_stopword_oracle(name: str) -> None:
    """Substitute the four {sw_*} stopword-count fragments into a
    registered oracle (shared by every oracle built on _QUALITY_CTES or
    the language CASE)."""
    from bdq_spark.functions.text import STOPWORDS

    ORACLE_SQL[name] = ORACLE_SQL[name].format(
        **{f"sw_{lang}": _sw_sql(STOPWORDS[lang]) for lang in ("en", "es", "de", "fr")}
    )


@_register(
    "doc_quality",
    f"""
    WITH {_QUALITY_CTES}
    SELECT doc_id, {_QUALITY_EXPR} AS quality
    FROM scored
    """,
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bdq_spark.functions import text as TXT

    df = load_table(spark, sf_dir, "documents")
    return df.select("doc_id", TXT.quality_score(F.col("text")).alias("quality"))


_fill_stopword_oracle("doc_quality")


@_register(
    "doc_gopher_quality",
    """
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS w,
             string_split(text, chr(10)) AS lines,
             len(text) - len(replace(text, '#', '')) AS n_hash,
             (len(text) - len(replace(text, '...', ''))) / 3.0 AS n_ell
      FROM documents),
    sig AS (
      SELECT doc_id,
             len(w)::BIGINT AS n_words,
             round(coalesce(list_sum(list_transform(w, x -> len(x))), 0)
                     ::DOUBLE / greatest(len(w), 1), 6) AS mean_word_len,
             round(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
                     ::DOUBLE / greatest(len(w), 1), 6) AS frac_alpha_words,
             len(list_intersect(w, ['the','be','to','of','and','that',
                                    'have','with']))::BIGINT AS n_stopwords,
             round((n_hash + n_ell) / greatest(len(w), 1), 6)
               AS symbol_word_ratio,
             round(len(list_filter(lines,
                     l -> substring(ltrim(l), 1, 1) IN ('•', '-', '*')))
                     ::DOUBLE / greatest(len(lines), 1), 6)
               AS frac_bullet_lines,
             round(len(list_filter(lines,
                     l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…'))
                     ::DOUBLE / greatest(len(lines), 1), 6)
               AS frac_ellipsis_lines
      FROM base)
    SELECT *, (n_words >= 50 AND n_words <= 100000
               AND mean_word_len >= 3 AND mean_word_len <= 10
               AND symbol_word_ratio <= 0.1
               AND frac_bullet_lines < 0.9
               AND frac_ellipsis_lines < 0.3
               AND frac_alpha_words >= 0.8
               AND n_stopwords >= 2) AS passes_gopher
    FROM sig
    """,
)
def doc_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality rule set (Rae et al. 2021 §A1.1) — every
    signal plus the combined pass flag, value-checked signal-by-signal
    against a DuckDB re-derivation.  Pure codegen expressions, zero
    shuffles (the production filter shape for a 100 TB corpus sweep)."""
    from bdq_spark.operators.text_analysis import gopher_quality

    return gopher_quality(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Extensions — deduplication
# ---------------------------------------------------------------------------

@_register(
    "dedup_fingerprint_documents",
    """
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
           min(doc_id) AS keeper_id,
           count(*) AS dup_count
    FROM documents
    GROUP BY 1
    """,
)
def dedup_fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bdq_spark.operators.dedup import fingerprint_dedup

    return fingerprint_dedup(load_table(spark, sf_dir, "documents"))


@_register(
    "paragraph_dedup_documents",
    """
    WITH synth AS (
      SELECT doc_id,
             text || chr(10) || 'copyright footer all rights reserved'
                  || chr(10) || 'doc section ' || (doc_id % 7)::VARCHAR
               AS text
      FROM documents),
    p AS (
      SELECT doc_id, u.s['pos'] AS pos, u.s['para'] AS para
      FROM (SELECT doc_id, string_split_regex(text, '\\n+') AS ps
            FROM synth) t,
           UNNEST(list_transform(range(1, len(ps) + 1),
                                 i -> {'pos': i, 'para': ps[i]})) AS u(s)
      WHERE u.s['para'] <> ''),
    r AS (
      SELECT doc_id, pos, para,
             row_number() OVER (
               PARTITION BY md5(trim(lower(para)))
               ORDER BY doc_id, pos) AS rk
      FROM p)
    SELECT doc_id,
           count(*) AS n_paragraphs,
           sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           coalesce(string_agg(CASE WHEN rk = 1 THEN para END, chr(10)
                               ORDER BY pos), '') AS clean_text,
           (count(*) - sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END))::BIGINT
             AS n_removed
    FROM r GROUP BY doc_id
    """,
)
def paragraph_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph dedup (C4/RefinedWeb line-level pass):
    paragraphs are synthesized deterministically (every doc gets the
    same boilerplate footer + one of 7 section lines appended), so the
    first-occurrence-wins removal provably fires across documents; the
    oracle re-derives the identical window decision and the reassembled
    text, value-hash checked."""
    from bdq_spark.operators.dedup import paragraph_dedup

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.lit("copyright footer all rights reserved"),
            F.concat(F.lit("doc section "), (F.col("doc_id") % 7).cast("string")),
        ).alias("text"),
    )
    return paragraph_dedup(docs)


@_register(
    "duplicate_spans_documents",
    """
    WITH words AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS w
      FROM documents),
    shl AS (
      SELECT doc_id, len(w) AS n_tokens,
             CASE WHEN len(w) >= 6
                  THEN list_transform(range(1, len(w) - 6 + 2),
                                      i -> {'pos': i - 1,
                                            'sh': array_to_string(w[i:i+5], ' ')})
                  WHEN len(w) > 0
                  THEN [{'pos': 0, 'sh': array_to_string(w, ' ')}]
                  ELSE [] END AS sl
      FROM words),
    pos_sh AS (
      SELECT doc_id, n_tokens, u.s['pos'] AS pos, u.s['sh'] AS sh
      FROM shl, UNNEST(sl) AS u(s)),
    dups AS (
      SELECT sh, count(*) AS n_docs
      FROM (SELECT DISTINCT doc_id, sh FROM pos_sh)
      GROUP BY sh HAVING count(*) >= 2),
    isl AS (
      SELECT doc_id, pos, n_tokens, n_docs,
             SUM(CASE WHEN prev IS NULL OR pos > prev + 6 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM (SELECT h.*, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                      AS prev
            FROM (SELECT p.doc_id, p.pos, p.n_tokens, d.n_docs
                  FROM pos_sh p JOIN dups d USING (sh)) h) t)
    SELECT doc_id,
           min(pos)::BIGINT AS span_start,
           least(max(pos) + 5, max(n_tokens) - 1)::BIGINT AS span_end,
           (least(max(pos) + 5, max(n_tokens) - 1) - min(pos) + 1)::BIGINT
             AS span_n_tokens,
           max(n_docs)::BIGINT AS max_dup_docs
    FROM isl GROUP BY doc_id, island
    """,
)
def duplicate_spans_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-passage detection INSIDE the corpus (Lee et al. 2022
    exact-substring dedup at 6-gram granularity): which token spans of
    each document also occur in >= 2 documents, merged to maximal
    spans.  Raw-string join keys here so the DuckDB oracle replays the
    pipeline exactly (production default is xxhash64 8-byte keys,
    verified equivalent in pytest)."""
    from bdq_spark.operators.dedup import duplicate_spans

    return duplicate_spans(
        load_table(spark, sf_dir, "documents"),
        n=6,
        min_dup_docs=2,
        hash_join_keys=False,
    )


@_register(
    "incremental_dedup_batch",
    """
    WITH b AS (
      SELECT doc_id, text,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
             ('0x' || substr(md5(chr(31) || doc_id::VARCHAR), 1, 8))::BIGINT
               % 1000000 AS bucket
      FROM documents),
    corpus AS (SELECT DISTINCT fp FROM b WHERE bucket < 800000),
    batch AS (
      SELECT doc_id, fp,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
      FROM b WHERE bucket >= 800000)
    SELECT t.doc_id
    FROM batch t LEFT JOIN corpus c USING (fp)
    WHERE t.rk = 1 AND c.fp IS NULL
    """,
)
def incremental_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: the 20% hash-split 'batch' probed
    against the 80% 'corpus' — corpus reduces to distinct fingerprints
    before a left-anti join, batch-internal dups keep the min id.
    Planted content duplicates straddling the split are dropped."""
    from bdq_spark.operators.dedup import incremental_fingerprint_dedup
    from bdq_spark.operators import hash_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    split = hash_split(docs, {"train": 0.8, "test": 0.2}, ["doc_id"])
    corpus = split.filter(F.col("split") == "train").drop("split")
    batch = split.filter(F.col("split") == "test").drop("split")
    return incremental_fingerprint_dedup(corpus, batch).select("doc_id")


@_register(
    "near_dup_jaccard",
    """
    WITH words AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS w
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
          CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
               ELSE list_transform(range(1, len(w) - 1),
                                   i -> array_to_string(w[i:i+2], ' '))
          END AS shingles
        FROM words) t, UNNEST(t.shingles) AS u(shingle)
      WHERE shingle <> ''),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, round(i / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(i / (sa.n + sb.n - i), 6) >= 0.8
    """,
)
def near_dup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUTPUT CONTRACT (since round 4): runs with the default
    ``max_shingle_doc_freq="auto"`` skew cap (1,000) — a shingle shared
    by more documents stops generating candidates, so a pair whose
    EVERY shared prefix shingle is corpus-boilerplate is not reported
    (same capped-recall trade as ``minhash_lsh_near_dup``; scores of
    reported pairs are exact).  The exhaustive oracle matches because
    no driver-testdata shingle approaches the cap; a corpus with a
    >1,000-doc above-threshold boilerplate cluster would diverge —
    by design (such clusters belong to exact fingerprint dedup)."""
    from bdq_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), n=3, threshold=0.8
    )


@_register("near_dup_edit_verified")
def near_dup_edit_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard near-dup candidates re-scored with character-level edit
    distance (the order-sensitive second opinion shingle-set overlap
    can't give).  Oracle composed below: the full jaccard pipeline SQL
    plus DuckDB's levenshtein — distances verified identical."""
    from bdq_spark.operators.dedup import (
        levenshtein_rescore,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = ngram_jaccard_pairs(docs, threshold=0.8)
    return levenshtein_rescore(pairs, docs).select(
        "id_a", "id_b", "jaccard", "edit_distance", "edit_similarity"
    )


@_register("near_dup_triangles")
def near_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts over the near-duplicate pair graph — the
    cluster-QUALITY signal connected components can't give: a
    triangle-dense cluster is a true duplicate group (pairwise-similar
    clique), while a triangle-free chain is borderline links
    transitively glued, the classic near-dup false-merge shape.  Runs
    the orientation-bounded :func:`triangle_counts` (Suri &
    Vassilvitskii) over the exact Jaccard pairs; the oracle recomputes
    the full shingle pipeline AND the triangle enumeration."""
    from bdq_spark.operators.components import triangle_counts
    from bdq_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), n=3, threshold=0.8
    )
    return triangle_counts(pairs, src="id_a", dst="id_b")


ORACLE_SQL["near_dup_triangles"] = f"""
    WITH jpairs AS ({ORACLE_SQL["near_dup_jaccard"]}),
    e AS (SELECT DISTINCT least(id_a, id_b) AS a,
                 greatest(id_a, id_b) AS b
          FROM jpairs WHERE id_a <> id_b),
    verts AS (SELECT a AS id FROM e UNION SELECT b AS id FROM e),
    t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM e e1
          JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
          JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
    credit AS (SELECT v, count(*) AS n FROM (
        SELECT x AS v FROM t
        UNION ALL SELECT y AS v FROM t
        UNION ALL SELECT z AS v FROM t) u GROUP BY 1)
    SELECT verts.id, CAST(COALESCE(credit.n, 0) AS BIGINT) AS n_triangles
    FROM verts LEFT JOIN credit ON verts.id = credit.v
"""


@_register("near_dup_kcore")
def near_dup_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core over the REAL near-duplicate pair graph — the companion
    signal to ``near_dup_triangles``: 2-core members sit inside
    mutually-similar blobs (every member keeps >= 2 similar neighbors
    after peeling), while chain links that transitively glue borderline
    pairs peel away — exactly the rows a conservative dedup keeps vs
    discards.  Runs :func:`kcore` over the exact Jaccard pairs; the
    oracle composes the full shingle pipeline with a MATERIALIZED
    12-round peel unroll (sound because the operator raises if
    unconverged)."""
    from bdq_spark.operators.components import kcore
    from bdq_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), n=3, threshold=0.8
    )
    return kcore(pairs, k=2, src="id_a", dst="id_b", max_rounds=12)


def _neardup_kcore_oracle(k: int = 2, rounds: int = 12) -> str:
    ctes = [
        f"jpairs AS ({ORACLE_SQL['near_dup_jaccard']})",
        "e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM"
        " (SELECT id_a AS src, id_b AS dst FROM jpairs"
        "  UNION ALL SELECT id_b, id_a FROM jpairs)"
        " WHERE src <> dst)",
    ]
    for r in range(rounds):
        ctes.append(
            f"b{r} AS MATERIALIZED (SELECT src FROM e{r} GROUP BY src"
            f" HAVING count(*) < {k})"
        )
        ctes.append(
            f"e{r + 1} AS MATERIALIZED (SELECT src, dst FROM e{r}"
            f" WHERE src NOT IN (SELECT src FROM b{r})"
            f" AND dst NOT IN (SELECT src FROM b{r}))"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT src AS id, count(*) AS degree FROM e{rounds}"
        " GROUP BY src"
    )


ORACLE_SQL["near_dup_kcore"] = _neardup_kcore_oracle()


ORACLE_SQL["near_dup_edit_verified"] = f"""
    WITH jpairs AS ({ORACLE_SQL["near_dup_jaccard"]})
    SELECT j.id_a, j.id_b, j.jaccard,
           levenshtein(a.text, b.text) AS edit_distance,
           CASE WHEN greatest(len(a.text), len(b.text)) = 0 THEN 1.0
                ELSE round(1.0 - levenshtein(a.text, b.text)
                           / greatest(len(a.text), len(b.text)), 6)
           END AS edit_similarity
    FROM jpairs j
    JOIN documents a ON a.doc_id = j.id_a
    JOIN documents b ON b.doc_id = j.id_b
    """


@_register(
    "near_dup_clusters",
    """
    WITH RECURSIVE words AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS w
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
          CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
               ELSE list_transform(range(1, len(w) - 1),
                                   i -> array_to_string(w[i:i+2], ' '))
          END AS shingles
        FROM words) t, UNNEST(t.shingles) AS u(shingle)
      WHERE shingle <> ''),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE round(i / (sa.n + sb.n - i), 6) >= 0.8),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT a AS id, a AS r FROM edges
      UNION
      SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a)
    SELECT id, min(r) AS cluster_id, id = min(r) AS is_keeper
    FROM reach GROUP BY id
    """,
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs promoted to duplicate CLUSTERS: min-label
    connected components over the Jaccard >= 0.8 pair graph, with a
    deterministic min-id keeper per cluster — the executable dedup
    decision.  Oracle: recursive-CTE reachability closure in DuckDB.
    Inherits ``near_dup_jaccard``'s capped-recall contract (default
    boilerplate-shingle cap; see its docstring)."""
    from bdq_spark.operators import connected_components
    from bdq_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), n=3, threshold=0.8
    )
    return connected_components(pairs)


@_register("minhash_lsh_near_dup", ORACLE_SQL["near_dup_jaccard"])
def minhash_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH near-dup candidates with exact verify at J >= 0.8 —
    VALUE-HASHED since r12 (was rows-only): the xxhash64 signatures are
    engine-local, but the entry's OUTPUT after the exact-Jaccard verify
    stage is not — reported pairs carry exact rational scores, and the
    banding's measured recall on >= 0.8 pairs is 1 on the driver
    fixtures at both sf0.001 and sf0.01 (expected: a J = 0.8 pair
    escapes all 16 4-row bands with probability (1-0.8^4)^16 ~ 2e-4).
    So the EXHAUSTIVE exact-Jaccard oracle (``near_dup_jaccard``'s SQL)
    value-hashes the verified pair set; the engine-local ``est_jaccard``
    column is dropped from the output to keep every reported value
    engine-reproducible.  A hash-miss here means the LSH path lost a
    true pair (or invented a score) — exactly the regression worth
    failing on.

    OUTPUT CONTRACT (since round 3): ``max_bucket_size=256`` caps band
    buckets — a duplicate cluster larger than 256 documents whose
    members collide in EVERY band contributes no pairs (deliberate
    recall trade: such clusters are intrinsically quadratic and belong
    to exact fingerprint dedup).  On the driver's testdata no bucket
    approaches the cap, so results equal the uncapped run."""
    from bdq_spark.operators.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(
        load_table(spark, sf_dir, "documents"),
        n=3, num_hashes=64, bands=16, verify_threshold=0.8,
        # skew guard: a mass-duplicate cluster collides in every band;
        # capped buckets are skipped instead of going quadratic
        max_bucket_size=256,
    ).select("id_a", "id_b", "jaccard")


@_register(
    "incremental_minhash_near_dup",
    # the exhaustive exact-Jaccard pipeline, oriented per the split:
    # id_a is always the batch doc (doc_id % 5 == 0); match_side says
    # whether id_b came from the corpus index or is a batch sibling
    """
    WITH jp AS ({near_dup_jaccard}),
    oriented AS (
      SELECT CASE WHEN id_a % 5 = 0 THEN id_a ELSE id_b END AS a,
             CASE WHEN id_a % 5 = 0 THEN id_b ELSE id_a END AS b,
             jaccard
      FROM jp
      WHERE id_a % 5 = 0 OR id_b % 5 = 0)
    SELECT a AS id_a, b AS id_b,
           CASE WHEN b % 5 = 0 THEN 'batch' ELSE 'corpus' END
             AS match_side,
           jaccard
    FROM oriented
    """.format(near_dup_jaccard=ORACLE_SQL["near_dup_jaccard"]),
)
def incremental_minhash_near_dup_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Continuous-ingest near-dup: 80% of documents form the persisted
    band index, the other 20% arrive as a batch and are probed against
    it (plus batch-internal pairs) without re-touching corpus text —
    then the candidates are EXACT-VERIFIED at J >= 0.8 (the full
    candidates-then-verify incremental pipeline; the verify join
    touches only the LSH survivors' shingle sets).

    VALUE-HASHED since r12 (was rows-only): the xxhash64 band keys are
    engine-local, but the verified output is not — scores are exact
    rationals, and banding recall on >= 0.8 pairs is measured 1 on the
    driver fixtures at both SFs (same (1-0.8^4)^16 ~ 2e-4 escape math
    as ``minhash_lsh_near_dup``), so the oracle recomputes the
    exhaustive cross-split exact-Jaccard pairs with the operator's id
    orientation.  A hash-miss means the incremental probe lost a true
    pair across the index boundary — the regression this entry exists
    to catch."""
    from bdq_spark.operators.dedup import (
        _jaccard_for_pairs,
        incremental_minhash_near_dup,
        minhash_band_index,
        shingle,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    # cap BOTH sides: corpus-hot buckets once at build time, batch-hot
    # buckets at probe time
    # the candidate relation is read three times below (two id
    # projections + the join back) — materialize it once, or the band
    # joins would re-run per reference
    cand = incremental_minhash_near_dup(
        minhash_band_index(corpus, max_bucket_size=256),
        batch,
        max_bucket_size=256,
    ).localCheckpoint(eager=True)
    # shingle ONLY the documents that appear in a candidate pair: the
    # verify stage's cost must track |candidates|, not corpus size —
    # at 100 TB the candidate set is tiny next to the corpus, and
    # re-shingling the corpus to score a handful of survivors would be
    # the verify stage's own scale bug (measured at bench scale:
    # corpus-wide shingling made the verify ~2.8 s of a 6.9 s entry)
    pair_ids = (
        cand.select(F.col("id_a").alias("doc_id"))
        .union(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    ver = _jaccard_for_pairs(
        cand.select("id_a", "id_b"),
        shingle(docs.join(pair_ids, "doc_id", "left_semi"),
                "text", "doc_id", 3),
    ).filter(F.col("jaccard") >= 0.8)
    return cand.join(ver, ["id_a", "id_b"]).select(
        "id_a", "id_b", "match_side", "jaccard"
    )


@_register("simhash_fingerprints")  # rows-only: xxhash64 not in DuckDB
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bdq_spark.operators.dedup import simhash

    return simhash(load_table(spark, sf_dir, "documents"))


@_register("simhash_pairs")  # rows-only: xxhash64-derived fingerprints
def simhash_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercises the combination-banded candidate JOIN (not just the
    fingerprints): near-dup doc pairs within Hamming distance 4."""
    from bdq_spark.operators.dedup import simhash_pairs

    return simhash_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=4
    )


# shared by the md5-hash MinHash/SimHash oracles below: same shingle /
# token CTEs as near_dup_jaccard, same base hash = first 60 bits of the
# md5 hex digest — reproducible in DuckDB, unlike xxhash64
_MINHASH_MD5_ORACLE = r"""
WITH words AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS w
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
      CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
           ELSE list_transform(range(1, len(w) - 1),
                               i -> array_to_string(w[i:i+2], ' '))
      END AS shingles
    FROM words) t, UNNEST(t.shingles) AS u(shingle)
  WHERE shingle <> ''),
base AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 AS h
  FROM sh),
sigs AS (
  SELECT doc_id, CAST(t.i AS INTEGER) AS i,
         min((h * (((2 * t.i + 1) * 2654435761) % 2147483647)
              + ((t.i * 40503 + 97) % 2147483647)) % 2147483647) AS m
  FROM base, UNNEST(range(64)) AS t(i)
  GROUP BY 1, 2),
bands AS (
  SELECT doc_id, i // 4 AS band,
         string_agg(m::VARCHAR, ',' ORDER BY i) AS band_key
  FROM sigs GROUP BY doc_id, i // 4),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id)
SELECT c.id_a, c.id_b,
       round(sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 64.0, 6)
         AS est_jaccard
FROM cand c
JOIN sigs sa ON sa.doc_id = c.id_a
JOIN sigs sb ON sb.doc_id = c.id_b AND sb.i = sa.i
GROUP BY 1, 2
"""


@_register("minhash_md5_near_dup", _MINHASH_MD5_ORACLE)
def minhash_md5_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash LSH pipeline with the engine-portable md5 base hash —
    the DuckDB oracle recomputes signatures, banding, candidate join and
    the signature-agreement estimate, so the WHOLE LSH path gets a
    value-hash correctness row (the xxhash64 production entry above
    stays rows-only).  Uncapped and unverified on purpose: the oracle
    checks the raw banding semantics, not the skew/verify wrappers."""
    from bdq_spark.operators.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(
        load_table(spark, sf_dir, "documents"),
        n=3, num_hashes=64, bands=16, hash_fn="md5",
    )


_INCREMENTAL_MD5_ORACLE = r"""
WITH words AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS w
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
      CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
           ELSE list_transform(range(1, len(w) - 1),
                               i -> array_to_string(w[i:i+2], ' '))
      END AS shingles
    FROM words) t, UNNEST(t.shingles) AS u(shingle)
  WHERE shingle <> ''),
base AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 AS h
  FROM sh),
sigs AS (
  SELECT doc_id, CAST(t.i AS INTEGER) AS i,
         min((h * (((2 * t.i + 1) * 2654435761) % 2147483647)
              + ((t.i * 40503 + 97) % 2147483647)) % 2147483647) AS m
  FROM base, UNNEST(range(64)) AS t(i)
  GROUP BY 1, 2),
bands AS (
  SELECT doc_id, i // 4 AS band,
         string_agg(m::VARCHAR, ',' ORDER BY i) AS band_key
  FROM sigs GROUP BY doc_id, i // 4),
corpus AS (SELECT * FROM bands WHERE doc_id % 3 <> 0),
batch AS (SELECT * FROM bands WHERE doc_id % 3 = 0),
vs_corpus AS (
  SELECT DISTINCT b.doc_id AS id_a, c.doc_id AS id_b,
         'corpus' AS match_side
  FROM batch b JOIN corpus c
    ON b.band = c.band AND b.band_key = c.band_key
  WHERE b.doc_id <> c.doc_id),
vs_batch AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         'batch' AS match_side
  FROM batch a JOIN batch b
    ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id)
SELECT * FROM vs_corpus UNION ALL SELECT * FROM vs_batch
"""


@_register("incremental_minhash_md5", _INCREMENTAL_MD5_ORACLE)
def incremental_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL MinHash path (persisted band index + batch probe)
    with the engine-portable md5 base hash — the md5 twin that upgrades
    ``incremental_minhash_near_dup`` from rows-only to a value-hash row:
    the corpus slice (doc_id % 3 != 0) builds the index, the batch slice
    (doc_id % 3 == 0) probes it, and the DuckDB oracle recomputes
    signatures, banding, the index join AND the batch-internal join.
    Band keys hash the signature slice (xxhash64 of the joined string)
    but two docs share a band iff their slices are equal, so the pair
    set is engine-reproducible even though the key bytes aren't."""
    from bdq_spark.operators.dedup import (
        incremental_minhash_near_dup,
        minhash_band_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    index = minhash_band_index(corpus, hash_fn="md5")
    return incremental_minhash_near_dup(index, batch, hash_fn="md5")


#: persisted MinHash index version — bump on any index parameter or
#: schema change so stale staged dirs regenerate (the CDC staging
#: lesson: the version is baked into the staging key AND the marker)
_MINHASH_INDEX_VERSION = 1


def _index_marker_content(
    sf_dir: str, table: str, version: int, params: dict
) -> str:
    """Marker content for a cross-run staged index (ADVICE r11): the
    sf_dir + version ALONE under-identify the index — regenerating the
    fixture in place, or an operator default drifting without a version
    bump, must invalidate the staged dir.  So the marker folds in a
    cheap data fingerprint (source parquet mtime + size) and the full
    build-parameter set; any drift makes the content mismatch and the
    index rebuild."""
    import os

    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    param_sig = ",".join(f"{k}={params[k]!r}" for k in sorted(params))
    return (
        f"{sf_dir}:v{version}:data={int(st.st_mtime)}:{st.st_size}"
        f":params[{param_sig}]"
    )


def _operator_defaults(fn) -> dict:
    """Every defaulted parameter of ``fn`` — folded into the staging
    marker so a banding/bucketing default changed WITHOUT a version
    bump still regenerates the staged index."""
    import inspect

    return {
        k: v.default
        for k, v in inspect.signature(fn).parameters.items()
        if v.default is not inspect.Parameter.empty
    }


def _stage_index_atomic(df, path: str, marker_content: str) -> None:
    """Publish a staged index dir ATOMICALLY (ADVICE r11): write to a
    pid-suffixed temp dir (marker last, inside it), then a single
    ``os.rename`` to the final path — a concurrent builder racing us
    either wins the rename (we discard our temp copy; contents are
    deterministic, so theirs equals ours) or sees ours.  Readers can
    never observe a half-written dir with a valid marker."""
    import os
    import shutil

    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    df.write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, "_STAGED"), "w") as fh:
        fh.write(marker_content)
    shutil.rmtree(path, ignore_errors=True)
    try:
        os.rename(tmp, path)
    except OSError:
        # Either a concurrent builder published first (fine — contents
        # are deterministic, theirs equals ours) or the rename failed
        # for a mundane reason, e.g. the stale dest survived the
        # ignore_errors rmtree above.  Distinguish the two (ADVICE
        # r12): accept only a dest that carries a VALID marker;
        # otherwise surface the failure instead of letting callers
        # silently read a stale index.
        shutil.rmtree(tmp, ignore_errors=True)
        if not _staged_index_ok(path, marker_content):
            raise


def _staged_index_ok(path: str, marker_content: str) -> bool:
    import os

    marker = os.path.join(path, "_STAGED")
    if not os.path.exists(marker):
        return False
    with open(marker) as fh:
        return fh.read() == marker_content


# build-parameter sets captured at IMPORT time: a source-level default
# drift regenerates the staged index (the marker changes), while
# runtime monkeypatching (the steady-state rebuild-poison tests) can't
# perturb the marker and fake a drift
from bdq_spark.operators.dedup import (  # noqa: E402
    minhash_band_index as _mbi_for_defaults,
)

_MINHASH_INDEX_PARAMS = _operator_defaults(_mbi_for_defaults)
del _mbi_for_defaults


@_register("persisted_minhash_index_probe", _INCREMENTAL_MD5_ORACLE)
def persisted_minhash_index_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CROSS-RUN INDEX DURABILITY, gated end to end (VERDICT r10 item
    7): the md5 MinHash band index of the corpus slice (doc_id % 3 !=
    0) is BUILT ONCE and persisted as parquet hash-clustered by
    band_key (a production deployment would write it bucketed — the
    zero-exchange bucketed-scan play is gated separately by
    ``bucketed_join_orders_customer``); every later invocation —
    including the NEXT DRIVER ROUND, which shares the staged dir —
    loads the index from disk and probes the batch slice (doc_id % 3
    == 0) against it without re-touching corpus text on the index
    side.  Steady state is probe-only: O(batch) signature work plus an
    equi-join on (band, band_key) against a 3-column index scan —
    at 100 TB the corpus is never re-hashed, which is the entire value
    of persisting the index.

    The entry RAISES unless the plan proves the steady-state contract:
    the staged index dir must appear as a parquet scan, and no
    documents scan may be visible (the batch side's one text read
    lives behind its lazy checkpoint inside the probe operator — if a
    documents scan ever surfaces here, the index side has started
    rebuilding from text and must fail loudly, because the rows would
    still be correct).  Values hash against DuckDB recomputing
    signatures, banding and BOTH probe joins from scratch, proving the
    persisted index is lossless vs the in-memory build
    (``incremental_minhash_md5`` gates the in-memory path; the two
    entries coincide by construction).
    """
    import hashlib
    import os

    from bdq_spark.operators.dedup import (
        incremental_minhash_near_dup,
        minhash_band_index,
    )
    from bdq_spark.plans.plan_lint import plan_text

    key = hashlib.md5(
        f"{sf_dir}:minhash_idx_v{_MINHASH_INDEX_VERSION}".encode()
    ).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"bdq_minhash_idx_{key}")
    # ADVICE r11: the marker identifies the DATA (fixture fingerprint)
    # and the BUILD PARAMETERS (operator defaults + explicit overrides),
    # not just (sf_dir, version) — regenerating the fixture in place or
    # drifting a banding default regenerates the index instead of
    # silently reusing a stale one
    params = dict(_MINHASH_INDEX_PARAMS)
    params.update(hash_fn="md5", corpus_split="doc_id % 3 != 0")
    expected_marker = _index_marker_content(
        sf_dir, "documents", _MINHASH_INDEX_VERSION, params
    )
    docs = load_table(spark, sf_dir, "documents")
    if not _staged_index_ok(path, expected_marker):
        corpus = docs.filter(F.col("doc_id") % 3 != 0)
        _stage_index_atomic(
            minhash_band_index(corpus, hash_fn="md5").repartition(
                16, "band_key"
            ),
            path,
            expected_marker,
        )
    index = spark.read.parquet(path)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    out = incremental_minhash_near_dup(index, batch, hash_fn="md5")

    plan = plan_text(out)
    if os.path.basename(path) not in plan:
        raise RuntimeError(
            "persisted-index contract regressed: the staged index dir "
            "is not scanned (index rebuilt in memory?):\n" + plan[:2000]
        )
    if "documents.parquet" in plan:
        raise RuntimeError(
            "persisted-index contract regressed: a documents scan is "
            "visible in the probe plan (index side touching corpus "
            "text?):\n" + plan[:2000]
        )
    return out


_SIMHASH_MD5_FP_CTES = r"""
WITH toks AS (
  SELECT doc_id, u.tok FROM (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS w
    FROM documents) t, UNNEST(t.w) AS u(tok)),
h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
votes AS (
  SELECT doc_id, CAST(t.i AS INTEGER) AS i,
         CASE WHEN sum(CASE WHEN (h >> CAST(t.i AS INTEGER)) & 1 = 1
                            THEN 1 ELSE -1 END) > 0
              THEN (1::BIGINT << CAST(t.i AS INTEGER))
              ELSE 0::BIGINT END AS term
  FROM h, UNNEST(range(64)) AS t(i)
  GROUP BY doc_id, t.i),
fp AS (
  SELECT doc_id AS id, CAST(sum(term) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id)
"""


@_register(
    "simhash_md5_fingerprints",
    _SIMHASH_MD5_FP_CTES + "\nSELECT id, simhash FROM fp",
)
def simhash_md5_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash with the engine-portable md5 token hash (60 effective
    bits) — DuckDB recomputes the per-bit votes and the packed
    fingerprint, upgrading the simhash path from rows-only to a
    value-hash correctness row."""
    from bdq_spark.operators.dedup import simhash

    return simhash(load_table(spark, sf_dir, "documents"), hash_fn="md5")


@_register(
    "simhash_md5_pairs",
    _SIMHASH_MD5_FP_CTES + """
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
""",
)
def simhash_md5_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combination-banded SimHash pair search, md5 fingerprints: the
    pigeonhole banding is LOSSLESS (uncapped), so the oracle can verify
    it against the exhaustive cross-join Hamming evaluation — an exact
    value-hash check that the banded join misses nothing."""
    from bdq_spark.operators.dedup import simhash_pairs

    return simhash_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=4, hash_fn="md5"
    )


# ---------------------------------------------------------------------------
# Extensions — vector similarity search
# ---------------------------------------------------------------------------

@_register(
    "knn_embeddings",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(q.qv, e.embedding::DOUBLE[])
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                              e.embedding::DOUBLE[]))), 6)
               AS cosine
      FROM embeddings e CROSS JOIN q),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 10
    """,
)
def knn_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bdq_spark.operators.similarity import knn_bruteforce

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return knn_bruteforce(emb, queries, k=10)


# scale contract of the one deliberately-quadratic registry entry:
# above this corpus size the exact all-pairs shape refuses to run.
# Imported from the operator (its auto exact->LSH cutover) so the
# guard tracks the contract it mirrors instead of duplicating it.
from bdq_spark.operators.dedup import (  # noqa: E402
    EMBEDDING_PAIRS_EXACT_MAX_ROWS as _NEAR_DUP_PAIRS_EXACT_MAX_ROWS,
)


@_register(
    "embedding_near_dup_pairs",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_dot_product(a.e, b.e)
                   / (sqrt(list_dot_product(a.e, a.e))
                      * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
      FROM v a JOIN v b ON a.vec_id < b.vec_id)
    SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.3
    """,
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SF-BOUNDED BY CONTRACT (the registry's one deliberate
    quadratic): this entry pins ``mode="exact"`` so its DuckDB oracle
    can replay EVERY pair, and SELF-ENFORCES that contract by raising
    once the corpus exceeds the operator's own exact/LSH cutover
    (``exact_max_rows``) — mirroring ``pruned_scan_orders``'
    plan-assertion pattern: the registered artifact states its own
    scale limit instead of silently going quadratic.  The production
    path at scale is :func:`embedding_cosine_pairs` with
    ``mode="lsh"`` (or the default ``mode="auto"``, which cuts over by
    itself) — measured scale exponent 0.44 on identical data vs 1.43
    for forced-exact (BENCH_SCALE ``embedding_near_dup_pairs_lsh``
    twin)."""
    from bdq_spark.operators.dedup import embedding_cosine_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    exact_max_rows = _NEAR_DUP_PAIRS_EXACT_MAX_ROWS
    n = emb.count()
    if n > exact_max_rows:
        raise ValueError(
            f"embedding_near_dup_pairs is the sf-bounded EXACT twin "
            f"({n} rows > exact_max_rows={exact_max_rows}); run "
            "embedding_cosine_pairs(mode='lsh') — the measured-"
            "sublinear production path — instead of forcing the "
            "all-pairs oracle shape at this scale"
        )
    return embedding_cosine_pairs(emb, threshold=0.3, mode="exact")


def _pairs_lsh_md5_oracle(
    num_planes: int,
    num_tables: int,
    threshold: float,
    dim: int = 64,
    split: Optional[tuple] = None,
) -> str:
    """DuckDB oracle for :func:`embedding_cosine_pairs_md5` (and the
    persisted-index probe): recomputes EVERY OR-table — per-table md5
    integer hyperplanes (table 0 the bare seed, table t the ``:t{t}``
    suffix, see ``_table_seed``), quantized int64 margins, bucket
    codes, per-table same-bucket joins, the cross-table union/distinct
    and the rounded-cosine verify cut — so the multi-table candidate
    path is value-checked end to end, not just its exact fallback.

    ``split=(batch_pred, corpus_pred)`` switches the pair join from
    within-corpus (``id_a < id_b``) to batch-vs-corpus probing (id_a
    from the batch side, id_b from the corpus side) — the oracle shape
    of ``persisted_vector_index_probe``."""
    if split is None:
        cand_join = (
            "JOIN buckets b ON b.t = a.t AND b.bucket = a.bucket\n"
            "                    AND a.vec_id < b.vec_id"
        )
        cand_from = "FROM buckets a"
    else:
        batch_pred, corpus_pred = split
        cand_from = f"FROM (SELECT * FROM buckets WHERE {batch_pred}) a"
        cand_join = (
            f"JOIN (SELECT * FROM buckets WHERE {corpus_pred}) b\n"
            "        ON b.t = a.t AND b.bucket = a.bucket"
        )
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    comp AS (
      SELECT vec_id, CAST(tj.j AS INT) AS j,
             CAST(round(v.e[CAST(tj.j AS INT) + 1] * 10000) AS BIGINT) AS q
      FROM v CROSS JOIN range({dim}) tj(j)),
    planes AS (
      SELECT CAST(tt.t AS INT) AS t, CAST(tp.p AS INT) AS p,
             CAST(tj.j AS INT) AS j,
             (('0x' || substr(md5(
                 CASE WHEN tt.t = 0 THEN 'bdq_lshq'
                      ELSE 'bdq_lshq:t' || tt.t END
                 || ':' || tp.p || ':' || tj.j), 1, 15))::BIGINT
              % 20001) - 10000 AS hv
      FROM range({num_tables}) tt(t)
      CROSS JOIN range({num_planes}) tp(p)
      CROSS JOIN range({dim}) tj(j)),
    margins AS (
      SELECT c.vec_id, pl.t, pl.p,
             CAST(sum(c.q * pl.hv) AS BIGINT) AS margin
      FROM comp c JOIN planes pl ON pl.j = c.j
      GROUP BY 1, 2, 3),
    buckets AS (
      SELECT vec_id, t,
             CAST(sum(CASE WHEN margin >= 0
                           THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)
                  AS BIGINT) AS bucket
      FROM margins GROUP BY 1, 2),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      {cand_from}
      {cand_join}),
    scored AS (
      SELECT c.id_a, c.id_b,
             round(list_dot_product(a.e, b.e)
                   / (sqrt(list_dot_product(a.e, a.e))
                      * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
      FROM cand c
      JOIN v a ON a.vec_id = c.id_a
      JOIN v b ON b.vec_id = c.id_b)
    SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {threshold}
    """


@_register(
    "embedding_near_dup_pairs_multitable",
    _pairs_lsh_md5_oracle(num_planes=4, num_tables=2, threshold=0.3),
)
def embedding_near_dup_pairs_multitable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OR-ed MULTI-TABLE LSH near-dup pairs (VERDICT r11 item 1),
    value-hashed through the md5 twin
    (:func:`~bdq_spark.operators.dedup.embedding_cosine_pairs_md5`):
    two independent integer-hyperplane tables, same-bucket candidates
    unioned before the exact ``round(cosine, 6)`` verify.  The DuckDB
    oracle replays BOTH tables.  On this fixture the OR-lift is
    directly visible — at 4 planes, T=1 recovers 151 of the 990 exact
    >= 0.3 pairs, T=2 264, T=3 367 (``1 - (1 - r)^T``); the float
    production path (:func:`embedding_cosine_pairs` lsh mode) applies
    the same geometry with ``LSH_DEFAULT_TABLES`` OR-tables and a
    recall floor pinned at >= 0.95 on planted twins
    (tests/test_text_dedup.py)."""
    from bdq_spark.operators.dedup import embedding_cosine_pairs_md5

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    if n > _FIXED_GEOMETRY_MAX_ROWS:
        raise ValueError(
            f"embedding_near_dup_pairs_multitable pins a small ORACLE "
            f"geometry (4 planes x 2 tables) whose bucket occupancy "
            f"grows linearly with the corpus ({n} rows > "
            f"{_FIXED_GEOMETRY_MAX_ROWS}); the production multi-table "
            "path is embedding_cosine_pairs(mode='lsh') — adaptive "
            "planes + LSH_DEFAULT_TABLES, measured sub-linear "
            "(BENCH_SCALE embedding_near_dup_pairs_lsh)"
        )
    return embedding_cosine_pairs_md5(
        emb, threshold=0.3, num_planes=4, num_tables=2, dim=64,
    )


#: fixed-geometry oracle entries state their own scale limit (the
#: pruned_scan_orders / embedding_near_dup_pairs pattern): their pinned
#: small plane counts exist so DuckDB can replay every bucket, and past
#: this corpus size the pinned buckets go quadratic BY CONSTRUCTION —
#: the production path (adaptive planes) is the measured-linear one.
_FIXED_GEOMETRY_MAX_ROWS = 50_000

#: persisted vector-LSH index version — same contract as
#: _MINHASH_INDEX_VERSION: bump on any schema/parameter change
_VECTOR_INDEX_VERSION = 1

#: build geometry of the persisted vector index — module-level so the
#: entry, its marker, and its oracle can never disagree
_VECTOR_INDEX_GEO = dict(num_planes=3, num_tables=2, threshold=0.3, dim=64)


@_register(
    "persisted_vector_index_probe",
    _pairs_lsh_md5_oracle(
        split=("vec_id % 3 = 0", "vec_id % 3 <> 0"), **_VECTOR_INDEX_GEO
    ),
)
def persisted_vector_index_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CROSS-RUN INDEX DURABILITY for the VECTOR side (VERDICT r11 item
    3 — the mirror of ``persisted_minhash_index_probe``): the corpus
    slice of embeddings (vec_id % 3 != 0) is bucketed ONCE with the
    OR-ed multi-table md5 LSH (2 independent integer-hyperplane tables,
    namespaced int64 buckets) and persisted as parquet hash-clustered
    by bucket; every later invocation — including the next driver
    round, which shares the staged dir — loads the index from disk and
    probes the batch slice (vec_id % 3 == 0) against it without
    re-reading corpus embeddings on the index side.  Steady state is
    probe-only: O(batch) bucketing plus an equi-join on ``bucket``
    against the index scan — at 100 TB the corpus embeddings are never
    re-hashed, which is the entire value of persisting the index.

    The entry RAISES unless the plan proves the steady-state contract:
    the staged index dir must appear as a parquet scan and no
    embeddings scan may be visible (the batch side's one read lives
    behind its lazy checkpoint — if an embeddings scan surfaces, the
    index side has started rebuilding and must fail loudly).  The
    marker carries the fixture fingerprint + full build geometry
    (ADVICE r11), and staging is atomic (temp dir + rename).  Values
    hash against DuckDB recomputing BOTH tables' planes, margins,
    buckets and the batch-vs-corpus probe join from scratch — the
    persisted index is lossless vs the in-memory build."""
    import hashlib
    import os

    from bdq_spark.operators._checkpoint import data_checkpoint
    from bdq_spark.operators.similarity import (
        _table_seed,
        cosine_from_norms,
        l2_norm,
        lsh_bucket_vectors_md5,
    )
    from bdq_spark.plans.plan_lint import plan_text

    geo = _VECTOR_INDEX_GEO
    key = hashlib.md5(
        f"{sf_dir}:vector_idx_v{_VECTOR_INDEX_VERSION}".encode()
    ).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"bdq_vector_idx_{key}")
    params = dict(geo)
    params.update(scale=10000, seed="bdq_lshq",
                  corpus_split="vec_id % 3 != 0")
    expected_marker = _index_marker_content(
        sf_dir, "embeddings", _VECTOR_INDEX_VERSION, params
    )
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    if n > _FIXED_GEOMETRY_MAX_ROWS:
        raise ValueError(
            f"persisted_vector_index_probe pins a small ORACLE geometry "
            f"({n} rows > {_FIXED_GEOMETRY_MAX_ROWS}); a production "
            "deployment persists the ADAPTIVE-plane bucketing "
            "(lsh_probe_buckets with _adaptive_planes sizing), whose "
            "occupancy — and therefore probe cost — stays constant"
        )

    def _buckets(df):
        # OR-ed multi-table md5 bucketing, (table << planes) | bucket
        out = None
        for t in range(geo["num_tables"]):
            ns = F.lit(t * (1 << geo["num_planes"])).cast("long")
            bt = lsh_bucket_vectors_md5(
                df, "embedding", "vec_id", geo["num_planes"], geo["dim"],
                seed=_table_seed("bdq_lshq", t),
            ).select("id", "vec", (F.col("bucket") + ns).alias("bucket"))
            out = bt if out is None else out.unionByName(bt)
        return out

    if not _staged_index_ok(path, expected_marker):
        corpus = emb.filter(F.col("vec_id") % 3 != 0)
        _stage_index_atomic(
            _buckets(corpus).repartition(8, "bucket"), path, expected_marker
        )
    # norms once per ROW below the bucket join (the knn_bruteforce
    # trick; OPTIMIZATION_r14): per candidate PAIR only the dot product
    # remains, and the checkpointed batch side materializes its norms —
    # cosine_from_norms keeps cosine_similarity's exact multiplication/
    # guard order, so values are bit-identical
    index = spark.read.parquet(path).withColumn(
        "__n", l2_norm(F.col("vec"))
    )
    # the batch side's single embeddings read hides behind this lazy
    # checkpoint — the plan assertion below would otherwise see it
    batch = data_checkpoint(
        _buckets(emb.filter(F.col("vec_id") % 3 == 0)).withColumn(
            "__n", l2_norm(F.col("vec"))
        ),
        eager=False,
    )
    cos = cosine_from_norms(
        F.col("qv"), F.col("cv"), F.col("__qn"), F.col("__cn")
    )
    out = (
        batch.alias("q")
        .join(index.alias("c"), "bucket")
        .select(
            F.col("q.id").alias("id_a"),
            F.col("c.id").alias("id_b"),
            F.col("q.vec").alias("qv"),
            F.col("c.vec").alias("cv"),
            F.col("q.__n").alias("__qn"),
            F.col("c.__n").alias("__cn"),
        )
        .dropDuplicates(["id_a", "id_b"])  # cross-table re-surfacing
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= geo["threshold"])
    )
    plan = plan_text(out)
    if os.path.basename(path) not in plan:
        raise RuntimeError(
            "persisted-index contract regressed: the staged vector "
            "index dir is not scanned (index rebuilt in memory?):\n"
            + plan[:2000]
        )
    if "embeddings.parquet" in plan:
        raise RuntimeError(
            "persisted-index contract regressed: an embeddings scan is "
            "visible in the probe plan (index side re-hashing corpus "
            "vectors?):\n" + plan[:2000]
        )
    return out


_VEC_STREAM_ORACLE = r"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
allv AS (
  SELECT vec_id, e FROM v
  UNION ALL
  -- planted near-twin of every third vector: first component halved
  -- (0.5 is a power of two, so the float-stored twin equals the
  -- double-computed one bit-for-bit), id offset +1e7 so originals
  -- always carry the smaller id
  SELECT vec_id + 10000000,
         list_transform(e, (x, i) -> CASE WHEN i = 1
                                          THEN x * 0.5 ELSE x END)
  FROM v WHERE vec_id % 3 = 0),
comp AS (
  SELECT vec_id, CAST(tj.j AS INT) AS j,
         CAST(round(a.e[CAST(tj.j AS INT) + 1] * 10000) AS BIGINT) AS q
  FROM allv a CROSS JOIN range(64) tj(j)),
planes AS (
  SELECT CAST(tt.t AS INT) AS t, CAST(tp.p AS INT) AS p,
         CAST(tj.j AS INT) AS j,
         (('0x' || substr(md5(
             CASE WHEN tt.t = 0 THEN 'bdq_lshq'
                  ELSE 'bdq_lshq:t' || tt.t END
             || ':' || tp.p || ':' || tj.j), 1, 15))::BIGINT
          % 20001) - 10000 AS hv
  FROM range(2) tt(t) CROSS JOIN range(5) tp(p)
  CROSS JOIN range(64) tj(j)),
margins AS (
  SELECT c.vec_id, pl.t, pl.p, CAST(sum(c.q * pl.hv) AS BIGINT) AS margin
  FROM comp c JOIN planes pl ON pl.j = c.j
  GROUP BY 1, 2, 3),
buckets AS (
  SELECT vec_id, t,
         CAST(sum(CASE WHEN margin >= 0
                       THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)
              AS BIGINT) AS bucket
  FROM margins GROUP BY 1, 2),
pairs AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a
  JOIN buckets b ON b.t = a.t AND b.bucket = a.bucket
              AND a.vec_id < b.vec_id),
dropped AS (
  SELECT DISTINCT p.id_b AS vec_id
  FROM pairs p
  JOIN allv a ON a.vec_id = p.id_a
  JOIN allv b ON b.vec_id = p.id_b
  WHERE round(list_dot_product(a.e, b.e)
              / (sqrt(list_dot_product(a.e, a.e))
                 * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.9)
SELECT vec_id FROM allv
WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
"""


@_register("streaming_ingest_vector_index", _VEC_STREAM_ORACLE)
def streaming_ingest_vector_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming INGEST -> SEMANTIC DEDUP -> INDEX for the VECTOR side
    — the embeddings analogue of ``streaming_ingest_dedup_index``,
    filling the streaming x embeddings capability cell: vectors arrive
    as ordered micro-batches (a third are planted near-twins of
    earlier vectors, cosine ~0.999 via a power-of-two component halving
    that float storage preserves exactly), driven through a TRUE
    ``readStream`` -> ``foreachBatch`` run where every trigger

    (a) buckets the batch with the 2-OR-table md5 LSH (engine-portable
        integer margins — the same public geometry as
        ``persisted_vector_index_probe``),
    (b) drops batch vectors that share a bucket (either table) with a
        SMALLER-id batch sibling at exact ``round(cosine, 6) >= 0.9``
        (within-batch semantic dedup),
    (c) probes the survivors against the PERSISTED bucket index of the
        corpus-so-far — same bucket join + exact cosine verify — and
        drops the hits (cross-batch dedup; the index carries
        ``(id, vec, bucket)``, so the probe never re-reads or
        re-hashes accumulated corpus parquet), then
    (d) appends the survivors' bucket rows to the index — incremental
        index maintenance, one append per trigger, no rebuild.

    The final survivor set must hash-equal DuckDB applying the WHOLE
    feed at once (drop iff ANY smaller-id bucket-sharing partner
    scores >= 0.9) — proving stream/batch semantic-dedup unification
    and that the incrementally-appended index is lossless vs a one-shot
    build.  First-occurrence-wins equals global min-id here because the
    planted duplicate structure is pair-shaped with originals staged
    ahead of (or beside) their twins — the same arrival-order contract
    ``streaming_ingest_dedup_index`` documents.

    FIXTURE ASSUMPTION (ADVICE r12): the oracle drops a vector if ANY
    smaller-id bucket partner scores >= 0.9 — dropped or not — while
    step (c) probes SURVIVORS only (the index).  The two agree on this
    fixture because every >= 0.9 pair is a planted (original, twin)
    pair whose original always survives (originals score < 0.9 against
    each other), so a drop's cause is never itself dropped.  A fixture
    with natural >= 0.9 original-original CHAINS would need the oracle
    aligned to survivors-only (transitive keeper) semantics first.
    Per-trigger cost is O(batch + bucket-matched candidates + one
    append); the accumulated corpus is never re-scanned."""
    import hashlib
    import os

    from bdq_spark.operators.similarity import (
        _table_seed,
        cosine_from_norms,
        l2_norm,
        lsh_bucket_vectors_md5,
    )

    # 5 planes (32 buckets/table): candidate volume stays modest at the
    # bench SF while twin-detection recall through 2 OR-tables remains
    # ~0.99 (the oracle replays the same geometry, so a twin that lands
    # in different buckets than its original legitimately survives on
    # BOTH sides)
    geo_planes, geo_tables, geo_dim, geo_thresh = 5, 2, 64, 0.9

    n = load_table(spark, sf_dir, "embeddings").count()
    if n > _FIXED_GEOMETRY_MAX_ROWS:
        raise ValueError(
            f"streaming_ingest_vector_index pins a small ORACLE "
            f"geometry ({n} rows > {_FIXED_GEOMETRY_MAX_ROWS}); a "
            "production ingest sizes planes adaptively "
            "(_adaptive_planes) so per-trigger bucket occupancy stays "
            "constant as the corpus grows"
        )

    key = hashlib.md5(
        f"{sf_dir}:stream_vec_idx:v2".encode()
    ).hexdigest()[:12]
    feed_dir = os.path.join(
        tempfile.gettempdir(), f"bdq_stage_svi_feed_{key}"
    )
    marker = os.path.join(feed_dir, "_STAGED")
    if not os.path.exists(marker):
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        twin_vec = F.transform(
            F.col("embedding"),
            lambda x, i: F.when(i == 0, x * F.lit(0.5)).otherwise(x),
        ).cast("array<float>")
        twins = emb.filter(F.col("vec_id") % 3 == 0).select(
            (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
            twin_vec.alias("embedding"),
        )
        n = emb.agg(F.max("vec_id")).first()[0] + 1
        t1, t2 = n // 3, 2 * n // 3
        feed = emb.unionByName(twins)
        # g0/g1: low/mid-third originals; g2: top third + ALL twins —
        # so g2-originals' twins dedup WITHIN a trigger and g0/g1
        # originals' twins dedup against the persisted index
        parts = [
            feed.filter(F.col("vec_id") < t1),
            feed.filter((F.col("vec_id") >= t1) & (F.col("vec_id") < t2)),
            feed.filter(F.col("vec_id") >= t2),
        ]
        base_ts = 1_700_000_000  # fixed epoch: see the minhash twin
        for i, p in enumerate(parts):
            gdir = os.path.join(feed_dir, f"g{i}")
            p.coalesce(1).write.mode("overwrite").parquet(gdir)
            for fname in os.listdir(gdir):
                os.utime(
                    os.path.join(gdir, fname),
                    (base_ts + 3600 * i, base_ts + 3600 * i),
                )
        with open(marker, "w") as fh:
            fh.write(f"{sf_dir}:{feed.count()}")

    def _buckets(df):
        out = None
        for t in range(geo_tables):
            ns = F.lit(t * (1 << geo_planes)).cast("long")
            bt = lsh_bucket_vectors_md5(
                df, "embedding", "vec_id", geo_planes, geo_dim,
                seed=_table_seed("bdq_lshq", t),
            ).select("id", "vec", (F.col("bucket") + ns).alias("bucket"))
            out = bt if out is None else out.unionByName(bt)
        return out

    index_dir = tempfile.mkdtemp(prefix="entry_svi_index_")
    ckpt = tempfile.mkdtemp(prefix="entry_svi_ckpt_")
    # per-ROW L2 norms staged below the verify joins so per-PAIR work
    # is one dot product (cosine_from_norms keeps cosine_similarity's
    # exact multiplication/guard order — bit-identical values; the
    # knn_bruteforce trick, OPTIMIZATION_r13).  The norm column rides
    # the persisted index so cross-batch probes never recompute it.
    cosn = cosine_from_norms(
        F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
    )
    # the index's schema, derived from an EMPTY frame through the same
    # bucket/norm projection (plan analysis only — no job): every later
    # read of index_dir states it explicitly, so no trigger (and not
    # the final probe) pays spark.read.parquet's footer-inference job
    # (OPTIMIZATION_r14, guide §1.2)
    idx_schema = (
        _buckets(
            spark.createDataFrame(
                [], "vec_id bigint, embedding array<float>"
            )
        )
        .withColumn("__n", l2_norm(F.col("vec")))
        .schema
    )

    def ingest(batch_df, batch_id: int) -> None:
        s = batch_df.sparkSession
        bb = (
            _buckets(batch_df)
            .withColumn("__n", l2_norm(F.col("vec")))
            .localCheckpoint(eager=True)
        )
        # (b) within-batch: drop the larger id of every bucket-sharing
        # pair that verifies at >= threshold
        pairs = (
            bb.alias("l")
            .join(bb.alias("r"), "bucket")
            .filter(F.col("l.id") < F.col("r.id"))
            .select(
                F.col("l.vec").alias("va"),
                F.col("r.vec").alias("vb"),
                F.col("l.__n").alias("na"),
                F.col("r.__n").alias("nb"),
                F.col("r.id").alias("id"),
            )
            .filter(F.round(cosn, 6) >= geo_thresh)
            .select("id")
            .distinct()
        )
        kept = bb.join(pairs, "id", "left_anti")
        # (c) cross-batch: probe the persisted index (survivors only)
        first = not os.path.exists(os.path.join(index_dir, "_SUCCESS"))
        if not first:
            idx = s.read.schema(idx_schema).parquet(index_dir)
            hits = (
                kept.alias("q")
                .join(idx.alias("c"), "bucket")
                # replay guard (ADVICE r12): under foreachBatch's
                # at-least-once contract a retried batch may already
                # be in the index — a self-match at cosine 1.0 would
                # drop every retried row (same guard as
                # incremental_minhash_near_dup documents)
                .filter(F.col("q.id") != F.col("c.id"))
                .select(
                    F.col("q.vec").alias("va"),
                    F.col("c.vec").alias("vb"),
                    F.col("q.__n").alias("na"),
                    F.col("c.__n").alias("nb"),
                    F.col("q.id").alias("id"),
                )
                .filter(F.round(cosn, 6) >= geo_thresh)
                .select("id")
                .distinct()
            )
            kept = kept.join(hits, "id", "left_anti")
        # (d) incremental index append — survivors' bucket rows (with
        # their precomputed norms) only
        kept.write.mode("append").parquet(index_dir)

    try:
        stream = (
            spark.readStream.schema(
                "vec_id bigint, embedding array<float>"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{feed_dir}/g*")
        )
        q = (
            stream.writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                "streaming_ingest_vector_index: stream did not finish "
                "within 300 s — refusing to read a partial index"
            )
        idx = spark.read.schema(idx_schema).parquet(index_dir)
        survivors = idx.select(F.col("id").alias("vec_id")).distinct()
        # one aggregation job for both consistency counts (was two
        # separate count() jobs over the same tiny index)
        n_rows, n_surv = idx.agg(
            F.count(F.lit(1)), F.count_distinct("id")
        ).first()
        if n_rows != geo_tables * n_surv:
            raise RuntimeError(
                "incremental vector index inconsistent: "
                f"{n_rows} rows for {n_surv} survivors "
                f"(expected {geo_tables} rows each)"
            )
        return survivors.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(index_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


@_register(
    "embedding_dedup_clusters",
    """
    WITH RECURSIVE v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.e, b.e)
                  / (sqrt(list_dot_product(a.e, a.e))
                     * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.4),
    edges AS (SELECT id_a AS a, id_b AS b FROM p
              UNION SELECT id_b, id_a FROM p),
    reach AS (
      SELECT a AS id, a AS r FROM edges
      UNION
      SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a)
    SELECT id, min(r) AS cluster_id, id = min(r) AS is_keeper
    FROM reach GROUP BY id
    """,
)
def embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) dedup DECISION: cosine >= 0.4 pairs
    from the blocked-GEMM near-dup join, promoted to duplicate clusters
    by connected components with a deterministic min-id keeper — the
    embedding analogue of ``near_dup_clusters``, oracle-checked end to
    end (exact pair join + recursive-CTE closure in DuckDB)."""
    from bdq_spark.operators import connected_components
    from bdq_spark.operators.dedup import embedding_cosine_pairs

    pairs = embedding_cosine_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4
    )
    return connected_components(pairs.select("id_a", "id_b"))


def _zorder_oracle(bits: int = 8) -> str:
    """DuckDB oracle for :func:`zorder_key` over orders(date, price):
    recomputes the exact integerization (epoch days, money cents), the
    min/max bounds, the integer bucket floors and the full Morton
    interleave — bit-for-bit, because every step is int64 arithmetic
    (the floor-over-double-division exactness argument is in
    ``operators/layout.py``)."""
    nb = 1 << bits
    terms = " + ".join(
        f"((bd >> {i}) & 1) * {1 << (2 * i)} + "
        f"((bp >> {i}) & 1) * {1 << (2 * i + 1)}"
        for i in range(bits)
    )
    return f"""
WITH t AS (
  SELECT o_orderkey,
         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
         CAST(round(o_totalprice * 100) AS BIGINT) AS p
  FROM orders),
b AS (SELECT min(d) AS dlo, max(d) AS dhi, min(p) AS plo, max(p) AS phi
      FROM t),
k AS (SELECT o_orderkey,
        CAST(floor((d - dlo) * {nb} / CAST(dhi - dlo + 1 AS DOUBLE))
             AS BIGINT) AS bd,
        CAST(floor((p - plo) * {nb} / CAST(phi - plo + 1 AS DOUBLE))
             AS BIGINT) AS bp
      FROM t, b)
SELECT o_orderkey, CAST({terms} AS BIGINT) AS zkey FROM k
"""


@_register("orders_zorder_layout", _zorder_oracle())
def orders_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout management
    (:func:`bdq_spark.operators.layout.zorder_key` — the Delta
    ``OPTIMIZE ZORDER BY`` analogue): Morton-interleave order DATE and
    PRICE so files written in key order carry small min/max bounding
    boxes in BOTH dimensions and parquet statistics prune range
    predicates on either (the scan-locality complement of the
    ``pruned_scan_orders`` pushdown proof; locality itself is asserted
    in ``tests/test_layout.py``).  Integer min/max bucketing makes
    every key engine-exact, so the oracle replays the whole keying."""
    from bdq_spark.operators.layout import zorder_key

    orders = load_table(spark, sf_dir, "orders")
    dims = [
        (
            "d",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            ),
        ),
        ("p", F.round(F.col("o_totalprice") * 100).cast("long")),
    ]
    return zorder_key(orders, dims, bits=8).select("o_orderkey", "zkey")


def _kmeans_ctes(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """Shared CTE body replaying the exact quantized Lloyd iteration
    (no ``WITH``, no final SELECT): ends with ``c{iters}`` (the final
    centroids) and ``bf`` (the final corpus assignment) — used by both
    the k-means and the IVF-twin oracles."""
    d1 = dim + 1

    def assign(src_v: str, src_c: str, out: str) -> str:
        return f"""
a{out} AS (
  SELECT v.vec_id, v.q, c.j,
         list_sum(list_transform(range(1, {d1}),
                  i -> (v.q[i]-c.c[i])*(v.q[i]-c.c[i]))) AS d2
  FROM {src_v} v CROSS JOIN {src_c} c),
b{out} AS (
  SELECT vec_id, q, j AS cluster, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, j) AS rn
    FROM a{out}) WHERE rn = 1)"""

    def update(src_b: str, src_c: str, out: str) -> str:
        return f"""
u{out} AS (
  SELECT cluster, i.range AS i, SUM(q[i.range]) AS s, COUNT(*) AS cnt
  FROM {src_b} CROSS JOIN range(1, {d1}) i
  GROUP BY cluster, i.range),
n{out} AS (
  SELECT cluster AS j,
         list(CAST(floor(s / CAST(cnt AS DOUBLE)) AS BIGINT)
              ORDER BY i) AS c
  FROM u{out} GROUP BY cluster),
c{out} AS (
  SELECT p.j, COALESCE(n{out}.c, p.c) AS c
  FROM {src_c} p LEFT JOIN n{out} ON p.j = n{out}.j)"""

    parts = [
        f"""v AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(round(x*10000) AS BIGINT)) AS q
  FROM embeddings),
c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, q AS c
  FROM v ORDER BY vec_id LIMIT {k})"""
    ]
    for t in range(iters):
        parts.append(assign("v", f"c{t}", str(t)))
        parts.append(update(f"b{t}", f"c{t}", str(t + 1)))
    parts.append(assign("v", f"c{iters}", "f"))
    return ",".join(parts)


def _kmeans_oracle(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """DuckDB oracle for :func:`kmeans_quantized`: replays the WHOLE
    Lloyd iteration — deterministic smallest-id seeds, integer squared
    distances (exact in any order), ``(d2, j)`` tie-break, per-component
    floor-mean updates with empty clusters keeping their centroid — as
    ``iters`` unrolled CTE rounds plus the final assignment.  An
    iterative algorithm with NO unchecked step: the first k-means this
    registry can value-hash (vs the rows-only sampled k-means in IVF)."""
    return (
        "WITH "
        + _kmeans_ctes(k, iters, dim)
        + """
SELECT vec_id, CAST(cluster AS INTEGER) AS cluster,
       CAST(d2 AS BIGINT) AS dist2 FROM bf"""
    )


def _ivf_quantized_oracle(n_clusters: int = 8, n_probe: int = 2,
                          iters: int = 2, dim: int = 64,
                          k: int = 10) -> str:
    """DuckDB oracle for :func:`knn_ivf_quantized`: the kmeans CTEs
    train the coarse quantizer and assign every corpus vector to its
    cell; the probe CTEs rank centroids per query by exact ``(d2, j)``
    and keep the ``n_probe`` nearest; candidates join on cell and rank
    by ``round(cosine, 6)`` over the ORIGINAL float vectors — training,
    routing, probing and ranking of the APPROXIMATE pipeline all
    value-checked (the last ANN family to graduate from rows-only)."""
    d1 = dim + 1
    return (
        "WITH "
        + _kmeans_ctes(n_clusters, iters, dim)
        + f""",
qs AS (
  SELECT vec_id AS query_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(round(x*10000) AS BIGINT)) AS qq,
         embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 5),
pr AS (
  SELECT query_id, qv, c.j,
         list_sum(list_transform(range(1, {d1}),
                  i -> (qq[i]-c.c[i])*(qq[i]-c.c[i]))) AS d2
  FROM qs CROSS JOIN c{iters} c),
probes AS (
  SELECT query_id, qv, j AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d2, j) AS rn
    FROM pr) WHERE rn <= {n_probe}),
cand AS (
  SELECT p.query_id, p.qv, b.vec_id AS neighbor_id
  FROM probes p JOIN bf b ON b.cluster = p.cell),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_dot_product(c.qv, e.embedding::DOUBLE[])
               / (sqrt(list_dot_product(c.qv, c.qv))
                  * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[]))), 6)
           AS cosine
  FROM cand c JOIN embeddings e ON e.vec_id = c.neighbor_id),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {k}"""
    )


@_register("knn_ivf_quantized", _ivf_quantized_oracle())
def knn_ivf_quantized_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with an exact Lloyd coarse quantizer — the value-hash
    twin of ``knn_ivf_embeddings`` (same pattern as the md5 LSH twins:
    the production path keeps the float k-means, the twin makes the
    whole approximate pipeline engine-recomputable)."""
    from bdq_spark.operators.ivf import knn_ivf_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return knn_ivf_quantized(
        emb, queries, k=10, n_clusters=8, n_probe=2, iters=2, dim=64
    )


@_register("embedding_kmeans_quantized", _kmeans_oracle())
def embedding_kmeans_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed document clustering for corpus curation
    (:func:`bdq_spark.operators.clustering.kmeans_quantized` — see its
    module docstring for the SemDeDup-style use case and the 100 TB
    shape: zero-shuffle literal-centroid assignment, one k-group
    shuffle per update, bounded k x dim driver state).  Quantization
    makes every Lloyd step integer-exact, so the oracle replays seeds,
    both update rounds and the final assignment value-for-value."""
    from bdq_spark.operators.clustering import kmeans_quantized

    return kmeans_quantized(
        load_table(spark, sf_dir, "embeddings"), k=8, iters=2, dim=64
    )


def _knn_lsh_md5_oracle(num_planes: int, n_probe: int, dim: int = 64,
                        k: int = 10) -> str:
    """DuckDB oracle for :func:`knn_lsh_md5`: recomputes the md5-derived
    INTEGER hyperplanes, the quantized int64 sign margins (exact in any
    summation order), the bucket codes, the multi-probe flip order
    (ascending ``(|margin|, plane)``), the bucket-join candidate set and
    the rounded-cosine ranking — the WHOLE approximate pipeline is
    value-checked, not just its exact fallback."""
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    comp AS (
      -- DuckDB lists are 1-indexed; j is the 0-based component index
      SELECT vec_id, CAST(tj.j AS INT) AS j,
             CAST(round(v.e[CAST(tj.j AS INT) + 1] * 10000) AS BIGINT) AS q
      FROM v CROSS JOIN range({dim}) tj(j)),
    planes AS (
      SELECT tp.p, tj.j,
             (('0x' || substr(md5('bdq_lshq:' || tp.p || ':' || tj.j),
                              1, 15))::BIGINT % 20001) - 10000 AS hv
      FROM range({num_planes}) tp(p) CROSS JOIN range({dim}) tj(j)),
    margins AS (
      SELECT c.vec_id, pl.p, CAST(sum(c.q * pl.hv) AS BIGINT) AS margin
      FROM comp c JOIN planes pl ON pl.j = c.j
      GROUP BY 1, 2),
    buckets AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN margin >= 0
                           THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)
                  AS BIGINT) AS bucket
      FROM margins GROUP BY 1),
    qprobe AS (
      SELECT vec_id AS query_id, bucket AS probe
      FROM buckets WHERE vec_id < 5
      UNION ALL
      SELECT m.vec_id, xor(b.bucket, CAST(1 AS BIGINT) << m.p)
      FROM (SELECT vec_id, p,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY abs(margin), p) AS rk
            FROM margins WHERE vec_id < 5) m
      JOIN buckets b ON b.vec_id = m.vec_id
      WHERE m.rk <= {n_probe - 1}),
    cand AS (
      SELECT DISTINCT qp.query_id, cb.vec_id AS neighbor_id
      FROM qprobe qp JOIN buckets cb ON cb.bucket = qp.probe),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             round(list_dot_product(a.e, b.e)
                   / (sqrt(list_dot_product(a.e, a.e))
                      * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
      FROM cand c
      JOIN v a ON a.vec_id = c.query_id
      JOIN v b ON b.vec_id = c.neighbor_id),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, rank, cosine
    FROM ranked WHERE rank <= {k}
    """


@_register("knn_lsh_embeddings", _knn_lsh_md5_oracle(num_planes=4, n_probe=1))
def knn_lsh_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN, graduated from rows-only to value-hash via the
    md5-integer twin (:func:`knn_lsh_md5`): buckets come from exact
    int64 margins of round(x*10000) quantized vectors against
    md5-derived integer hyperplanes, so DuckDB reproduces the EXACT
    candidate set and ranking — approximation is a property of the
    (deterministic) bucketing, not an excuse to skip value checking.
    The float sha256-hyperplane production path (:func:`knn_lsh`,
    numpy-matmul bucketing) stays pytest-covered in
    ``tests/test_similarity_multimodal.py``."""
    from bdq_spark.operators.similarity import knn_lsh_md5

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return knn_lsh_md5(emb, queries, k=10, num_planes=4, dim=64)


@_register("knn_multiprobe_embeddings",
           _knn_lsh_md5_oracle(num_planes=6, n_probe=4))
def knn_multiprobe_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: higher recall at the same corpus bucketing.

    Extension op (SURVEY §2.4 vector similarity); probing strategy after
    Lv et al., "Multi-Probe LSH" (VLDB 2007).  Graduated to value-hash
    via the md5-integer twin: the probe order itself (ascending
    ``(|margin|, plane)`` single-bit flips) is exact-integer and
    recomputed by the oracle, so the approximate candidate set matches
    bit-for-bit."""
    from bdq_spark.operators.similarity import knn_lsh_md5

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return knn_lsh_md5(emb, queries, k=10, num_planes=6, n_probe=4, dim=64)


def _knn_rerank_oracle(
    num_planes: int = 4,
    num_tables: int = 2,
    retrieve_k: int = 20,
    k: int = 5,
    dim: int = 64,
) -> str:
    """DuckDB oracle for the retrieve -> re-rank pipeline: the 2-table
    md5 LSH candidate set and cosine top-``retrieve_k`` (the retrieve
    stage), then the diagonal-metric re-score ``w_j = 1 + (j mod 7)/10``
    and top-``k`` (the re-rank stage) — the WHOLE two-stage ranking is
    value-checked.  Weight arithmetic mirrors the Spark expression
    exactly: sequential double adds of ``(x*y)*w`` terms (DuckDB's
    indexed lambda ``(x, i)`` is 1-based, hence ``(i-1) % 7``)."""
    w = "(1.0 + ((i-1) % 7)/10.0)"
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    comp AS (
      SELECT vec_id, CAST(tj.j AS INT) AS j,
             CAST(round(v.e[CAST(tj.j AS INT) + 1] * 10000) AS BIGINT) AS q
      FROM v CROSS JOIN range({dim}) tj(j)),
    planes AS (
      SELECT CAST(tt.t AS INT) AS t, CAST(tp.p AS INT) AS p,
             CAST(tj.j AS INT) AS j,
             (('0x' || substr(md5(
                 CASE WHEN tt.t = 0 THEN 'bdq_lshq'
                      ELSE 'bdq_lshq:t' || tt.t END
                 || ':' || tp.p || ':' || tj.j), 1, 15))::BIGINT
              % 20001) - 10000 AS hv
      FROM range({num_tables}) tt(t)
      CROSS JOIN range({num_planes}) tp(p)
      CROSS JOIN range({dim}) tj(j)),
    margins AS (
      SELECT c.vec_id, pl.t, pl.p,
             CAST(sum(c.q * pl.hv) AS BIGINT) AS margin
      FROM comp c JOIN planes pl ON pl.j = c.j
      GROUP BY 1, 2, 3),
    buckets AS (
      SELECT vec_id, t,
             CAST(sum(CASE WHEN margin >= 0
                           THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)
                  AS BIGINT) AS bucket
      FROM margins GROUP BY 1, 2),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM (SELECT * FROM buckets WHERE vec_id < 5) q
      JOIN buckets c ON c.t = q.t AND c.bucket = q.bucket),
    retrieve AS (
      SELECT query_id, neighbor_id,
             round(list_dot_product(a.e, b.e)
                   / (sqrt(list_dot_product(a.e, a.e))
                      * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
      FROM cand
      JOIN v a ON a.vec_id = cand.query_id
      JOIN v b ON b.vec_id = cand.neighbor_id),
    wide AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
        FROM retrieve) WHERE rk <= {retrieve_k}),
    rescored AS (
      SELECT w.query_id, w.neighbor_id,
             round(
               list_sum(list_transform(a.e,
                        (x, i) -> (x * b.e[i]) * {w}))
               / (sqrt(list_sum(list_transform(a.e,
                                (x, i) -> (x * x) * {w})))
                  * sqrt(list_sum(list_transform(b.e,
                                  (x, i) -> (x * x) * {w})))),
               6) AS score
      FROM wide w
      JOIN v a ON a.vec_id = w.query_id
      JOIN v b ON b.vec_id = w.neighbor_id)
    SELECT query_id, neighbor_id, rank, score FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
      FROM rescored) WHERE rank <= {k}
    """


@_register("knn_rerank_embeddings", _knn_rerank_oracle())
def knn_rerank_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRIEVE -> RE-RANK, the two-stage ANN ranking every production
    retrieval pipeline runs (VERDICT r11 item 7 — the vector analogue
    of the Jaccard path's edit-distance re-score): a WIDE top-20
    retrieve from the 2-OR-table md5 LSH
    (:func:`~bdq_spark.operators.similarity.knn_lsh_md5`), then
    :func:`~bdq_spark.operators.similarity.rerank_topk` re-scores ONLY
    those candidates and keeps the top 5.  The default scorer is the
    deterministic :func:`diagonal_metric_score` (a stand-in for a
    learned cross-encoder that any engine recomputes exactly — NOT
    monotone in plain cosine, so the re-rank genuinely reorders); the
    pluggable Arrow-batched callable slot is the production path for a
    real model forward pass, paid per CANDIDATE, never per corpus row.
    The DuckDB oracle replays both stages: 2-table buckets, cosine
    top-20, diagonal-metric re-score, top-5."""
    from bdq_spark.operators.similarity import knn_lsh_md5, rerank_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    wide = knn_lsh_md5(
        emb, queries, k=20, num_planes=4, dim=64, num_tables=2
    )
    return rerank_topk(wide, emb, queries, k=5)


# ---------------------------------------------------------------------------
# Extensions — multimodal plumbing (stubbed codecs, real distribution)
# ---------------------------------------------------------------------------

_MULTIMODAL_ORACLE = """
SELECT CAST(doc_id AS BIGINT)                       AS media_id,
       CAST(doc_id % 512 + 1 AS INTEGER)            AS width,
       CAST((doc_id * 7) % 512 + 1 AS INTEGER)      AS height,
       CAST(3 AS INTEGER)                           AS channels,
       TRUE                                         AS decode_ok
FROM documents
"""


@_register("multimodal_decode", _MULTIMODAL_ORACLE)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Builds VALID image payloads (real PNG / BMP / JPEG headers with
    doc_id-derived dimensions, document text as body bytes) entirely in
    Spark expressions, then decodes them with the pure-Python header
    parser — so the oracle can recompute the expected dimensions from
    doc_id and the decode path is value-checked end to end.  The three
    formats are chosen so a PIL-equipped environment decodes the SAME
    (width, height, channels=3) as the header parser (8-bit RGB PNG,
    24bpp BMP, 3-component JPEG); GIF is deliberately absent — PIL
    reports its palette as 1 band where header-level channels are 3."""
    from bdq_spark.operators.multimodal import attach_media_metadata, decode_images

    w = (F.col("doc_id") % 512 + 1).cast("bigint")
    h = ((F.col("doc_id") * 7) % 512 + 1).cast("bigint")

    def he(col, width):  # big-endian hex, zero-padded to `width` nibbles
        return F.lpad(F.hex(col), width, "0")

    def le32(col):  # little-endian 4-byte hex of a value < 2^16
        return F.concat(
            he(col % 256, 2),
            he(F.floor(col / 256).cast("bigint"), 2),
            F.lit("0000"),
        )

    png = F.concat(
        F.lit("89504E470D0A1A0A0000000D49484452"),  # signature + IHDR
        he(w, 8), he(h, 8),
        F.lit("0802000000DEADBEEF"),  # depth 8, RGB, 3x00, fake CRC
    )
    bmp = F.concat(
        F.lit("424D" "00000000" "00000000" "36000000"),  # BM, ofs 54
        F.lit("28000000"),  # BITMAPINFOHEADER size 40
        le32(w), le32(h),
        F.lit("0100" "1800"),  # 1 plane, 24 bpp (RGB)
        F.lit("00000000" * 6),  # no compression, zeroed tail fields
    )
    jpg = F.concat(
        F.lit("FFD8"),  # SOI
        F.lit("FFC00011" "08"), he(h, 4), he(w, 4),  # SOF0: len 17, prec 8
        F.lit("03011100021101031101"),  # 3 components
    )
    header = (
        F.when(F.col("doc_id") % 3 == 0, png)
        .when(F.col("doc_id") % 3 == 1, bmp)
        .otherwise(jpg)
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        # coalesce: concat propagates NULL, so a NULL text would null the
        # whole payload and flip decode_ok for a row the oracle expects TRUE
        F.concat(
            F.unhex(header),
            F.coalesce(F.encode(F.col("text"), "UTF-8"), F.lit(b"")),
        ).alias("payload"),
    )
    media = attach_media_metadata(
        docs, content_column="payload", media_type="image", id_column="doc_id"
    )
    return decode_images(media)


_AUDIO_ORACLE = """
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'flac' END AS format,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 + (doc_id % 8) * 4000
                 ELSE [44100, 48000, 32000][CAST(doc_id % 3 AS INTEGER) + 1]
            END AS INTEGER) AS sample_rate,
       CAST((doc_id // 2) % 2 + 1 AS INTEGER) AS channels,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 24 END AS INTEGER)
         AS bits_per_sample,
       CAST(CASE WHEN doc_id % 2 = 0
             THEN ((doc_id % 100 + 1) * 1000 * 1000)
                  // ((8000 + (doc_id % 8) * 4000) * ((doc_id // 2) % 2 + 1) * 2)
             ELSE ((doc_id % 100 + 1) * 12345 * 1000)
                  // [44100, 48000, 32000][CAST(doc_id % 3 AS INTEGER) + 1]
            END AS BIGINT) AS duration_ms,
       TRUE AS decode_ok
FROM documents
"""


@_register("multimodal_audio_decode", _AUDIO_ORACLE)
def multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio sibling of ``multimodal_decode``: builds VALID audio
    payloads (real WAV RIFF / FLAC STREAMINFO headers with doc_id-derived
    sample rate / channels / duration, document text as body bytes)
    entirely in Spark expressions, then decodes them with the pure-Python
    header parser — the oracle recomputes the expected stream parameters
    from doc_id, so the decode path is value-checked end to end."""
    from bdq_spark.operators.multimodal import attach_media_metadata, decode_audio

    did = F.col("doc_id").cast("bigint")

    def he(col, width):  # big-endian hex, zero-padded to `width` nibbles
        return F.lpad(F.hex(col), width, "0")

    def le16(col):
        return F.concat(
            he(col % 256, 2), he(F.floor(col / 256).cast("bigint") % 256, 2)
        )

    def le32(col):  # little-endian 4-byte hex of a value < 2^32
        return F.concat(
            he(col % 256, 2),
            he(F.floor(col / 256).cast("bigint") % 256, 2),
            he(F.floor(col / 65536).cast("bigint") % 256, 2),
            he(F.floor(col / 16777216).cast("bigint") % 256, 2),
        )

    ch = (F.floor(did / 2).cast("bigint") % 2 + 1).cast("bigint")
    # WAV: PCM 16-bit, rate 8..36 kHz, declared data chunk sizes the file
    sr_wav = (did % 8) * 4000 + 8000
    data_size = (did % 100 + 1) * 1000
    byte_rate = sr_wav * ch * 2
    wav = F.concat(
        F.lit("52494646"), le32(data_size + F.lit(36)),      # RIFF, size
        F.lit("57415645" "666D7420" "10000000" "0100"),      # WAVE fmt(16) PCM
        le16(ch), le32(sr_wav), le32(byte_rate),
        le16(ch * 2), F.lit("1000"),                         # align, 16 bps
        F.lit("64617461"), le32(data_size),                  # data chunk
    )
    # FLAC: STREAMINFO packs rate/channels/bps/samples into 8 BE bytes
    sr_flac = F.element_at(
        F.array(F.lit(44100), F.lit(48000), F.lit(32000)),
        (did % 3 + 1).cast("int"),
    ).cast("bigint")
    total_samples = (did % 100 + 1) * 12345
    v = (
        F.shiftleft(sr_flac, 44)
        .bitwiseOR(F.shiftleft(ch - 1, 41))
        .bitwiseOR(F.lit(23 << 36))                          # bps 24 = 23+1
        .bitwiseOR(total_samples)
    )
    flac = F.concat(
        F.lit("664C6143" "80" "000022"),                     # fLaC, block hdr
        F.lit("0000" * 5), he(v, 16), F.lit("00" * 16),      # pad, packed, md5
    )
    header = F.when(did % 2 == 0, wav).otherwise(flac)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.unhex(header),
            F.coalesce(F.encode(F.col("text"), "UTF-8"), F.lit(b"")),
        ).alias("payload"),
    )
    media = attach_media_metadata(
        docs, content_column="payload", media_type="audio", id_column="doc_id"
    )
    return decode_audio(media)


_BMP_PIXEL_ORACLE = """
WITH p AS (
  SELECT doc_id,
         CAST(doc_id % 4 + 1 AS INTEGER) AS w,
         CAST(doc_id % 3 + 1 AS INTEGER) AS h
  FROM documents)
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE w END AS INTEGER) AS width,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE h END AS INTEGER) AS height,
       CASE WHEN doc_id % 5 = 0 THEN 0.0
            ELSE round(list_sum(list_transform(range(0, CAST(w*3*h AS BIGINT)),
                 j -> CAST((doc_id*31 + j) % 256 AS DOUBLE))) / (w*3*h), 6)
       END AS mean_brightness,
       doc_id % 5 <> 0 AS decode_ok
FROM p
"""


@_register("multimodal_bmp_pixel_stats", _BMP_PIXEL_ORACLE)
def multimodal_bmp_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel-level decode, oracle-checked end to end: builds VALID
    uncompressed 24bpp BMPs (doc_id-derived dimensions, deterministic
    pixel bytes ``(doc_id*31 + j) % 256``, correct 4-byte row padding)
    entirely in Spark expressions, decodes the pixel array with the
    pure-Python :func:`decode_bmp_pixels`, and the DuckDB oracle
    recomputes the exact mean brightness from the generating expression.
    Every fifth document gets a COMPRESSED payload (PNG) instead — the
    codec-stub boundary must report ``decode_ok=false`` with zeroed
    stats, and the oracle checks that refusal too.
    """
    from bdq_spark.operators.multimodal import (
        attach_media_metadata,
        image_pixel_stats,
    )

    did = F.col("doc_id").cast("bigint")
    w = (did % 4 + 1).cast("bigint")
    h = (did % 3 + 1).cast("bigint")

    def he(col, width):  # big-endian hex, zero-padded to `width` nibbles
        return F.lpad(F.hex(col), width, "0")

    def le32(col):  # little-endian 4-byte hex of a value < 2^16
        return F.concat(
            he(col % 256, 2),
            he(F.floor(col / 256).cast("bigint"), 2),
            F.lit("0000"),
        )

    pad = (4 - (w * 3) % 4) % 4  # pad bytes per row
    row_bytes = w * 3
    rows_hex = F.array_join(
        F.transform(
            F.sequence(F.lit(0).cast("bigint"), h - 1),
            lambda s: F.concat(
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(0).cast("bigint"), row_bytes - 1),
                        lambda b: he((did * 31 + s * row_bytes + b) % 256, 2),
                    ),
                    "",
                ),
                # row padding: `pad` zero bytes (column-valued length)
                F.left(F.lit("000000"), (pad * 2).cast("int")),
            ),
        ),
        "",
    )
    bmp = F.concat(
        F.lit("424D" "00000000" "00000000" "36000000"),  # BM, offset 54
        F.lit("28000000"),  # BITMAPINFOHEADER size 40
        le32(w), le32(h),
        F.lit("0100" "1800"),  # 1 plane, 24 bpp
        F.lit("00000000" * 6),  # no compression, zeroed tail fields
        rows_hex,
    )
    png = F.concat(  # compressed format: the decoder must refuse
        F.lit("89504E470D0A1A0A0000000D49484452"),
        he(w, 8), he(h, 8),
        F.lit("0802000000DEADBEEF"),
    )
    payload = F.unhex(F.when(did % 5 == 0, png).otherwise(bmp))
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", payload.alias("payload")
    )
    media = attach_media_metadata(
        docs, content_column="payload", media_type="image", id_column="doc_id"
    )
    return image_pixel_stats(media).select(
        "media_id",
        "width",
        "height",
        F.round("mean_brightness", 6).alias("mean_brightness"),
        "decode_ok",
    )


_WAV_PCM_ORACLE = """
WITH p AS (SELECT doc_id, CAST(doc_id % 50 + 1 AS BIGINT) AS n FROM documents),
s AS (SELECT doc_id, n,
        list_transform(range(0, n),
          k -> CAST((doc_id*7 + k*13 + 32768) % 65536 - 32768 AS DOUBLE)) AS smp
      FROM p)
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE n END AS BIGINT) AS n_samples,
       CASE WHEN doc_id % 5 = 0 THEN 0.0
            ELSE round(list_sum(smp) / n, 6) END AS mean_amplitude,
       CASE WHEN doc_id % 5 = 0 THEN 0.0
            ELSE round(sqrt(list_sum(list_transform(smp, x -> x*x)) / n), 6)
       END AS rms_amplitude,
       doc_id % 5 <> 0 AS decode_ok
FROM s
"""


@_register("multimodal_wav_pcm_stats", _WAV_PCM_ORACLE)
def multimodal_wav_pcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL sample-level audio decode, oracle-checked end to end: builds
    VALID 16-bit PCM WAVs (mono 8 kHz, ``doc_id % 50 + 1`` samples whose
    raw 16-bit words are ``(doc_id*7 + k*13) % 65536``, read back as
    two's-complement signed samples) entirely
    in Spark expressions, decodes the PCM stream with the pure-Python
    :func:`decode_wav_samples`, and the DuckDB oracle recomputes the
    exact mean / RMS amplitude from the generating expression.  Every
    fifth document gets a COMPRESSED payload (FLAC) — the stub boundary
    reports ``decode_ok=false``, checked by the oracle.
    """
    from bdq_spark.operators.multimodal import (
        attach_media_metadata,
        audio_pcm_stats,
    )

    did = F.col("doc_id").cast("bigint")
    n = (did % 50 + 1).cast("bigint")

    def he(col, width):
        return F.lpad(F.hex(col), width, "0")

    def le16(col):
        return F.concat(
            he(col % 256, 2), he(F.floor(col / 256).cast("bigint") % 256, 2)
        )

    def le32(col):
        return F.concat(
            he(col % 256, 2),
            he(F.floor(col / 256).cast("bigint") % 256, 2),
            he(F.floor(col / 65536).cast("bigint") % 256, 2),
            he(F.floor(col / 16777216).cast("bigint") % 256, 2),
        )

    data_size = n * 2
    samples_hex = F.array_join(
        F.transform(
            F.sequence(F.lit(0).cast("bigint"), n - 1),
            lambda k: le16((did * 7 + k * 13) % 65536),
        ),
        "",
    )
    wav = F.concat(
        F.lit("52494646"), le32(data_size + F.lit(36)),
        F.lit("57415645" "666D7420" "10000000" "0100"),  # WAVE fmt(16) PCM
        le16(F.lit(1)), le32(F.lit(8000)), le32(F.lit(16000)),
        le16(F.lit(2)), F.lit("1000"),                   # align 2, 16 bps
        F.lit("64617461"), le32(data_size),
        samples_hex,
    )
    flac = F.lit("664C6143" + "00" * 30)  # compressed: decoder refuses
    payload = F.unhex(F.when(did % 5 == 0, flac).otherwise(wav))
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", payload.alias("payload")
    )
    media = attach_media_metadata(
        docs, content_column="payload", media_type="audio", id_column="doc_id"
    )
    return audio_pcm_stats(media).select(
        "media_id",
        "n_samples",
        F.round("mean_amplitude", 6).alias("mean_amplitude"),
        F.round("rms_amplitude", 6).alias("rms_amplitude"),
        "decode_ok",
    )


# MPEG1 Layer III bitrate table minus the index-0 "free" slot, so list
# index bi (1..14) in both engines picks the same kbit/s value
_MP3_BR_TABLE = [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
                 256, 320]

_MP3_STREAM_ORACLE = f"""
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
f AS (SELECT did, CAST(unnest(range(0, did % 4 + 2)) AS BIGINT) AS i,
             did % 4 + 2 AS nf
      FROM d),
z AS (SELECT did, i, nf,
        {_MP3_BR_TABLE}[CAST((did*3 + i*5) % 14 + 1 AS INT)] AS brk,
        (did + i) % 2 AS pad
      FROM f),
s AS (SELECT did, i, nf, brk,
        CAST(144000 * brk // 44100 + pad AS BIGINT) AS fsize,
        (did % 9 = 0 AND i = nf - 1) AS is_trunc
      FROM z)
SELECT did AS media_id,
  CAST(count(*) FILTER (WHERE NOT is_trunc) AS INTEGER) AS frames,
  CAST(44100 AS INTEGER) AS sample_rate,
  CAST(1152 * count(*) FILTER (WHERE NOT is_trunc) AS BIGINT)
    AS total_samples,
  CAST(1152 * count(*) FILTER (WHERE NOT is_trunc) * 1000 // 44100
       AS BIGINT) AS duration_ms,
  CAST(sum(brk) FILTER (WHERE NOT is_trunc) AS BIGINT) AS bitrate_sum_kbps,
  CAST(sum(fsize) FILTER (WHERE NOT is_trunc) AS BIGINT) AS bytes_consumed,
  CAST(coalesce(sum(fsize // 2) FILTER (WHERE is_trunc), 0) AS BIGINT)
    AS trailing_bytes,
  bool_or(is_trunc) AS truncated
FROM s GROUP BY did
"""


@_register("multimodal_mp3_stream_stats", _MP3_STREAM_ORACLE)
def multimodal_mp3_stream_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 frame-header STREAM arithmetic, oracle-checked end to end
    (VERDICT r7 item 6 — the ``mvhd`` honest-boundary pattern for
    audio): builds VALID VBR MPEG1-Layer-III streams entirely in Spark
    expressions (``doc_id % 4 + 2`` frames at 44.1 kHz mono; frame
    ``i`` of doc ``d`` carries bitrate index ``(d*3 + i*5) % 14 + 1``
    and padding bit ``(d + i) % 2``, so every frame's byte length
    ``floor(144000 * kbps / 44100) + pad`` differs), walks the WHOLE
    header chain with
    :func:`bdq_spark.operators.multimodal.walk_mp3_frames` via
    ``audio_stream_stats``, and the DuckDB oracle replays the exact
    integer sizing arithmetic per frame.  Every 9th document's LAST
    frame is cut to half its declared size — the walker must refuse
    the partial frame (``truncated``, counted in ``trailing_bytes``)
    without losing the complete ones.  After this entry the multimodal
    stub boundary is sample-accurate MP3 PCM (MDCT) +
    motion-compensated video codecs ONLY."""
    from bdq_spark.operators.multimodal import (
        attach_media_metadata,
        audio_stream_stats,
    )

    did = F.col("doc_id").cast("bigint")
    nf = did % 4 + 2  # 2..5 frames

    def he(col, width):
        return F.lpad(F.hex(col), width, "0")

    br_table = F.array(*[F.lit(v) for v in _MP3_BR_TABLE])

    def frame_hex(i):
        bi = (did * 3 + i * 5) % 14 + 1
        pad = (did + i) % 2
        brk = F.element_at(br_table, bi.cast("int")).cast("bigint")
        fsize = F.floor(F.lit(144000) * brk / 44100).cast("bigint") + pad
        # FF FB = sync + MPEG1 Layer III no-CRC; C0 = mono
        header = F.concat(F.lit("FFFB"), he(bi * 16 + pad * 2, 2),
                          F.lit("C0"))
        whole = F.concat(header, F.repeat(F.lit("00"),
                                          (fsize - 4).cast("int")))
        half = F.floor(fsize / 2).cast("int") * 2  # hex chars of size//2
        return F.when(
            (did % 9 == 0) & (i == nf - 1), F.substring(whole, 1, half)
        ).otherwise(whole)

    stream = F.array_join(
        F.transform(F.sequence(F.lit(0).cast("bigint"), nf - 1), frame_hex),
        "",
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.unhex(stream).alias("payload")
    )
    media = attach_media_metadata(
        docs, content_column="payload", media_type="audio",
        id_column="doc_id",
    )
    return audio_stream_stats(media).select(
        "media_id",
        "frames",
        "sample_rate",
        "total_samples",
        "duration_ms",
        "bitrate_sum_kbps",
        "bytes_consumed",
        "trailing_bytes",
        "truncated",
    )


_PNG_PIXEL_ORACLE = """
WITH p AS (
  SELECT doc_id, CAST(doc_id % 4 + 1 AS BIGINT) AS w,
         CAST(doc_id % 3 + 1 AS BIGINT) AS h
  FROM documents)
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE w END AS INTEGER) AS width,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE h END AS INTEGER) AS height,
       CASE WHEN doc_id % 5 = 0 THEN 0.0
            ELSE round(list_sum(list_transform(range(0, w*h),
                 j -> CAST((doc_id*31 + j) % 256 AS DOUBLE))) / (w*h), 6)
       END AS mean_brightness,
       doc_id % 5 <> 0 AS decode_ok
FROM p
"""


@_register("multimodal_png_pixel_stats", _PNG_PIXEL_ORACLE)
def multimodal_png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG pixel decode, oracle-checked end to end: builds VALID
    grayscale 8-bit PNGs entirely in Spark expressions — IDAT is a
    genuine zlib stream (0x7801 header, one STORED deflate block whose
    LEN/NLEN and adler32 checksum are computed in-expression: the adler
    ``(A, B)`` pair folds over the filter-byte-prefixed scanlines with
    ``F.aggregate``), filter type 0 rows with pixel bytes
    ``(doc_id*31 + j) % 256`` — then inflates and unfilters them with
    the pure-Python stdlib-zlib :func:`decode_png_pixels`, and the
    DuckDB oracle recomputes the exact mean brightness from the
    generating expression.  Chunk CRCs are zeroed (the decoder
    deliberately doesn't verify CRCs; zlib's adler32 check still
    guards stream integrity and IS computed for real).  Every fifth
    document gets an Adam7-INTERLACED PNG — the honest-refusal
    boundary must report ``decode_ok=false``, checked by the oracle.
    """
    from bdq_spark.operators.multimodal import (
        attach_media_metadata,
        image_pixel_stats,
    )

    did = F.col("doc_id").cast("bigint")
    w = (did % 4 + 1).cast("bigint")
    h = (did % 3 + 1).cast("bigint")
    npix = w * h
    nstream = h * (w + 1)  # + one filter byte per scanline

    def he(col, width):  # big-endian hex, zero-padded to `width` nibbles
        return F.lpad(F.hex(col), width, "0")

    def le16(col):
        return F.concat(
            he(col % 256, 2), he(F.floor(col / 256).cast("bigint") % 256, 2)
        )

    zero = F.lit(0).cast("bigint")
    pix = lambda p: (did * 31 + p) % 256  # noqa: E731
    # adler32 over the stream bytes (filter bytes are 0, so only pixels
    # contribute): A = 1 + sum(d); B = N + sum((N - j) * d_j) with j the
    # byte's 0-based stream position
    sum_d = F.aggregate(
        F.sequence(zero, npix - 1), zero, lambda acc, p: acc + pix(p)
    )
    sum_w = F.aggregate(
        F.sequence(zero, npix - 1),
        zero,
        lambda acc, p: acc
        + (
            nstream
            - (F.floor(p / w).cast("bigint") * (w + 1) + 1 + p % w)
        )
        * pix(p),
    )
    adler_a = (sum_d + 1) % 65521
    adler_b = (nstream + sum_w) % 65521
    scanlines_hex = F.array_join(
        F.transform(
            F.sequence(zero, h - 1),
            lambda s: F.concat(
                F.lit("00"),  # filter type 0 (None)
                F.array_join(
                    F.transform(
                        F.sequence(zero, w - 1),
                        lambda b: he(pix(s * w + b), 2),
                    ),
                    "",
                ),
            ),
        ),
        "",
    )
    interlace = F.when(did % 5 == 0, F.lit("01")).otherwise(F.lit("00"))
    png = F.concat(
        F.lit("89504E470D0A1A0A"),                     # signature
        F.lit("0000000D" "49484452"), he(w, 8), he(h, 8),
        F.lit("08" "00" "00" "00"), interlace,         # depth 8, gray
        F.lit("00000000"),                             # IHDR CRC (unchecked)
        he(nstream + 11, 8), F.lit("49444154"),        # IDAT length+type
        F.lit("7801" "01"),                            # zlib hdr, stored+final
        le16(nstream), le16(F.lit(65535) - nstream),   # LEN, NLEN
        scanlines_hex,
        he(adler_b, 4), he(adler_a, 4),                # adler32 (BE)
        F.lit("00000000"),                             # IDAT CRC (unchecked)
        F.lit("00000000" "49454E44" "00000000"),       # IEND
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.unhex(png).alias("payload")
    )
    media = attach_media_metadata(
        docs, content_column="payload", media_type="image", id_column="doc_id"
    )
    return image_pixel_stats(media).select(
        "media_id",
        "width",
        "height",
        F.round("mean_brightness", 6).alias("mean_brightness"),
        "decode_ok",
    )


@_register(
    "pruned_scan_orders",
    """
    SELECT o_orderpriority,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 150000
    GROUP BY 1
    """,
)
def pruned_scan_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELF-ENFORCING scan-pruning proof — the pushdown sibling of the
    zero-exchange bucketed-join entry: orders staged once as a
    directory-partitioned table on ``o_orderstatus``, then filtered and
    aggregated.  The entry RAISES unless the physical plan shows BOTH
    prunings actually reaching the scan: a ``PartitionFilters`` entry
    on the partition column (whole directories skipped at planning —
    at 100 TB the difference between scanning one status and scanning
    everything) and a ``PushedFilters`` entry on ``o_totalprice``
    (row-group statistics skipping inside the files).  A regression
    that silently re-reads everything would still return correct rows
    — only the plan assertion catches it.  Values hash against
    DuckDB's filter over the unpartitioned source, proving the layout
    is content-preserving."""
    import hashlib
    import os

    key = hashlib.md5(f"{sf_dir}:ppart_orders".encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"bdq_ppart_orders_{key}")
    marker = os.path.join(path, "_STAGED")
    if not os.path.exists(marker):
        from bdq_spark.sources.sinks import write_partitioned

        write_partitioned(
            load_table(spark, sf_dir, "orders"),
            path,
            partition_by=["o_orderstatus"],
        )
        with open(marker, "w") as fh:
            fh.write(sf_dir)
    out = (
        spark.read.parquet(path)
        .filter(
            (F.col("o_orderstatus") == "F")
            & (F.col("o_totalprice") > 150000)
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("o_totalprice", 14))
            .cast("double")
            .alias("total_price"),
        )
    )
    from bdq_spark.plans.plan_lint import plan_text

    plan = plan_text(out)
    import re

    part = re.search(r"PartitionFilters: \[[^\]]*o_orderstatus[^\]]*\]", plan)
    pushed = re.search(r"PushedFilters: \[[^\]]*o_totalprice[^\]]*\]", plan)
    if not part or not pushed:
        raise RuntimeError(
            "scan pruning regressed — PartitionFilters/PushedFilters "
            "missing from the scan:\n" + plan[:2000]
        )
    return out


@_register(
    "zonemap_pruned_scan",
    """
    WITH t AS (
      SELECT o_orderpriority,
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS d,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders)
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM t
    WHERE d BETWEEN 9862 AND 10226
      AND cents BETWEEN 20000000 AND 30000000
    GROUP BY 1
    """,
)
def zonemap_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELF-ENFORCING file-skipping proof — the FILE-level sibling of
    ``pruned_scan_orders`` (directory pruning) and the payoff of
    ``orders_zorder_layout``: orders staged ONCE as a Z-ordered parquet
    directory over (epoch-day, price-cents) with a per-file min/max
    sidecar index (:func:`write_zonemap`), then a range
    predicate on BOTH dimensions resolves through
    :func:`zonemap_candidate_files` and scans only the overlapping
    files.  The entry RAISES unless the zonemap actually pruned
    (candidates < total files) — a regression to scanning everything
    would still return correct rows, only the census check catches it.
    Values hash against DuckDB's filter over the raw table, proving
    interval-overlap pruning is lossless."""
    import hashlib
    import os

    from bdq_spark.operators.layout import zorder_layout
    from bdq_spark.sources.sinks import (
        read_zonemap,
        write_zonemap,
        zonemap_candidate_files,
    )

    key = hashlib.md5(f"{sf_dir}:zonemap_orders:v2".encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"bdq_zonemap_orders_{key}")
    marker = os.path.join(path, "_STAGED")
    if not os.path.exists(marker):
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderpriority",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            ).alias("o_date_days"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("o_price_cents"),
        )
        laid = zorder_layout(
            orders,
            [("d", F.col("o_date_days")), ("p", F.col("o_price_cents"))],
            bits=8,
            num_partitions=8,
        )
        write_zonemap(
            spark, laid, path, ["o_date_days", "o_price_cents"]
        )
        with open(marker, "w") as fh:
            fh.write(sf_dir)
    preds = {
        "o_date_days": (9862, 10226),       # calendar year 1997
        "o_price_cents": (20000000, 30000000),
    }
    census = zonemap_candidate_files(spark, path, preds)
    if not census["files"] or len(census["files"]) >= census["total"]:
        raise RuntimeError(
            "zonemap pruning regressed — candidate census "
            f"{len(census['files'])}/{census['total']} files"
        )
    return (
        read_zonemap(spark, path, preds, candidates=census)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_price_cents").cast("bigint").alias("total_cents"),
        )
    )


def _pagerank_oracle(iterations: int = 3, scale: int = 10**12) -> str:
    """Unrolled quantized-PageRank power iteration in portable SQL —
    every operation an exact bigint op (DuckDB ``//`` == Spark ``div``
    for the all-positive operands here), so the hash match is exact,
    not float-lucky.  The graph is symmetric (both directions of every
    part—supplier incidence), hence no dangling term."""
    ctes = [
        "fwd AS (SELECT DISTINCT CAST(l_partkey AS BIGINT) AS src,"
        " CAST(l_suppkey AS BIGINT) + 10000000 AS dst FROM lineitem)",
        "edges AS (SELECT src, dst FROM fwd"
        " UNION SELECT dst, src FROM fwd)",
        "nodes AS (SELECT DISTINCT src AS id FROM edges)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1)",
        f"r0 AS (SELECT id, (SELECT {scale} // n FROM nn) AS r"
        " FROM nodes)",
    ]
    for k in range(1, iterations + 1):
        ctes.append(
            f"c{k} AS (SELECT e.dst AS id, sum(r{k-1}.r // deg.d) AS c"
            f" FROM edges e JOIN r{k-1} ON e.src = r{k-1}.id"
            " JOIN deg ON deg.src = e.src GROUP BY 1)"
        )
        ctes.append(
            f"r{k} AS (SELECT n.id,"
            f" (SELECT (15 * ({scale} // nn.n)) // 100 FROM nn)"
            f" + (85 * COALESCE(c{k}.c, 0)) // 100 AS r"
            f" FROM nodes n LEFT JOIN c{k} ON n.id = c{k}.id)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, CAST(r AS BIGINT) AS rank_q FROM r{iterations}"
    )


@_register("pagerank_part_supplier", _pagerank_oracle())
def pagerank_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the symmetric part—supplier incidence graph
    (suppliers offset by 1e7 to keep the id spaces disjoint) — the
    graph-analytics companion to connected components, run through the
    QUANTIZED twin (:func:`pagerank_quantized`: exact bigint power
    iteration, floor divisions) so the DuckDB oracle replays all three
    iterations bit-exactly.  The float :func:`pagerank` sibling is
    reference-tested in ``tests/test_components.py``; the quantized
    ranks differ from it by < 4e-12 while being engine-portable."""
    from bdq_spark.operators.components import pagerank_quantized

    l = load_table(spark, sf_dir, "lineitem")
    # LAZY checkpoint so the two union branches below SHARE one
    # scan+distinct: a plain DataFrame referenced twice in a union is
    # planned as two independent subtrees (no cross-branch CSE), i.e.
    # two full lineitem scans and two dedup exchanges for the same
    # relation (OPTIMIZATION_r13).  The distinct itself stays: lineitem
    # repeats each (part, supp) pair ~7x, so deduping BEFORE the union
    # and pagerank's hash(src) edge shuffle cuts the shuffled rows the
    # same factor at any scale (guide §2.3 aggregate-before-shuffle).
    fwd = l.select(
        F.col("l_partkey").cast("bigint").alias("src"),
        (F.col("l_suppkey").cast("bigint") + 10000000).alias("dst"),
    ).distinct().localCheckpoint(eager=False)
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return pagerank_quantized(edges, iterations=3).select("id", "rank_q")


def _kcore_oracle(k: int = 2, rounds: int = 20) -> str:
    """Unrolled k-core peel in portable SQL: each round recomputes
    degrees, names the sub-k node set and filters both edge endpoints.
    Rounds past convergence are no-ops, so a FIXED unroll depth equals
    the Spark fixed point whenever the entry returns at all (the
    operator raises if it needs more than ``rounds``).  Every round CTE
    is MATERIALIZED: each references its predecessor three times, and
    DuckDB's default CTE inlining would expand the 20-round chain
    exponentially (observed as a too-many-open-files blow-up)."""
    ctes = [
        "ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents"
        " WHERE doc_id >= 1)",
        "fwd AS (SELECT id AS src, id % 10 + 1 AS dst FROM ids"
        " WHERE id <= 10"
        " UNION ALL SELECT id, id // 2 FROM ids WHERE id >= 11)",
        "e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM"
        " (SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd)"
        " WHERE src <> dst)",
    ]
    for r in range(rounds):
        ctes.append(
            f"b{r} AS MATERIALIZED (SELECT src FROM e{r} GROUP BY src"
            f" HAVING count(*) < {k})"
        )
        ctes.append(
            f"e{r + 1} AS MATERIALIZED (SELECT src, dst FROM e{r}"
            f" WHERE src NOT IN (SELECT src FROM b{r})"
            f" AND dst NOT IN (SELECT src FROM b{r}))"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT src AS id, count(*) AS degree FROM e{rounds}"
        " GROUP BY src"
    )


@_register("docs_kcore_graph", _kcore_oracle())
def docs_kcore_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (:func:`kcore`, iterative peeling) over a
    synthesized cycle-plus-tree graph on the document ids: a 10-cycle
    (every node degree 2 — the 2-core) with a binary tree hanging off
    it (``i — i div 2`` for every id >= 11).  The tree peels leaf
    level by leaf level — a REAL multi-round cascade (~log2(N) rounds,
    deeper at bigger SF) — and the entry raises unless the peel
    converged, which is what makes the oracle's fixed 20-round unroll
    sound.  Completes the graph quartet (components, PageRank,
    triangles, cores).  Scale: per round one degree agg + two
    anti-joins on the shrinking sub-k set, lineage checkpointed flat.
    """
    from bdq_spark.operators.components import kcore

    ids = (
        load_table(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("bigint").alias("id"))
        .where("id >= 1")
    )
    cyc = ids.where("id <= 10").select(
        F.col("id").alias("src"), (F.col("id") % 10 + 1).alias("dst")
    )
    tree = ids.where("id >= 11").select(
        F.col("id").alias("src"), F.expr("id div 2").alias("dst")
    )
    return kcore(cyc.unionByName(tree), k=2, max_rounds=20)


_VIDEO_FRAMES_ORACLE = """
WITH p AS (SELECT doc_id,
        CAST(doc_id % 6 + 1 AS BIGINT) AS nf,
        CAST(doc_id % 5 + 16 AS INTEGER) AS w,
        CAST(doc_id % 4 + 9 AS INTEGER) AS h
  FROM documents),
s AS (SELECT doc_id, nf, w, h,
        list_sum(list_transform(range(0, nf),
           i -> CASE WHEN i % 2 = 0 THEN
             list_sum(list_transform(range(0, (doc_id + i) % 7 + 1),
               j -> CAST((doc_id*13 + i*7 + j) % 256 AS BIGINT)))
             ELSE 0 END)) AS fsum,
        list_sum(list_transform(range(0, nf),
           i -> CASE WHEN i % 2 = 0 THEN 1 ELSE 0 END)) AS nsamp
      FROM p)
SELECT CAST(doc_id AS BIGINT) AS media_id,
   CASE WHEN doc_id % 5 = 0 THEN 'mp4' ELSE 'avi' END AS format,
   CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE w END AS INTEGER) AS width,
   CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE h END AS INTEGER) AS height,
   CAST(CASE WHEN doc_id % 5 = 0 THEN doc_id*10 ELSE 40*nf END AS BIGINT)
     AS duration_ms,
   CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE nf END AS BIGINT) AS n_frames,
   CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE nsamp END AS BIGINT)
     AS n_sampled,
   CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE fsum END AS BIGINT)
     AS sampled_bytes_sum
FROM s
"""


@_register("multimodal_video_frames", _VIDEO_FRAMES_ORACLE)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container decode + frame sampling, oracle-checked end
    to end: builds VALID single-stream AVIs entirely in Spark
    expressions (RIFF/LIST framing, 56-byte ``avih`` main header,
    ``movi`` list of ``00dc`` frame chunks with correct word-alignment
    padding; frame ``i`` of doc ``d`` is ``(d + i) % 7 + 1`` bytes of
    ``(d*13 + i*7 + j) % 256``), walks them with the pure-Python
    container parser (:func:`decode_video` metadata +
    :func:`sample_container_frames` every-2nd-frame extraction), and
    the DuckDB oracle recomputes frame counts and the sampled frames'
    exact byte sums from the generating expressions.  Every fifth
    document gets an MP4 instead (ISO-BMFF ``ftyp``+``moov/mvhd``) —
    its mvhd duration must decode while frame extraction correctly
    yields nothing (MP4 sample tables are codec-land; the honest
    boundary)."""
    from bdq_spark.operators.multimodal import (
        attach_media_metadata,
        decode_video,
        sample_container_frames,
    )

    did = F.col("doc_id").cast("bigint")
    nf = did % 6 + 1
    w = did % 5 + 16
    h = did % 4 + 9

    def he(col, width):  # big-endian hex, zero-padded to `width` nibbles
        return F.lpad(F.hex(col), width, "0")

    def le32(col):
        return F.concat(
            he(col % 256, 2),
            he(F.floor(col / 256).cast("bigint") % 256, 2),
            he(F.floor(col / 65536).cast("bigint") % 256, 2),
            he(F.floor(col / 16777216).cast("bigint") % 256, 2),
        )

    zero = F.lit(0).cast("bigint")
    flen = lambda i: (did + i) % 7 + 1  # noqa: E731
    fbyte = lambda i, j: (did * 13 + i * 7 + j) % 256  # noqa: E731

    avih_body = F.concat(
        le32(F.lit(40000)), F.lit("00000000" * 3), le32(nf),
        F.lit("00" * 12), le32(w), le32(h), F.lit("00" * 16),
    )
    hdrl = F.concat(
        F.lit("4C495354"), le32(F.lit(4 + 8 + 56)), F.lit("6864726C"),
        F.lit("61766968"), le32(F.lit(56)), avih_body,
    )
    frame_chunks = F.array_join(
        F.transform(
            F.sequence(zero, nf - 1),
            lambda i: F.concat(
                F.lit("30306463"),  # "00dc"
                le32(flen(i)),
                F.array_join(
                    F.transform(
                        F.sequence(zero, flen(i) - 1),
                        lambda j: he(fbyte(i, j), 2),
                    ),
                    "",
                ),
                # RIFF chunks are word-aligned: pad odd bodies
                F.when(flen(i) % 2 == 1, F.lit("00")).otherwise(F.lit("")),
            ),
        ),
        "",
    )
    movi_body_len = F.aggregate(
        F.sequence(zero, nf - 1),
        zero,
        lambda acc, i: acc + 8 + flen(i) + flen(i) % 2,
    )
    movi = F.concat(
        F.lit("4C495354"), le32(movi_body_len + 4), F.lit("6D6F7669"),
        frame_chunks,
    )
    riff_len = 4 + (8 + 68) + (8 + 4) + movi_body_len  # AVI + hdrl + movi
    avi = F.concat(
        F.lit("52494646"), le32(riff_len), F.lit("41564920"), hdrl, movi
    )
    # MP4 refusal-boundary slice: ftyp + moov/mvhd(v0, timescale 1000,
    # duration doc_id*10 ms); no track box -> width/height 0, and the
    # frame walker must extract nothing
    mvhd_body = F.concat(
        F.lit("00000000"), F.lit("00" * 8), he(F.lit(1000), 8),
        he(did * 10, 8), F.lit("00" * 80),
    )
    mp4 = F.concat(
        he(F.lit(24), 8), F.lit("66747970"), F.lit("69736F6D"),
        F.lit("00000200"), F.lit("69736F6D69736F32"),
        he(F.lit(8 + 8 + 100), 8), F.lit("6D6F6F76"),
        he(F.lit(8 + 100), 8), F.lit("6D766864"), mvhd_body,
    )
    payload = F.unhex(F.when(did % 5 == 0, mp4).otherwise(avi))
    # see multimodal_mjpeg_pixel_stats: synthesize + walk at session
    # width instead of inside the scan's single task
    docs = _spread_narrow_scan(
        load_table(spark, sf_dir, "documents").select("doc_id")
    ).select("doc_id", payload.alias("payload"))
    # NOTE (OPTIMIZATION_r14, measured and REJECTED): the meta and
    # frame-walk branches below fork the plan, so the AVI/MP4
    # hex-synthesis expression runs twice per row (RIFF literal appears
    # 2x in the committed plan).  A lazy data_checkpoint of the
    # synthesized payloads removes the second evaluation but ADDS a
    # materialization job — measured 1.11 -> 1.35 s at sf0.1 (twice,
    # same box) because the per-row synthesis (~0.05 s/branch at this
    # SF) is far below the job floor (~0.3 s); the ids-only scan alone
    # is 0.89 s.  The double synthesis stays until payload volume, not
    # job latency, dominates.
    media = attach_media_metadata(
        docs, content_column="payload", media_type="video", id_column="doc_id"
    )
    meta = decode_video(media).select(
        "media_id", "format", "width", "height", "duration_ms", "n_frames"
    )
    frames = sample_container_frames(media, every_n=2)
    # per-frame byte sum via hex expansion — frames are ≤ 7 bytes here,
    # and the conv() stays in codegen
    fhex = F.hex(F.col("frame"))
    byte_sum = F.aggregate(
        F.sequence(
            F.lit(0), (F.length(fhex) / 2).cast("bigint") - 1
        ),
        F.lit(0).cast("bigint"),
        lambda acc, k: acc
        + F.conv(F.substring(fhex, (k * 2 + 1).cast("int"), 2), 16, 10).cast(
            "bigint"
        ),
    )
    frame_stats = (
        frames.select("media_id", byte_sum.alias("bsum"))
        .groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("bsum").alias("sampled_bytes_sum"),
        )
    )
    return (
        meta.join(frame_stats, "media_id", "left")
        .select(
            "media_id",
            "format",
            "width",
            "height",
            "duration_ms",
            "n_frames",
            F.coalesce("n_sampled", F.lit(0)).cast("bigint").alias(
                "n_sampled"
            ),
            F.coalesce("sampled_bytes_sum", F.lit(0))
            .cast("bigint")
            .alias("sampled_bytes_sum"),
        )
    )


_MJPEG_PIXEL_ORACLE = """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
f AS (SELECT did, CAST(unnest(range(0, did % 3 + 2)) AS BIGINT) AS i FROM d)
SELECT did AS media_id,
       CAST(i AS INTEGER) AS frame_idx,
       CAST(CASE WHEN did % 7 = 0 AND i = 0 THEN 0
                 WHEN did % 2 = 0 THEN 16 ELSE 8 END AS INTEGER) AS width,
       CAST(CASE WHEN did % 7 = 0 AND i = 0 THEN 0
                 ELSE 8 END AS INTEGER) AS height,
       CASE WHEN did % 7 = 0 AND i = 0 THEN 0.0
            ELSE CAST((did * 5 + i * 3) % 16 * 17 AS DOUBLE)
       END AS mean_brightness,
       NOT (did % 7 = 0 AND i = 0) AS decode_ok
FROM f
"""


@_register("multimodal_mjpeg_pixel_stats", _MJPEG_PIXEL_ORACLE)
def multimodal_mjpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video PIXEL decode, oracle-checked end to end — the
    composition that closes the "video codec payloads" stub for MJPEG
    (round-6 VERDICT item #4): builds VALID MJPEG AVIs entirely in
    Spark expressions (RIFF/LIST framing as in
    :func:`multimodal_video_frames`; frame ``i`` of doc ``d`` is a
    complete baseline JPEG from :func:`encode_flat_jpeg` with gray level
    ``(d*5 + i*3) % 16 * 17``, 16x8 for even docs and 8x8 for odd ones),
    walks the container AND huffman+IDCT-decodes every frame with
    :func:`video_pixel_stats`, and the DuckDB oracle recomputes each
    frame's exact mean from the generating expression (a flat frame
    decodes bit-exactly — pinned in ``tests/test_jpeg.py``).  Every 7th
    document's FIRST frame is truncated mid-header — the per-frame
    honest-refusal row the oracle also predicts."""
    from bdq_spark.operators.jpeg import encode_flat_jpeg
    from bdq_spark.operators.multimodal import (
        attach_media_metadata,
        video_pixel_stats,
    )

    did = F.col("doc_id").cast("bigint")
    nf = did % 3 + 2  # 2..4 frames

    def he(col, width):  # big-endian hex, zero-padded to `width` nibbles
        return F.lpad(F.hex(col), width, "0")

    def le32(col):
        return F.concat(
            he(col % 256, 2),
            he(F.floor(col / 256).cast("bigint") % 256, 2),
            he(F.floor(col / 65536).cast("bigint") % 256, 2),
            he(F.floor(col / 16777216).cast("bigint") % 256, 2),
        )

    zero = F.lit(0).cast("bigint")
    wide = F.array(*[F.lit(encode_flat_jpeg(g * 17, 16, 8).hex().upper())
                     for g in range(16)])
    square = F.array(*[F.lit(encode_flat_jpeg(g * 17, 8, 8).hex().upper())
                       for g in range(16)])
    frames_arr = F.when(did % 2 == 0, wide).otherwise(square)

    def frame_hex(i):
        whole = F.element_at(frames_arr, ((did * 5 + i * 3) % 16 + 1).cast("int"))
        return F.when(
            (did % 7 == 0) & (i == zero), F.substring(whole, 1, 40)
        ).otherwise(whole)

    def chunk(i):
        fh = frame_hex(i)
        flen = (F.length(fh) / 2).cast("bigint")
        return F.concat(
            F.lit("30306463"),  # "00dc"
            le32(flen),
            fh,
            F.when(flen % 2 == 1, F.lit("00")).otherwise(F.lit("")),
        )

    frame_chunks = F.array_join(
        F.transform(F.sequence(zero, nf - 1), chunk), ""
    )
    movi_body_len = (F.length(frame_chunks) / 2).cast("bigint")
    w = F.when(did % 2 == 0, F.lit(16)).otherwise(F.lit(8)).cast("bigint")
    avih_body = F.concat(
        le32(F.lit(40000)), F.lit("00000000" * 3), le32(nf),
        F.lit("00" * 12), le32(w), le32(F.lit(8).cast("bigint")),
        F.lit("00" * 16),
    )
    hdrl = F.concat(
        F.lit("4C495354"), le32(F.lit(4 + 8 + 56)), F.lit("6864726C"),
        F.lit("61766968"), le32(F.lit(56)), avih_body,
    )
    movi = F.concat(
        F.lit("4C495354"), le32(movi_body_len + 4), F.lit("6D6F7669"),
        frame_chunks,
    )
    riff_len = 4 + (8 + 68) + (8 + 4) + movi_body_len
    avi = F.concat(
        F.lit("52494646"), le32(riff_len), F.lit("41564920"), hdrl, movi
    )
    # spread the id-only scan BEFORE synthesizing payloads: the AVI
    # bytes and the per-frame huffman+IDCT decode then run at session
    # width instead of inside the scan's single task
    # (OPTIMIZATION_r14; see _spread_narrow_scan)
    docs = _spread_narrow_scan(
        load_table(spark, sf_dir, "documents").select("doc_id")
    ).select("doc_id", F.unhex(avi).alias("payload"))
    media = attach_media_metadata(
        docs, content_column="payload", media_type="video", id_column="doc_id"
    )
    return video_pixel_stats(media)


_ADPCM_STEPS_SQL = (
    "[7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,"
    "66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,"
    "371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,"
    "1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,"
    "5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,"
    "16818,18500,20350,22385,24623,27086,29794,32767]"
)

# The oracle REPLAYS the published IMA-ADPCM nibble state machine in a
# recursive CTE — per (doc, step j) the predictor/step-index recurrence
# is pure int64 arithmetic, so every intermediate sample is exact in any
# engine; the aggregation over the 9 samples then matches the decoder's
# integer sums bit for bit.
_ADPCM_PCM_ORACLE = f"""
WITH RECURSIVE d AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
st AS (
  SELECT did, CAST(0 AS BIGINT) AS j,
         (did*131) % 4001 - 2000 AS pred,
         did % 89 AS idx
  FROM d
  UNION ALL
  SELECT did, j + 1,
         GREATEST(-32768, LEAST(32767,
           pred + CASE WHEN nib >= 8 THEN -diff ELSE diff END)),
         GREATEST(0, LEAST(88, idx + CASE WHEN nib % 8 < 4 THEN -1
                                          ELSE (nib % 8 - 3) * 2 END))
  FROM (
    SELECT did, j, pred, idx, nib,
           (step // 8)
           + CASE WHEN nib % 2 = 1 THEN step // 4 ELSE 0 END
           + CASE WHEN (nib // 2) % 2 = 1 THEN step // 2 ELSE 0 END
           + CASE WHEN (nib // 4) % 2 = 1 THEN step ELSE 0 END AS diff
    FROM (
      SELECT did, j, pred, idx,
             (did*7 + j*3) % 16 AS nib,
             ({_ADPCM_STEPS_SQL})[CAST(idx + 1 AS INTEGER)] AS step
      FROM st WHERE j < 8))),
agg AS (
  SELECT did, count(*) AS n, SUM(pred) AS total, SUM(pred*pred) AS sumsq
  FROM st GROUP BY did)
SELECT did AS media_id,
       CAST(CASE WHEN did % 5 = 0 THEN 0 ELSE n END AS BIGINT) AS n_samples,
       CASE WHEN did % 5 = 0 THEN 0.0
            ELSE round(total / CAST(n AS DOUBLE), 6) END AS mean_amplitude,
       CASE WHEN did % 5 = 0 THEN 0.0
            ELSE round(sqrt(sumsq / CAST(n AS DOUBLE)), 6)
       END AS rms_amplitude,
       did % 5 <> 0 AS decode_ok
FROM agg
"""


@_register("multimodal_adpcm_pcm_stats", _ADPCM_PCM_ORACLE)
def multimodal_adpcm_pcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COMPRESSED-audio decode, oracle-checked end to end: builds
    VALID mono IMA-ADPCM WAVs (fmt tag 0x11, one 8-byte block: header
    predictor ``(d*131) % 4001 - 2000``, step index ``d % 89``, then 8
    data nibbles ``(d*7 + j*3) % 16``) entirely in Spark expressions,
    decodes them with the pure-Python IMA state machine
    (:func:`bdq_spark.operators.multimodal.decode_adpcm_samples`), and
    the DuckDB oracle REPLAYS the whole per-nibble predictor/step-index
    recurrence in a recursive CTE — the approximate pipeline has no
    unchecked step, the same standard as the md5-twin ANN entries.
    Every fifth document gets an MP3 payload — the stub boundary
    reports ``decode_ok=false``, checked by the oracle too."""
    from bdq_spark.operators.multimodal import (
        attach_media_metadata,
        audio_pcm_stats,
    )

    did = F.col("doc_id").cast("bigint")

    def he(col, width):
        return F.lpad(F.hex(col), width, "0")

    def le16(col):
        return F.concat(
            he(col % 256, 2), he(F.floor(col / 256).cast("bigint") % 256, 2)
        )

    pred0 = (did * 131) % 4001 - 2000
    idx0 = did % 89
    nib = lambda j: (did * 7 + j * 3) % 16  # noqa: E731
    data_hex = F.array_join(
        F.transform(
            F.sequence(F.lit(0).cast("bigint"), F.lit(3).cast("bigint")),
            lambda k: he(nib(2 * k) + nib(2 * k + 1) * 16, 2),
        ),
        "",
    )
    block = F.concat(
        le16((pred0 + 65536) % 65536),  # int16 LE two's complement
        he(idx0, 2), F.lit("00"),
        data_hex,
    )
    wav = F.concat(
        F.lit("52494646"), F.lit("24000000"),          # RIFF, len 36
        F.lit("57415645" "666D7420" "10000000"),       # WAVE fmt(16)
        F.lit("1100" "0100"),                          # tag 0x11, mono
        F.lit("401F0000" "00100000"),                  # 8000 Hz, 4096 B/s
        F.lit("0800" "0400"),                          # align 8, 4 bits
        F.lit("64617461" "08000000"),                  # data(8)
        block,
    )
    mp3 = F.lit("FFFB9000" + "00" * 40)  # MP3 frame: decoder refuses
    payload = F.unhex(F.when(did % 5 == 0, mp3).otherwise(wav))
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", payload.alias("payload")
    )
    media = attach_media_metadata(
        docs, content_column="payload", media_type="audio", id_column="doc_id"
    )
    return audio_pcm_stats(media).select(
        "media_id",
        "n_samples",
        F.round("mean_amplitude", 6).alias("mean_amplitude"),
        F.round("rms_amplitude", 6).alias("rms_amplitude"),
        "decode_ok",
    )


# palette color c: RGBQUAD bytes (B,G,R) = ((4c)*37, (4c+1)*37,
# (4c+2)*37) mod 256 — the oracle recomputes the same sums
_RLE8_PIXEL_ORACLE = """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
f AS (SELECT did, CAST(unnest([0, 1]) AS INTEGER) AS i FROM d),
g AS (SELECT did, i, did % 5 + 2 AS w, did % 3 + 1 AS h,
             did % 7 = 0 AND i = 1 AS truncated
      FROM f)
SELECT did AS media_id, i AS frame_idx,
       CAST(CASE WHEN truncated THEN 0 ELSE w END AS INTEGER) AS width,
       CAST(CASE WHEN truncated THEN 0 ELSE h END AS INTEGER) AS height,
       CASE WHEN truncated THEN 0.0
            ELSE round(list_sum(list_transform(range(0, h), y ->
                   CAST(((4*((did + y + i) % 8))*37) % 256
                      + ((4*((did + y + i) % 8) + 1)*37) % 256
                      + ((4*((did + y + i) % 8) + 2)*37) % 256 AS DOUBLE)))
                 / (h * 3), 6)
       END AS mean_brightness,
       NOT truncated AS decode_ok
FROM g
"""


@_register("multimodal_rle8_pixel_stats", _RLE8_PIXEL_ORACLE)
def multimodal_rle8_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COMPRESSED-video decode, oracle-checked end to end — RLE8
    joins MJPEG and raw-DIB as the third real AVI codec: builds VALID
    BI_RLE8 AVIs entirely in Spark expressions (full RIFF framing
    including the ``strl``/``strh``/``strf`` stream header the RLE8
    path resolves its palette through — 8 RGBQUAD colors with byte
    pattern ``(4c + k)*37 % 256``; two frames per doc, frame ``i`` row
    ``y`` is one encoded run of index ``(d + y + i) % 8`` wide ``w``),
    decodes every frame with
    :func:`bdq_spark.operators.multimodal.decode_rle8_frame`, and the
    DuckDB oracle recomputes each frame's exact palette-mapped mean.
    Every 7th document's SECOND frame drops its end-of-bitmap marker —
    the strict profile refuses it (undefined pixels are never guessed),
    and the oracle predicts that refusal."""
    from bdq_spark.operators.multimodal import (
        attach_media_metadata,
        video_pixel_stats,
    )

    did = F.col("doc_id").cast("bigint")
    w = did % 5 + 2
    h = did % 3 + 1
    zero = F.lit(0).cast("bigint")

    def he(col, width):
        return F.lpad(F.hex(col), width, "0")

    def le32(col):
        return F.concat(
            he(col % 256, 2),
            he(F.floor(col / 256).cast("bigint") % 256, 2),
            he(F.floor(col / 65536).cast("bigint") % 256, 2),
            he(F.floor(col / 16777216).cast("bigint") % 256, 2),
        )

    palette_hex = "".join(
        f"{(i * 37) % 256 if i % 4 != 3 else 0:02X}" for i in range(32)
    )

    def frame_hex(i):
        # row y: one encoded run [w, idx] + EOL; EOB unless truncated
        rows = F.array_join(
            F.transform(
                F.sequence(zero, h - 1),
                lambda y: F.concat(
                    he(w, 2), he((did + y + i) % 8, 2), F.lit("0000")
                ),
            ),
            "",
        )
        return F.concat(
            rows,
            F.when((did % 7 == 0) & (i == 1), F.lit("")).otherwise(
                F.lit("0001")
            ),
        )

    def chunk(i):
        fh = frame_hex(i)
        flen = (F.length(fh) / 2).cast("bigint")  # 4h(+2): always even
        return F.concat(F.lit("30306463"), le32(flen), fh)

    frame_chunks = F.concat(chunk(zero), chunk(F.lit(1).cast("bigint")))
    movi_body_len = (F.length(frame_chunks) / 2).cast("bigint")
    avih_body = F.concat(
        le32(F.lit(40000)), F.lit("00000000" * 3), le32(F.lit(2)),
        F.lit("00" * 12), le32(w), le32(h), F.lit("00" * 16),
    )
    # strh(56): 'vids' + fourcc + zeros; strf(72): BITMAPINFOHEADER(40)
    # with biClrUsed=8 + 8 RGBQUAD palette entries
    strh = F.lit("76696473" + "4D524C45" + "00" * 48)
    strf_body = F.concat(
        le32(F.lit(40)), le32(w), le32(h),
        F.lit("0100" "0800"),        # 1 plane, 8 bpp
        le32(F.lit(1)),              # biCompression = BI_RLE8
        F.lit("00" * 12),
        le32(F.lit(8)), le32(F.lit(0)),  # biClrUsed=8, important=0
        F.lit(palette_hex),
    )
    strl = F.concat(
        F.lit("4C495354"), le32(F.lit(4 + 8 + 56 + 8 + 72)),
        F.lit("7374726C"),
        F.lit("73747268"), le32(F.lit(56)), strh,
        F.lit("73747266"), le32(F.lit(72)), strf_body,
    )
    hdrl = F.concat(
        F.lit("4C495354"), le32(F.lit(4 + 8 + 56 + 8 + 148)),
        F.lit("6864726C"),
        F.lit("61766968"), le32(F.lit(56)), avih_body,
        strl,
    )
    movi = F.concat(
        F.lit("4C495354"), le32(movi_body_len + 4), F.lit("6D6F7669"),
        frame_chunks,
    )
    riff_len = 4 + (8 + 4 + 64 + 156) + (8 + 4) + movi_body_len
    avi = F.concat(
        F.lit("52494646"), le32(riff_len), F.lit("41564920"), hdrl, movi
    )
    # see multimodal_mjpeg_pixel_stats: decode at session width
    docs = _spread_narrow_scan(
        load_table(spark, sf_dir, "documents").select("doc_id")
    ).select("doc_id", F.unhex(avi).alias("payload"))
    media = attach_media_metadata(
        docs, content_column="payload", media_type="video", id_column="doc_id"
    )
    return video_pixel_stats(media).select(
        "media_id", "frame_idx", "width", "height",
        F.round("mean_brightness", 6).alias("mean_brightness"),
        "decode_ok",
    )


# ---------------------------------------------------------------------------
# Extensions — declarative quality rules (single-pass aggregation)
# ---------------------------------------------------------------------------

@_register(
    "quality_rules_lineitem",
    """
    SELECT count(*) AS record_count,
           CAST(SUM(CASE WHEN NOT COALESCE(l_quantity <= 30, FALSE) THEN 1 ELSE 0 END)
             AS BIGINT) AS qty_le_30,
           CAST(SUM(CASE WHEN NOT COALESCE(l_discount <= 0.05, FALSE) THEN 1 ELSE 0 END)
             AS BIGINT) AS discount_le_5pct,
           CAST(SUM(CASE WHEN NOT COALESCE(l_extendedprice > 0, FALSE) THEN 1 ELSE 0 END)
             AS BIGINT) AS price_positive,
           CAST(SUM(CASE WHEN NOT COALESCE(l_tax BETWEEN 0 AND 0.08, FALSE) THEN 1 ELSE 0 END)
             AS BIGINT) AS tax_in_range
    FROM lineitem
    """,
)
def quality_rules_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bdq_spark.operators.rules import Rule, violation_summary

    rules = [
        Rule("qty_le_30", "l_quantity <= 30"),
        Rule("discount_le_5pct", "l_discount <= 0.05"),
        Rule("price_positive", "l_extendedprice > 0"),
        Rule("tax_in_range", "l_tax BETWEEN 0 AND 0.08"),
    ]
    return violation_summary(load_table(spark, sf_dir, "lineitem"), rules)


@_register(
    "rules_quarantine_lineitem",
    """
    WITH a AS (
      SELECT l_orderkey, l_linenumber,
             list_filter([
               CASE WHEN NOT COALESCE(l_quantity <= 30, FALSE)
                    THEN 'qty_le_30' END,
               CASE WHEN NOT COALESCE(l_discount <= 0.05, FALSE)
                    THEN 'discount_le_5pct' END,
               CASE WHEN NOT COALESCE(l_extendedprice > 0, FALSE)
                    THEN 'price_positive' END,
               CASE WHEN NOT COALESCE(l_tax BETWEEN 0 AND 0.08, FALSE)
                    THEN 'tax_in_range' END
             ], x -> x IS NOT NULL) AS failed
      FROM lineitem)
    SELECT l_orderkey, l_linenumber,
           array_to_string(failed, ',') AS failed_rules
    FROM a WHERE len(failed) > 0
    """,
)
def rules_quarantine_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level rule QUARANTINE (the triage side of the rule engine):
    rows violating any expectation, with the ordered violated-rule list
    — the oracle recomputes the per-row annotation, value-checking
    ``annotate_rules``/``quarantine_rules`` semantics (NULL predicate =
    violation) beyond ``quality_rules_lineitem``'s summary counts."""
    from bdq_spark.operators.rules import Rule, quarantine_rules

    rules = [
        Rule("qty_le_30", "l_quantity <= 30"),
        Rule("discount_le_5pct", "l_discount <= 0.05"),
        Rule("price_positive", "l_extendedprice > 0"),
        Rule("tax_in_range", "l_tax BETWEEN 0 AND 0.08"),
    ]
    _, bad = quarantine_rules(load_table(spark, sf_dir, "lineitem"), rules)
    return bad.select(
        "l_orderkey",
        "l_linenumber",
        F.array_join("__failed_rules", ",").alias("failed_rules"),
    )


# ---------------------------------------------------------------------------
# Extensions — event-time windows (streaming-native, batch-checkable)
# ---------------------------------------------------------------------------

@_register(
    "events_daily_by_type",
    """
    SELECT epoch_ms(date_trunc('day', ts)) AS window_start_ms,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_daily_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bdq_spark.streaming import tumbling_window_agg

    ev = load_table(spark, sf_dir, "events")
    out = tumbling_window_agg(
        ev,
        "ts",
        "1 day",
        [
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(14,4)")).cast("double").alias("total_value"),
        ],
        group_by=["event_type"],
    )
    return out.select(
        F.unix_millis("window_start").alias("window_start_ms"),
        "event_type",
        "n_events",
        "total_value",
    )


@_register(
    "events_sliding_windows",
    """
    WITH w AS (
      SELECT epoch_ms(date_trunc('day', ts) - (u.k * INTERVAL 1 DAY))
               AS window_start_ms,
             event_type
      FROM events, UNNEST([0, 1]) AS u(k))
    SELECT window_start_ms, event_type, count(*) AS n_events
    FROM w GROUP BY 1, 2
    """,
)
def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping event-time windows (2-day duration, 1-day slide):
    every event lands in exactly two windows.  The oracle enumerates the
    two epoch-aligned window starts per event and re-aggregates —
    value-checking Spark's sliding-window assignment arithmetic."""
    from bdq_spark.streaming import sliding_window_agg

    ev = load_table(spark, sf_dir, "events")
    out = sliding_window_agg(
        ev, "ts", "2 days", "1 day",
        [F.count(F.lit(1)).alias("n_events")],
        group_by=["event_type"],
    )
    return out.select(
        F.unix_millis("window_start").alias("window_start_ms"),
        "event_type",
        "n_events",
    )


@_register(
    "events_dedup_watermark",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def events_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_within_watermark`` driven through its batch path (plain
    dropDuplicates; streaming mode swaps in
    ``dropDuplicatesWithinWatermark`` with bounded state).  Projected to
    the dedup subset so the surviving-row choice — arbitrary by
    contract — cannot affect the value hash."""
    from bdq_spark.streaming import dedup_within_watermark

    ev = load_table(spark, sf_dir, "events")
    return dedup_within_watermark(
        ev, ["user_id", "event_type"], "ts", "1 hour"
    ).select("user_id", "event_type")


@_register(
    "events_user_sessions",
    """
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 1 HOUR
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    s AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM o)
    SELECT user_id,
           epoch_ms(min(ts)) AS session_start_ms,
           epoch_ms(max(ts) + INTERVAL 1 HOUR) AS session_end_ms,
           count(*) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def events_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bdq_spark.streaming import session_window_agg

    ev = load_table(spark, sf_dir, "events")
    out = session_window_agg(
        ev, "ts", "1 hour", [F.count(F.lit(1)).alias("n_events")],
        group_by=["user_id"],
    )
    return out.select(
        "user_id",
        F.unix_millis("window_start").alias("session_start_ms"),
        F.unix_millis("window_end").alias("session_end_ms"),
        "n_events",
    )


@_register(
    "streaming_windowed_counts",
    """
    SELECT epoch_ms(date_trunc('day', ts)) AS window_start_ms,
           event_type,
           count(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Structured Streaming path (not batch-mode windows): a
    ``readStream`` file source -> watermark -> event-time tumbling
    window aggregation -> memory sink, driven to completion with an
    availableNow trigger.  Complete output mode makes the result
    deterministic (every window emitted once all data is processed), so
    the streaming engine's answer is value-hash-checked against the
    plain batch GROUP BY oracle — the streaming/batch unification
    guarantee, verified."""
    ev = load_table(spark, sf_dir, "events")
    # staged once per (sf_dir, table), reused across invocations: the
    # stream must read plain micros timestamps (see load_table notes)
    src = _stage_table_dir(spark, sf_dir, "events")
    sink = "swc_sink"

    sdf = spark.readStream.schema(ev.schema).parquet(src)
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # detach the (small) result from the memory-sink view, then drop the
    # view — otherwise each invocation pins a complete-mode result table
    # in driver memory for the session's lifetime
    out = spark.table(sink).select(
        F.unix_millis(F.col("window.start")).alias("window_start_ms"),
        "event_type",
        "n_events",
    ).localCheckpoint(eager=True)
    spark.catalog.dropTempView(sink)
    return out


@_register(
    "streaming_interval_join",
    """
    SELECT c.user_id,
           epoch_ms(c.ts) AS l_ts_ms, epoch_ms(p.ts) AS r_ts_ms,
           c.event_id AS l_event_id, p.event_id AS r_event_id
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 DAY
    """,
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE stream-stream join: two ``readStream`` file sources (clicks
    and purchases), watermarked event-time interval join (purchase
    within 1 day after the click), append mode to a memory sink, driven
    with availableNow.  The time-range condition is what bounds the join
    state store (rows beyond watermark + upper horizon expire) — the
    100 TB/continuous shape for correlating two event feeds.  The
    emitted pairs are value-hash-checked against the batch range join
    oracle — stream/batch unification for JOINS, not just aggregates."""
    from bdq_spark.session import private_session, rebind
    from bdq_spark.streaming import interval_join

    ev = load_table(spark, sf_dir, "events")
    src = _stage_table_dir(spark, sf_dir, "events")
    sink = "ssj_sink"

    def side(event_type: str) -> DataFrame:
        return (
            spark.readStream.schema(ev.schema)
            .parquet(src)
            .filter(F.col("event_type") == event_type)
            .select("user_id", "ts", "event_id")
        )

    joined = interval_join(
        side("click"),
        side("purchase"),
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        lower="0 seconds",
        upper="1 day",
        watermark="1 day",
    )
    # a stream-stream join creates TWO state stores per shuffle
    # partition; partition count is pinned at the first checkpoint, so
    # size it to the stream's throughput, not the session's batch
    # default (local-mode measurement: 32 -> 8 partitions cuts this
    # query 7.0 s -> 2.7 s, all state-store setup).  The query runs on
    # a private session, so the caller's conf is untouched; the memory
    # sink registers its table in that session.
    stream = private_session(spark, {"spark.sql.shuffle.partitions": "8"})
    q = (
        rebind(joined, stream).writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = stream.table(sink).select(
        "user_id",
        F.unix_millis("l_ts").alias("l_ts_ms"),
        F.unix_millis("r_ts").alias("r_ts_ms"),
        "l_event_id",
        "r_event_id",
    ).localCheckpoint(eager=True)
    stream.catalog.dropTempView(sink)
    return rebind(out, spark)


# ---------------------------------------------------------------------------
# O9 — minimal composite-PK search (DAG-executed, superset-pruned)
# ---------------------------------------------------------------------------

@_register(
    "pk_minimal_combinations",
    """
    WITH t AS (SELECT count(*) AS total FROM lineitem),
    u AS (
      SELECT 'l_orderkey' AS combo,
             (SELECT count(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem))
               = (SELECT total FROM t) AS is_unique
      UNION ALL
      SELECT 'l_partkey,l_suppkey',
             (SELECT count(*) FROM (
                SELECT DISTINCT l_partkey, l_suppkey FROM lineitem))
               = (SELECT total FROM t)
      UNION ALL
      SELECT 'l_orderkey,l_partkey',
             (SELECT count(*) FROM (
                SELECT DISTINCT l_orderkey, l_partkey FROM lineitem))
               = (SELECT total FROM t)
      UNION ALL
      SELECT 'l_orderkey,l_partkey,l_suppkey',
             (SELECT count(*) FROM (
                SELECT DISTINCT l_orderkey, l_partkey, l_suppkey FROM lineitem))
               = (SELECT total FROM t))
    SELECT ua.combo FROM u ua
    LEFT JOIN u ub
      ON ub.is_unique AND ub.combo <> ua.combo
     AND list_has_all(string_split(ua.combo, ','), string_split(ub.combo, ','))
    WHERE ua.is_unique AND ub.combo IS NULL
    ORDER BY ua.combo
    """,
)
def pk_minimal_combinations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bdq_spark.operators import validate_primary_key_candidate_combinations

    df = load_table(spark, sf_dir, "lineitem")
    combos = [
        ("l_orderkey",),
        ("l_partkey", "l_suppkey"),
        ("l_orderkey", "l_partkey"),
        ("l_orderkey", "l_partkey", "l_suppkey"),
    ]
    solutions = validate_primary_key_candidate_combinations(
        df, combos, max_workers=4
    )
    rows = sorted(",".join(c) for c in solutions)
    return spark.createDataFrame([(r,) for r in rows], "combo: string")


# ---------------------------------------------------------------------------
# O12 — compare_schemas (pure-Python operator surfaced as rows)
# ---------------------------------------------------------------------------

@_register(
    "schema_diff_orders",
    """
    SELECT * FROM (VALUES
      ('o_comment',       'added',   NULL,       NULL),
      ('o_clerk',         'removed', NULL,       NULL),
      ('o_totalprice',    'changed', 'double',   'decimal(12,2)')
    ) AS t(column_name, change, before_type, after_type)
    """,
)
def schema_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bdq_spark.schema import compare_schemas

    orders = load_table(spark, sf_dir, "orders")
    s1 = orders.withColumn("o_comment", F.lit("x")).schema
    s2 = (
        orders.withColumn("o_clerk", F.lit("c"))
        .withColumn("o_totalprice", F.col("o_totalprice").cast("decimal(12,2)"))
        .schema
    )
    diff = compare_schemas(s1, s2)
    rows = (
        [(c, "added", None, None) for c in sorted(diff["added"])]
        + [(c, "removed", None, None) for c in sorted(diff["removed"])]
        + [
            (c, "changed", v["before"], v["after"])
            for c, v in sorted(diff["changed"].items())
        ]
    )
    return spark.createDataFrame(
        rows, "column_name:string, change:string, before_type:string, after_type:string"
    )


# ---------------------------------------------------------------------------
# O17 — column-name combination generator
# ---------------------------------------------------------------------------

@_register(
    "column_combinations",
    """
    SELECT * FROM (VALUES
      (1, 'f,g'), (2, 'f,g,a'), (3, 'f,g,b'), (4, 'f,g,c'),
      (5, 'f,g,a,b'), (6, 'f,g,a,c'), (7, 'f,g,b,c'), (8, 'f,g,a,b,c')
    ) AS t(ord, combo)
    """,
)
def column_combinations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bdq_spark.schema import get_column_names_combinations

    combos = list(
        get_column_names_combinations(
            dynamic_column_names=["a", "b", "c"], fixed_column_names=["f", "g"]
        )
    )
    return spark.createDataFrame(
        [(i + 1, ",".join(c)) for i, c in enumerate(combos)], "ord:int, combo:string"
    )


# ---------------------------------------------------------------------------
# E1-E6 — DAG executor + SparkPipeline temp-view dataflow
# ---------------------------------------------------------------------------

@_register(
    "dag_states",
    """
    SELECT * FROM (VALUES
      ('a', 'SUCCESS'), ('b', 'ERROR'), ('c', 'SKIPPED'),
      ('d', 'SUCCESS'), ('e', 'SKIPPED')
    ) AS t(node, state)
    """,
)
def dag_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bdq_spark.plans import DAG

    graph = DAG()

    @graph.node()
    def a():
        return 1

    @graph.node(depends_on=[a])
    def b():
        raise RuntimeError("intentional")

    @graph.node(depends_on=[b])
    def c():
        return 3

    @graph.node(depends_on=[a])
    def d():
        return graph.BREAK if False else 4

    @graph.node(depends_on=[a])
    def e():
        return graph.BREAK

    graph.execute(max_workers=4)
    rows = sorted((n.name, n.state) for n in graph.nodes)
    return spark.createDataFrame(rows, "node:string, state:string")


@_register(
    "pipeline_odd_even",
    """
    WITH combined AS (
      SELECT range AS id FROM range(1, 10)
      UNION ALL SELECT range FROM range(100, 110)
      UNION ALL SELECT range FROM range(1000, 2000))
    SELECT CASE WHEN id % 2 = 1 THEN 'odd' ELSE 'even' END AS parity,
           count(*) AS n,
           CAST(sum(id) AS BIGINT) AS total
    FROM combined GROUP BY 1
    """,
)
def pipeline_odd_even(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bdq_spark.plans import SparkPipeline

    ppn = SparkPipeline("entry_oddeven", spark=spark)

    @ppn.step_spark_temp_view(outputs="eq_src1")
    def eq_src1(step):
        return spark.range(1, 10)

    @ppn.step_spark_temp_view(outputs="eq_src2")
    def eq_src2(step):
        return spark.range(100, 110)

    @ppn.step_spark_temp_view(outputs="eq_src3")
    def eq_src3(step):
        return spark.range(1000, 2000)

    @ppn.step_spark_temp_view(depends_on=["eq_src1", "eq_src2", "eq_src3"])
    def eq_combined(step):
        return (
            spark.table("eq_src1")
            .union(spark.table("eq_src2"))
            .union(spark.table("eq_src3"))
        )

    @ppn.step_spark_temp_view(depends_on=[eq_combined], outputs="eq_parity")
    def eq_parity(step):
        return (
            spark.table("eq_combined")
            .groupBy(
                F.when(F.col("id") % 2 == 1, F.lit("odd"))
                .otherwise(F.lit("even"))
                .alias("parity")
            )
            .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("total"))
        )

    ppn(max_concurrent_steps=4)
    return spark.table("eq_parity")


# ---------------------------------------------------------------------------
# E8/E10 — streaming foreachBatch + state store round trip (rows-only)
# ---------------------------------------------------------------------------

def _stage_table_dir(
    spark: SparkSession, sf_dir: str, table: str, format: str = "parquet"
) -> str:
    """Stage a testdata table into a DIRECTORY of the given format
    (FileStreamSource rejects single files; the JSONL ingest entry needs
    a JSON copy) — once per (sf_dir, table, format) per machine, reused
    by every later invocation instead of leaking a fresh full copy into
    /tmp per bench rep."""
    import hashlib
    import os

    key = hashlib.md5(f"{sf_dir}:{table}:{format}".encode()).hexdigest()[:12]
    path = os.path.join(
        tempfile.gettempdir(), f"bdq_stage_{table}_{key}"
    )
    marker = os.path.join(path, "_STAGED")
    if not os.path.exists(marker):
        load_table(spark, sf_dir, table).write.mode("overwrite").format(
            format
        ).save(path)
        with open(marker, "w") as fh:
            fh.write(sf_dir)
    return path


@_register("jsonl_ingest_documents", "SELECT doc_id, text FROM documents")
def jsonl_ingest_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL corpus ingestion (the standard LLM-corpus wire format):
    documents staged once as JSON lines, read back with an explicit
    schema + PERMISSIVE corrupt-record quarantine, clean side
    value-checked against the parquet source — proving the ingest path
    is content-preserving, not just runnable."""
    from bdq_spark.sources.readers import read_json, split_corrupt

    src = _stage_table_dir(spark, sf_dir, "documents", format="json")
    df = read_json(spark, src, "doc_id bigint, text string")
    clean, _bad = split_corrupt(df)
    return clean.select("doc_id", "text")


@_register(
    "csv_ingest_events",
    """
    SELECT event_id, user_id, event_type,
           round(CAST(value AS DOUBLE), 6) AS value
    FROM events
    """,
)
def csv_ingest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingestion with REAL malformed rows in the directory: events
    staged once as CSV (stable subset — ts/props excluded so the check
    isn't about timestamp format strings), plus a planted file of
    malformed lines (wrong arity, unparseable types).  The PERMISSIVE
    read quarantines exactly the planted garbage; the clean side is
    value-checked against the parquet source.  Raises if the quarantine
    missed or over-caught (planted count is known)."""
    import hashlib
    import os

    from bdq_spark.sources.readers import read_csv, split_corrupt

    schema = "event_id bigint, user_id bigint, event_type string, value double"

    key = hashlib.md5(f"{sf_dir}:events_csv".encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"bdq_stage_events_csv_{key}")
    marker = os.path.join(path, "_STAGED")
    if not os.path.exists(marker):
        (
            load_table(spark, sf_dir, "events")
            .select("event_id", "user_id", "event_type", "value")
            .write.mode("overwrite")
            .option("header", True)
            .csv(path)
        )
        # plant malformed lines (first line mimics the header — with
        # header=true Spark skips the first line of EVERY file)
        with open(os.path.join(path, "part-99999-bad.csv"), "w") as fh:
            fh.write("event_id,user_id,event_type,value\n")
            fh.write("one,two,three,four,five,six,seven\n")  # wrong arity
            fh.write("not_a_number,7,click,1.5\n")  # bigint parse failure
            fh.write("42,13,click,not_a_double\n")  # double parse failure
        with open(marker, "w") as fh:
            fh.write(sf_dir)
    df = read_csv(spark, path, schema)
    clean, bad = split_corrupt(df)
    n_bad = bad.count()
    if n_bad != 3:
        raise RuntimeError(
            f"CSV quarantine caught {n_bad} rows, expected the 3 planted"
        )
    return clean.select(
        "event_id", "user_id", "event_type",
        F.round(F.col("value").cast("double"), 6).alias("value"),
    )


@_register(
    "sink_partitioned_roundtrip",
    "SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1",
)
def sink_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink round trip: orders written partitioned
    by priority (hive-style directories), read back through the
    partition-discovering scan, re-aggregated — value-checking that the
    sink is content- and partition-value-preserving."""
    import hashlib
    import os

    from bdq_spark.sources.sinks import write_partitioned

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"bdq_sink_part_{key}")
    write_partitioned(
        load_table(spark, sf_dir, "orders"), path, ["o_orderpriority"]
    )
    return (
        spark.read.parquet(path)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_register(
    "bucketed_join_orders_customer",
    """
    SELECT c.c_custkey, c.c_name,
           count(o.o_orderkey) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
             AS revenue
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
    """,
)
def bucketed_join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHUFFLE-FREE co-located join, the bucketed-table scale play:
    orders and customer are written as metastore tables bucketed (and
    sorted) 8 ways on the customer key, then joined and aggregated ON
    that key — Spark plans a SortMergeJoin with NO Exchange on either
    side and the group-by reuses the same clustering, so at 100 TB the
    join/agg pay zero data movement after the one-time bucketed write.
    The entry RAISES if an Exchange sneaks back between the scans and
    the join (a silent regression to a shuffled join would otherwise
    still return correct rows); the result value-hashes against the
    plain join of the source tables, proving the bucketed layout is
    content-preserving."""
    import hashlib

    from bdq_spark.sources.sinks import write_bucketed

    key = hashlib.md5(f"{sf_dir}:bktjoin".encode()).hexdigest()[:12]
    t_orders = f"bkt_orders_{key}"
    t_cust = f"bkt_customer_{key}"

    def _clear_stale_location(table: str) -> None:
        # the in-memory catalog forgets tables across sessions while
        # warehouse directories persist; a fresh session must remove
        # the orphaned location before saveAsTable can recreate it
        import os

        wh = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        loc = os.path.join(wh, table)
        if os.path.isdir(loc):
            shutil.rmtree(loc, ignore_errors=True)

    if not spark.catalog.tableExists(t_orders):
        _clear_stale_location(t_orders)
        write_bucketed(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_custkey", "o_totalprice"
            ),
            t_orders,
            ["o_custkey"],
            num_buckets=8,
            sort_by=["o_custkey"],
        )
    if not spark.catalog.tableExists(t_cust):
        _clear_stale_location(t_cust)
        write_bucketed(
            load_table(spark, sf_dir, "customer").select(
                "c_custkey", "c_name"
            ),
            t_cust,
            ["c_custkey"],
            num_buckets=8,
            sort_by=["c_custkey"],
        )
    o = spark.table(t_orders)
    c = spark.table(t_cust)
    # the merge hint keeps the plan on the bucketed SortMergeJoin path
    # even when one side is small enough to broadcast — the point of
    # the entry is the ZERO-EXCHANGE join both scans' bucketing buys
    joined = (
        c.hint("merge")
        .join(o, c["c_custkey"] == o["o_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.sum(_dec("o_totalprice", 14))
            .cast("double")
            .alias("revenue"),
        )
    )
    # self-enforcing zero-exchange proof via the shared thread-safe
    # capture (same source as tools/explain_audit.py and the plan lint)
    from bdq_spark.plans.plan_lint import plan_text

    plan = plan_text(joined)
    if _plan_has_exchange(plan):
        raise RuntimeError(
            "bucketed join regressed to a shuffled plan:\n" + plan[:2000]
        )
    return joined


@_register(
    "compact_roundtrip_orders",
    """
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
             AS total_price
    FROM orders GROUP BY 1
    """,
)
def compact_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction (the canonical lake-maintenance pass):
    orders staged as 64 fragment files, compacted to target-size files,
    re-read and value-checked against the source — proving the rewrite
    is content-preserving.  Raises unless the file count actually
    shrank."""
    import hashlib
    import os

    from bdq_spark.sources.sinks import compact_parquet

    key = hashlib.md5(f"{sf_dir}:compact".encode()).hexdigest()[:12]
    frag = os.path.join(tempfile.gettempdir(), f"bdq_frag_orders_{key}")
    out = os.path.join(tempfile.gettempdir(), f"bdq_compacted_orders_{key}")
    marker = os.path.join(out, "_COMPACTED")
    if not os.path.exists(marker):
        load_table(spark, sf_dir, "orders").repartition(64).write.mode(
            "overwrite"
        ).parquet(frag)
        stats = compact_parquet(spark, frag, out, target_bytes=1 << 30)
        if stats["files_after"] >= stats["files_before"]:
            raise RuntimeError(f"compaction did not shrink files: {stats}")
        with open(marker, "w") as fh:
            fh.write(str(stats))
    return (
        spark.read.parquet(out)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("o_totalprice", 14)).cast("double").alias("total_price"),
        )
    )


@_register(
    "orc_roundtrip_supplier",
    """
    SELECT s_nationkey, count(*) AS n,
           CAST(sum(CAST(s_acctbal AS DECIMAL(14,2))) AS DOUBLE) AS total_bal
    FROM supplier GROUP BY 1
    """,
)
def orc_roundtrip_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/scan roundtrip (the other columnar format Spark ships
    natively): supplier staged once as ORC, read back through the
    vectorized ORC scan, re-aggregated with exact decimal money sums —
    value-checking that the format conversion is content-preserving.
    Predicate/column pushdown works on ORC scans the same as parquet
    (exercised by the aggregate's column pruning)."""
    src = _stage_table_dir(spark, sf_dir, "supplier", format="orc")
    return (
        spark.read.orc(src)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("s_acctbal", 14)).cast("double").alias("total_bal"),
        )
    )


@_register(
    "streaming_foreach_batch",
    """
    SELECT r_regionkey AS regionkey, count(*) AS n,
           CAST(sum(length(r_name)) AS BIGINT) AS name_chars
    FROM region GROUP BY 1
    """,
)
def streaming_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``step_spark_for_each_batch`` driven end to end and VALUE-HASHED:
    the region table streams through ``foreachBatch``, each micro-batch
    contributes per-key partial aggregates to an accumulator, and the
    cross-batch SUM must equal the one-shot batch aggregation DuckDB
    computes — exactly-once delivery stated as data, independent of how
    the file source happens to split micro-batches."""
    from collections import defaultdict

    from bdq_spark.plans import SparkPipeline

    # stream checkpoint must be FRESH per invocation (an existing one
    # would mark all files processed -> zero batches); the staged source
    # is reused across invocations
    src = _stage_table_dir(spark, sf_dir, "region")
    ckpt = tempfile.mkdtemp(prefix="entry_feb_ckpt_")
    region = load_table(spark, sf_dir, "region")
    acc: dict = defaultdict(lambda: [0, 0])
    n_batches = [0]

    ppn = SparkPipeline("entry_feb", spark=spark)
    ppn.spark_streaming_checkpoint_location = ckpt

    @ppn.step_spark_temp_view(outputs="feb_in")
    def feb_in(step):
        return spark.readStream.schema(region.schema).parquet(src)

    seen_batches = set()

    @ppn.step_spark_for_each_batch(
        input_table="feb_in",
        depends_on=[feb_in],
        # sink-only batch function: results travel through `acc`, so
        # declare no outputs (a declared output would be re-read in the
        # MAIN session, where the cloned batch session's views are
        # invisible — see step_spark_for_each_batch docstring)
        outputs=[],
        trigger_availableNow=True,
    )
    def feb_out(df, batch_id, relative_batch_id, step):
        # a replayed/retried micro-batch must not double-count: the
        # accumulator keys on batch_id, the same idempotence a real
        # sink gets from transactional writes
        if batch_id in seen_batches:
            return
        partial = (
            df.groupBy("r_regionkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.length("r_name")).alias("chars"),
            )
            .collect()  # bounded: ≤ |region keys| rows per batch
        )
        seen_batches.add(batch_id)
        n_batches[0] += 1
        for r in partial:
            acc[r.r_regionkey][0] += r.n
            acc[r.r_regionkey][1] += r.chars

    ppn(max_concurrent_steps=4)
    if not n_batches[0]:
        raise RuntimeError("stream terminated without processing any batch")
    return spark.createDataFrame(
        [(k, v[0], v[1]) for k, v in acc.items()],
        "regionkey:long, n:long, name_chars:long",
    )


@_register(
    "statestore_roundtrip",
    """
    SELECT 'p' AS pipeline_name,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
             AS revenue
    FROM orders
    """,
)
def statestore_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store persistence VALUE-HASHED through real data: orders
    aggregates are saved as two timestamped metric records (the JSON
    envelope encodes the metrics dict), ``load()`` must return the
    LATEST record, and its decoded numbers must hash-match DuckDB's
    recomputation from the orders table — the save→JSON→catalog→load
    roundtrip verified end to end, not just exercised."""
    from datetime import datetime

    import uuid

    from bdq_spark.plans import CatalogPersistedStateStore

    spark.sql("CREATE DATABASE IF NOT EXISTS entry_state")
    # unique table per invocation: the session catalog is in-memory but
    # warehouse directories persist, so a fixed name collides across runs
    table = f"rt_{uuid.uuid4().hex[:12]}"
    store = CatalogPersistedStateStore(
        catalog_name=None,
        database_name="entry_state",
        table_name=table,
        schema="pipeline_name string, start_ts timestamp, metrics string",
        event_ts_column="start_ts",
        json_encoded_columns=["metrics"],
        spark=spark,
    )
    agg = (
        load_table(spark, sf_dir, "orders")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("o_totalprice", 14)).cast("double").alias("rev"),
        )
        .first()
    )
    # a stale earlier record load() must NOT return
    store.save(
        {
            "pipeline_name": "p",
            "start_ts": datetime(2024, 1, 1),
            "metrics": {"n_orders": -1, "revenue": 0.0},
        }
    )
    store.save(
        {
            "pipeline_name": "p",
            "start_ts": datetime(2024, 6, 1),
            "metrics": {"n_orders": agg["n"], "revenue": agg["rev"]},
        }
    )
    latest = store.load()
    return spark.createDataFrame(
        [
            (
                latest["pipeline_name"],
                latest["metrics"]["n_orders"],
                latest["metrics"]["revenue"],
            )
        ],
        "pipeline_name:string, n_orders:long, revenue:double",
    )


# ---------------------------------------------------------------------------
# Analytics breadth — cube / rollup / pivot (Catalyst multi-grouping)
# ---------------------------------------------------------------------------

@_register(
    "lineitem_cube",
    """
    SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
           COALESCE(l_linestatus, '<all>') AS linestatus,
           count(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def lineitem_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("<all>")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("<all>")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


@_register(
    "orders_rollup_by_year",
    """
    SELECT COALESCE(CAST(year(o_orderdate) AS VARCHAR), '<all>') AS order_year,
           COALESCE(o_orderstatus, '<all>') AS status,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY ROLLUP (year(o_orderdate), o_orderstatus)
    """,
)
def orders_rollup_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").withColumn(
        "order_year_i", F.year("o_orderdate")
    )
    return (
        o.rollup("order_year_i", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
        )
        .select(
            F.coalesce(F.col("order_year_i").cast("string"), F.lit("<all>")).alias(
                "order_year"
            ),
            F.coalesce(F.col("o_orderstatus"), F.lit("<all>")).alias("status"),
            "n_orders",
            "revenue",
        )
    )


@_register(
    "orders_grouping_sets",
    """
    SELECT COALESCE(o_orderstatus, '<all>') AS status,
           COALESCE(o_orderpriority, '<all>') AS priority,
           count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
             AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                            (o_orderstatus, o_orderpriority))
    """,
)
def orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general multi-grouping Catalyst
    Expand primitive CUBE/ROLLUP desugar into) — three grouping layouts
    in ONE pass over the scan, vs three separate aggregations: the
    multi-report shape every nightly summary job has."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__gs_orders")
    out = spark.sql(
        """
        SELECT COALESCE(o_orderstatus, '<all>') AS status,
               COALESCE(o_orderpriority, '<all>') AS priority,
               count(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
                 AS revenue
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
        """
    )
    return out


@_register(
    "window_suite_orders",
    """
    WITH w AS (
      SELECT o_custkey, o_orderkey,
             CAST(o_totalprice AS DECIMAL(14,2)) AS price,
             row_number() OVER pw AS rn,
             lag(o_orderkey) OVER pw AS prev_order,
             lead(o_orderkey) OVER pw AS next_order,
             ntile(4) OVER pw AS quartile,
             round(percent_rank() OVER pw, 6) AS pct_rank,
             round(cume_dist() OVER pw, 6) AS cume,
             CAST(sum(CAST(o_totalprice AS DECIMAL(14,2)))
                  OVER (PARTITION BY o_custkey ORDER BY o_orderdate,
                        o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS DOUBLE) AS running_spend
      FROM orders
      WINDOW pw AS (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey))
    SELECT o_custkey, o_orderkey, prev_order, next_order, quartile,
           pct_rank, cume, running_spend
    FROM w WHERE rn <= 5
    """,
)
def window_suite_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic window-function suite over per-customer order
    history — lag/lead (neighbor navigation), ntile (quartiles),
    percent_rank/cume_dist (distribution position), and a running-sum
    frame — all sharing ONE window partitioning, so Catalyst plans a
    single sort+window over one shuffle.  Deterministic ordering via
    the (o_orderdate, o_orderkey) tie-break; decimal-exact running
    sums."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    pw = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = pw.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(pw).alias("rn"),
            F.lag("o_orderkey").over(pw).alias("prev_order"),
            F.lead("o_orderkey").over(pw).alias("next_order"),
            F.ntile(4).over(pw).alias("quartile"),
            F.round(F.percent_rank().over(pw), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(pw), 6).alias("cume"),
            F.sum(_dec("o_totalprice", 14))
            .over(run)
            .cast("double")
            .alias("running_spend"),
        )
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


@_register(
    "orders_pivot_priority_status",
    """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_cnt,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS o_cnt,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS p_cnt
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def orders_pivot_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    pivoted = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("f_cnt"),
        F.coalesce(F.col("O"), F.lit(0)).alias("o_cnt"),
        F.coalesce(F.col("P"), F.lit(0)).alias("p_cnt"),
    )


@_register(
    "supplier_part_join_agg",
    """
    SELECT s_name, count(*) AS n_lineitems,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_nationkey < 10
    GROUP BY s_name
    """,
)
def supplier_part_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 10)
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_name")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("total_price"),
        )
    )


@_register(
    "customer_retention_setops",
    """
    WITH y96 AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
    y97 AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
    SELECT 'retained' AS cohort, count(*) AS n_customers
    FROM (SELECT * FROM y96 INTERSECT SELECT * FROM y97) t
    UNION ALL
    SELECT 'churned', count(*)
    FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y97) t
    UNION ALL
    SELECT 'new', count(*)
    FROM (SELECT * FROM y97 EXCEPT SELECT * FROM y96) t
    """,
)
def customer_retention_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention/churn cohorts via relational set operations (INTERSECT
    / EXCEPT — §2.3 notes the reference never uses them): distinct 1996
    vs 1997 purchaser sets, intersected and differenced.  Catalyst
    plans both as aggregated semi/anti joins on the distinct key sets."""
    o = load_table(spark, sf_dir, "orders")

    def buyers(year: int):
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(f"{year}-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{year + 1}-01-01").cast("timestamp"))
            )
            .select("o_custkey")
            .distinct()
        )

    y96, y97 = buyers(1996), buyers(1997)

    def count_as(df: DataFrame, label: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_customers")).select(
            F.lit(label).alias("cohort"), "n_customers"
        )

    return (
        count_as(y96.intersect(y97), "retained")
        .unionByName(count_as(y96.exceptAll(y97), "churned"))
        .unionByName(count_as(y97.exceptAll(y96), "new"))
    )


@_register(
    "large_order_customers",
    """
    WITH big AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
      FROM lineitem GROUP BY 1
      HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250)
    SELECT c_name, o.o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price,
           qty
    FROM big JOIN orders o ON big.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: aggregate-then-filter (HAVING) feeding a two-hop join
    back to the customer dimension — the agg runs FIRST so only the
    qualifying order keys (tiny) enter the joins, and both dimension
    joins broadcast."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("__qty"))
        .filter(F.col("__qty") > 250)
        .select("l_orderkey", F.col("__qty").cast("double").alias("qty"))
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            _dec("o_totalprice").cast("double").alias("total_price"),
            "qty",
        )
    )


@_register(
    "wealthy_low_activity_customers",
    """
    WITH threshold AS (
      SELECT CAST(avg(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS t
      FROM customer WHERE c_acctbal > 0),
    oc AS (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1)
    SELECT c_mktsegment,
           count(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
    FROM customer c
    LEFT JOIN oc ON c.c_custkey = oc.o_custkey
    CROSS JOIN threshold
    WHERE CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) > t
      AND coalesce(oc.n_orders, 0) < 5
    GROUP BY c_mktsegment
    """,
)
def wealthy_low_activity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: scalar aggregate subquery (the positive-balance
    average, computed once and broadcast) gating a left-join count
    filter, re-aggregated per market segment.  The scalar side is a
    1-row broadcast; the order counts shrink to distinct customers
    before joining."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    thr = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(F.avg(_dec("c_acctbal")).cast("double").alias("__t"))
    )
    oc = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("__n_orders"))
    return (
        c.join(oc, c.c_custkey == oc.o_custkey, "left")
        .crossJoin(F.broadcast(thr))
        .filter(
            (_dec("c_acctbal").cast("double") > F.col("__t"))
            & (F.coalesce(F.col("__n_orders"), F.lit(0)) < 5)
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_bal"),
        )
    )


@_register(
    "top_supplier_by_period_revenue",
    """
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
               AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY 1)
    SELECT s_suppkey, s_name, CAST(revenue AS DOUBLE) AS total_revenue
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE revenue = (SELECT max(revenue) FROM rev)
    """,
)
def top_supplier_by_period_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: max-of-aggregate selection — per-supplier period
    revenue, keep the supplier(s) achieving the maximum (ALL ties kept,
    per the TPC-H rule).  The per-supplier aggregate is lazily
    checkpointed and its 1-row max broadcast back (an unpartitioned
    window would single-partition the whole aggregate — the classic
    global-max scale smell); revenue stays exact decimal until the
    final cast so the equality is bit-portable."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    one = F.lit(1).cast("decimal(3,2)")
    rev = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                _dec("l_extendedprice")
                * (one - F.col("l_discount").cast("decimal(3,2)"))
            ).alias("revenue")
        )
        # feeds both the global max (broadcast side) and the filter —
        # checkpoint so the lineitem scan+agg runs once
        .localCheckpoint(eager=False)
    )
    max_rev = rev.agg(F.max("revenue").alias("__max_rev"))
    best = rev.crossJoin(F.broadcast(max_rev)).filter(
        F.col("revenue") == F.col("__max_rev")
    )
    return best.join(F.broadcast(s), best.l_suppkey == s.s_suppkey).select(
        "s_suppkey", "s_name", F.col("revenue").cast("double").alias("total_revenue")
    )


# ---------------------------------------------------------------------------
# Extension — custom stateful operator (applyInPandasWithState; the batch
# path shares the fold logic, making the semantics oracle-checkable)
# ---------------------------------------------------------------------------

@_register(
    "stateful_sessionize",
    """
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 1 HOUR
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    s AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM o)
    SELECT user_id,
           epoch_ms(min(ts)) AS session_start_ms,
           epoch_ms(max(ts) + INTERVAL 1 HOUR) AS session_end_ms,
           count(*) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom session machine (applyInPandasWithState with event-time
    timeout in streaming mode) driven through its batch path — the
    shared splitting logic makes the arbitrary-state operator's
    semantics value-hash-checkable against the gaps-and-islands oracle;
    the streaming path (in-batch closes + timeout emission + bounded
    state) is driven in test_stateful.py."""
    from bdq_spark.streaming import sessionize

    ev = load_table(spark, sf_dir, "events")
    return sessionize(ev, "user_id", "ts", gap="1 hour")


@_register(
    "stateful_running_counter",
    """
    SELECT user_id AS key, count(*) AS n_events,
           round(sum(value), 2) AS total,
           max(value) AS max_value
    FROM events GROUP BY user_id
    """,
)
def stateful_running_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bdq_spark.streaming import running_counter

    ev = load_table(spark, sf_dir, "events")
    out = running_counter(ev, key_column="user_id", value_column="value")
    # all inputs are exact 2-decimal values, so rounding the float sum to
    # 2 decimals recovers the exact total independent of summation order
    return out.select("key", "n_events", F.round("total", 2).alias("total"), "max_value")


@_register(
    "events_running_zscore",
    """
    WITH e AS (
      SELECT user_id, event_id, ts, value,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events),
    w AS (
      SELECT user_id, event_id, value, c,
             count(*) OVER win AS n_prior,
             COALESCE(sum(c) OVER win, 0) AS s,
             COALESCE(sum(c * c) OVER win, 0) AS q
      FROM e
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT user_id, event_id, round(value, 6) AS value, n_prior,
           CASE WHEN n_prior >= 2
                     AND (CAST(q AS DOUBLE) / n_prior
                          - (CAST(s AS DOUBLE) / n_prior)
                            * (CAST(s AS DOUBLE) / n_prior)) > 0
                THEN round((c - CAST(s AS DOUBLE) / n_prior)
                           / sqrt(CAST(q AS DOUBLE) / n_prior
                                  - (CAST(s AS DOUBLE) / n_prior)
                                    * (CAST(s AS DOUBLE) / n_prior)), 6)
           END AS zscore
    FROM w
    """,
)
def events_running_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-capable per-key anomaly scoring with an EXACT SQL
    oracle: every event's z-score against the statistics of all PRIOR
    events of its user (ordered by ``(ts, event_id)``).  The operator
    accumulates scaled-integer sums (2-decimal money × 100), so the
    Python fold and the DuckDB window re-derivation compute the
    identical doubles — a stateful ``applyInPandas`` operator whose
    batch twin is value-hash-checked row for row, not just in
    aggregate.  The streaming path carries the same fold's (n, Σc, Σc²)
    state across micro-batches (pinned in tests/test_stateful.py)."""
    from bdq_spark.streaming import running_zscore

    ev = load_table(spark, sf_dir, "events")
    out = running_zscore(
        ev,
        key_column="user_id",
        ts_column="ts",
        value_column="value",
        order_columns=["event_id"],
    )
    return out.select(
        "user_id",
        "event_id",
        F.round("value", 6).alias("value"),
        "n_prior",
        "zscore",
    )


@_register(
    "salted_join_revenue",
    """
    SELECT o_orderpriority,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted join, oracle-checked against the plain join.

    Salting is semantically invisible (SURVEY §2.4 scale mandate: "salting
    for skew") — this entry proves it by hashing identically to the
    unsalted SQL.
    """
    from bdq_spark.operators import salted_join

    l = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_extendedprice",
        "l_discount",
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    rev = _dec("l_extendedprice") * (1 - F.col("l_discount").cast("decimal(3,2)"))
    return (
        salted_join(l, o, ["o_orderkey"], "inner", salt_buckets=8)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_register(
    "doc_stratified_sample",
    """
    WITH b AS (
      SELECT lang, length(text) AS n_chars,
             ('0x' || substr(md5(chr(31) || doc_id::VARCHAR), 1, 8))::BIGINT
               % 1000000 AS bucket
      FROM documents
    )
    SELECT lang, count(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM b
    WHERE bucket < CASE lang
                     WHEN 'en' THEN 250000
                     WHEN 'zh' THEN 1000000
                     ELSE 500000
                   END
    GROUP BY lang
    """,
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-stable stratified sampling (deterministic sampleBy): the
    dominant language downsampled to 25%, zh kept whole, the rest at the
    50% default — the oracle recomputes the identical md5-bucket
    thresholds, proving per-stratum assignment is engine-portable."""
    from bdq_spark.operators import deterministic_sample_by

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.length("text").alias("n_chars")
    )
    return (
        deterministic_sample_by(
            docs, "lang", {"en": 0.25, "zh": 1.0}, ["doc_id"],
            default_fraction=0.5,
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@_register(
    "doc_mixture_upsample",
    """
    WITH b AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5('mix' || chr(31) || doc_id::VARCHAR), 1, 8))
               ::BIGINT % 1000000 AS bucket
      FROM documents),
    c AS (
      SELECT doc_id, lang,
             CASE lang WHEN 'en' THEN 0 WHEN 'zh' THEN 2 WHEN 'fr' THEN 3
                       ELSE 1 END
             + CASE WHEN bucket < CASE lang WHEN 'en' THEN 500000
                                            WHEN 'zh' THEN 500000
                                            WHEN 'fr' THEN 0
                                            ELSE 0 END
                    THEN 1 ELSE 0 END AS copies
      FROM b)
    SELECT doc_id, lang, CAST(u.ci AS INTEGER) AS copy_idx
    FROM c, UNNEST(range(copies)) AS u(ci)
    """,
)
def doc_mixture_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-recipe mixture re-weighting: the dominant language halved
    (w=0.5), zh upsampled 2.5x (every doc twice, half a third time),
    fr tripled exactly, others kept at 1.0 — each copy tagged with its
    0-based copy_idx.  The oracle recomputes the identical md5-bucket
    fractional-copy assignment, proving the recipe is engine-portable
    and key-stable."""
    from bdq_spark.operators import weighted_mixture

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return weighted_mixture(
        docs,
        "lang",
        {"en": 0.5, "zh": 2.5, "fr": 3.0},
        ["doc_id"],
        default_weight=1.0,
        salt="mix",
    ).select("doc_id", "lang", F.col("copy_idx").cast("int").alias("copy_idx"))


@_register(
    "docs_fixed_sample_by_lang",
    """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('fs' || chr(31) || doc_id::VARCHAR), doc_id
             ) AS rk
      FROM documents) t
    WHERE rk <= 30
    """,
)
def docs_fixed_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic EXACT-size sampling: the 30 smallest-hash docs per
    language — the eval-set construction shape (same 30 every run, on
    every engine, and the n=10 sample is a prefix of the n=30 one).
    The oracle replays the identical md5 ordering."""
    from bdq_spark.operators.splits import fixed_size_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return fixed_size_sample(
        docs, 30, ["doc_id"], stratum_column="lang", salt="fs"
    )


@_register(
    "doc_temperature_mixture",
    """
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
    t AS (SELECT sum(n) AS total,
                 sum(pow(n::DOUBLE, 0.5)) AS s FROM c),
    m AS (
      SELECT lang,
             round(total::DOUBLE * pow(n::DOUBLE, -0.5) / s, 6) AS mult
      FROM c, t),
    d AS (
      SELECT d.doc_id, d.lang, m.mult,
             ('0x' || substr(md5('temp' || chr(31) || d.doc_id::VARCHAR),
                             1, 8))::BIGINT % 1000000 AS bucket
      FROM documents d JOIN m USING (lang)),
    e AS (
      SELECT doc_id, lang,
             floor(mult)::INT
               + CASE WHEN bucket < round((mult - floor(mult)) * 1000000, 0)
                          ::BIGINT
                      THEN 1 ELSE 0 END AS copies
      FROM d)
    SELECT doc_id, lang, CAST(u.ci AS INTEGER) AS copy_idx
    FROM e, UNNEST(range(copies)) AS u(ci)
    WHERE copies > 0
    """,
)
def doc_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature sampling (alpha=0.5, the XLM/mBERT multilingual
    recipe): stratum shares are re-proportioned to sqrt(n_s), derived
    FROM the data with no driver-side recipe — rare languages upsample
    via key-stable fractional copies, the dominant one downsamples.
    Expected output size == input size.  The oracle recomputes counts,
    temperature weights, and the md5 fractional-copy assignment."""
    from bdq_spark.operators.splits import temperature_mixture

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return temperature_mixture(
        docs, "lang", ["doc_id"], alpha=0.5, salt="temp"
    ).select("doc_id", "lang", F.col("copy_idx").cast("int").alias("copy_idx"))


@_register("doc_compression_ratio")  # rows-only: no DEFLATE in DuckDB;
# the ratio is pinned against direct zlib in test_text_dedup.py
def doc_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RedPajama-style redundancy signal: per-doc zlib compression
    ratio via Arrow-batched mapInPandas (one of the few genuinely
    Python-required operators — no DEFLATE expression in Spark)."""
    from bdq_spark.operators.text_analysis import compression_ratio

    return compression_ratio(load_table(spark, sf_dir, "documents"))


@_register(
    "doc_pii_redaction",
    """
    WITH synth AS (
      SELECT doc_id,
             text || ' user' || doc_id::VARCHAR || '@example.com ip 10.0.0.'
                  || (doc_id % 250)::VARCHAR || ' acct '
                  || (900000000 + doc_id)::VARCHAR AS text
      FROM documents)
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                 '[EMAIL]', 'g'),
               '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '[IPV4]', 'g'),
             '\\b\\d{9,}\\b', '[LONG_DIGITS]', 'g') AS clean,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_email,
           CAST(len(regexp_extract_all(text,
             '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS BIGINT) AS n_ipv4
    FROM synth
    """,
)
def doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing as chained codegen regexp_replace (no UDF): PII is
    synthesized deterministically into each document so the redaction
    actually fires; the oracle applies the identical RE2-safe patterns
    in DuckDB, proving cross-engine portability of the scrub."""
    from bdq_spark.functions.text import pii_count, redact_pii

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" user"), F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0.0."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit(" acct "),
            (F.col("doc_id") + 900000000).cast("string"),
        ).alias("text"),
    )
    return docs.select(
        "doc_id",
        redact_pii("text").alias("clean"),
        pii_count("text", "email").alias("n_email"),
        pii_count("text", "ipv4").alias("n_ipv4"),
    )


@_register(
    "doc_lm_score",
    """
    WITH toks AS (
      SELECT doc_id, u.token FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS w
        FROM documents) t, UNNEST(t.w) AS u(token)),
    vocab AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
    tot AS (SELECT sum(cnt) AS total, count(*) AS v FROM vocab),
    lp AS (
      SELECT token,
             CAST(round(ln((cnt + 1.0) / (total + v)), 9) AS DECIMAL(14,9))
               AS logp
      FROM vocab, tot)
    SELECT t.doc_id,
           count(*) AS n_tokens,
           round(CAST(sum(lp.logp) AS DOUBLE) / count(*), 6) AS lm_score
    FROM toks t JOIN lp USING (token)
    GROUP BY t.doc_id
    """,
)
def doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality proxy: mean add-one-smoothed unigram
    log-probability per document, with decimal-summed per-token ln so
    the score is partial-agg-order independent (value-hash stable)."""
    from bdq_spark.operators.text_analysis import unigram_logprob_score

    return unigram_logprob_score(load_table(spark, sf_dir, "documents"))


@_register(
    "doc_lm_score_bigram",
    """
    WITH words AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS w
      FROM documents),
    bg AS (
      SELECT doc_id,
             list_transform(range(1, len(w)),
                            i -> w[i] || chr(31) || w[i+1]) AS bl
      FROM words),
    bigrams AS (SELECT doc_id, u.b AS big FROM bg, UNNEST(bl) AS u(b)),
    unis AS (SELECT doc_id, u.t AS w1 FROM words, UNNEST(w) AS u(t)),
    c1 AS (SELECT w1, count(*) AS c1 FROM unis GROUP BY 1),
    c2 AS (SELECT big, split_part(big, chr(31), 1) AS w1,
                  count(*) AS c2
           FROM bigrams GROUP BY 1, 2),
    v AS (SELECT count(*) AS v FROM c1),
    lp AS (
      SELECT c2.big,
             CAST(round(ln((c2.c2 + 1.0) / (c1.c1 + v.v)), 9)
                  AS DECIMAL(14,9)) AS logp
      FROM c2 JOIN c1 USING (w1), v)
    SELECT b.doc_id,
           count(*) AS n_bigrams,
           round(CAST(sum(lp.logp) AS DOUBLE) / count(*), 6) AS lm2_score
    FROM bigrams b JOIN lp USING (big)
    GROUP BY b.doc_id
    """,
)
def doc_lm_score_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional LM quality score (one order up from
    doc_lm_score toward the KenLM/CCNet scorer): add-one-smoothed
    ln P(w_i | w_{i-1}) averaged per document, decimal-summed for
    engine determinism — scrambled word order now scores low even with
    a normal unigram profile."""
    from bdq_spark.operators.text_analysis import bigram_logprob_score

    return bigram_logprob_score(load_table(spark, sf_dir, "documents"))


@_register(
    "doc_lm_score_trigram",
    """
    WITH words AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS w
      FROM documents),
    train AS (SELECT * FROM words WHERE doc_id % 2 = 0),
    sc AS (SELECT * FROM words WHERE doc_id % 2 = 1),
    t1 AS (SELECT u.t AS w1 FROM train, UNNEST(w) AS u(t)),
    c1 AS (SELECT w1, count(*) AS c1 FROM t1 GROUP BY 1),
    c2 AS (SELECT big, count(*) AS c2 FROM (
             SELECT u.b AS big FROM (
               SELECT list_transform(range(1, len(w)),
                        i -> w[i] || chr(31) || w[i+1]) AS bl
               FROM train) t, UNNEST(bl) AS u(b)) GROUP BY 1),
    c3 AS (SELECT tri, count(*) AS c3 FROM (
             SELECT u.g AS tri FROM (
               SELECT list_transform(range(1, len(w)-1),
                        i -> w[i] || chr(31) || w[i+1] || chr(31) || w[i+2])
                 AS tl
               FROM train) t, UNNEST(tl) AS u(g)) GROUP BY 1),
    nv AS (SELECT count(*) AS n, count(DISTINCT w1) AS v FROM t1),
    strig AS (
      SELECT doc_id, u.g AS tri,
             split_part(u.g, chr(31), 1) AS w1,
             split_part(u.g, chr(31), 2) AS w2,
             split_part(u.g, chr(31), 3) AS w3
      FROM (SELECT doc_id,
                   list_transform(range(1, len(w)-1),
                     i -> w[i] || chr(31) || w[i+1] || chr(31) || w[i+2])
                     AS tl
            FROM sc) t, UNNEST(tl) AS u(g)),
    lp AS (
      SELECT s.doc_id,
             CAST(round(ln(
               CASE WHEN c3.c3 IS NOT NULL THEN c3.c3 / ctx.c2
                    WHEN bk.c2 IS NOT NULL THEN 0.4 * bk.c2 / c1b.c1
                    ELSE 0.4 * 0.4 * (COALESCE(c1c.c1, 0) + 1)
                         / (nv.n + nv.v)
               END), 9) AS DECIMAL(14,9)) AS logp
      FROM strig s
      LEFT JOIN c3 ON s.tri = c3.tri
      LEFT JOIN c2 ctx ON s.w1 || chr(31) || s.w2 = ctx.big
      LEFT JOIN c2 bk ON s.w2 || chr(31) || s.w3 = bk.big
      LEFT JOIN c1 c1b ON s.w2 = c1b.w1
      LEFT JOIN c1 c1c ON s.w3 = c1c.w1
      CROSS JOIN nv)
    SELECT doc_id, count(*) AS n_trigrams,
           round(CAST(sum(logp) AS DOUBLE) / count(*), 6) AS lm3_score
    FROM lp GROUP BY doc_id
    """,
)
def doc_lm_score_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram STUPID-BACKOFF LM score (Brants et al. 2007), completing
    the unigram → bigram → trigram CCNet-style quality stack: the LM
    trains on the EVEN documents and scores the ODD ones, so all three
    backoff levels genuinely fire (seen trigram / bigram backoff /
    add-one unigram floor for OOV) and the oracle re-derives every
    level's counts and the exact backoff cascade in SQL."""
    from bdq_spark.operators.text_analysis import trigram_backoff_score

    docs = load_table(spark, sf_dir, "documents")
    return trigram_backoff_score(
        docs.filter(F.col("doc_id") % 2 == 1),
        train=docs.filter(F.col("doc_id") % 2 == 0),
    )


@_register(
    "doc_top_terms",
    """
    WITH toks AS (
      SELECT doc_id, u.t AS term FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS w
        FROM documents) d, UNNEST(d.w) AS u(t)),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln((n.n + 1.0) / (dfreq.df + 1.0)), 6) AS score
      FROM tf JOIN dfreq USING (term), n),
    ranked AS (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rank
      FROM scored)
    SELECT doc_id, term, score, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF — boilerplate
    (high-df) terms discount to ~0, so the ranking surfaces what each
    doc is about.  Deterministic tie-break by term; the oracle replays
    tf/df/idf and the ranking exactly."""
    from bdq_spark.operators.text_analysis import top_terms

    return top_terms(load_table(spark, sf_dir, "documents"), k=3)


@_register(
    "doc_repetition",
    """
    WITH words AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS w
      FROM documents),
    grams AS (
      SELECT doc_id, gram FROM (
        SELECT doc_id,
               list_transform(range(1, len(w)),
                              i -> array_to_string(w[i:i+1], ' ')) AS gs
        FROM words WHERE len(w) >= 2) t, UNNEST(t.gs) AS u(gram)
      WHERE gram <> ''),
    counts AS (SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_grams,
           CAST(MAX(cnt) AS BIGINT) AS top_gram_count,
           round(MAX(cnt)::DOUBLE / SUM(cnt), 6) AS top_gram_frac,
           round(COUNT(*)::DOUBLE / SUM(cnt), 6) AS distinct_gram_ratio
    FROM counts GROUP BY doc_id
    """,
)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (top bigram occupancy,
    distinct-gram ratio) per document — one shuffle; the gram counting
    and per-doc rollup reuse the window's doc-id partitioning."""
    from bdq_spark.operators.text_analysis import repetition_stats

    return repetition_stats(
        load_table(spark, sf_dir, "documents"), n=2
    )


#: shared distinct-3-gram shingle CTE chain over a CTE named `b` with
#: (doc_id, bucket, text) — mirrors operators/dedup.py shingle();
#: used by the doc_contamination AND corpus_prepare oracles.
_SHINGLE3_CTES = """words AS (
  SELECT doc_id, bucket,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS w
  FROM b),
sh AS (
  SELECT DISTINCT doc_id, bucket, shingle FROM (
    SELECT doc_id, bucket,
      CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
           ELSE list_transform(range(1, len(w) - 1),
                               i -> array_to_string(w[i:i+2], ' '))
      END AS shingles
    FROM words) t2, UNNEST(t2.shingles) AS u(shingle)
  WHERE shingle <> '')"""


@_register(
    "doc_contamination",
    """
    WITH b AS (
      SELECT doc_id, text,
             ('0x' || substr(md5(chr(31) || doc_id::VARCHAR), 1, 8))::BIGINT
               % 1000000 AS bucket
      FROM documents),
    """
    + _SHINGLE3_CTES
    + """,
    train_set AS (SELECT DISTINCT shingle FROM sh WHERE bucket < 800000),
    test_sh AS (SELECT doc_id, shingle FROM sh WHERE bucket >= 800000)
    SELECT t.doc_id,
           count(*) AS n_shingles,
           CAST(SUM(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlap,
           round(SUM(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS overlap_ratio,
           SUM(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
             / count(*) >= 0.8 AS contaminated
    FROM test_sh t LEFT JOIN train_set tr USING (shingle)
    GROUP BY t.doc_id
    """,
)
def doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: the documents table is hash-split 80/20
    into train/test (engine-portable md5 buckets), then each test doc's
    3-gram overlap against the train shingle set is computed with one
    linear join — no pairwise candidates.  The planted near-dup pairs in
    the testdata surface as contaminated docs when a pair straddles the
    split."""
    from bdq_spark.operators import contamination_check, hash_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    split = hash_split(docs, {"train": 0.8, "test": 0.2}, ["doc_id"])
    train = split.filter(F.col("split") == "train").drop("split")
    test = split.filter(F.col("split") == "test").drop("split")
    return contamination_check(train, test, n=3, threshold=0.8)


@_register(
    "doc_contamination_weighted",
    """
    WITH b AS (
      SELECT doc_id, text,
             ('0x' || substr(md5(chr(31) || doc_id::VARCHAR), 1, 8))::BIGINT
               % 1000000 AS bucket
      FROM documents),
    words AS (
      SELECT doc_id, bucket,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS w
      FROM b),
    sh AS (
      SELECT DISTINCT doc_id, bucket, shingle FROM (
        SELECT doc_id, bucket,
          CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
               ELSE list_transform(range(1, len(w) - 1),
                                   i -> array_to_string(w[i:i+2], ' '))
          END AS shingles
        FROM words) t, UNNEST(t.shingles) AS u(shingle)
      WHERE shingle <> ''),
    train_df AS (SELECT shingle, count(*) AS df FROM sh
                 WHERE bucket < 800000 GROUP BY shingle),
    n_train AS (SELECT count(*) AS n FROM b WHERE bucket < 800000),
    test_sh AS (SELECT doc_id, shingle FROM sh WHERE bucket >= 800000)
    SELECT t.doc_id,
           count(*) AS n_shingles,
           CAST(SUM(CASE WHEN tr.df IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlap,
           round(SUM(CASE WHEN tr.df IS NOT NULL
                          THEN ln(1 + n / (1.0 + tr.df)) ELSE 0 END)
                 / SUM(ln(1 + n / (1.0 + COALESCE(tr.df, 0)))), 6)
             AS overlap_ratio,
           SUM(CASE WHEN tr.df IS NOT NULL
                    THEN ln(1 + n / (1.0 + tr.df)) ELSE 0 END)
             / SUM(ln(1 + n / (1.0 + COALESCE(tr.df, 0)))) >= 0.8
             AS contaminated
    FROM test_sh t LEFT JOIN train_df tr USING (shingle) CROSS JOIN n_train
    GROUP BY t.doc_id
    """,
)
def doc_contamination_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted decontamination: rare copied content dominates the
    score, shared boilerplate barely moves it.  Same linear join shape
    as the flat check plus one train-side df aggregate and a broadcast
    single-row corpus count; oracle recomputes the full weighting."""
    from bdq_spark.operators import contamination_check, hash_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    split = hash_split(docs, {"train": 0.8, "test": 0.2}, ["doc_id"])
    train = split.filter(F.col("split") == "train").drop("split")
    test = split.filter(F.col("split") == "test").drop("split")
    return contamination_check(train, test, n=3, threshold=0.8, weighted=True)


@_register(
    "doc_contamination_spans",
    """
    WITH b AS (
      SELECT doc_id, text,
             ('0x' || substr(md5(chr(31) || doc_id::VARCHAR), 1, 8))::BIGINT
               % 1000000 AS bucket
      FROM documents),
    words AS (
      SELECT doc_id, bucket,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS w
      FROM b),
    pos_sh AS (
      SELECT doc_id, bucket, len(w) AS n_tokens, i - 1 AS pos,
             array_to_string(w[i:i+2], ' ') AS shingle
      FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
      WHERE len(w) >= 3
      UNION ALL
      SELECT doc_id, bucket, len(w), 0, array_to_string(w, ' ')
      FROM words WHERE len(w) < 3 AND array_to_string(w, ' ') <> ''),
    train_set AS (
      SELECT DISTINCT shingle FROM pos_sh WHERE bucket < 800000),
    hits AS (
      SELECT p.doc_id, p.pos, p.n_tokens
      FROM pos_sh p JOIN train_set USING (shingle)
      WHERE p.bucket >= 800000),
    isl AS (
      SELECT doc_id, pos, n_tokens,
             SUM(CASE WHEN prev IS NULL OR pos > prev + 3
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM (SELECT doc_id, pos, n_tokens,
                   lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
            FROM hits))
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(LEAST(MAX(pos) + 2, MAX(n_tokens) - 1) AS BIGINT)
             AS span_end,
           CAST(LEAST(MAX(pos) + 2, MAX(n_tokens) - 1) - MIN(pos) + 1
                AS BIGINT) AS span_n_tokens
    FROM isl GROUP BY doc_id, island
    """,
)
def doc_contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination report: the exact token intervals of
    each test doc that leaked from the train split — what a pipeline
    acts on (mask the span) instead of a per-doc drop/keep score.  Same
    80/20 hash split and linear join shape as doc_contamination; the
    islands window only ever sees hit positions."""
    from bdq_spark.operators import contamination_spans, hash_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    split = hash_split(docs, {"train": 0.8, "test": 0.2}, ["doc_id"])
    train = split.filter(F.col("split") == "train").drop("split")
    test = split.filter(F.col("split") == "test").drop("split")
    return contamination_spans(train, test, n=3)


def _ffd_ctes(n_shards: int, budget: int, doc_src: str,
              span: int = 1 << 40, prefix: str = "") -> str:
    """CTE chain replaying :func:`pack_documents` EXACTLY in DuckDB —
    the second "inherently sequential" algorithm to graduate from
    rows-only to value-hash (after :func:`_bpe_ctes`): first-fit-
    decreasing is a left-to-right scan with per-bin state, which a
    RECURSIVE CTE replays one document per step carrying the open-bin
    space vector as a ``BIGINT[]`` column (``list_position`` finds the
    first fitting bin; list slicing rewrites its remaining space).
    Recursion depth = max docs per shard — bounded by the same
    sharding argument that makes the Spark side scale.  The
    ``tfd``/``remap`` tail replays the bin-level refinement
    (:func:`_merge_tail_bins`): ≤ one half-empty bin per shard,
    FFD-merged whole in ``(fill DESC, pack_id)`` order.  Requires the
    query to open with ``WITH RECURSIVE``.  ``doc_src`` must yield
    ``(doc_id BIGINT, t BIGINT)``; ends with ``asg(doc_id, t, shard,
    pack_id, oversize)``.  ``prefix`` renames every internal CTE (the
    final one becomes ``{prefix}asg``) so the chain can compose with
    oracles whose CTE namespaces collide (the capstone replay's
    shingle ``sh`` vs this chain's shard ``sh``)."""
    body = f"""
sh AS MATERIALIZED (
  SELECT doc_id, t,
         CAST((('0x' || substr(md5(chr(31) || doc_id::VARCHAR), 1, 8))::BIGINT
               % 1000000) % {n_shards} AS INT) AS shard
  FROM (__FFD_DOC_SRC__)),
rk AS MATERIALIZED (
  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY t DESC, doc_id)
    AS rn
  FROM sh),
nsh AS (SELECT shard, max(rn) AS n FROM rk GROUP BY shard),
ffd AS (
  SELECT shard, 0 AS step, CAST([] AS BIGINT[]) AS spaces,
         CAST([] AS BIGINT[]) AS bins
  FROM nsh
  UNION ALL
  SELECT f.shard, f.step + 1,
    CASE WHEN d.t > {budget} THEN f.spaces || [CAST(-1 AS BIGINT)]
         WHEN fit.i IS NULL OR fit.i = 0
           THEN f.spaces || [CAST({budget} - d.t AS BIGINT)]
         ELSE f.spaces[:fit.i-1] || [f.spaces[fit.i] - d.t]
              || f.spaces[fit.i+1:]
    END,
    f.bins || [CASE WHEN d.t > {budget} OR fit.i IS NULL OR fit.i = 0
                    THEN len(f.spaces) ELSE CAST(fit.i - 1 AS BIGINT) END]
  FROM ffd f
  JOIN rk d ON d.shard = f.shard AND d.rn = f.step + 1
  LEFT JOIN LATERAL (
    SELECT list_position(list_transform(f.spaces, s -> s >= d.t), true) AS i
  ) fit ON true),
fin AS MATERIALIZED (
  SELECT f.shard, f.bins FROM ffd f JOIN nsh ON nsh.shard = f.shard
  WHERE f.step = nsh.n),
asg0 AS MATERIALIZED (
  SELECT r.doc_id, r.t, r.shard,
         CAST(r.shard AS BIGINT) * {span} + fin.bins[CAST(r.rn AS INT)]
           AS pack_id,
         r.t > {budget} AS oversize
  FROM rk r JOIN fin ON fin.shard = r.shard),
tails AS MATERIALIZED (
  SELECT pack_id, CAST(sum(t) AS BIGINT) AS fill
  FROM asg0 WHERE NOT oversize GROUP BY pack_id
  HAVING sum(t) * 2 <= {budget}),
trk AS MATERIALIZED (
  SELECT *, row_number() OVER (ORDER BY fill DESC, pack_id) AS rn
  FROM tails),
tn AS (SELECT CAST(coalesce(max(rn), 0) AS BIGINT) AS n FROM trk),
tfd AS (
  SELECT 0 AS step, CAST([] AS BIGINT[]) AS rem, CAST([] AS BIGINT[]) AS tid,
         CAST([] AS BIGINT[]) AS src, CAST([] AS BIGINT[]) AS dst
  UNION ALL
  SELECT f.step + 1,
    CASE WHEN fit.i IS NULL OR fit.i = 0
           THEN f.rem || [CAST({budget} AS BIGINT) - b.fill]
         ELSE f.rem[:fit.i-1] || [f.rem[fit.i] - b.fill] || f.rem[fit.i+1:]
    END,
    CASE WHEN fit.i IS NULL OR fit.i = 0 THEN f.tid || [b.pack_id]
         ELSE f.tid END,
    CASE WHEN fit.i IS NULL OR fit.i = 0 THEN f.src
         ELSE f.src || [b.pack_id] END,
    CASE WHEN fit.i IS NULL OR fit.i = 0 THEN f.dst
         ELSE f.dst || [f.tid[fit.i]] END
  FROM tfd f
  JOIN trk b ON b.rn = f.step + 1
  LEFT JOIN LATERAL (
    SELECT list_position(list_transform(f.rem, s -> s >= b.fill), true) AS i
  ) fit ON true),
remap AS MATERIALIZED (
  SELECT src, dst FROM tfd WHERE step = (SELECT n FROM tn)),
asg AS MATERIALIZED (
  SELECT a.doc_id, a.t, a.shard,
         coalesce(r.dst[list_position(r.src, a.pack_id)], a.pack_id)
           AS pack_id,
         a.oversize
  FROM asg0 a LEFT JOIN remap r ON true)"""
    # prefix the internal CTE names BEFORE splicing in the caller's
    # doc_src — renaming afterwards would also rewrite any alias or
    # identifier inside doc_src that happens to collide with one of
    # the 12 internal names (e.g. an alias "sh"), producing silently
    # wrong SQL
    if prefix:
        for n in ("sh", "rk", "nsh", "ffd", "fin", "asg0", "tails",
                  "trk", "tn", "tfd", "remap", "asg"):
            body = re.sub(rf"\b{n}\b", prefix + n, body)
    return body.replace("__FFD_DOC_SRC__", doc_src)


_SEQ_PACKING_ORACLE = (
    "WITH RECURSIVE "
    + _ffd_ctes(
        16,
        512,
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        "CAST(len(list_filter(string_split_regex(text, '\\s+'), "
        "x -> x <> '')) AS BIGINT) AS t FROM documents",
    )
    + """
SELECT pack_id, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(t) AS BIGINT) AS total_tokens,
       CAST(max(CASE WHEN oversize THEN 1 ELSE 0 END) AS INTEGER)
         AS has_oversize
FROM asg GROUP BY pack_id"""
)


@_register("doc_sequence_packing", _SEQ_PACKING_ORACLE)
def doc_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (sharded first-fit-decreasing) of
    the documents table; output is the per-pack summary.  Value-hash
    since r8: :func:`_ffd_ctes` replays the WHOLE pipeline — md5
    sharding, per-shard FFD as a recursive CTE carrying the open-bin
    space vector, and the cross-shard tail-bin refinement — so every
    pack's membership, fill and oversize flag is checked, not just the
    row count.  The packing invariants (coverage, budget, oversize
    isolation) remain pytest asserts in tests/test_packing.py."""
    from bdq_spark.functions.text import token_count
    from bdq_spark.operators import pack_documents

    docs = (
        load_table(spark, sf_dir, "documents")
        .repartition(32, "doc_id")
        .select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    )
    return (
        pack_documents(docs, "n_tokens", 512, "doc_id", n_shards=16)
        .groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.max(F.col("oversize").cast("int")).alias("has_oversize"),
        )
    )


@_register(
    "orders_hash_split",
    """
    WITH b AS (
      SELECT o_totalprice,
             ('0x' || substr(md5(chr(31) || o_orderkey::VARCHAR), 1, 8))::BIGINT
               % 1000000 AS bucket
      FROM orders
    )
    SELECT CASE WHEN bucket < 900000 THEN 'train'
                WHEN bucket < 950000 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
    FROM b
    GROUP BY split
    """,
)
def orders_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-stable train/val/test split (md5-bucket, no RNG): the oracle
    recomputes the exact same hash arithmetic in DuckDB, proving the
    assignment is engine-portable — the property ``randomSplit`` lacks."""
    from bdq_spark.operators import hash_split

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    return (
        hash_split(
            orders, {"train": 0.9, "val": 0.05, "test": 0.05}, ["o_orderkey"]
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
        )
    )


@_register(
    "range_join_price_tiers",
    """
    SELECT t.tier, count(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             AS total_price
    FROM lineitem l
    JOIN (SELECT i AS tier, i * 1000.0 AS lo, i * 1000.0 + 999.99 AS hi
          FROM generate_series(0, 119) t(i)) t
      ON l.l_extendedprice BETWEEN t.lo AND t.hi
    GROUP BY t.tier
    """,
)
def range_join_price_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded interval join (no BroadcastNestedLoopJoin): lineitem prices
    matched to 1000-wide price tiers via the band equi-join, then revenue
    per tier.  Oracle: the raw BETWEEN join in DuckDB."""
    from bdq_spark.operators import range_join

    tiers = spark.range(0, 120).select(
        F.col("id").alias("tier"),
        (F.col("id") * 1000.0).alias("lo"),
        (F.col("id") * 1000.0 + 999.99).alias("hi"),
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    return (
        range_join(li, tiers, "l_extendedprice", "lo", "hi", band_width=1000.0)
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("total_price"),
        )
    )


@_register(
    "asof_click_purchase",
    """
    SELECT c.event_id, c.user_id, epoch_ms(c.ts) AS ts_ms,
           epoch_ms(p.pts) AS purchase_ts_ms, p.pvalue AS purchase_value
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN
         (SELECT user_id, ts AS pts, value AS pvalue
          FROM events WHERE event_type = 'purchase') p
    ON c.user_id = p.user_id AND c.ts >= p.pts
    """,
)
def asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (union+window, single shuffle, no range-join blow-up):
    each click event annotated with the user's most recent prior purchase.
    Oracle: DuckDB's native ASOF LEFT JOIN — ties inclusive on both sides.
    """
    from bdq_spark.operators import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("value").alias("pvalue")
    )
    return asof_join(
        clicks, purchases, on=["user_id"], left_time="ts", right_time="pts"
    ).select(
        "event_id",
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        F.unix_millis("pts").alias("purchase_ts_ms"),
        F.col("pvalue").alias("purchase_value"),
    )


@_register(
    "profile_orders_numeric",
    """
    WITH stats AS (
      SELECT 'o_orderkey' AS column, count(*) AS n_rows,
             count(*) - count(o_orderkey) AS n_nulls,
             count(DISTINCT o_orderkey) AS n_distinct,
             CAST(min(o_orderkey) AS DOUBLE) AS min_val,
             CAST(max(o_orderkey) AS DOUBLE) AS max_val,
             ROUND(AVG(CAST(o_orderkey AS DOUBLE)), 2) AS mean
      FROM orders
      UNION ALL
      SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
             count(DISTINCT o_custkey),
             CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE),
             ROUND(AVG(CAST(o_custkey AS DOUBLE)), 2)
      FROM orders
      UNION ALL
      SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
             count(DISTINCT o_totalprice),
             CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE),
             ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
                   / count(o_totalprice), 2)
      FROM orders
    )
    SELECT * FROM stats
    """,
)
def profile_orders_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler (single aggregation pass) on orders' numeric cols.

    Oracle subset: exact distinct counts and 2-decimal-rounded means so
    DuckDB agrees (the operator's default HLL distinct and
    percentile_approx sketches are engine-specific by design; the
    full-profile path is covered by unit tests).
    """
    from bdq_spark.operators import profile_table

    orders = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    prof = profile_table(orders, columns=cols, approx_distinct=False)
    # exact decimal mean for o_totalprice (money): sum(dec)/count — the
    # double avg's partial-agg order would flap the hash; joined lazily
    # as a broadcast 1-row side
    money = orders.agg(
        (F.sum(_dec("o_totalprice", 14)) / F.count("o_totalprice"))
        .cast("double")
        .alias("__money_mean")
    )
    return prof.crossJoin(F.broadcast(money)).select(
        "column",
        "n_rows",
        "n_nulls",
        "n_distinct",
        F.col("min_value").cast("double").alias("min_val"),
        F.col("max_value").cast("double").alias("max_val"),
        F.when(F.col("column") == "o_totalprice", F.round("__money_mean", 2))
        .otherwise(F.round("mean", 2))
        .alias("mean"),
    )


@_register(
    "skew_report_lineitem_suppkey",
    """
    WITH c AS (
      SELECT l_suppkey, count(*) AS n_rows FROM lineitem GROUP BY 1),
    t AS (
      SELECT sum(n_rows) AS total, count(*) AS n_keys FROM c)
    SELECT l_suppkey, n_rows,
           round(n_rows::DOUBLE / total, 6) AS row_share,
           round(n_rows / (total::DOUBLE / n_keys), 6) AS skew_factor
    FROM c, t
    ORDER BY n_rows DESC, l_suppkey
    LIMIT 20
    """,
)
def skew_report_lineitem_suppkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter diagnostic for a prospective shuffle key (the
    measurement behind the salt-vs-broadcast decision): top-20 heaviest
    supplier keys with row share and skew factor, computed as one
    partial-combinable count agg + a TakeOrdered top-k — never a full
    sort.  Deterministic tie-break by key."""
    from bdq_spark.operators.joins import key_skew_report

    return key_skew_report(
        load_table(spark, sf_dir, "lineitem"), ["l_suppkey"], top_n=20
    )


@_register(
    "profile_lineitem_correlations",
    """
    WITH c AS (
      SELECT CAST(l_quantity AS DECIMAL(18,6)) AS q,
             CAST(l_extendedprice AS DECIMAL(18,6)) AS p,
             CAST(l_discount AS DECIMAL(18,6)) AS d
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        AND l_discount IS NOT NULL),
    s AS (
      SELECT count(*) AS n,
             sum(q) AS sq, sum(p) AS sp, sum(d) AS sd,
             sum(CAST(CAST(q AS DECIMAL(26,6))*q AS DECIMAL(38,12))) AS sqq,
             sum(CAST(CAST(p AS DECIMAL(26,6))*p AS DECIMAL(38,12))) AS spp,
             sum(CAST(CAST(d AS DECIMAL(26,6))*d AS DECIMAL(38,12))) AS sdd,
             sum(CAST(CAST(q AS DECIMAL(26,6))*p AS DECIMAL(38,12))) AS sqp,
             sum(CAST(CAST(q AS DECIMAL(26,6))*d AS DECIMAL(38,12))) AS sqd,
             sum(CAST(CAST(p AS DECIMAL(26,6))*d AS DECIMAL(38,12))) AS spd
      FROM c),
    m AS (
      SELECT n, n::DOUBLE AS nd,
             sq::DOUBLE AS sq, sp::DOUBLE AS sp, sd::DOUBLE AS sd,
             sqq::DOUBLE AS sqq, spp::DOUBLE AS spp, sdd::DOUBLE AS sdd,
             sqp::DOUBLE AS sqp, sqd::DOUBLE AS sqd, spd::DOUBLE AS spd
      FROM s)
    SELECT 'l_discount' AS col_x, 'l_extendedprice' AS col_y, n,
           round((nd*spd - sp*sd) / sqrt((nd*spp - sp*sp)*(nd*sdd - sd*sd)), 6) AS corr
    FROM m
    UNION ALL
    SELECT 'l_extendedprice', 'l_quantity', n,
           round((nd*sqp - sq*sp) / sqrt((nd*sqq - sq*sq)*(nd*spp - sp*sp)), 6)
    FROM m
    UNION ALL
    SELECT 'l_discount', 'l_quantity', n,
           round((nd*sqd - sq*sd) / sqrt((nd*sqq - sq*sq)*(nd*sdd - sd*sd)), 6)
    FROM m
    """,
)
def profile_lineitem_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over lineitem numerics in ONE
    scan (``df.stat.corr`` runs one job per pair).  Moment sums go
    through exact decimal so the hash is partial-agg-order independent;
    the oracle recomputes the identical closed form from the identical
    exact sums."""
    from bdq_spark.operators.profile import numeric_correlations

    return numeric_correlations(
        load_table(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount"],
    )


@_register(
    "profile_drift_orders",
    """
    WITH oldp AS (
      SELECT 'o_orderkey' AS "column", 0.0 AS null_rate,
             count(DISTINCT o_orderkey) AS n_distinct,
             CAST(min(o_orderkey) AS VARCHAR) AS minv,
             CAST(max(o_orderkey) AS VARCHAR) AS maxv
      FROM orders
      UNION ALL
      SELECT 'o_orderpriority', 0.0, count(DISTINCT o_orderpriority),
             min(o_orderpriority), max(o_orderpriority)
      FROM orders),
    newp AS (
      SELECT 'o_orderkey' AS "column", 0.0 AS null_rate,
             count(DISTINCT o_orderkey) AS n_distinct,
             CAST(min(o_orderkey) AS VARCHAR) AS minv,
             CAST(max(o_orderkey) AS VARCHAR) AS maxv
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT 'o_orderpriority', 0.0, count(DISTINCT o_orderpriority),
             min(o_orderpriority), max(o_orderpriority)
      FROM orders WHERE o_orderkey % 2 = 0)
    SELECT o."column",
           round(CAST(o.null_rate AS DOUBLE), 6) AS null_rate_old,
           round(CAST(n.null_rate AS DOUBLE), 6) AS null_rate_new,
           o.n_distinct AS n_distinct_old,
           n.n_distinct AS n_distinct_new,
           o.minv AS min_old, n.minv AS min_new,
           o.maxv AS max_old, n.maxv AS max_new,
           abs(coalesce(n.null_rate, 0) - coalesce(o.null_rate, 0)) > 0.01
             AS null_rate_drift,
           coalesce(n.n_distinct / nullif(o.n_distinct::DOUBLE, 0) < 0.5
                    OR n.n_distinct / nullif(o.n_distinct::DOUBLE, 0) > 2.0,
                    TRUE) AS distinct_drift,
           (n.minv IS DISTINCT FROM o.minv OR n.maxv IS DISTINCT FROM o.maxv)
             AS range_drift,
           FALSE AS presence_drift,
           (abs(coalesce(n.null_rate, 0) - coalesce(o.null_rate, 0)) > 0.01
            OR coalesce(n.n_distinct / nullif(o.n_distinct::DOUBLE, 0) < 0.5
                        OR n.n_distinct / nullif(o.n_distinct::DOUBLE, 0) > 2.0,
                        TRUE)
            OR n.minv IS DISTINCT FROM o.minv
            OR n.maxv IS DISTINCT FROM o.maxv) AS drifted
    FROM oldp o JOIN newp n USING ("column")
    """,
)
def profile_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift gate: yesterday's profile vs today's (here:
    orders vs its even-keyed half — cardinality halves, ranges move).
    Completes the compare family — compare_schemas (structure),
    compare_dataframes (rows), profile_drift (distributions).  Exact
    distinct counts so the oracle reproduces every flag."""
    from bdq_spark.operators.profile import profile_drift, profile_table

    orders = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderpriority"]
    po = profile_table(orders, columns=cols, approx_distinct=False)
    pn = profile_table(
        orders.filter(F.col("o_orderkey") % 2 == 0),
        columns=cols,
        approx_distinct=False,
    )
    return profile_drift(po, pn)


@_register(
    "quantiles_lineitem_by_flag",
    """
    SELECT l_returnflag,
           round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.25), 6) AS q_25,
           round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.50), 6) AS q_50,
           round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.75), 6) AS q_75,
           round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.99), 6) AS q_99
    FROM lineitem GROUP BY 1
    """,
)
def quantiles_lineitem_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group EXACT quantiles (linear interpolation — DuckDB's
    quantile_cont computes the identical formula, value-hash-matched).
    The operator's approx=True flag flips to the mergeable
    percentile_approx sketch for unbounded groups at scale."""
    from bdq_spark.operators.profile import group_quantiles

    return group_quantiles(
        load_table(spark, sf_dir, "lineitem"),
        "l_quantity",
        ["l_returnflag"],
        quantiles=(0.25, 0.5, 0.75, 0.99),
    )


@_register(
    "histogram_orders_totalprice",
    """
    WITH v AS (
      SELECT CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS v
      FROM orders WHERE o_totalprice IS NOT NULL),
    b AS (SELECT min(v) AS blo, max(v) AS bhi FROM v),
    i AS (
      SELECT CASE WHEN bhi - blo <= 0 THEN 0
                  ELSE CAST(least(19, floor((v - blo) * 20 / (bhi - blo)))
                            AS INTEGER) END AS bucket,
             blo, bhi
      FROM v, b)
    SELECT bucket,
           round((blo + bucket * (bhi - blo) / 20) / 100, 6) AS lo,
           round((blo + (bucket + 1) * (bhi - blo) / 20) / 100, 6) AS hi,
           count(*) AS n_rows
    FROM i GROUP BY bucket, blo, bhi
    """,
)
def histogram_orders_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (20 bins) of order totals: bounds from a
    broadcast 1-row min/max (no driver collect), bucket indices in
    scaled-integer arithmetic so bin boundaries are bit-identical
    across engines — the oracle recomputes the same buckets."""
    from bdq_spark.operators.profile import numeric_histogram

    return numeric_histogram(
        load_table(spark, sf_dir, "orders"), "o_totalprice", bins=20
    )


@_register(
    "knn_quantized_embeddings",
    """
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    qz AS (
      SELECT vec_id, e,
             CASE WHEN list_max(list_transform(e, x -> abs(x))) = 0
                  THEN 1.0
                  ELSE list_max(list_transform(e, x -> abs(x))) END AS scale
      FROM base),
    dq AS (
      SELECT vec_id,
             list_transform(e, x ->
               sign(x / scale * 127) * floor(abs(x / scale * 127) + 0.5)
               * scale / 127.0) AS v
      FROM qz),
    q AS (SELECT vec_id AS query_id, e AS qv FROM base
          WHERE vec_id IN (SELECT vec_id FROM base ORDER BY vec_id LIMIT 10)),
    scored AS (
      SELECT q.query_id, d.vec_id AS neighbor_id,
             round(list_dot_product(q.qv, d.v)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(d.v, d.v))), 6) AS cosine
      FROM dq d CROSS JOIN q),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 5
    """,
)
def knn_quantized_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over int8-QUANTIZED embeddings (the 4x
    storage path searched end-to-end): corpus quantized, dequantized in
    the scan expression, exact ranking — proving the codec composes with
    the search operators without a separate decode job.  The int8 codes
    are engine-portable (explicit sign/floor half-away rounding — exact
    IEEE steps), so the DuckDB oracle recomputes quantize → dequantize →
    cosine → top-k and the result value-hashes.

    Bench note: this entry runs 10 queries x k=5 while ``knn_embeddings``
    runs 5 queries x k=10 — TWICE the pair workload, so its wall time is
    ~2x by construction, not codec overhead.  Measured at sf0.1, the
    codec itself costs ~0.15 s once per corpus scan (the dequantize is
    evaluated per ROW below the join since knn_bruteforce precomputes
    norms); at equal workload the quantized search is ~1.05x the plain
    one."""
    from bdq_spark.operators.similarity import (
        dequantize_embedding,
        knn_bruteforce,
        quantize_embedding,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        "vec_id",
        dequantize_embedding(quantize_embedding(F.col("embedding"))).alias(
            "embedding"
        ),
    )
    queries = emb.orderBy("vec_id").limit(10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return knn_bruteforce(corpus, queries, k=5)


@_register("knn_ivf_embeddings")  # rows-only: approximate by construction
def knn_ivf_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bdq_spark.operators.ivf import knn_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return knn_ivf(emb, queries, k=10, n_clusters=8, n_probe=2)


# ---------------------------------------------------------------------------
# Extension — BPE-ish token counting (LLM-token-count proxy)
# ---------------------------------------------------------------------------

def _bpe_oracle() -> str:
    from bdq_spark.functions.text import BPE_ISH_PATTERN

    pat = BPE_ISH_PATTERN.replace("'", "''").replace("\\", "\\\\")
    return f"""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '{pat}')) AS n_bpe_tokens,
           len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
             AS n_ws_tokens
    FROM documents
    """


@_register("doc_bpe_tokens", None)
def doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bdq_spark.functions.text import bpe_ish_token_count, token_count

    df = load_table(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        token_count(F.col("text")).alias("n_ws_tokens"),
    )


ORACLE_SQL["doc_bpe_tokens"] = _bpe_oracle()


# ---------------------------------------------------------------------------
# Extension — corpus preparation: chunking, vocabulary, training order
# ---------------------------------------------------------------------------

_CHUNK_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
  FROM documents),
sized AS (SELECT doc_id, w, len(w) AS n FROM toks WHERE len(w) > 0),
idx AS (
  SELECT doc_id, w, n,
         unnest(range(0, greatest(CAST(ceil((n - 8) / 56.0) AS BIGINT), 1)))
           AS c
  FROM sized)
SELECT doc_id,
       CAST(c AS INTEGER)                                  AS chunk_idx,
       array_to_string(w[c * 56 + 1 : c * 56 + 64], ' ')   AS chunk_text,
       CAST(least(64, n - c * 56) AS INTEGER)              AS n_chunk_tokens
FROM idx
"""


@_register("doc_chunking", _CHUNK_ORACLE)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attention-window chunking: 64-token chunks, 8-token overlap."""
    from bdq_spark.operators.corpus import chunk_documents

    return chunk_documents(
        load_table(spark, sf_dir, "documents"), max_tokens=64, overlap=8
    )


_VOCAB_ORACLE = r"""
SELECT u.token AS token,
       count(*) AS n_occurrences,
       count(DISTINCT t.doc_id) AS n_docs
FROM (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS w
      FROM documents) t, UNNEST(t.w) AS u(token)
GROUP BY 1
ORDER BY n_occurrences DESC, token
LIMIT 100
"""


@_register(
    "vocab_stats_documents",
    """
    WITH toks AS (
      SELECT u.t FROM (
        SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS w
        FROM documents) d, UNNEST(d.w) AS u(t)),
    vocab AS (SELECT t, count(*) AS cnt FROM toks GROUP BY 1),
    totals AS (
      SELECT sum(cnt) AS n_tokens, count(*) AS n_types,
             sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS n_hapax
      FROM vocab),
    head AS (
      SELECT sum(cnt) AS head_mass FROM (
        SELECT cnt FROM vocab ORDER BY cnt DESC, t LIMIT 100) h)
    SELECT n_tokens::BIGINT AS n_tokens, n_types::BIGINT AS n_types,
           round(n_types / n_tokens::DOUBLE, 6) AS type_token_ratio,
           round(n_hapax / n_types::DOUBLE, 6) AS hapax_frac,
           round(head_mass / n_tokens::DOUBLE, 6) AS top100_mass
    FROM totals, head
    """,
)
def vocab_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary health (Zipf sanity check before tokenizer
    training): type/token ratio, hapax fraction, head-mass share — one
    row, everything partial-combinable or TakeOrdered."""
    from bdq_spark.operators.corpus import vocabulary_stats

    return vocabulary_stats(load_table(spark, sf_dir, "documents"))


@_register("token_vocab_top100", _VOCAB_ORACLE)
def token_vocab_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary counting pass (BPE/vocab prep): top-100 tokens
    by occurrence with per-token document frequency; deterministic
    tiebreak so the LIMIT boundary is engine-stable."""
    from bdq_spark.operators.corpus import token_vocabulary

    return token_vocabulary(
        load_table(spark, sf_dir, "documents"),
        top_k=100,
        id_column="doc_id",
    )


_TRAINING_ORDER_ORACLE = """
SELECT doc_id,
       md5('order' || 'epoch0' || CAST(doc_id AS VARCHAR)) AS train_order
FROM documents
"""


@_register("doc_training_order", _TRAINING_ORDER_ORACLE)
def doc_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order key (md5-based, engine
    portable); materializing the order is the writer's distributed
    range sort — no single-partition row_number anywhere."""
    from bdq_spark.operators.corpus import with_training_order

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return with_training_order(docs, ["doc_id"], seed="epoch0").select(
        "doc_id", F.col("__train_order").alias("train_order")
    )


_DEDUPED_ORACLE = """
WITH RECURSIVE words AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS w
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
      CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
           ELSE list_transform(range(1, len(w) - 1),
                               i -> array_to_string(w[i:i+2], ' '))
      END AS shingles
    FROM words) t, UNNEST(t.shingles) AS u(shingle)
  WHERE shingle <> ''),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(i / (sa.n + sb.n - i), 6) >= 0.8),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT a AS id, a AS r FROM edges
  UNION
  SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a),
non_keepers AS (
  SELECT id FROM reach GROUP BY id HAVING id <> min(r))
SELECT d.doc_id FROM documents d
WHERE d.doc_id NOT IN (SELECT id FROM non_keepers)
"""


@_register("documents_deduped", _DEDUPED_ORACLE)
def documents_deduped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END near-dup dedup: Jaccard pairs -> connected components
    -> apply_dedup_clusters, returning the surviving document ids (one
    keeper per duplicate cluster, untouched singletons pass through).
    Inherits ``near_dup_jaccard``'s capped-recall contract (default
    boilerplate-shingle cap; see its docstring)."""
    from bdq_spark.operators import apply_dedup_clusters, connected_components
    from bdq_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    clusters = connected_components(pairs)
    return apply_dedup_clusters(docs, clusters, id_column="doc_id").select(
        "doc_id"
    )


# corpus_prepare oracle, composed from the SAME fragments as the
# per-stage oracles: _QUALITY_CTES/_QUALITY_EXPR (doc_quality),
# _SHINGLE3_CTES (doc_contamination), the fingerprint GROUP BY
# (dedup_fingerprint_documents) and the chunk window arithmetic
# (doc_chunking at max_tokens=64/overlap=8) — one SQL copy per formula.
# the funnel CTE chain (quality gate -> exact dedup -> decontamination
# split -> chunk index), shared by the corpus_prepare oracle and the
# full-capstone replay (_capstone_oracle)
_PREPARE_CTES = (
    _QUALITY_CTES
    + ",\nq AS (\n  SELECT doc_id, text FROM scored\n  WHERE "
    + _QUALITY_EXPR
    + r""" >= 0.5),
keep AS (
  SELECT min(doc_id) AS doc_id
  FROM q GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))),
d AS (SELECT q.doc_id, q.text FROM q JOIN keep USING (doc_id)),
b AS (
  SELECT doc_id, text,
         ('0x' || substr(md5(chr(31) || doc_id::VARCHAR), 1, 8))::BIGINT
           % 1000000 AS bucket
  FROM d),
"""
    + _SHINGLE3_CTES
    + r""",
eval_set AS (SELECT DISTINCT shingle FROM sh WHERE bucket >= 800000),
contaminated AS (
  SELECT s.doc_id
  FROM sh s LEFT JOIN eval_set e USING (shingle)
  WHERE s.bucket < 800000
  GROUP BY s.doc_id
  HAVING SUM(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
         / count(*) >= 0.8),
clean AS (
  SELECT doc_id, text FROM b
  WHERE bucket < 800000
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
ctoks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
  FROM clean),
sized AS (SELECT doc_id, w, len(w) AS n FROM ctoks WHERE len(w) > 0),
idx AS (
  SELECT doc_id, w, n,
         unnest(range(0, greatest(CAST(ceil((n - 8) / 56.0) AS BIGINT), 1)))
           AS ci
  FROM sized)"""
)

_PREPARE_CHUNK_SELECT = r"""SELECT doc_id,
       CAST(ci AS INTEGER)                                  AS chunk_idx,
       array_to_string(w[ci * 56 + 1 : ci * 56 + 64], ' ')  AS chunk_text,
       CAST(least(64, n - ci * 56) AS INTEGER)              AS n_chunk_tokens
FROM idx"""

_CORPUS_PREPARE_ORACLE = (
    "WITH " + _PREPARE_CTES + "\n" + _PREPARE_CHUNK_SELECT + "\n"
)


@_register("corpus_prepare", _CORPUS_PREPARE_ORACLE)
def corpus_prepare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP composite: end-to-end training-corpus preparation run as
    a ``SparkPipeline`` dependency graph (the reference's orchestration
    surface, /root/reference/bdq/spark_pipeline.py, driving the LLM-data
    operators):

    1. quality gate   — keep documents with ``quality_score >= 0.5``
                        (codegen expressions; the rounded score is
                        engine-portable, so the threshold is exact);
    2. exact dedup    — one keeper per distinct normalized content
                        (hash-agg on the md5 fingerprint, left-semi);
    3. decontamination— hash-split 80/20 into train/eval, drop train
                        docs whose distinct-3-gram overlap with the
                        eval shingle set reaches 0.8 (linear join
                        against the collapsed eval shingle set — no
                        pairwise candidates);
    4. chunking       — 64-token attention windows with 8-token
                        overlap over the surviving corpus.

    Every stage is a narrow/partial-agg plan that scales to 100 TB: the
    only shuffles are the fingerprint hash-agg, the split-key-free
    shingle agg, and chunking's explode — no driver materialization.
    The DuckDB oracle recomputes the whole funnel in SQL, so the
    composition (not just each stage alone) is value-hash-checked."""
    from bdq_spark.operators.corpus import prepare_corpus

    return prepare_corpus(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        quality_threshold=0.5,
        eval_fraction=0.2,
        contamination_n=3,
        contamination_threshold=0.8,
        max_tokens=64,
        overlap=8,
    )


_fill_stopword_oracle("corpus_prepare")


def _capstone_oracle(n_merges: int = 20, n_shards: int = 64,
                     budget: int = 2048) -> str:
    """Replay the ENTIRE pretraining capstone in DuckDB: the prepare
    funnel (:data:`_PREPARE_CTES` — quality gate, exact dedup,
    decontamination split, 64/8 chunking), BPE training ON the cleaned
    chunks (:func:`_bpe_ctes` with the chunk table as corpus),
    per-chunk token counts via the final segmentation table, and the
    sharded first-fit-decreasing assignment (:func:`_ffd_ctes`) —
    every stage of the r8-graduated composition value-checked, not
    just each stage alone.  The chunk identity is the md5-low-60-bit
    integer of ``doc_id:chunk_idx`` (engine-portable, replayed here),
    and zero-word chunks keep ``n_tokens = 0`` through LEFT joins
    (packing's one-row-per-input contract)."""
    tok_src = f"""SELECT c.cid AS doc_id,
       CAST(coalesce(sum(len(w.s)), 0) AS BIGINT) AS t
FROM cid c
LEFT JOIN (SELECT cid, unnest(list_filter(
             string_split_regex(lower(chunk_text), '[^a-z0-9]+'),
             x -> x <> '')) AS word
           FROM cid) cw ON c.cid = cw.cid
LEFT JOIN w{n_merges} w ON cw.word = w.word
GROUP BY c.cid"""
    return (
        "WITH RECURSIVE "
        + _PREPARE_CTES
        + ",\nch AS MATERIALIZED (\n"
        + _PREPARE_CHUNK_SELECT
        + """),
cid AS MATERIALIZED (
  SELECT ('0x' || substr(md5(doc_id::VARCHAR || ':' || chunk_idx::VARCHAR),
                         1, 15))::BIGINT AS cid,
         doc_id, chunk_idx, chunk_text
  FROM ch),
"""
        + _bpe_ctes(n_merges,
                    src="(SELECT chunk_text AS text FROM cid)")
        + ","
        + _ffd_ctes(n_shards, budget, tok_src, prefix="fd_")
        + """
SELECT c.doc_id, c.chunk_idx, a.t AS n_tokens, a.shard, a.pack_id,
       a.oversize
FROM fd_asg a JOIN cid c ON a.doc_id = c.cid"""
    )


@_register("corpus_training_pipeline")
# (the oracle is attached after _bpe_ctes is defined — search for
# `ORACLE_SQL["corpus_training_pipeline"]` below)
# Value-hash since r8 (was the last composed rows-only entry): the
# oracle replays prepare funnel + BPE training on the cleaned chunks +
# encoding counts + sharded FFD in one recursive-CTE query, so the
# COMPOSITION (stage ordering included — the tokenizer trains on
# exactly the corpus the funnel produced) is checked end to end.  The
# composition invariants stay pinned in
# tests/test_corpus.py::test_corpus_training_pipeline_invariants
def corpus_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPSTONE composition — the COMPLETE pretraining-data pipeline a
    user of this engine runs end to end, every stage distributed:

    1. ``prepare_corpus``  — quality gate → exact dedup →
       decontamination → 64-token chunking (the SparkPipeline funnel);
    2. ``train_bpe``       — learn a 20-merge tokenizer ON the cleaned
       chunks (the corpus you train the tokenizer on is the corpus you
       just cleaned — ordering matters and this entry proves the
       composition runs);
    3. ``bpe_encode_corpus`` — real token-id sequences per chunk;
    4. ``pack_documents``  — first-fit-decreasing packing into
       2048-token attention windows using TRUE tokenizer budgets.

    Output: one row per surviving chunk ``(doc_id, chunk_idx, n_tokens,
    shard, pack_id, oversize)``.  Chunk identity flows through the md5
    low-60-bit integer of ``doc_id:chunk_idx`` (collision odds
    ~n^2/2^60 — negligible; engine-portable, which is what lets
    :func:`_capstone_oracle` replay the shard/pack assignment and
    value-hash the whole composition since r8)."""
    from bdq_spark.operators.corpus import prepare_corpus
    from bdq_spark.operators.packing import pack_documents
    from bdq_spark.operators.tokenizer import bpe_encode_corpus, train_bpe

    chunks = prepare_corpus(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        quality_threshold=0.5,
        eval_fraction=0.2,
        contamination_n=3,
        contamination_threshold=0.8,
        max_tokens=64,
        overlap=8,
        pipeline_name="corpus_train_pipe",
    ).select(
        # engine-portable composite chunk id: md5 low 60 bits of
        # "doc_id:chunk_idx" (collision odds ~n^2/2^60 — negligible);
        # md5 instead of xxhash64 so the DuckDB capstone replay can
        # recompute the identical shard/pack assignment
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", "doc_id", "chunk_idx")), 1, 15
            ),
            16,
            10,
        )
        .cast("long")
        .alias("chunk_id"),
        "doc_id",
        "chunk_idx",
        F.col("chunk_text").alias("text"),
    ).localCheckpoint(eager=True)  # three consumers: trainer scan,
    # encoder (distinct words + positioned tokens), output join
    _merges, vocab = train_bpe(chunks, n_merges=20)
    enc = bpe_encode_corpus(chunks, vocab, id_column="chunk_id")
    packed = pack_documents(enc, "n_tokens", budget=2048, id_column="id")
    return packed.join(
        chunks.select(F.col("chunk_id").alias("id"), "doc_id", "chunk_idx"),
        "id",
    ).select("doc_id", "chunk_idx", "n_tokens", "shard", "pack_id", "oversize")


# corpus_prepare + the optional near-dup stage (step 2b): the base
# oracle with the recursive-CTE near-dup funnel (same SQL as
# _DEDUPED_ORACLE, nd-prefixed names) spliced between exact dedup (d)
# and the decontamination split (b reads the near-deduped d2)
_ND_STAGE_CTES = r"""ndw AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS w
  FROM d),
ndsh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
      CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
           ELSE list_transform(range(1, len(w) - 1),
                               i -> array_to_string(w[i:i+2], ' '))
      END AS shingles
    FROM ndw) t, UNNEST(t.shingles) AS u(shingle)
  WHERE shingle <> ''),
ndsizes AS (SELECT doc_id, count(*) AS n FROM ndsh GROUP BY doc_id),
ndinter AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS i
  FROM ndsh x JOIN ndsh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2),
ndpairs AS (
  SELECT id_a, id_b FROM ndinter
  JOIN ndsizes sa ON sa.doc_id = id_a
  JOIN ndsizes sb ON sb.doc_id = id_b
  WHERE round(i / (sa.n + sb.n - i), 6) >= 0.8),
ndedges AS (SELECT id_a AS a, id_b AS b FROM ndpairs
            UNION SELECT id_b, id_a FROM ndpairs),
ndreach AS (
  SELECT a AS id, a AS r FROM ndedges
  UNION
  SELECT ndreach.id, ndedges.b
  FROM ndreach JOIN ndedges ON ndreach.r = ndedges.a),
ndnk AS (SELECT id FROM ndreach GROUP BY id HAVING id <> min(r)),
d2 AS (SELECT doc_id, text FROM d
       WHERE doc_id NOT IN (SELECT id FROM ndnk)),
"""

_CORPUS_PREPARE_ND_ORACLE = (
    _CORPUS_PREPARE_ORACLE
    .replace("WITH ", "WITH RECURSIVE ", 1)
    .replace("FROM d)", "FROM d2)")  # b reads the near-deduped corpus
    .replace(
        "d AS (SELECT q.doc_id, q.text FROM q JOIN keep USING (doc_id)),",
        "d AS (SELECT q.doc_id, q.text FROM q JOIN keep USING (doc_id)),\n"
        + _ND_STAGE_CTES.rstrip("\n"),
    )
)


@_register("corpus_prepare_neardup", _CORPUS_PREPARE_ND_ORACLE)
def corpus_prepare_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_prepare`` with the optional near-dup stage enabled:
    quality -> exact dedup -> Jaccard-0.8 near-dup clustering (one
    keeper per connected component) -> decontaminate -> chunk.  The
    DuckDB oracle splices the recursive-CTE reachability closure into
    the composed funnel, so the five-stage composition is value-hash
    checked end to end."""
    from bdq_spark.operators.corpus import prepare_corpus

    return prepare_corpus(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        quality_threshold=0.5,
        eval_fraction=0.2,
        contamination_n=3,
        contamination_threshold=0.8,
        max_tokens=64,
        overlap=8,
        near_dup_threshold=0.8,
        pipeline_name="corpus_prepare_nd",
    )


_fill_stopword_oracle("corpus_prepare_neardup")


# ---------------------------------------------------------------------------
# Distributed BPE tokenizer training (operators/tokenizer.py)
# ---------------------------------------------------------------------------


def _bpe_ctes(n_merges: int, min_pair: int = 2,
              src: str = "documents") -> str:
    """Shared CTE body replaying SEQUENTIAL Sennrich BPE training in
    DuckDB — ``n_merges`` unrolled rounds (the ``_kmeans_ctes``
    pattern for an iterative-argmax algorithm): each round counts
    adjacent symbol pairs over the word-frequency table, takes the
    ``(count DESC, left, right)`` argmax, and applies the merge to
    every word with a ``list_reduce`` left-fold whose accumulator
    rebuilds the symbol list (greedy left-to-right non-overlapping —
    the fold can never cascade within a round because ``merged ==
    left`` would require an empty right symbol).  ``AS MATERIALIZED``
    on every CTE: 30 rounds of inlined folds otherwise explode
    DuckDB's planner (the CTE-inlining trap measured in r5).  Early
    stop falls out naturally — a round with no pair >= ``min_pair``
    yields an empty argmax and every later round LEFT-JOINs a NULL
    rule, leaving the vocabulary untouched.  Spark's batched trainer
    (``train_bpe`` applies provably-safe merge PREFIXES per fold) is
    bit-equivalent to this sequential replay — the equivalence is
    pinned against the pure-Python reference in
    ``tests/test_tokenizer.py``.  Ends with ``m{{t}}`` (one argmax row
    per round) and ``w{{n_merges}}`` (the final segmentation)."""
    parts = [f"""wf AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(list_filter(
          string_split_regex(lower(text), '[^a-z0-9]+'),
          x -> x <> '')) AS word
        FROM {src})
  GROUP BY word),
w0 AS MATERIALIZED (
  SELECT word, freq,
         list_transform(range(1, len(word)+1),
                        i -> word[CAST(i AS INT)]) AS s
  FROM wf)"""]
    for t in range(n_merges):
        parts.append(f"""p{t} AS MATERIALIZED (
  SELECT lft, rgt, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT freq, s[CAST(i AS INT)] AS lft, s[CAST(i AS INT)+1] AS rgt
    FROM (SELECT freq, s, unnest(range(1, len(s))) AS i FROM w{t}))
  GROUP BY lft, rgt
  HAVING sum(freq) >= {min_pair}),
m{t} AS MATERIALIZED (
  SELECT CAST({t} AS INTEGER) AS mrank, lft, rgt, lft || rgt AS merged,
         cnt
  FROM p{t} ORDER BY cnt DESC, lft, rgt LIMIT 1),
w{t + 1} AS MATERIALIZED (
  SELECT w.word, w.freq,
         CASE WHEN m.lft IS NULL THEN w.s ELSE
           list_reduce(list_transform(w.s, x -> [x]),
             (acc, x) -> CASE WHEN acc[-1] = m.lft AND x[1] = m.rgt
                              THEN acc[:len(acc)-1] || [m.merged]
                              ELSE acc || x END)
         END AS s
  FROM w{t} w LEFT JOIN m{t} m ON true)""")
    return ",\n".join(parts)


def _bpe_merges_oracle(n_merges: int) -> str:
    union = " UNION ALL ".join(f"SELECT * FROM m{t}" for t in range(n_merges))
    return (
        "WITH " + _bpe_ctes(n_merges)
        + f'\nSELECT mrank AS rank, lft AS "left", rgt AS "right", merged,'
        f" cnt AS pair_count FROM ({union}) ORDER BY 1"
    )


def _bpe_counts_oracle(n_merges: int) -> str:
    return (
        "WITH " + _bpe_ctes(n_merges) + f""",
dw AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '')) AS word
       FROM documents)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(w{n_merges}.s)) AS BIGINT) AS n_tokens
FROM dw JOIN w{n_merges} USING (word) GROUP BY doc_id"""
    )


@_register("bpe_train_merges", _bpe_merges_oracle(30))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn a 30-merge BPE table from the document corpus.  The
    iterations run over the collapsed word-frequency table (the corpus
    text is scanned once); the only driver materialization is one argmax
    row per merge.  Deterministic: frequency ties break lexicographically
    — which is what lets :func:`_bpe_ctes` replay the ENTIRE training
    loop in DuckDB (30 unrolled argmax+fold rounds), graduating this
    entry from rows-only to value-hash in r8: every learned rule's
    (rank, pair, merged symbol, pair count) is checked, not just the
    row count."""
    from bdq_spark.operators.tokenizer import train_bpe

    merges, _vocab = train_bpe(
        load_table(spark, sf_dir, "documents"), n_merges=30
    )
    return spark.createDataFrame(
        merges,
        "rank int, left string, right string, merged string, pair_count long",
    )


@_register("bpe_token_counts", _bpe_counts_oracle(20))
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with a freshly trained 20-merge BPE model
    (value-hash since r8: the oracle's unrolled :func:`_bpe_ctes`
    rounds train the same model in DuckDB and join each document's
    words to the final segmentation table, so every per-document token
    count is checked against an independent replay of training AND
    encoding): the final vocabulary segmentation doubles as the
    encoding dictionary
    (broadcast join on the word key — no per-document merge replay)."""
    from bdq_spark.operators.tokenizer import bpe_segment_corpus, train_bpe

    docs = load_table(spark, sf_dir, "documents")
    _merges, vocab = train_bpe(docs, n_merges=20)
    return bpe_segment_corpus(docs, vocab).select(
        F.col("id").alias("doc_id"), "n_words", "n_tokens"
    )


def _bpe_packing_oracle(n_merges: int = 20, n_shards: int = 64,
                        budget: int = 512) -> str:
    """Compose the two sequential-algorithm replays: unrolled BPE
    training (:func:`_bpe_ctes`) feeds per-document token counts into
    the recursive-CTE FFD (:func:`_ffd_ctes`) — the whole
    train -> encode -> pack capstone value-checked per document."""
    src = f"""SELECT CAST(dw.doc_id AS BIGINT) AS doc_id,
       CAST(sum(len(w{n_merges}.s)) AS BIGINT) AS t
FROM (SELECT doc_id,
        unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '')) AS word
      FROM documents) dw
JOIN w{n_merges} USING (word) GROUP BY dw.doc_id"""
    return (
        "WITH RECURSIVE "
        + _bpe_ctes(n_merges)
        + ","
        + _ffd_ctes(n_shards, budget, src)
        + "\nSELECT doc_id, t AS n_tokens, shard, pack_id, oversize FROM asg"
    )


@_register("doc_bpe_packing", _bpe_packing_oracle())
# Value-hash since r8: BPE training AND the FFD packing assignment are
# both replayed (unrolled argmax rounds + recursive-CTE first-fit), so
# the per-document (n_tokens, shard, pack_id, oversize) row is fully
# checked.  The invariants (budget respected, every document covered
# exactly once, counts = segmentation counts) remain pinned by
# test_bpe_encode_feeds_packing, and the encode step's id sequences
# round-trip against the independent Python reference in
# test_bpe_encode_corpus_roundtrip_matches_reference
def doc_bpe_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end "tokenize then pack" shape every LLM training
    pipeline runs: train a 20-merge BPE model on the corpus, encode each
    document to its REAL token-id sequence (:func:`bpe_encode_corpus` —
    vocab join + in-row flatten, no per-document merge replay), then
    first-fit-decreasing pack the documents into 512-token attention
    windows using the true BPE counts as budgets instead of whitespace
    proxies.  Output is the assignment relation (one row per document,
    ``pack_id`` globally unique, oversize documents flagged rather than
    truncated)."""
    from bdq_spark.operators.packing import pack_documents
    from bdq_spark.operators.tokenizer import bpe_encode_corpus, train_bpe

    docs = load_table(spark, sf_dir, "documents")
    _merges, vocab = train_bpe(docs, n_merges=20)
    enc = bpe_encode_corpus(docs, vocab)
    return pack_documents(enc, "n_tokens", budget=512, id_column="id").select(
        F.col("id").alias("doc_id"), "n_tokens", "shard", "pack_id", "oversize"
    )


# the capstone's oracle needs _bpe_ctes (defined just above), so it is
# attached here rather than at the entry's own registration site
ORACLE_SQL["corpus_training_pipeline"] = _capstone_oracle()
_fill_stopword_oracle("corpus_training_pipeline")


# ---------------------------------------------------------------------------
# Mergeable sketches (HLL / count-min / KMV) — the 100 TB approximate-
# analytics primitives, value-hashed end-to-end via the md5-twin recipe
# (see operators/sketches.py for the engine-exactness argument).
# ---------------------------------------------------------------------------

_HLL_ORACLE = """
WITH h AS (
  SELECT o_orderpriority,
         ('0x' || substr(md5(o_custkey::VARCHAR), 1, 15))::BIGINT AS h
  FROM orders WHERE o_custkey IS NOT NULL),
regs AS (
  SELECT o_orderpriority, h >> 52 AS bucket,
         max(CASE WHEN (h & 4503599627370495) = 0 THEN 53
             ELSE 53 - length(bin(h & 4503599627370495)) END) AS register
  FROM h GROUP BY 1, 2),
rm AS (SELECT o_orderpriority, max(register) AS rmax FROM regs GROUP BY 1),
s AS (
  SELECT r.o_orderpriority, rm.rmax,
         sum(1::BIGINT << (rm.rmax - r.register)) AS s_present,
         count(*) AS present
  FROM regs r JOIN rm USING (o_orderpriority)
  GROUP BY 1, 2),
raw AS (
  SELECT o_orderpriority, (256 - present) AS zeros, rmax,
         (0.7213 / (1.0 + 1.079 / 256)) * 65536 * pow(2.0, rmax)
           / CAST(s_present + (256 - present) * (1::BIGINT << rmax)
                  AS DOUBLE) AS raw
  FROM s),
fin AS (
  SELECT o_orderpriority, zeros, rmax,
         round(CASE WHEN zeros > 0 AND raw <= 640.0
               THEN 256.0 * ln(256.0 / zeros) ELSE raw END, 4) AS est
  FROM raw)
SELECT f.o_orderpriority, f.est, f.zeros, f.rmax, e.exact_cnt
FROM fin f
JOIN (SELECT o_orderpriority, count(DISTINCT o_custkey) AS exact_cnt
      FROM orders GROUP BY 1) e USING (o_orderpriority)
"""


@_register("orders_hll_custkey", _HLL_ORACLE)
def orders_hll_custkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority approximate distinct customers via a 256-register
    HyperLogLog — the oracle replays hash routing, registers, the
    2^Rmax-scaled exact-int64 harmonic sum and BOTH estimator branches
    (raw / linear counting), so the whole sketch is value-checked.  The
    exact ``count(DISTINCT)`` rides along for an at-a-glance error view
    (and pins the sketch's input set).  Scale: each executor emits at
    most 256 register rows per group regardless of input size (map-side
    partial max); the exact twin is what this sketch REPLACES at 100 TB.
    """
    from bdq_spark.operators.sketches import hll_distinct

    orders = load_table(spark, sf_dir, "orders")
    sk = hll_distinct(orders, "o_custkey", ("o_orderpriority",), b=8)
    exact = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_cnt")
    )
    return sk.join(exact, "o_orderpriority")


@_register(
    "forecast_revenue_change",
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE)
             AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE year(l_shipdate) = 1997
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (Forecasting Revenue Change): the canonical
    predicate-pushdown benchmark — three pushable filters, one exact-
    decimal aggregate, zero joins.  At 100 TB this query is entirely
    scan-bound; the filters reach the parquet scan (the generic
    pushdown proof lives in ``pruned_scan_orders``)."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.where(
            (F.year("l_shipdate") == 1997)
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                _dec("l_extendedprice")
                * F.col("l_discount").cast("decimal(3,2)")
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@_register(
    "promo_revenue_share",
    """
    WITH j AS (
      SELECT CAST(l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l_discount AS DECIMAL(3,2))) AS rev,
             p_type
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE year(l_shipdate) = 1997 AND month(l_shipdate) = 9)
    SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                                  THEN rev ELSE 0 END) AS DOUBLE)
                 / CAST(sum(rev) AS DOUBLE), 6) AS promo_pct,
           CAST(sum(rev) AS DOUBLE) AS total_revenue
    FROM j
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (Promotion Effect): revenue share of promo parts in a
    month — a fact-to-dimension broadcast join with a conditional
    exact-decimal aggregate and ONE double division at the end.  The
    time filter prunes the fact side before the join."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _dec("l_extendedprice") * (
        1 - F.col("l_discount").cast("decimal(3,2)")
    )
    j = (
        l.where((F.year("l_shipdate") == 1997) & (F.month("l_shipdate") == 9))
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .select(rev.alias("rev"), "p_type")
    )
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", F.col("rev")).otherwise(
                F.lit(0).cast("decimal(12,2)")
            )).cast("double")
            / F.sum("rev").cast("double"),
            6,
        ).alias("promo_pct"),
        F.sum("rev").cast("double").alias("total_revenue"),
    )


@_register(
    "brand_quantity_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
             AS revenue,
           count(*) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11
           AND p_size BETWEEN 1 AND 5)
       OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20
           AND p_size BETWEEN 1 AND 10)
       OR (p_brand = 'Brand#9' AND l_quantity BETWEEN 20 AND 30
           AND p_size BETWEEN 1 AND 15)
    """,
)
def brand_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (Discounted Revenue), adapted to this schema's columns
    (size bands instead of containers): OR-of-conjuncts across fact AND
    dimension columns — the disjunctive-predicate shape optimizers
    historically mishandle (it must not block the join pushdown of the
    per-branch dimension filters).  Exact-decimal aggregate."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    q = F.col("l_quantity")
    s = F.col("p_size")
    cond = (
        ((F.col("p_brand") == "Brand#1") & q.between(1, 11) & s.between(1, 5))
        | (
            (F.col("p_brand") == "Brand#2")
            & q.between(10, 20)
            & s.between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#9")
            & q.between(20, 30)
            & s.between(1, 15)
        )
    )
    rev = _dec("l_extendedprice") * (
        1 - F.col("l_discount").cast("decimal(3,2)")
    )
    return j.where(cond).agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "nation_market_share",
    """
    WITH all_sales AS (
      SELECT year(o_orderdate) AS o_year,
             CAST(l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l_discount AS DECIMAL(3,2))) AS volume,
             ns.n_name AS supp_nation
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation nc ON c_nationkey = nc.n_nationkey
      JOIN region   ON nc.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ns ON s_nationkey = ns.n_nationkey
      JOIN part     ON l_partkey = p_partkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO')
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_1'
                          THEN volume ELSE 0 END) AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share,
           CAST(sum(volume) AS DOUBLE) AS total_volume
    FROM all_sales GROUP BY o_year
    """,
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (National Market Share): the hardest join-ordering
    shape in the suite — a 7-table snowflake with nation joined TWICE
    in different roles (customer side filters a region; supplier side
    labels the share numerator).  All dimensions broadcast; the fact
    table is touched once; decimal-exact volumes with one double
    division per year."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part")
    nc = n.select(
        F.col("n_nationkey").alias("nc_key"),
        F.col("n_regionkey").alias("nc_region"),
    )
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"),
        F.col("n_name").alias("supp_nation"),
    )
    volume = _dec("l_extendedprice") * (
        1 - F.col("l_discount").cast("decimal(3,2)")
    )
    sales = (
        l.join(F.broadcast(p.where(F.col("p_type") == "PROMO")),
               l.l_partkey == F.col("p_partkey"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), c.c_nationkey == F.col("nc_key"))
        .join(
            F.broadcast(r.where(F.col("r_name") == "ASIA")),
            F.col("nc_region") == F.col("r_regionkey"),
        )
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), s.s_nationkey == F.col("ns_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
    )
    return sales.groupBy("o_year").agg(
        F.round(
            F.sum(
                F.when(
                    F.col("supp_nation") == "NATION_1", F.col("volume")
                ).otherwise(F.lit(0).cast("decimal(12,2)"))
            ).cast("double")
            / F.sum("volume").cast("double"),
            6,
        ).alias("mkt_share"),
        F.sum("volume").cast("double").alias("total_volume"),
    )


_HLL_ROLLUP_ORACLE = """
WITH h AS (
  SELECT o_orderpriority,
         ('0x' || substr(md5(o_custkey::VARCHAR), 1, 15))::BIGINT AS h
  FROM orders WHERE o_custkey IS NOT NULL),
regs AS (
  SELECT o_orderpriority, h >> 52 AS bucket,
         max(CASE WHEN (h & 4503599627370495) = 0 THEN 53
             ELSE 53 - length(bin(h & 4503599627370495)) END) AS register
  FROM h GROUP BY 1, 2),
rm AS (SELECT o_orderpriority, max(register) AS rmax FROM regs GROUP BY 1),
s AS (
  SELECT r.o_orderpriority, rm.rmax,
         sum(1::BIGINT << (rm.rmax - r.register)) AS s_present,
         count(*) AS present
  FROM regs r JOIN rm USING (o_orderpriority)
  GROUP BY 1, 2),
raw AS (
  SELECT o_orderpriority, (256 - present) AS zeros, rmax,
         (0.7213 / (1.0 + 1.079 / 256)) * 65536 * pow(2.0, rmax)
           / CAST(s_present + (256 - present) * (1::BIGINT << rmax)
                  AS DOUBLE) AS raw
  FROM s)
SELECT o_orderpriority,
       round(CASE WHEN zeros > 0 AND raw <= 640.0
             THEN 256.0 * ln(256.0 / zeros) ELSE raw END, 4) AS est,
       zeros, rmax
FROM raw
"""


@_register("orders_hll_rollup", _HLL_ROLLUP_ORACLE)
def orders_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKETCH ROLLUP TABLE pattern (what Druid/Pinot rollup
    segments and DataSketches warehouse columns do): per-(priority,
    DAY) HLL register tables are computed ONCE and persisted as
    parquet; the period-wide question "distinct customers per priority
    over all time" is then answered from the rollup alone — a
    register max-merge over <= days x 256 rows per priority — WITHOUT
    touching the fact table again.  Because register merge is
    associative, the merged answer is EXACTLY the sketch computed
    directly over all orders, which is what the oracle replays (the
    merge law as a storage story, not just an algebraic test).  The
    rollup staging is marker-cached; steady-state cost is the rollup
    scan only."""
    import hashlib
    import os

    from bdq_spark.operators.sketches import hll_estimate

    key = hashlib.md5(f"{sf_dir}:hll_rollup:v2".encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"bdq_hll_rollup_{key}")
    marker = os.path.join(path, "_STAGED")
    if not os.path.exists(marker):
        from bdq_spark.operators.sketches import hll_registers

        orders = load_table(spark, sf_dir, "orders").withColumn(
            "day", F.col("o_orderdate").cast("date")
        )
        # day stays a COLUMN, not a partition directory: at sf0.1 the
        # rollup spans ~2,500 days and partitionBy(day) wrote that many
        # tiny directories — listing dominated the read (11 s measured).
        # The rollup is small by construction (days x groups x <= 256
        # rows); parquet row-group stats on the sorted day column give
        # the same slice pruning without the directory explosion.
        hll_registers(
            orders, "o_custkey", ("o_orderpriority", "day"), b=8
        ).sort("day").coalesce(4).write.mode("overwrite").parquet(path)
        with open(marker, "w") as fh:
            fh.write(sf_dir)
    rollup = spark.read.parquet(path)
    merged = rollup.groupBy("o_orderpriority", "bucket").agg(
        F.max("register").alias("register")
    )
    return hll_estimate(merged, b=8, group_cols=("o_orderpriority",))


_CMS_ORACLE = """
WITH toks AS (
  SELECT u.token FROM (
    SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS w
    FROM documents) t, UNNEST(t.w) AS u(token)),
rows4 AS (SELECT unnest(range(4)) AS r),
cells AS (
  SELECT rows4.r,
         ('0x' || substr(md5(rows4.r::VARCHAR || ':' || token), 1, 15))::BIGINT
           % 1024 AS cell,
         count(*) AS cnt
  FROM toks, rows4 GROUP BY 1, 2),
top AS (
  SELECT token, count(*) AS exact_cnt FROM toks GROUP BY 1
  ORDER BY exact_cnt DESC, token LIMIT 15),
probe AS (
  SELECT t.token, t.exact_cnt, rows4.r,
         ('0x' || substr(md5(rows4.r::VARCHAR || ':' || t.token), 1, 15))::BIGINT
           % 1024 AS cell
  FROM top t, rows4)
SELECT p.token, p.exact_cnt, min(c.cnt) AS cms_est
FROM probe p JOIN cells c ON c.r = p.r AND c.cell = p.cell
GROUP BY 1, 2
"""


@_register("token_countmin_topk", _CMS_ORACLE)
def token_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter token counts through a 4x1024 count-min sketch: the
    exact top-15 tokens (count desc, token asc — deterministic at the
    boundary) are looked up in the sketch, and the oracle replays
    tokenization, all four hash rows, the cell sums and the min-over-
    rows estimate.  ``cms_est >= exact_cnt`` always (sketch guarantee,
    pinned in pytest).  Scale: the grid is one partial-aggregable
    shuffle of <= 4096 rows total; the top-15 probe list is broadcast.
    """
    from bdq_spark.operators.sketches import countmin_cells, countmin_lookup

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("token")
    ).where(F.col("token") != "")
    cells = countmin_cells(toks, "token", depth=4, width=1024)
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "token")
        .limit(15)
    )
    return countmin_lookup(cells, top, "token", depth=4, width=1024)


_JOINSIZE_ORACLE = """
WITH a AS (
  SELECT o_custkey AS k FROM orders WHERE o_totalprice > 100000),
b AS (
  SELECT c_custkey AS k FROM customer WHERE c_acctbal > 0),
rows4 AS (SELECT unnest(range(4)) AS r),
ca AS (
  SELECT rows4.r,
         ('0x' || substr(md5(rows4.r::VARCHAR || ':' || k::VARCHAR), 1, 15))::BIGINT
           % 1024 AS cell,
         count(*) AS cnt_a
  FROM a, rows4 GROUP BY 1, 2),
cb AS (
  SELECT rows4.r,
         ('0x' || substr(md5(rows4.r::VARCHAR || ':' || k::VARCHAR), 1, 15))::BIGINT
           % 1024 AS cell,
         count(*) AS cnt_b
  FROM b, rows4 GROUP BY 1, 2),
ip AS (
  SELECT ca.r, CAST(sum(cnt_a * cnt_b) AS BIGINT) AS ip
  FROM ca JOIN cb ON ca.r = cb.r AND ca.cell = cb.cell
  GROUP BY ca.r)
SELECT (SELECT CAST(min(ip) AS BIGINT) FROM ip) AS est,
       (SELECT count(*) FROM a JOIN b USING (k)) AS exact_size
"""


@_register("join_size_estimate_cms", _JOINSIZE_ORACLE)
def join_size_estimate_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join cardinality estimation from two count-min sketches —
    the optimizer-style sizing trick: sketch each side's join key
    (filtered orders vs positive-balance customers), estimate
    ``|A join B|`` as the min-over-rows inner product of the grids,
    WITHOUT running the join.  All-integer arithmetic, so the oracle
    replays both grids and the inner product exactly; the true join
    size rides along (``est >= exact_size`` always — collisions only
    add; pinned in pytest).  Scale: the estimate costs one
    (depth x width)-row sketch join however large the tables are."""
    from bdq_spark.operators.sketches import countmin_cells, countmin_join_size

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    a = orders.where(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("k")
    )
    b = customer.where(F.col("c_acctbal") > 0).select(
        F.col("c_custkey").alias("k")
    )
    est = countmin_join_size(
        countmin_cells(a, "k", depth=4, width=1024),
        countmin_cells(b, "k", depth=4, width=1024),
    )
    exact = a.join(b, "k").agg(F.count(F.lit(1)).alias("exact_size"))
    return est.crossJoin(exact)


_KMV_ORACLE = """
WITH sa AS (
  SELECT DISTINCT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
  FROM events WHERE event_type = 'click' AND user_id IS NOT NULL
  ORDER BY h LIMIT 64),
sb AS (
  SELECT DISTINCT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
  ORDER BY h LIMIT 64),
ea AS (SELECT round(63.0 * 1152921504606846976 / CAST(max(h) AS DOUBLE), 4)
         AS est_click FROM sa),
eb AS (SELECT round(63.0 * 1152921504606846976 / CAST(max(h) AS DOUBLE), 4)
         AS est_purchase FROM sb),
un AS (SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
       ORDER BY h LIMIT 64),
eu AS (SELECT round(63.0 * 1152921504606846976 / CAST(max(h) AS DOUBLE), 4)
         AS est_union FROM un),
th AS (SELECT least((SELECT max(h) FROM sa), (SELECT max(h) FROM sb))
         AS theta),
ic AS (SELECT th.theta, count(*) AS n
       FROM sa JOIN sb USING (h), th WHERE sa.h < th.theta
       GROUP BY th.theta),
ei AS (SELECT round(CAST(n AS DOUBLE) * 1152921504606846976
                    / CAST(theta AS DOUBLE), 4) AS est_intersect FROM ic)
SELECT * FROM ea, eb, eu, ei
"""


@_register("events_kmv_setops", _KMV_ORACLE)
def events_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user set algebra through KMV/theta sketches: per-type
    estimates, union (merge + re-truncate) and theta intersection
    (common retained hashes below the combined theta), all from two
    64-hash sketches.  The oracle replays sketch construction (ORDER BY
    hash LIMIT k), both single-set estimators, the union re-truncation
    and the intersection count — the full approximate pipeline is
    value-checked.  Empty-intersection inputs would yield zero rows (by
    design — no theta evidence, no estimate); the sf testdata's shared
    user pool keeps this populated.  Scale: sketches are k-row frames;
    every join/crossJoin is broadcast; construction is per-partition
    top-k (TakeOrderedAndProject), never a global sort.
    """
    from bdq_spark.operators.sketches import (
        kmv_estimate_col,
        kmv_set_ops,
        kmv_sketch,
    )

    ev = load_table(spark, sf_dir, "events")
    # each sketch feeds three consumers (own estimate, union, theta
    # intersect) — materialize the 64-row sketch ONCE so the 100 TB
    # scan isn't replayed per consumer (lazy lineage would rescan)
    sa = kmv_sketch(
        ev.where(F.col("event_type") == "click"), "user_id", k=64
    ).localCheckpoint(eager=False)
    sb = kmv_sketch(
        ev.where(F.col("event_type") == "purchase"), "user_id", k=64
    ).localCheckpoint(eager=False)
    est_a = sa.agg(kmv_estimate_col(64).alias("est_click"))
    est_b = sb.agg(kmv_estimate_col(64).alias("est_purchase"))
    return est_a.crossJoin(est_b).crossJoin(kmv_set_ops(sa, sb, k=64))


_RETENTION_ORACLE = """
WITH act AS (
  SELECT DISTINCT user_id,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS week
  FROM events WHERE user_id IS NOT NULL),
cohort AS (
  SELECT user_id, min(week) AS cohort_week FROM act GROUP BY 1),
sizes AS (
  SELECT cohort_week, count(*) AS cohort_size FROM cohort GROUP BY 1),
ret AS (
  SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
         count(DISTINCT a.user_id) AS n_active
  FROM act a JOIN cohort c USING (user_id)
  GROUP BY 1, 2)
SELECT r.cohort_week, r.week_offset, r.n_active, s.cohort_size,
       round(r.n_active * 1.0 / s.cohort_size, 6) AS retention
FROM ret r JOIN sizes s USING (cohort_week)
"""


@_register("events_retention_cohorts", _RETENTION_ORACLE)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix (the product-analytics staple next to
    the funnel): users cohorted by FIRST-activity week, then counted
    active at each week offset; per-cell retention rate against the
    cohort size.  Week 0 of every cohort retains 100% by construction
    (a cheap sanity invariant).  Scale: one distinct-activity
    projection, two user-key aggregations and a same-key join — all
    partial-aggregable; the matrix itself is tiny (weeks^2 cells).
    The oracle replays cohorting, offsets and rates."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    week = F.floor(
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        )
        / 7
    ).cast("long")
    act = ev.select("user_id", week.alias("week")).distinct()
    cohort = act.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = cohort.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    ret = (
        act.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return ret.join(sizes, "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        F.round(
            F.col("n_active") * F.lit(1.0) / F.col("cohort_size"), 6
        ).alias("retention"),
    )


_FUNNEL_ORACLE = """
WITH e AS (
  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
v AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts_ms END) AS v_ms
  FROM e GROUP BY 1),
c AS (
  SELECT e.user_id, min(e.ts_ms) AS c_ms
  FROM e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND v.v_ms IS NOT NULL
    AND e.ts_ms >= v.v_ms
  GROUP BY 1),
p AS (
  SELECT e.user_id, min(e.ts_ms) AS p_ms
  FROM e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts_ms >= c.c_ms
  GROUP BY 1)
SELECT (SELECT count(*) FROM v WHERE v_ms IS NOT NULL) AS n_view,
       (SELECT count(*) FROM c) AS n_click,
       (SELECT count(*) FROM p) AS n_purchase,
       round((SELECT count(*) FROM c)::DOUBLE
             / (SELECT count(*) FROM v WHERE v_ms IS NOT NULL), 6)
         AS view_to_click,
       round((SELECT count(*) FROM p)::DOUBLE
             / (SELECT count(*) FROM c), 6) AS click_to_purchase
"""


@_register("events_funnel_conversion", _FUNNEL_ORACLE)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (the event-analytics staple): per user,
    first view, first click AT OR AFTER that view, first purchase at or
    after that click; stage counts and conversion rates.  Ordering
    matters — a click before any view does not count — which is what
    separates a funnel from three independent counts.  All timestamps
    compare as epoch-millis bigints (the ns-vs-us convention).  Scale:
    three per-user aggregations (each one partial-aggregable shuffle on
    user_id) + two same-key joins that reuse the user_id partitioning;
    the final stage counts are scalar aggregates.  The oracle replays
    the exact staged-min construction."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_millis("ts").alias("ts_ms")
    )
    v = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts_ms"))).alias(
            "v_ms"
        )
    ).where(F.col("v_ms").isNotNull())
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts_ms") >= F.col("v_ms"))
        .groupBy("user_id")
        .agg(F.min("ts_ms").alias("c_ms"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts_ms") >= F.col("c_ms"))
        .groupBy("user_id")
        .agg(F.min("ts_ms").alias("p_ms"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).alias("n_click"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchase"))
    return (
        nv.crossJoin(nc)
        .crossJoin(np_)
        .select(
            "n_view",
            "n_click",
            "n_purchase",
            F.round(
                F.col("n_click").cast("double") / F.col("n_view"), 6
            ).alias("view_to_click"),
            F.round(
                F.col("n_purchase").cast("double") / F.col("n_click"), 6
            ).alias("click_to_purchase"),
        )
    )


_SCD2_ORACLE = """
WITH feed AS (
  SELECT c_custkey, c_name || '_WRONG' AS c_name,
         CAST(c_acctbal AS DECIMAL(12,2)) AS acctbal, 'U' AS op, 1 AS ver
  FROM customer WHERE c_custkey % 10 = 1
  UNION ALL
  SELECT c_custkey, c_name || '_v2',
         CAST(c_acctbal AS DECIMAL(12,2)) + 100, 'U', 2
  FROM customer WHERE c_custkey % 10 = 1
  UNION ALL
  SELECT c_custkey, c_name || '_x',
         CAST(c_acctbal AS DECIMAL(12,2)), 'U', 1
  FROM customer WHERE c_custkey % 10 = 2
  UNION ALL
  SELECT c_custkey, c_name, CAST(c_acctbal AS DECIMAL(12,2)), 'D', 2
  FROM customer WHERE c_custkey % 10 = 2
  UNION ALL
  SELECT c_custkey + 1000000, 'new_' || (c_custkey + 1000000)::VARCHAR,
         CAST(c_acctbal AS DECIMAL(12,2)), 'I', 1
  FROM customer WHERE c_custkey % 10 = 3),
w AS (
  SELECT *,
         lead(ver) OVER (
           PARTITION BY c_custkey
           ORDER BY ver, CASE WHEN op = 'D' THEN 1 ELSE 0 END
         ) AS valid_to
  FROM feed)
SELECT c_custkey, c_name, CAST(acctbal AS DOUBLE) AS acctbal,
       ver AS valid_from, valid_to, (valid_to IS NULL) AS is_current
FROM w WHERE op <> 'D'
"""


_PIT_ORACLE = """
WITH feed AS (
  SELECT c_custkey, c_name || '_WRONG' AS c_name, 'U' AS op, 1 AS ver
  FROM customer WHERE c_custkey % 10 = 1
  UNION ALL
  SELECT c_custkey, c_name || '_v2', 'U', 2
  FROM customer WHERE c_custkey % 10 = 1
  UNION ALL
  SELECT c_custkey, c_name || '_x', 'U', 1
  FROM customer WHERE c_custkey % 10 = 2
  UNION ALL
  SELECT c_custkey, c_name, 'D', 2
  FROM customer WHERE c_custkey % 10 = 2),
w AS (
  SELECT *,
         lead(ver) OVER (
           PARTITION BY c_custkey
           ORDER BY ver, CASE WHEN op = 'D' THEN 1 ELSE 0 END
         ) AS valid_to
  FROM feed),
hist AS (SELECT c_custkey, c_name, ver AS valid_from, valid_to
         FROM w WHERE op <> 'D'),
facts AS (
  SELECT c_custkey, t.v
  FROM customer, UNNEST([1, 2, 3]) AS t(v)
  WHERE c_custkey % 10 IN (1, 2))
SELECT f.c_custkey, f.v, h.c_name AS dim_name
FROM facts f
LEFT JOIN hist h
  ON h.c_custkey = f.c_custkey
 AND f.v >= h.valid_from
 AND (h.valid_to IS NULL OR f.v < h.valid_to)
"""


@_register("orders_pit_scd2_join", _PIT_ORACLE)
def orders_pit_scd2_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME join against the SCD2 dimension history — the
    consumption side of :func:`scd2_from_changes` and the reason SCD2
    exists: facts at versions 1/2/3 resolve the attribute that was
    valid AT their version (``valid_from <= v < valid_to``, open
    intervals unbounded), superseded values resolve for OLD facts only,
    and facts after a delete resolve to NULL (the key had no current
    row).  LEFT join keeps the misses visible.  Scale: an equi-join on
    the key with a residual interval predicate — a plain hash join,
    not a range-only join, so it partitions like any dimension join.
    The oracle replays feed, interval assembly and the containment
    join."""
    from bdq_spark.operators.cdc import scd2_from_changes

    c = _cdc_customer_base(spark, sf_dir)
    hist = scd2_from_changes(
        _cdc_customer_changes(c), ["c_custkey"], "ver"
    ).select(
        F.col("c_custkey").alias("h_key"),
        F.col("c_name").alias("dim_name"),
        "valid_from",
        "valid_to",
    )
    m = F.col("c_custkey") % 10
    facts = c.filter(m.isin(1, 2)).select(
        "c_custkey",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("v"),
    )
    joined = facts.join(
        hist,
        (F.col("c_custkey") == F.col("h_key"))
        & (F.col("v") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("v") < F.col("valid_to"))),
        "left",
    )
    return joined.select("c_custkey", "v", "dim_name")


@_register("customer_scd2_history", _SCD2_ORACLE)
def customer_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history from the shared synthesized CDC
    feed (:func:`scd2_from_changes` over ``_cdc_customer_changes``):
    superseded updates become CLOSED validity intervals, deletes close
    their predecessor and emit nothing (the deleted key has no current
    row), fresh inserts are open intervals.  The oracle reconstructs
    the feed and replays the lead-window interval assembly in SQL —
    every interval bound and currency flag is value-checked.  Scale:
    one window over the change feed only; no base-table access."""
    from bdq_spark.operators.cdc import scd2_from_changes

    c = _cdc_customer_base(spark, sf_dir)
    hist = scd2_from_changes(
        _cdc_customer_changes(c), ["c_custkey"], "ver"
    )
    return hist.select(
        "c_custkey",
        "c_name",
        F.col("acctbal").cast("double").alias("acctbal"),
        "valid_from",
        "valid_to",
        "is_current",
    )


@_register(
    "orders_sampled_quantiles",
    """
    WITH s AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      ORDER BY md5('q' || chr(31) || o_orderkey::VARCHAR), o_orderkey
      LIMIT 256),
    a AS (SELECT list_sort(list(cents)) AS v, count(*) AS n FROM s)
    SELECT n AS sample_n,
           v[CAST(floor(0.25 * (n - 1)) AS INT) + 1] AS p25,
           v[CAST(floor(0.5  * (n - 1)) AS INT) + 1] AS p50,
           v[CAST(floor(0.75 * (n - 1)) AS INT) + 1] AS p75,
           v[CAST(floor(0.95 * (n - 1)) AS INT) + 1] AS p95
    FROM a
    """,
)
def orders_sampled_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed quantile estimation from the deterministic bottom-256
    hash sample (:func:`sampled_quantiles`): price quantiles in exact
    cents, computed from a per-partition top-k (TakeOrderedAndProject)
    instead of a global sort — the sampling member of the sketch
    family.  The oracle replays sample membership (the identical md5
    order), the sort and the nearest-rank integer indexing, so the
    whole estimator is value-checked; the ~1/sqrt(k) rank-error bound
    vs the TRUE quantiles is pinned in pytest."""
    from bdq_spark.operators.sketches import sampled_quantiles

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return sampled_quantiles(
        orders, "cents", ["o_orderkey"], k=256, salt="q"
    )


_BOOLEAN_SEARCH_ORACLE = """
WITH toks AS (
  SELECT DISTINCT t.doc_id, u.token FROM (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS w
    FROM documents) t, UNNEST(t.w) AS u(token))
SELECT doc_id FROM toks
WHERE token IN ('hash', 'join', 'merge')
GROUP BY doc_id HAVING count(DISTINCT token) = 3
"""


@_register("docs_boolean_search", _BOOLEAN_SEARCH_ORACLE)
def docs_boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean AND retrieval over the inverted index: documents whose
    token set contains ALL of ('hash', 'join', 'merge') — resolved as a
    matched-token count over the query tokens' POSTINGS, never a corpus
    rescan (the contamination-probe / targeted-subsetting shape).  The
    oracle filters the tokenized corpus directly, proving the index
    path is exactly the direct filter.  Scale: index build is two
    partial-agg shuffles done once; each query touches only its tokens'
    postings."""
    from bdq_spark.operators.textsearch import (
        boolean_search,
        build_inverted_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    postings, _stats = build_inverted_index(docs)
    return boolean_search(postings, ["hash", "join", "merge"], mode="and")


_BM25_ORACLE = """
WITH toks AS (
  SELECT t.doc_id, u.token FROM (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS w
    FROM documents) t, UNNEST(t.w) AS u(token)),
postings AS (
  SELECT token, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
ds AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM ds),
idf AS (
  SELECT token, ln(1.0 + (stats.n - df + 0.5) / (df + 0.5)) AS idf
  FROM (SELECT token, count(*) AS df FROM postings
        WHERE token IN ('hash', 'join', 'merge') GROUP BY 1), stats),
parts AS (
  SELECT p.doc_id,
         CAST(round(i.idf * p.tf
                    / (p.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl)), 9)
              AS DECIMAL(20,9)) AS part
  FROM postings p
  JOIN idf i USING (token)
  JOIN ds d USING (doc_id), stats s
  WHERE p.token IN ('hash', 'join', 'merge'))
SELECT doc_id, round(CAST(sum(part) AS DOUBLE), 6) AS score
FROM parts GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT 10
"""


@_register("docs_bm25_search", _BM25_ORACLE)
def docs_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval over the inverted index for the
    query ('hash', 'join', 'merge'), top-10 (score desc, doc_id asc).
    Every BM25 input (tf, dl, df, N) is an exact integer, idf and the
    saturation term are single double expressions on those integers,
    and per-token parts sum in decimal — so the DuckDB oracle replays
    tokenization, postings, document statistics and the full scoring
    formula and the round-6 scores hash exactly.  The retrieval
    baseline behind RAG and dedup-probe pipelines, as a first-class
    indexed operator."""
    from bdq_spark.operators.textsearch import (
        bm25_search,
        build_inverted_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    postings, stats = build_inverted_index(docs)
    return bm25_search(
        postings, stats, ["hash", "join", "merge"], k1=1.2, b=0.75, top_k=10
    )


_PHRASE_ORACLE = """
WITH docs AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS w
  FROM documents),
pos AS (
  SELECT doc_id, w[i] AS token, i - 1 AS pos
  FROM docs, UNNEST(range(1, len(w) + 1)) AS t(i)),
a AS (SELECT doc_id, pos AS start FROM pos WHERE token = 'hash'),
b AS (SELECT doc_id, pos - 1 AS start FROM pos WHERE token = 'join')
SELECT a.doc_id, count(*) AS n_occ
FROM a JOIN b USING (doc_id, start)
GROUP BY a.doc_id
"""


@_register("docs_phrase_search", _PHRASE_ORACLE)
def docs_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PHRASE search ("hash join", adjacent tokens) over the
    positional index: token i of the phrase joins on (doc, start+i), so
    occurrences are counted without rescanning text — the IR-classic
    positional-postings query that boolean search can't answer (both
    words present != adjacent).  The oracle replays positions (0-based
    over the filtered token list) and the adjacency join.  Scale: cost
    rides the phrase tokens' postings; put the rarest token first at
    scale (caller-controlled, classic optimization)."""
    from bdq_spark.operators.textsearch import (
        build_positional_index,
        phrase_search,
    )

    docs = load_table(spark, sf_dir, "documents")
    return phrase_search(build_positional_index(docs), ["hash", "join"])


_STREAMING_HLL_ORACLE = """
WITH h AS (
  SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
  FROM events WHERE user_id IS NOT NULL),
regs AS (
  SELECT h >> 52 AS bucket,
         max(CASE WHEN (h & 4503599627370495) = 0 THEN 53
             ELSE 53 - length(bin(h & 4503599627370495)) END) AS register
  FROM h GROUP BY 1),
rm AS (SELECT max(register) AS rmax FROM regs),
s AS (
  SELECT rm.rmax,
         sum(1::BIGINT << (rm.rmax - regs.register)) AS s_present,
         count(*) AS present
  FROM regs, rm GROUP BY rm.rmax),
raw AS (
  SELECT (256 - present) AS zeros, rmax,
         (0.7213 / (1.0 + 1.079 / 256)) * 65536 * pow(2.0, rmax)
           / CAST(s_present + (256 - present) * (1::BIGINT << rmax)
                  AS DOUBLE) AS raw
  FROM s)
SELECT round(CASE WHEN zeros > 0 AND raw <= 640.0
             THEN 256.0 * ln(256.0 / zeros) ELSE raw END, 4) AS est,
       zeros, rmax,
       (SELECT count(DISTINCT user_id) FROM events) AS exact_cnt
FROM raw
"""


@_register("streaming_hll_distinct", _STREAMING_HLL_ORACLE)
def streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-count maintenance through HLL register-max
    merge — the composition that makes the sketch a STREAMING operator:
    events stream through ``foreachBatch``; each micro-batch contributes
    its (<= 256-row) register table; the accumulator keeps the per-
    bucket max.  Because register merge is associative/idempotent-
    under-max, the final registers are EXACTLY the one-shot batch
    sketch no matter how the file source splits micro-batches — so the
    DuckDB oracle (full HLL replay over all events) value-checks the
    whole streaming run, with no rows-only concession.  Micro-batch
    replay is keyed out by batch_id (same idempotence a transactional
    sink provides).  Scale: per batch ships <= m register rows to the
    accumulator (in production the accumulator is itself a keyed state
    table; the merge law is what this entry pins)."""
    from bdq_spark.operators.sketches import hll_estimate, hll_registers

    src = _stage_table_dir(spark, sf_dir, "events")
    ckpt = tempfile.mkdtemp(prefix="entry_shll_ckpt_")
    ev_schema = load_table(spark, sf_dir, "events").schema
    regs: dict = {}
    seen_batches: set = set()
    n_batches = [0]

    def fold(df, batch_id):
        if batch_id in seen_batches:
            return
        partial = hll_registers(df, "user_id", b=8).collect()  # <= 256 rows
        seen_batches.add(batch_id)
        n_batches[0] += 1
        for r in partial:
            if regs.get(r.bucket, 0) < r.register:
                regs[r.bucket] = r.register

    q = (
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                "streaming_hll_distinct: stream did not finish in 300 s"
            )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    if not n_batches[0]:
        raise RuntimeError("stream terminated without processing any batch")
    reg_df = spark.createDataFrame(
        [(b, r) for b, r in regs.items()], "bucket:long, register:int"
    )
    est = hll_estimate(reg_df, b=8)
    exact = load_table(spark, sf_dir, "events").agg(
        F.countDistinct("user_id").alias("exact_cnt")
    )
    return est.crossJoin(exact)


@_register(
    "bloom_pruned_scan",
    """
    SELECT o_orderkey, o_custkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
    WHERE o_orderkey = (SELECT max(o_orderkey) FROM orders)
    """,
)
def bloom_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELF-ENFORCING Bloom file-skipping proof — the EQUALITY sibling
    of ``zonemap_pruned_scan``: orders staged ONCE as a date-clustered
    parquet directory (the natural time layout, under which an id probe
    overlaps every file's min/max range — zonemaps can't help) with a
    per-file Bloom sidecar on ``o_orderkey``
    (:func:`write_bloom_index`).  A point lookup for the max orderkey
    resolves through :func:`bloom_candidate_files` and scans only the
    files whose filter admits the value; the entry RAISES unless the
    index pruned (candidates < total) AND the probe's true file
    survived (no false negative).  The probe key is one bounded 1-row
    ``collect`` (same class as the IVF sample).  Values hash against
    DuckDB's scalar-subquery filter over the raw table, proving the
    pruning is lossless."""
    import hashlib
    import os

    from bdq_spark.sources.sinks import (
        bloom_candidate_files,
        read_bloom,
        write_bloom_index,
    )

    # v5: exploded (file, col, word) parquet sidecar (r9; v4 was a
    # dense word-array draft, v3 the packed-bitmap JSON).  Bump on any
    # staging/index change so cached stale dirs regenerate instead of
    # silently testing the old index.
    key = hashlib.md5(f"{sf_dir}:bloom_orders:v5".encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"bdq_bloom_orders_{key}")
    marker = os.path.join(path, "_STAGED")
    if not os.path.exists(marker):
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        orders.repartitionByRange(16, "o_orderdate").write.mode(
            "overwrite"
        ).parquet(path)
        # size the filter to the data: ~16 bits per expected per-file
        # key (FP well under 1%), next power of two, floor 16384 — a
        # fixed bits value that prunes at sf0.01 saturates at 10x the
        # rows and the self-check below would (correctly) refuse
        n_rows = spark.read.parquet(path).count()
        bits = 16384
        while bits < 16 * (n_rows // 16 + 1):
            bits *= 2
        write_bloom_index(spark, path, ["o_orderkey"], bits=bits, hashes=5)
        # pin the probe key at staging so the steady-state query path is
        # pure index-resolve + pruned scan (a per-run max() would put a
        # full table scan in front of the point lookup being measured)
        probe_val = (
            spark.read.parquet(path)
            .agg(F.max("o_orderkey").alias("k"))
            .collect()[0]
            .k
        )
        with open(marker, "w") as fh:
            fh.write(f"{sf_dir}\n{probe_val}")
    with open(marker) as fh:
        probe = int(fh.read().splitlines()[1])
    census = bloom_candidate_files(spark, path, {"o_orderkey": probe})
    if not census["files"] or len(census["files"]) >= census["total"]:
        raise RuntimeError(
            "bloom pruning regressed — candidate census "
            f"{len(census['files'])}/{census['total']} files"
        )
    return read_bloom(
        spark, path, {"o_orderkey": probe}, candidates=census
    ).select(
        "o_orderkey", "o_custkey", "cents"
    )


@_register(
    "indexed_scan_orders",
    """
    WITH t AS (
      SELECT o_orderkey, o_custkey,
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS d,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    p AS (SELECT o_orderkey AS k, d AS pd FROM t
          WHERE o_orderkey = (SELECT max(o_orderkey) FROM t))
    SELECT t.o_orderkey, t.o_custkey, t.cents
    FROM t, p
    WHERE t.o_orderkey = p.k AND t.d BETWEEN p.pd - 30 AND p.pd + 30
    """,
)
def indexed_scan_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH sidecar indexes on one directory, resolved through the
    one-call :func:`read_indexed` API: orders staged ONCE Z-ordered
    over (epoch-day, price-cents) with a zonemap sidecar (range
    pruning) AND a Bloom sidecar on ``o_orderkey`` (equality
    pruning), then a combined query — a +-30-day range around the
    probe row's date plus the point key — prunes by the INTERSECTION
    of the two candidate sets.  SELF-ENFORCING three ways: each index
    must individually prune (candidates < total) and the intersection
    must not exceed either side.  Probe key and its day are pinned at
    staging (no per-run full scan).  Values hash against the raw-table
    filter, proving both prunings compose losslessly."""
    import hashlib
    import os

    from bdq_spark.operators.layout import zorder_layout
    from bdq_spark.sources.sinks import (
        bloom_candidate_files,
        indexed_candidate_files,
        read_indexed,
        write_bloom_index,
        write_zonemap,
        zonemap_candidate_files,
    )

    key = hashlib.md5(f"{sf_dir}:indexed_orders:v3".encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"bdq_indexed_orders_{key}")
    marker = os.path.join(path, "_STAGED")
    if not os.path.exists(marker):
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            ).alias("o_date_days"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        laid = zorder_layout(
            orders,
            [("d", F.col("o_date_days")), ("p", F.col("cents"))],
            bits=8,
            num_partitions=16,
        )
        write_zonemap(spark, laid, path, ["o_date_days", "cents"])
        n_rows = spark.read.parquet(path).count()
        bits = 16384
        while bits < 16 * (n_rows // 16 + 1):
            bits *= 2
        write_bloom_index(spark, path, ["o_orderkey"], bits=bits, hashes=5)
        probe_row = (
            spark.read.parquet(path)
            .orderBy(F.desc("o_orderkey"))
            .select("o_orderkey", "o_date_days")
            .limit(1)
            .collect()[0]
        )
        with open(marker, "w") as fh:
            fh.write(f"{sf_dir}\n{probe_row.o_orderkey}\n{probe_row.o_date_days}")
    with open(marker) as fh:
        _, probe_s, day_s = fh.read().splitlines()
    probe, day = int(probe_s), int(day_s)
    ranges = {"o_date_days": (day - 30, day + 30)}
    equals = {"o_orderkey": probe}
    cz = zonemap_candidate_files(spark, path, ranges)
    cb = bloom_candidate_files(spark, path, equals)
    ci = indexed_candidate_files(spark, path, ranges, equals)
    if not (
        ci["files"]
        and len(cz["files"]) < cz["total"]
        and len(cb["files"]) < cb["total"]
        and len(ci["files"]) <= min(len(cz["files"]), len(cb["files"]))
    ):
        raise RuntimeError(
            "combined index pruning regressed — zonemap "
            f"{len(cz['files'])}/{cz['total']}, bloom "
            f"{len(cb['files'])}/{cb['total']}, intersection "
            f"{len(ci['files'])}"
        )
    return read_indexed(
        spark, path, ranges, equals, candidates=ci
    ).select(
        "o_orderkey", "o_custkey", "cents"
    )


@_register(
    "indexed_append_scan_orders",
    """
    WITH t AS (
      SELECT o_orderkey, o_custkey,
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS d,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    p AS (SELECT o_orderkey AS k, d AS pd FROM t
          WHERE o_orderkey = (SELECT max(o_orderkey) FROM t))
    SELECT t.o_orderkey, t.o_custkey, t.cents
    FROM t, p
    WHERE t.o_orderkey = p.k AND t.d BETWEEN p.pd - 30 AND p.pd + 30
    """,
)
def indexed_append_scan_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL sidecar maintenance, gated end to end: orders staged
    in TWO ingest generations — the first written with
    :func:`write_zonemap` + :func:`write_bloom_index`, the second
    dropped into the same directory later and indexed by
    :func:`append_zonemap` + :func:`append_bloom` (the streaming-ingest
    path: census only the NEW files, never rebuild).  The combined
    range+point probe then resolves over the MERGED sidecars and must
    prune (each index individually, intersection bounded by both) while
    the census covers every file of both generations — so a hash match
    against DuckDB's raw-table filter proves append-maintained pruning
    is as lossless as a full rebuild.  New-file discovery at staging is
    an input_file_name diff (bounded by the staged dir's file count;
    a production appender passes the paths it just wrote)."""
    import hashlib
    import os

    from bdq_spark.sources.sinks import (
        append_bloom,
        append_zonemap,
        bloom_candidate_files,
        indexed_candidate_files,
        read_indexed,
        write_bloom_index,
        write_zonemap,
        zonemap_candidate_files,
        zonemap_manifest,
    )

    # v2: bloom bits sized from the FULL expected row count (ADVICE r9 —
    # v1 auto-sized from the gen1-only census, so gen2 doubled the key
    # population under the same bits and the per-file FPR ran at half
    # the intended bits/row vs the sibling indexed entries); bump on any
    # staging/index change so cached stale dirs regenerate instead of
    # silently testing old data
    key = hashlib.md5(f"{sf_dir}:indexed_append_orders:v2".encode())\
        .hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"bdq_idx_append_{key}")
    marker = os.path.join(path, "_STAGED")
    if not os.path.exists(marker):
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            ).alias("o_date_days"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        gen1 = orders.filter(F.col("o_orderkey") % 2 == 0)
        gen2 = orders.filter(F.col("o_orderkey") % 2 == 1)
        # size bits from the FULL row population (both generations) —
        # append_bloom extends under the staged _BLOOM_META bits, so
        # sizing from gen1 alone would run the merged index at half the
        # intended bits/row and erode the pruning margin
        n_rows = orders.count()
        write_zonemap(
            spark,
            gen1.repartitionByRange(8, "o_date_days"),
            path,
            ["o_date_days", "cents"],
        )
        bits = 16384
        while bits < 16 * (n_rows // 16 + 1):
            bits *= 2
        write_bloom_index(spark, path, ["o_orderkey"], bits=bits, hashes=5)
        gen1_files = set(zonemap_manifest(spark, path))
        gen2.repartitionByRange(8, "o_date_days").write.mode(
            "append"
        ).parquet(path)
        all_files = {
            r["f"]
            for r in spark.read.parquet(path)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        }
        new_files = sorted(all_files - gen1_files)
        append_zonemap(spark, path, new_files)
        append_bloom(spark, path, new_files)
        probe_row = (
            spark.read.parquet(path)
            .orderBy(F.desc("o_orderkey"))
            .select("o_orderkey", "o_date_days")
            .limit(1)
            .collect()[0]
        )
        with open(marker, "w") as fh:
            fh.write(
                f"{sf_dir}\n{probe_row.o_orderkey}\n"
                f"{probe_row.o_date_days}\n{len(all_files)}"
            )
    with open(marker) as fh:
        _, probe_s, day_s, nf_s = fh.read().splitlines()
    probe, day, n_files = int(probe_s), int(day_s), int(nf_s)
    ranges = {"o_date_days": (day - 30, day + 30)}
    equals = {"o_orderkey": probe}
    cz = zonemap_candidate_files(spark, path, ranges)
    cb = bloom_candidate_files(spark, path, equals)
    ci = indexed_candidate_files(spark, path, ranges, equals)
    if not (
        ci["files"]
        and cz["total"] == cb["total"] == n_files
        and len(cz["files"]) < cz["total"]
        and len(cb["files"]) < cb["total"]
        and len(ci["files"]) <= min(len(cz["files"]), len(cb["files"]))
    ):
        raise RuntimeError(
            "append-maintained index pruning regressed — zonemap "
            f"{len(cz['files'])}/{cz['total']}, bloom "
            f"{len(cb['files'])}/{cb['total']}, intersection "
            f"{len(ci['files'])}, expected census {n_files}"
        )
    return read_indexed(
        spark, path, ranges, equals, candidates=ci
    ).select("o_orderkey", "o_custkey", "cents")


@_register(
    "streaming_ingest_dedup_index",
    """
    WITH feed AS (
      SELECT doc_id, text, lang, n_chars FROM documents
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id, upper(text) AS text,
             lang, n_chars
      FROM documents WHERE doc_id % 3 = 0),
    fp AS (
      SELECT doc_id, lang, n_chars,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
      FROM feed),
    keep AS (
      SELECT doc_id, lang, n_chars FROM (
        SELECT doc_id, lang, n_chars,
               row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rk
        FROM fp) WHERE rk = 1)
    SELECT doc_id, lang, n_chars FROM keep
    WHERE n_chars BETWEEN 250 AND 350
    UNION
    SELECT doc_id, lang, n_chars FROM keep
    WHERE doc_id = (SELECT max(doc_id) FROM keep)
    """,
)
def streaming_ingest_dedup_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end streaming INGEST → DEDUP → INDEX pipeline, value-hash
    gated against a one-shot oracle — the documents-scale composition
    VERDICT r9 item 6 named: a corpus arrives as ordered micro-batches
    (a third of which are synthesized case-variant duplicates of earlier
    documents, so dedup provably fires both WITHIN a batch and ACROSS
    batches), driven through a TRUE readStream → ``foreachBatch`` run
    where every trigger (a) anti-joins the batch against the
    corpus-so-far on the normalized-text fingerprint
    (:func:`incremental_fingerprint_dedup` probing the corpus's STORED
    fingerprint column — a column-pruned 16-byte scan, never a re-hash
    of accumulated text; only the small batch carries full rows),
    (b) appends the survivors as n_chars-range-clustered parquet, and
    (c) extends BOTH sidecar indexes incrementally
    (:func:`append_zonemap` + :func:`append_bloom` — census only the
    files this trigger wrote, never a rebuild).  The final state is
    probed through the merged sidecars — an ``n_chars`` range scan
    (zonemap-pruned) unioned with a point lookup of the max surviving
    ``doc_id`` (bloom-pruned), both asserted to actually prune — and
    must hash-equal DuckDB applying the whole feed at once (dedup =
    global min-id per fingerprint; pruning = lossless).  That single
    compare proves the three claims jointly: stream/batch dedup
    unification, append-maintained indexes as lossless as a full
    rebuild, and exactly-once ingest under availableNow.

    Keeper determinism across batches relies on arrival order (first
    occurrence wins), so the staged feed pins file mtimes hours apart —
    ``FileStreamSource`` schedules oldest-first and all duplicates
    carry ``+10_000_000`` ids, making arrival-order keepers equal the
    oracle's global min-id keepers.  New-file discovery per trigger is
    an ``input_file_name`` diff (bounded by the corpus dir's file
    count, ≤ ~12 here; a production appender passes the paths it just
    wrote).  Scale: per-trigger cost is O(batch + distinct corpus
    fingerprints + new files) — nothing re-scans or re-indexes the
    accumulated corpus."""
    import hashlib
    import os

    from bdq_spark.operators.dedup import incremental_fingerprint_dedup
    from bdq_spark.sources.sinks import (
        append_bloom,
        append_zonemap,
        bloom_candidate_files,
        read_indexed,
        write_bloom_index,
        write_zonemap,
        zonemap_candidate_files,
    )

    key = hashlib.md5(f"{sf_dir}:stream_dedup_idx:v1".encode()).hexdigest()[
        :12
    ]
    feed_dir = os.path.join(
        tempfile.gettempdir(), f"bdq_stage_sdi_feed_{key}"
    )
    marker = os.path.join(feed_dir, "_STAGED")
    if not os.path.exists(marker):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "n_chars"
        )
        dups = docs.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
            F.upper(F.col("text")).alias("text"),
            "lang",
            "n_chars",
        )
        feed = docs.unionByName(dups)
        n = docs.agg(F.max("doc_id")).first()[0] + 1
        t1, t2 = n // 3, 2 * n // 3
        # g0/g1: the low/mid thirds of the original corpus; g2: the top
        # third PLUS every duplicate (+1e7 ids) — so g2-originals' dups
        # are INTRA-batch (min-id keeper within one trigger) and
        # g0/g1-originals' dups are CROSS-batch (anti-join vs corpus)
        parts = [
            feed.filter(F.col("doc_id") < t1),
            feed.filter((F.col("doc_id") >= t1) & (F.col("doc_id") < t2)),
            feed.filter(F.col("doc_id") >= t2),
        ]
        # fixed epoch (not wall clock): staged dirs cache across runs and
        # FileStreamSource ages files against the NEWEST seen timestamp,
        # so any fixed base keeps all three inside the maxFileAge window
        base_ts = 1_700_000_000
        for i, p in enumerate(parts):
            gdir = os.path.join(feed_dir, f"g{i}")
            p.coalesce(1).write.mode("overwrite").parquet(gdir)
            for fname in os.listdir(gdir):
                os.utime(
                    os.path.join(gdir, fname),
                    (base_ts + 3600 * i, base_ts + 3600 * i),
                )
        total_rows = feed.count()
        kept = feed.groupBy(
            F.md5(
                F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
            ).alias("f")
        ).agg(F.min("doc_id").alias("k"))
        expected_kept = kept.count()
        probe = kept.agg(F.max("k")).first()[0]
        with open(marker, "w") as fh:
            fh.write(f"{sf_dir}\n{total_rows}\n{expected_kept}\n{probe}")
    with open(marker) as fh:
        _, total_s, kept_s, probe_s = fh.read().splitlines()
    total_rows, expected_kept, probe = (
        int(total_s), int(kept_s), int(probe_s),
    )

    corpus = tempfile.mkdtemp(prefix="entry_sdi_corpus_")
    ckpt = tempfile.mkdtemp(prefix="entry_sdi_ckpt_")
    # bloom bits sized from the FULL expected ingest (kept ≤ total), the
    # sizing basis the append path extends under (ADVICE r9)
    bits = 16384
    while bits < 16 * (total_rows // 16 + 1):
        bits *= 2

    def _data_files(s) -> dict:
        """``{basename: uri}`` of the corpus dir's parquet data files
        via a Hadoop-FS LISTING — an O(files) driver metadata call on
        any filesystem.  The pre-r13 implementation diffed
        ``input_file_name()`` over a full corpus read (a DATA scan of
        every file, plus a second O(files) driver collect of the
        zonemap manifest) per trigger; the listing replaces both
        (OPTIMIZATION_r13, guide §5/§6 — new-file discovery is
        metadata, not data).  Keyed by basename so the diff is
        format-stable; the URIs feed spark.read directly."""
        jvm = s._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(corpus)
        fs = hpath.getFileSystem(s._jsc.hadoopConfiguration())
        out = {}
        for st in fs.listStatus(hpath):
            name = st.getPath().getName()
            if st.isFile() and name.endswith(".parquet"):
                out[name] = st.getPath().toUri().toString()
        return out

    # the corpus schema is fixed by the ingest projection below — state
    # it at every read so no trigger (and no final probe) pays the
    # footer-inference job spark.read.parquet schedules per schema-less
    # read (OPTIMIZATION_r14, guide §1.2: at any scale that job is a
    # serial round of driver latency per trigger)
    corpus_ddl = (
        "doc_id bigint, text string, lang string, n_chars bigint, "
        "fingerprint string"
    )

    def ingest(batch_df, batch_id: int) -> None:
        from concurrent.futures import ThreadPoolExecutor

        from bdq_spark.functions.text import doc_fingerprint

        s = batch_df.sparkSession
        first = not os.path.exists(os.path.join(corpus, "_ZONEMAP"))
        # the corpus stores its fingerprints as a column, so each
        # trigger's probe is a column-pruned 16-byte scan — never a
        # re-hash of the accumulated corpus's full text
        prior = (
            batch_df.limit(0).withColumn("fingerprint", F.lit(""))
            if first
            else s.read.schema(corpus_ddl).parquet(corpus)
        )
        kept_batch = incremental_fingerprint_dedup(
            prior, batch_df, corpus_fingerprint_column="fingerprint"
        ).select(
            "doc_id",
            "text",
            "lang",
            "n_chars",
            doc_fingerprint(F.col("text")).alias("fingerprint"),
        )
        clustered = kept_batch.repartitionByRange(4, "n_chars")
        if first:
            write_zonemap(s, clustered, corpus, ["n_chars", "doc_id"])
            write_bloom_index(
                s, corpus, ["doc_id"], bits=bits, hashes=5,
                schema_ddl=corpus_ddl,
            )
            return
        before = set(_data_files(s))
        clustered.write.mode("append").parquet(corpus)
        after = _data_files(s)
        new_files = sorted(
            uri for name, uri in after.items() if name not in before
        )
        if new_files:
            # ONE scan of the just-written batch files feeds BOTH
            # sidecar censuses (guide §6: the batch bytes cross the
            # disk once, not once per sidecar — __file staged from
            # input_file_name BEFORE the persist, which an in-memory
            # scan cannot recover), and the two appends remain
            # INDEPENDENT jobs overlapped so the trigger pays one
            # round of fixed job latency, not two (guide §2.6);
            # count_appended=False skips the summary-only census count
            # job (the return value is unused here)
            shared = (
                s.read.schema(corpus_ddl).parquet(*new_files)
                .withColumn("__file", F.input_file_name())
                .persist()
            )
            try:
                # fill the cache before the two appends start: left
                # lazy, each append's plan schedules its own cache-fill
                # jobs unless the other append got there first, so the
                # trigger's job count would depend on thread timing
                shared.count()
                with ThreadPoolExecutor(max_workers=2) as pool:
                    fz = pool.submit(
                        append_zonemap, s, corpus, new_files,
                        count_appended=False, schema_ddl=corpus_ddl,
                        batch=shared,
                    )
                    fb = pool.submit(
                        append_bloom, s, corpus, new_files,
                        count_appended=False, schema_ddl=corpus_ddl,
                        batch=shared,
                    )
                    fz.result(), fb.result()
            finally:
                shared.unpersist()

    try:
        stream = (
            spark.readStream.schema(
                "doc_id bigint, text string, lang string, n_chars bigint"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{feed_dir}/g*")
        )
        q = (
            stream.writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                "streaming_ingest_dedup_index: stream did not finish "
                "within 300 s — refusing to probe a partial corpus"
            )
        n_kept = spark.read.schema(corpus_ddl).parquet(corpus).count()
        if n_kept != expected_kept:
            raise RuntimeError(
                f"incremental dedup regressed — corpus holds {n_kept} "
                f"docs, one-shot dedup keeps {expected_kept}"
            )
        ranges = {"n_chars": (250, 350)}
        equals = {"doc_id": probe}
        # the two sidecar resolutions are independent — overlap them
        # (guide §2.6), same as the per-trigger appends above
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fz = pool.submit(zonemap_candidate_files, spark, corpus, ranges)
            fb = pool.submit(bloom_candidate_files, spark, corpus, equals)
            cz, cb = fz.result(), fb.result()
        if not (
            cb["files"]
            and cz["total"] == cb["total"]
            and len(cz["files"]) < cz["total"]
            and len(cb["files"]) < cb["total"]
        ):
            raise RuntimeError(
                "append-maintained pruning regressed — zonemap "
                f"{len(cz['files'])}/{cz['total']}, bloom "
                f"{len(cb['files'])}/{cb['total']}"
            )
        band = read_indexed(
            spark, corpus, ranges=ranges, candidates=cz,
            schema_ddl=corpus_ddl,
        )
        point = read_indexed(
            spark, corpus, equals=equals, candidates=cb,
            schema_ddl=corpus_ddl,
        )
        cols = ["doc_id", "lang", "n_chars"]
        return (
            band.select(*cols)
            .union(point.select(*cols))
            .distinct()
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(corpus, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


_MATVIEW_ORACLE = """
WITH fin AS (
  SELECT CASE WHEN o_orderkey % 10 < 7 AND o_orderkey % 13 = 0
                   AND o_orderkey % 17 <> 0
              THEN CASE WHEN o_orderstatus = 'O' THEN 'F' ELSE 'O' END
              ELSE o_orderstatus END AS o_orderstatus,
         CASE WHEN o_orderkey % 10 < 7 AND o_orderkey % 13 = 0
                   AND o_orderkey % 17 <> 0
              THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 10.00 AS DOUBLE)
              ELSE o_totalprice END AS price
  FROM orders
  WHERE NOT (o_orderkey % 10 < 7 AND o_orderkey % 17 = 0))
SELECT o_orderstatus,
       CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       count(*) AS cnt,
       round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4)
         AS avg_price
FROM fin GROUP BY 1
"""


def _matview_feed(orders: DataFrame, base: DataFrame):
    """The synthesized before/after-image change feed shared by the
    batch (`orders_incremental_matview`) and streaming
    (`streaming_matview_merge`) IVM entries: batch 1 = inserts
    (``%10 in (7,8)``); batch 2 = inserts (``%10 = 9``) + group-moving
    updates (``%13 = 0``, status flips O<->F/P->O, price +10.00 exact
    decimal) + deletes (``%17 = 0``)."""

    def feed(df, op, status_col, price_col):
        return df.select(
            F.lit(op).alias("op"),
            (
                F.col("o_orderstatus")
                if op != "I"
                else F.lit(None).cast("string")
            ).alias("before_o_orderstatus"),
            (
                F.col("o_totalprice")
                if op != "I"
                else F.lit(None).cast("double")
            ).alias("before_o_totalprice"),
            status_col.alias("after_o_orderstatus"),
            price_col.alias("after_o_totalprice"),
        )

    none_s, none_d = F.lit(None).cast("string"), F.lit(None).cast("double")
    b1 = feed(
        orders.where("o_orderkey % 10 IN (7, 8)"),
        "I",
        F.col("o_orderstatus"),
        F.col("o_totalprice"),
    )
    ins9 = feed(
        orders.where("o_orderkey % 10 = 9"),
        "I",
        F.col("o_orderstatus"),
        F.col("o_totalprice"),
    )
    upd = feed(
        base.where("o_orderkey % 13 = 0 AND o_orderkey % 17 != 0"),
        "U",
        F.when(F.col("o_orderstatus") == "O", F.lit("F")).otherwise("O"),
        (F.col("o_totalprice").cast("decimal(18,2)") + F.lit("10.00").cast("decimal(18,2)")).cast(
            "double"
        ),
    )
    dele = base.where("o_orderkey % 17 = 0").select(
        F.lit("D").alias("op"),
        F.col("o_orderstatus").alias("before_o_orderstatus"),
        F.col("o_totalprice").alias("before_o_totalprice"),
        none_s.alias("after_o_orderstatus"),
        none_d.alias("after_o_totalprice"),
    )
    return b1, ins9.unionAll(upd).unionAll(dele)


def _matview_final_select(view: DataFrame) -> DataFrame:
    return view.select(
        "o_orderstatus",
        F.col("sum_o_totalprice").cast("double").alias("sum_price"),
        "cnt",
        F.round(
            F.col("sum_o_totalprice").cast("double") / F.col("cnt"), 4
        ).alias("avg_price"),
    )


@_register("orders_incremental_matview", _MATVIEW_ORACLE)
def orders_incremental_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-rule incremental view maintenance, end-to-end: build the
    per-status revenue view over an initial orders snapshot (keys with
    ``%10 < 7``), then apply TWO synthesized change batches — inserts
    (``%10 in (7,8)``, then ``%10 = 9``), group-moving updates
    (``%13 = 0``: status flips O<->F/P->O and price +10.00 in exact
    decimal) and deletes (``%17 = 0``) — through
    :func:`bdq_spark.operators.matview.maintain_agg_view`.  The oracle
    computes the view DIRECTLY from the net final state, so a match
    proves the incremental path is exactly the from-scratch aggregate
    (the IVM correctness criterion).  Scale: each batch touches only
    the change feed + a full-outer merge on the (broadcastable) delta
    frame — the base table is never re-aggregated; per-batch cost is
    O(changes), the property measured flat for the CDC sink family.
    """
    from bdq_spark.operators.matview import agg_view, maintain_agg_view

    orders = load_table(spark, sf_dir, "orders")
    keys, meas = ["o_orderstatus"], ["o_totalprice"]
    base = orders.where("o_orderkey % 10 < 7")
    view = agg_view(base, keys, meas)
    b1, b2 = _matview_feed(orders, base)
    v1 = maintain_agg_view(view, b1, keys, meas)
    v2 = maintain_agg_view(v1, b2, keys, meas)
    return _matview_final_select(v2)


@_register("orders_snapshot_diff_matview", _MATVIEW_ORACLE)
def orders_snapshot_diff_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full-dump CLOSED LOOP: when a source only ships snapshots,
    :func:`snapshot_changes` derives the Debezium-style feed (one
    full-outer join on the row key, O(changed) output) and the SAME
    maintenance machinery consumes it — this entry diffs the initial
    orders snapshot against the net final state, feeds the derived
    changes through :func:`maintain_agg_view`, and must land on exactly
    the direct aggregation of the final state (the same oracle as the
    synthesized-feed entry, reached via diff -> feed -> IVM instead).
    Scale: the diff is one key-partitioned join; everything downstream
    is O(changed)."""
    from bdq_spark.operators.matview import (
        agg_view,
        maintain_agg_view,
        snapshot_changes,
    )

    orders = load_table(spark, sf_dir, "orders")
    keys, meas = ["o_orderstatus"], ["o_totalprice"]
    old = orders.select("o_orderkey", "o_orderstatus", "o_totalprice").where(
        "o_orderkey % 10 < 7"
    )
    changed = F.expr(
        "o_orderkey % 10 < 7 AND o_orderkey % 13 = 0 AND o_orderkey % 17 != 0"
    )
    new = (
        orders.where("NOT (o_orderkey % 10 < 7 AND o_orderkey % 17 = 0)")
        .select(
            "o_orderkey",
            F.when(
                changed,
                F.when(F.col("o_orderstatus") == "O", F.lit("F")).otherwise(
                    "O"
                ),
            )
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
            F.when(
                changed,
                (
                    F.col("o_totalprice").cast("decimal(18,2)")
                    + F.lit("10.00").cast("decimal(18,2)")
                ).cast("double"),
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
    )
    feed = snapshot_changes(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )
    maintained = maintain_agg_view(agg_view(old, keys, meas), feed, keys, meas)
    return _matview_final_select(maintained)


#: staged matview feed version — bump on any _matview_feed / schema
#: change so cached temp dirs regenerate (the CDC staging lesson)
_MATVIEW_FEED_VERSION = 1


@_register("streaming_matview_merge", _MATVIEW_ORACLE)
def streaming_matview_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental view maintenance — the same synthesized
    before/after-image feed as ``orders_incremental_matview``, staged
    as parquet micro-batch groups and driven through a TRUE readStream
    -> ``foreachBatch`` fold: each micro-batch contributes its
    per-group deltas (``view_deltas`` — at most |groups| rows per
    batch), the accumulator sums them in exact Decimal, and the final
    view applies the accumulated delta once.  Because delta application
    is ADDITIVE (sums/counts commute), the result is independent of how
    the file source splits micro-batches — so the same direct-
    aggregation oracle value-checks the streaming run; micro-batch
    replay is keyed out by batch_id.  The streaming twin of the IVM
    correctness criterion: stream/batch unification for aggregate
    maintenance, like ``streaming_cdc_merge`` is for MERGE."""
    import hashlib
    import os
    from decimal import Decimal

    from bdq_spark.operators.matview import agg_view, apply_deltas, view_deltas

    orders = load_table(spark, sf_dir, "orders")
    keys, meas = ["o_orderstatus"], ["o_totalprice"]
    base = orders.where("o_orderkey % 10 < 7")

    key = hashlib.md5(
        f"{sf_dir}:matview_feed:v{_MATVIEW_FEED_VERSION}".encode()
    ).hexdigest()[:12]
    feed_dir = os.path.join(
        tempfile.gettempdir(), f"bdq_stage_matview_feed_{key}"
    )
    marker = os.path.join(feed_dir, "_STAGED")
    expected_marker = f"{sf_dir}:v{_MATVIEW_FEED_VERSION}"
    staged = os.path.exists(marker) and open(marker).read() == expected_marker
    if not staged:
        b1, b2 = _matview_feed(orders, base)
        for i, b in enumerate((b1, b2)):
            b.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(feed_dir, f"g{i}")
            )
        with open(marker, "w") as fh:
            fh.write(expected_marker)

    ckpt = tempfile.mkdtemp(prefix="entry_smv_ckpt_")
    acc: dict = {}
    seen: set = set()
    n_batches = [0]

    def fold(df, batch_id):
        if batch_id in seen:
            return
        seen.add(batch_id)
        n_batches[0] += 1
        for r in view_deltas(df, keys, meas).collect():  # <= |groups| rows
            a = acc.setdefault(r.o_orderstatus, [Decimal(0), 0])
            a[0] += r.sum_o_totalprice
            a[1] += r.cnt

    q = (
        spark.readStream.schema(
            "op string, before_o_orderstatus string, "
            "before_o_totalprice double, after_o_orderstatus string, "
            "after_o_totalprice double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{feed_dir}/g*")
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                "streaming_matview_merge: stream did not finish in 300 s"
            )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    if not n_batches[0]:
        raise RuntimeError("stream terminated without processing any batch")
    deltas = spark.createDataFrame(
        [(k, v[0], v[1]) for k, v in acc.items()],
        "o_orderstatus string, sum_o_totalprice decimal(28,2), cnt long",
    )
    final = apply_deltas(agg_view(base, keys, meas), deltas, keys, meas)
    return _matview_final_select(final)


# ---------------------------------------------------------------------------
# Registry ordering.  The driver's correctness harness checks the first
# 50 entries of ``queries()``, so this list is its contract: these names
# lead ``QUERIES`` in this order (``tests/test_registry.py`` pins it).
# Every query keeps its oracle; this only changes dict iteration order.
# ---------------------------------------------------------------------------

_DRIVER_PRIORITY = [
    "embedding_near_dup_pairs_multitable",
    "persisted_vector_index_probe",
    "knn_rerank_embeddings",
    "streaming_ingest_vector_index",
    "streaming_ingest_dedup_index",
    "minhash_lsh_near_dup",
    "incremental_minhash_near_dup",
    "persisted_minhash_index_probe",
    "knn_lsh_embeddings",
    "knn_multiprobe_embeddings",
    "embedding_near_dup_pairs",
    "embedding_dedup_clusters",
    "embedding_kmeans_quantized",
    "knn_ivf_quantized",
    "doc_quality",
    "doc_repetition",
    "doc_stats",
    "fk_broken_sampled",
    "histogram_orders_totalprice",
    "incremental_minhash_md5",
    "indexed_scan_orders",
    "knn_ivf_embeddings",
    "knn_quantized_embeddings",
    "language_confusion",
    "latest_events",
    "latest_events_conflict",
    "minhash_md5_near_dup",
    "near_dup_edit_verified",
    "near_dup_jaccard",
    "pk_validate_lineitem_composite",
    "pk_validate_lineitem_orderkey",
    "pricing_summary",
    "profile_drift_orders",
    "quantiles_lineitem_by_flag",
    "simhash_fingerprints",
    "simhash_md5_pairs",
    "simhash_pairs",
    "stateful_running_counter",
    "stateful_sessionize",
    "streaming_interval_join",
    "surrogate_key_hash_customer",
    "surrogate_key_string_customer",
    "vocab_stats_documents",
    "zonemap_pruned_scan",
    "corpus_training_pipeline",
    "documents_deduped",
    "pagerank_part_supplier",
    "near_dup_clusters",
    "near_dup_kcore",
    "events_running_zscore",
    "bpe_train_merges",
    "doc_bpe_packing",
    "corpus_prepare_neardup",
    "docs_kcore_graph",
    "pk_minimal_combinations",
    "near_dup_triangles",
    "bloom_pruned_scan",
    "streaming_cdc_merge",
    "multimodal_mjpeg_pixel_stats",
    "multimodal_rle8_pixel_stats",
    "multimodal_video_frames",
]


_missing = [n for n in _DRIVER_PRIORITY if n not in QUERIES]
if _missing:  # guard against silent drift if a query is renamed
    raise RuntimeError(f"_DRIVER_PRIORITY names not registered: {_missing}")
QUERIES = {
    **{n: QUERIES[n] for n in _DRIVER_PRIORITY},
    **{n: f for n, f in QUERIES.items() if n not in _DRIVER_PRIORITY},
}
