"""Tests for the public plan-scale lint (bdq_spark/plans/plan_lint.py).

Each rule gets a REAL physical plan that triggers it (built on the test
session) and a clean plan that must not; the text-input path is used for
rules whose trigger is easier to pin with a crafted plan string (the
lint contract accepts either a DataFrame or captured explain text).
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bdq_spark.plans.plan_lint import (
    PlanScaleError,
    assert_scalable,
    count_jobs,
    lint_plan,
    plan_fingerprint,
    plan_text,
)

SF_DIR = "/root/testdata/sf0.001"


def rules_of(findings):
    return {f.rule for f in findings}


def rule(findings, name):
    hits = [f for f in findings if f.rule == name]
    assert hits, f"expected finding {name!r}, got {sorted(rules_of(findings))}"
    return hits[0]


@pytest.fixture()
def no_broadcast(spark):
    """Disable auto-broadcast so join strategies degrade to their
    big-big forms (CartesianProduct / SortMergeJoin)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield spark
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_cartesian_product_is_error(no_broadcast):
    spark = no_broadcast
    df = spark.range(10).crossJoin(spark.range(10).withColumnRenamed("id", "j"))
    f = rule(lint_plan(df), "cartesian-product")
    assert f.severity == "ERROR"
    with pytest.raises(PlanScaleError) as ei:
        assert_scalable(df)
    assert "cartesian-product" in str(ei.value)
    # explicit allow waives exactly this rule
    assert "cartesian-product" not in rules_of(
        lint_plan(df, allow={"cartesian-product"})
    )
    assert_scalable(df, allow={"cartesian-product"})


def test_row_udf_is_error_arrow_udf_is_not(spark):
    slow = F.udf(lambda x: x + 1, "long")
    df = spark.range(10).select(slow("id").alias("y"))
    assert rule(lint_plan(df), "python-row-udf").severity == "ERROR"

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def fast(s):
        return s + 1

    vec = spark.range(10).select(fast("id").alias("y"))
    assert "python-row-udf" not in rules_of(lint_plan(vec))


def test_unpartitioned_window_is_single_partition_error(spark):
    df = spark.range(100).withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    f = rule(lint_plan(df), "single-partition-exchange")
    assert f.severity == "ERROR"
    # the fix the remedy suggests: partitionBy makes it a keyed shuffle
    keyed = spark.range(100).withColumn(
        "rn", F.row_number().over(Window.partitionBy("id").orderBy("id"))
    )
    assert "single-partition-exchange" not in rules_of(lint_plan(keyed))


def test_nested_loop_join_is_warn(spark):
    # default conf broadcasts the small side: cross join becomes BNLJ
    df = spark.range(10).crossJoin(
        spark.range(3).withColumnRenamed("id", "j")
    )
    f = rule(lint_plan(df), "nested-loop-join")
    assert f.severity == "WARN"
    assert_scalable(df)  # WARN does not raise at default fail_on
    with pytest.raises(PlanScaleError):
        assert_scalable(df, fail_on="WARN")


def test_sort_merge_join_is_warn(no_broadcast):
    spark = no_broadcast
    a = spark.range(1000)
    b = spark.range(1000).withColumnRenamed("id", "id2")
    df = a.join(b, a.id == b.id2)
    assert rule(lint_plan(df), "sort-merge-join").severity == "WARN"
    # broadcast hint removes it (the remedy)
    hinted = a.join(F.broadcast(b), a.id == b.id2)
    assert "sort-merge-join" not in rules_of(lint_plan(hinted))


def test_wide_scan_warn_and_pruned_scan_clean(spark):
    wide = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")  # 16 columns
    assert rule(lint_plan(wide), "wide-scan").severity == "WARN"
    pruned = wide.select("l_orderkey", "l_quantity")
    assert "wide-scan" not in rules_of(lint_plan(pruned))
    # threshold is a knob
    assert "wide-scan" in rules_of(lint_plan(pruned, wide_scan_columns=2))


def test_unpushed_filter_scan_info_from_plan_text():
    has_push = (
        "(1) Scan parquet\n"
        "PushedFilters: [IsNotNull(a), EqualTo(a,5)]\n"
        "ReadSchema: struct<a:bigint>\n"
        "(2) Filter\n"
    )
    assert "unpushed-filter-scan" not in rules_of(lint_plan(has_push))
    no_push = (
        "(1) Scan parquet\n"
        "PushedFilters: []\n"
        "ReadSchema: struct<a:bigint>\n"
        "(2) Filter\n"
    )
    f = rule(lint_plan(no_push), "unpushed-filter-scan")
    assert f.severity == "INFO"
    # a filter-free plan (pure scan) is not flagged
    assert "unpushed-filter-scan" not in rules_of(
        lint_plan("(1) Scan parquet\nPushedFilters: []\n"
                  "ReadSchema: struct<a:bigint>\n")
    )


def test_lineage_truncation_info(spark):
    df = spark.range(10).localCheckpoint(eager=False)
    assert rule(lint_plan(df), "lineage-truncation").severity == "INFO"


def test_clean_plan_has_no_findings(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .select("o_orderkey", "o_totalprice")
        .where(F.col("o_totalprice") > 1000)
        .groupBy()
        .agg(F.sum("o_totalprice").alias("s"))
    )
    assert lint_plan(df) == []
    assert_scalable(df, fail_on="INFO")


def test_fingerprint_matches_golden_contract(spark):
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey"
    ).where(F.col("o_orderkey") > 0)
    fp = plan_fingerprint(df)
    assert set(fp) == {
        "exchanges",
        "broadcast_hash_joins",
        "sort_merge_joins",
        "pushed_scans",
        "cartesian",
        "rdd_scans",
    }
    assert fp["pushed_scans"] == 1 and not fp["cartesian"]
    # text and DataFrame inputs agree
    assert plan_fingerprint(plan_text(df)) == fp


def test_count_jobs_counts_grouped_jobs_and_stages_that_ran(spark):
    """The construct_jobs / construct_stages golden counters: jobs run
    under a job group count (streaming micro-batches and pipeline
    steps run in one), and a map stage that a second job skips because
    its shuffle is already written counts once."""
    from operator import add

    sc = spark.sparkContext
    rdd = sc.parallelize(range(12), 2).map(lambda x: (x % 3, 1))
    summed = rdd.reduceByKey(add)
    with count_jobs(spark) as counts:
        sc.setJobGroup("count-jobs-test", "grouped jobs are counted")
        try:
            summed.collect()
            summed.collect()  # map stage skipped: shuffle reused
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    assert counts == {"jobs": 2, "stages": 3}


def test_findings_sorted_worst_first_and_str(no_broadcast):
    spark = no_broadcast
    df = (
        spark.range(50)
        .crossJoin(spark.range(2).withColumnRenamed("id", "j"))
        .withColumn("rn", F.row_number().over(Window.orderBy("id")))
    )
    findings = lint_plan(df)
    sev = [f.severity for f in findings]
    assert sev == sorted(sev, key={"ERROR": 0, "WARN": 1, "INFO": 2}.get)
    assert "cartesian-product" in str(rule(findings, "cartesian-product"))


def test_registry_entries_pass_scale_lint(spark):
    """The engine's own query surface passes the lint it ships: a cheap
    representative subset (full 162-entry sweep done out-of-band each
    round — zero ERROR findings as of r8) must construct plans with no
    ERROR-severity shapes.  WARN/INFO are allowed: the registry's 1-row
    scalar-aggregate broadcasts legitimately show nested-loop joins."""
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    subset = [
        "latest_events",
        "orders_rollup_by_year",
        "large_order_customers",
        "salted_join_revenue",
        "near_dup_jaccard",
        "docs_bm25_search",
        "orders_hll_custkey",
    ]
    for name in subset:
        findings = lint_plan(queries[name](spark, SF_DIR))
        errors = [f for f in findings if f.severity == "ERROR"]
        assert errors == [], f"{name}: {[str(f) for f in errors]}"


def test_aqe_section_marker_is_not_the_exchange_child(spark):
    """ADVICE r8: in executed-AQE formatted plans, section markers
    ("+- == Initial Plan ==") interleave the tree.  The single-
    partition rule must scan FORWARD to the next real node when the
    line after an Exchange is not a node, instead of treating an
    unparsed neighbor as a missing (hence hazardous) child."""
    # synthetic: marker sits between the SinglePartition exchange and
    # its reducing child — benign, must not be flagged
    benign = (
        "== Physical Plan ==\n"
        "AdaptiveSparkPlan (5)\n"
        "+- == Final Plan ==\n"
        "   HashAggregate (4)\n"
        "   +- Exchange (3)\n"
        "      +- == Current Plan ==\n"
        "         HashAggregate (2)\n"
        "            +- Scan parquet  (1)\n"
        "\n"
        "(3) Exchange\n"
        "Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]\n"
    )
    assert "single-partition-exchange" not in rules_of(lint_plan(benign))
    # twin: the next real node past the marker is NOT reducing — the
    # funnel is genuine and must still be flagged
    hazard = benign.replace("         HashAggregate (2)\n",
                            "         Sort (2)\n")
    assert "single-partition-exchange" in rules_of(lint_plan(hazard))
    # real executed-AQE plan: a global aggregate stays clean after the
    # adaptive plan has run (markers + QueryStage nodes in the tree)
    df = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .groupBy()
        .agg(F.sum("o_totalprice").alias("s"))
    )
    df.collect()
    executed = plan_text(df)
    assert "== Final Plan ==" in executed  # precondition: AQE ran
    assert "single-partition-exchange" not in rules_of(lint_plan(executed))
