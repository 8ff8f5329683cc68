"""SparkPipeline tests — semantics from
/root/reference/tests/spark_pipeline_test.py plus table-sink, state-store,
metrics and failure-path coverage."""

import pytest
from pyspark.sql import functions as F

from bdq_spark.plans import SparkPipeline


def test_step_spark_temp_view_pipeline(spark):
    ppn = SparkPipeline("sample", spark=spark)

    @ppn.step_spark_temp_view()
    def raw_data_single_source(step):
        return spark.range(1, 10)

    @ppn.step_spark_temp_view(outputs="raw_nice_name")
    def raw_data_single_source_with_custom_name(step):
        return spark.range(100, 110)

    @ppn.step_spark_temp_view(outputs=["raw_data1", "raw_data2"])
    def raw_data_multi_source(step):
        return [spark.range(1000, 2000), spark.range(2000, 3000)]

    @ppn.step_spark_temp_view(
        depends_on=[
            raw_data_single_source,
            raw_data_single_source_with_custom_name,
            "raw_data1",
            "raw_data2",
        ]
    )
    def combine_data(step):
        return (
            spark.table("raw_data_single_source")
            .union(spark.table("raw_nice_name"))
            .union(spark.table("raw_data1"))
            .union(spark.table("raw_data2"))
        )

    @ppn.step_spark_temp_view(depends_on=combine_data, outputs=["odd", "even"])
    def split_data(step):
        df = spark.table("combine_data")
        return [df.filter("id % 2 == 1"), df.filter("id % 2 == 0")]

    results = ppn(max_concurrent_steps=10)

    assert list(ppn.skipped_steps) == []
    assert list(ppn.error_steps) == []
    assert set(ppn.success_steps.values()) == {
        raw_data_single_source,
        raw_data_single_source_with_custom_name,
        raw_data_multi_source,
        combine_data,
        split_data,
    }
    assert results == ppn.success_steps
    assert ppn.is_success

    # golden row contents (odd/even split over the union of the 4 ranges)
    total = 9 + 10 + 1000 + 1000
    odd = spark.table("odd").collect()
    even = spark.table("even").collect()
    assert len(odd) + len(even) == total
    assert all(r.id % 2 == 1 for r in odd)
    assert all(r.id % 2 == 0 for r in even)


def test_step_failure_propagates_and_skips(spark):
    ppn = SparkPipeline("failing", spark=spark)

    @ppn.step_python()
    def good(step):
        return 1

    @ppn.step_python(depends_on=[good])
    def bad(step):
        raise RuntimeError("boom")

    @ppn.step_python(depends_on=[bad])
    def never(step):
        return 3

    with pytest.raises(ValueError, match="have failed"):
        ppn()

    assert list(ppn.error_steps) == ["bad"]
    assert list(ppn.skipped_steps) == ["never"]
    assert list(ppn.success_steps) == ["good"]
    assert not ppn.is_success
    assert isinstance(ppn.steps["bad"].exception, RuntimeError)
    assert ppn.steps["bad"].traceback


def test_step_output_count_validation(spark):
    ppn = SparkPipeline("badcount", spark=spark)

    @ppn.step_spark(outputs=["a", "b"])
    def wrong(step):
        return spark.range(3)  # 1 df, 2 outputs declared

    with pytest.raises(ValueError, match="have failed"):
        ppn()
    assert "expected" in str(ppn.steps["wrong"].exception)


def test_duplicate_output_rejected(spark):
    ppn = SparkPipeline("dup", spark=spark)

    @ppn.step_python(outputs="same")
    def one(step):
        return 1

    with pytest.raises(ValueError, match="already created"):

        @ppn.step_python(outputs="same")
        def two(step):
            return 2


def test_unresolved_string_dependency(spark):
    ppn = SparkPipeline("unres", spark=spark)
    with pytest.raises(ValueError, match="unresolved"):

        @ppn.step_python(depends_on=["nope"])
        def s(step):
            return 1


def test_step_spark_requires_dataframe(spark):
    ppn = SparkPipeline("notdf", spark=spark)

    @ppn.step_spark()
    def notdf(step):
        return 42

    with pytest.raises(ValueError, match="have failed"):
        ppn()


def test_step_spark_table_write_and_multi_output(spark, tmp_path):
    ppn = SparkPipeline("tbl", spark=spark)

    @ppn.step_spark_table(outputs=["t_odd", "t_even"], mode="overwrite", format="parquet")
    def write_tables(step):
        df = spark.range(0, 20)
        return [df.filter("id % 2 == 1"), df.filter("id % 2 == 0")]

    ppn()
    # fixed multi-output bug: both tables written and both returned
    assert spark.table("t_odd").count() == 10
    assert spark.table("t_even").count() == 10
    result = ppn.steps["write_tables"].result
    assert len(result) == 2

    # append mode accumulates
    ppn2 = SparkPipeline("tbl2", spark=spark)

    @ppn2.step_spark_table(outputs="t_odd", mode="append", format="parquet")
    def append_more(step):
        return spark.range(100, 105)

    ppn2()
    assert spark.table("t_odd").count() == 15


def test_overwrite_partitions_leaves_session_conf_untouched(spark):
    """``overwrite_partitions`` replaces only the partitions it writes,
    and leaves the session's partitionOverwriteMode as it found it —
    here unset, so a later plain overwrite is static again."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key)
    spark.sql("DROP TABLE IF EXISTS t_parts")
    spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "b")], "id long, p string"
    ).write.partitionBy("p").format("parquet").saveAsTable("t_parts")
    ppn = SparkPipeline("parts", spark=spark)

    @ppn.step_spark_table(
        outputs="t_parts", mode="overwrite_partitions", format="parquet"
    )
    def refresh(step):
        return spark.createDataFrame([(10, "a")], "id long, p string")

    ppn()
    assert sorted(r.id for r in spark.table("t_parts").collect()) == [3, 4, 5, 10]
    assert spark.conf.get(key, None) is None
    spark.createDataFrame(
        [(20, "a"), (21, "c")], "id long, p string"
    ).write.mode("overwrite").insertInto("t_parts")
    assert spark.table("t_parts").count() == 2


def test_state_store_and_metrics(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS bdq_state")
    ppn = SparkPipeline("metered", spark=spark, state_store_database="bdq_state")

    @ppn.step_spark_table(outputs="metered_out", mode="overwrite", format="parquet")
    @ppn.spark_metric(name="row_cnt", expr="count(1)")
    @ppn.spark_metric(name="id_sum", expr="sum(id)")
    def metered_out(step):
        return spark.range(0, 10)

    ppn()
    m = ppn.metrics
    assert m["metered_out.spark_metric.row_cnt"] == 10
    assert m["metered_out.spark_metric.id_sum"] == 45

    # state persisted: a fresh pipeline object sees last run's metrics
    ppn_reload = SparkPipeline("metered", spark=spark, state_store_database="bdq_state")
    last = ppn_reload.last_run_metrics
    assert last["metered_out.spark_metric.row_cnt"] == 10
    assert ppn_reload._state_store_data["pipeline_name"] == "metered"


def test_state_store_requires_enabled_for_metrics(spark):
    ppn = SparkPipeline("nostore", spark=spark)

    with pytest.raises(ValueError, match="state store"):

        @ppn.step_spark_table(outputs="x1", format="parquet")
        @ppn.spark_metric(name="cnt", expr="count(1)")
        def x1(step):
            return spark.range(3)


def test_step_python_arbitrary_values(spark):
    ppn = SparkPipeline("pyvals", spark=spark)

    @ppn.step_python(outputs=["a", "b"])
    def produce(step):
        return ["hello", {"k": 1}]

    @ppn.step_python(depends_on=[produce])
    def consume(step):
        return produce.result[0] + " world"

    ppn()
    assert consume.result == ["hello world"]


def test_step_retry_succeeds_after_flaky_failures(spark):
    ppn = SparkPipeline("retry_ok", spark=spark)
    calls = {"n": 0}

    @ppn.step_python(retries=3)
    def flaky(step):
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError(f"transient failure {calls['n']}")
        return "finally"

    result = ppn()
    assert "flaky" in result
    assert flaky.result == ["finally"]
    assert flaky.attempts == 3
    assert calls["n"] == 3
    # runtime observability: a retried-then-successful step reports all
    # attempts and success
    assert flaky.metrics["runtime.attempts"] == 3
    assert flaky.metrics["runtime.succeeded"] is True
    assert flaky.metrics["runtime.duration_seconds"] >= 0


def test_runtime_metrics_persisted_to_state_store(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS bdq_state")
    ppn = SparkPipeline("runtime_m", spark=spark, state_store_database="bdq_state")

    @ppn.step_python()
    def quick(step):
        return 1

    @ppn.step_python(retries=1, retry_delay_seconds=0.01, depends_on=[quick])
    def doomed(step):
        raise RuntimeError("nope")

    with pytest.raises(ValueError, match="have failed"):
        ppn()
    m = ppn.metrics
    assert m["quick.runtime.succeeded"] is True
    assert m["quick.runtime.attempts"] == 1
    assert m["doomed.runtime.succeeded"] is False
    assert m["doomed.runtime.attempts"] == 2

    # failure-path state save includes the runtime metrics
    reload = SparkPipeline("runtime_m", spark=spark, state_store_database="bdq_state")
    last = reload.last_run_metrics
    assert last["doomed.runtime.succeeded"] is False
    assert last["doomed.runtime.attempts"] == 2
    assert last["quick.runtime.duration_seconds"] >= 0


def test_step_retries_exhausted_marks_error(spark):
    ppn = SparkPipeline("retry_fail", spark=spark)

    @ppn.step_python(retries=2, retry_delay_seconds=0.01)
    def always_broken(step):
        raise RuntimeError("permanent")

    with pytest.raises(ValueError, match="have failed"):
        ppn()
    assert always_broken.result_state == "ERROR"
    assert always_broken.attempts == 3  # initial + 2 retries
    assert "permanent" in str(always_broken.exception)


def test_step_timeout_fails_fast(spark):
    import time

    from bdq_spark.plans.pipeline import StepTimeoutError

    ppn = SparkPipeline("timeout", spark=spark)

    @ppn.step_python(timeout_seconds=0.5)
    def sleeper(step):
        time.sleep(10)
        return "never"

    t0 = time.monotonic()
    with pytest.raises(ValueError, match="have failed"):
        ppn()
    elapsed = time.monotonic() - t0
    assert elapsed < 5, f"timeout did not fail fast: {elapsed}s"
    assert isinstance(sleeper.exception, StepTimeoutError)
    assert sleeper.result_state == "ERROR"


def test_step_timeout_with_retry_eventually_succeeds(spark):
    import time

    ppn = SparkPipeline("timeout_retry", spark=spark)
    calls = {"n": 0}

    @ppn.step_python(timeout_seconds=1.0, retries=1)
    def slow_then_fast(step):
        calls["n"] += 1
        if calls["n"] == 1:
            time.sleep(5)
        return calls["n"]

    result = ppn()
    assert "slow_then_fast" in result
    assert slow_then_fast.attempts == 2
    assert slow_then_fast.result == [2]


def test_step_timeout_cancels_spark_jobs(spark):
    """A timed-out step's in-flight Spark job is cancelled via its job
    group — the cluster stops working on the doomed attempt.  The job is
    many short tasks, so once it is cancelled no task is left running
    on the executors."""
    import time

    ppn = SparkPipeline("timeout_cancel", spark=spark)

    @ppn.step_spark(timeout_seconds=2.0)
    def heavy(step):
        # ~0.1 s per task, about a minute of tasks on 4 cores without
        # cancellation
        df = spark.range(0, 20_000_000 * 2000, 1, 2000).filter("id % 7 = 3")
        df.count()
        return df

    t0 = time.monotonic()
    with pytest.raises(ValueError, match="have failed"):
        ppn()
    elapsed = time.monotonic() - t0
    assert elapsed < 60, f"cancellation ineffective: step held on {elapsed}s"
    sc = spark.sparkContext
    executors = sc._jsc.sc().statusTracker()

    def busy():
        return sc.statusTracker().getActiveJobsIds() or any(
            e.numRunningTasks() for e in executors.getExecutorInfos()
        )

    deadline = time.monotonic() + 10
    while busy() and time.monotonic() < deadline:
        time.sleep(0.2)
    assert not busy()


def test_step_timeout_cancels_pk_validator_jobs(spark):
    """A step that times out during a PK search cancels the validators'
    jobs too: the DAG threads they run on inherit the step's job group.
    The slow input sleeps only in its ``slow`` columns, so the shared
    row count is fast and each validator's job hangs."""
    import time

    from bdq_spark.operators.pk import validate_primary_key_candidate_combinations

    @F.udf("long")
    def slow(x):
        time.sleep(60)
        return x

    df = spark.range(0, 2, 1, 1).select(
        "id", slow("id").alias("slow_a"), slow("id").alias("slow_b")
    )
    ppn = SparkPipeline("timeout_pk", spark=spark)

    @ppn.step_python(timeout_seconds=3.0)
    def pk_search(step):
        return validate_primary_key_candidate_combinations(
            df, [["slow_a"], ["slow_b"]], max_workers=2
        )

    t0 = time.monotonic()
    with pytest.raises(ValueError, match="have failed"):
        ppn()
    assert time.monotonic() - t0 < 10
    tracker = spark.sparkContext.statusTracker()
    group = "timeout_pk#pk_search#attempt1"

    def running():
        return set(tracker.getActiveJobsIds()) & set(tracker.getJobIdsForGroup(group))

    deadline = time.monotonic() + 5
    while running() and time.monotonic() < deadline:
        time.sleep(0.2)
    # the row count and both validators ran in the step's group, and
    # none of them is still running
    assert len(tracker.getJobIdsForGroup(group)) == 3
    assert not running()


def test_step_policy_validation(spark):
    ppn = SparkPipeline("policy_validation", spark=spark)
    with pytest.raises(ValueError, match="retries"):
        @ppn.step_python(retries=-1)
        def bad_retries(step):
            return 1
    with pytest.raises(ValueError, match="timeout_seconds"):
        @ppn.step_python(timeout_seconds=0)
        def bad_timeout(step):
            return 1


def test_repr_html(spark):
    ppn = SparkPipeline("reprs", spark=spark)

    @ppn.step_spark()
    def make(step):
        return spark.range(3)

    ppn()
    step_html = ppn.steps["make"]._repr_html_()
    assert "<table" in step_html and "SUCCESS" in step_html and "make" in step_html
    pipe_html = ppn._repr_html_()
    assert "reprs" in pipe_html and "make" in pipe_html and "SUCCESS" in pipe_html
    assert "SparkPipeline('reprs'" in repr(ppn)


def test_plan_lint_warn_records_metrics(spark):
    ppn = SparkPipeline("lintwarn", spark=spark, plan_lint="warn")

    @ppn.step_spark(outputs="clean")
    def clean(step):
        return spark.range(10).groupBy("id").count()

    @ppn.step_spark(outputs="crossed")
    def crossed(step):
        # BroadcastNestedLoopJoin (WARN) under default broadcast conf
        return spark.range(10).crossJoin(
            spark.range(2).withColumnRenamed("id", "j")
        )

    ppn()
    assert list(ppn.error_steps) == []
    assert ppn.steps["clean"].metrics["plan_lint.errors"] == 0
    assert ppn.steps["clean"].metrics["plan_lint.warnings"] == 0
    assert ppn.steps["crossed"].metrics["plan_lint.errors"] == 0
    assert ppn.steps["crossed"].metrics["plan_lint.warnings"] >= 1


def test_plan_lint_enforce_fails_step_without_retry_burn(spark):
    from pyspark.sql.window import Window

    from bdq_spark.plans.plan_lint import PlanScaleError

    ppn = SparkPipeline("lintfail", spark=spark, plan_lint="enforce")

    @ppn.step_spark(outputs="funnel", retries=2)
    def funnel(step):
        # unpartitioned window -> single-partition funnel (ERROR)
        return spark.range(100).withColumn(
            "rn", F.row_number().over(Window.orderBy("id"))
        )

    with pytest.raises(ValueError, match="have failed"):
        ppn()
    step = ppn.steps["funnel"]
    assert isinstance(step.exception, PlanScaleError)
    assert "single-partition-exchange" in str(step.exception)
    # deterministic failure: the lint raises OUTSIDE the retry loop
    assert step.attempts == 1
    assert step.metrics["plan_lint.errors"] >= 1


def test_plan_lint_enforce_allow_waives_named_rule(spark):
    ppn = SparkPipeline(
        "lintallow",
        spark=spark,
        plan_lint="enforce",
        plan_lint_allow=["nested-loop-join"],
    )

    @ppn.step_spark(outputs="scalar_attach")
    def scalar_attach(step):
        # the registry's common shape: 1-row scalar aggregate attached
        # to every row — BNLJ by design, waived by name
        total = spark.range(10).agg(F.sum("id").alias("total"))
        return spark.range(10).crossJoin(F.broadcast(total))

    ppn()
    assert list(ppn.error_steps) == []
    assert ppn.steps["scalar_attach"].metrics["plan_lint.errors"] == 0


def test_plan_lint_off_by_default_and_validated(spark):
    ppn = SparkPipeline("lintoff", spark=spark)

    @ppn.step_spark(outputs="x")
    def x(step):
        return spark.range(3)

    ppn()
    assert "plan_lint.errors" not in ppn.steps["x"].metrics
    with pytest.raises(ValueError, match="plan_lint must be"):
        SparkPipeline("bad", spark=spark, plan_lint="loud")


def test_plan_lint_concurrent_steps_do_not_cross_contaminate(spark):
    """Regression: plan_text used redirect_stdout (process-global), so
    parallel DAG steps linting simultaneously captured each other's
    plans — a clean step could inherit a sibling's BNLJ warning.  The
    JVM explainString path is thread-local; 4 clean + 4 warn steps
    linted concurrently must each see exactly their own plan."""
    ppn = SparkPipeline("lintrace", spark=spark, plan_lint="warn")

    def make_clean(i):
        def body(step):
            return spark.range(10 + i).groupBy("id").count()
        body.__name__ = f"clean{i}"
        ppn.step_spark(outputs=f"clean{i}")(body)

    def make_warn(i):
        def body(step):
            return spark.range(10 + i).crossJoin(
                spark.range(2).withColumnRenamed("id", "j")
            )
        body.__name__ = f"warned{i}"
        ppn.step_spark(outputs=f"warned{i}")(body)

    for i in range(4):
        make_clean(i)
        make_warn(i)
    ppn(max_concurrent_steps=8)
    assert list(ppn.error_steps) == []
    for i in range(4):
        clean_m = ppn.steps[f"clean{i}"].metrics
        warn_m = ppn.steps[f"warned{i}"].metrics
        assert clean_m["plan_lint.warnings"] == 0, clean_m
        assert warn_m["plan_lint.warnings"] >= 1, warn_m
