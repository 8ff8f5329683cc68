"""SparkPipeline — named step framework over the DAG executor.

Parity target: `/root/reference/bdq/spark_pipeline.py:34-663` (E2-E9/E12
in SURVEY.md §2.2).  A pipeline owns a :class:`bdq_spark.plans.dag.DAG`
of :class:`Step` callables; step types register themselves through
:func:`register_spark_pipeline_step_implementation`:

- ``step_python`` — arbitrary Python outputs;
- ``step_spark`` — must return DataFrame(s) matching ``outputs``;
- ``step_spark_temp_view`` — registers returned DFs as temp views named
  after the outputs (the inter-step dataflow mechanism);
- ``step_spark_table`` — materializes to catalog tables (V2 ``writeTo``
  with V1 fallback for session-catalog formats);
- ``step_spark_for_each_batch`` — streaming ``foreachBatch`` step.

Deviations from the reference (SURVEY.md §7.0 sanctioned):

- ``step_spark_table`` with multiple outputs returns ALL written tables
  (the reference returns only the last,
  `/root/reference/bdq/spark_pipeline.py:568`);
- the streaming step removes its ``StreamingQueryListener`` when the
  stream terminates (the reference leaks one listener per run);
- V1 writer fallback because the local session catalog does not support
  V2 ``REPLACE TABLE AS SELECT`` (Delta/Iceberg catalogs take the V2
  path unchanged).

Scale notes: steps run on driver threads; with
``spark.scheduler.mode=FAIR`` independent steps' jobs interleave on the
cluster.  Metrics use ``df.observe`` (computed as a side effect of the
write job — zero extra scans, exactly the reference's design).
"""

from __future__ import annotations

import functools
import logging
import threading
from copy import deepcopy
from datetime import datetime
from typing import Any, Callable, Dict, List, Optional, Union

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from bdq_spark.plans.dag import DAG
from bdq_spark.plans.statestore import CatalogPersistedStateStore
from bdq_spark.plans.ui_logger import SparkUILogger
from bdq_spark.session import private_session, rebind

__all__ = [
    "SparkPipeline",
    "Step",
    "StepTimeoutError",
    "register_spark_pipeline_step_implementation",
]


class StepTimeoutError(TimeoutError):
    """A step exceeded its ``timeout_seconds``; its Spark jobs were
    cancelled via the step's job group."""


# ---------------------------------------------------------------------------
# validation helpers
# ---------------------------------------------------------------------------

def validate_list_of_type(obj, obj_name: str, item_type, default_value=None):
    """Normalize ``obj`` to a list of ``item_type`` (reference
    `/root/reference/bdq/spark_pipeline.py:358-383` semantics)."""
    if obj is None:
        obj = default_value
    if obj is None:
        raise ValueError(f"{obj_name} is not defined")
    if isinstance(obj, tuple):
        obj = list(obj)
    if item_type is not Any:
        if isinstance(obj, item_type):
            obj = [obj]
    elif not isinstance(obj, list):
        obj = [obj]
    if not isinstance(obj, list):
        raise ValueError(f"{obj_name} must be a list of {item_type}")
    if item_type is not Any:
        for item in obj:
            if not isinstance(item, item_type):
                raise ValueError(f"{obj_name} must be a list of {item_type}")
    return obj


def validate_step_outputs(func: Callable, outputs: Optional[List[str]]) -> List[str]:
    return validate_list_of_type(
        obj=outputs, obj_name="outputs", item_type=str, default_value=func.__name__
    )


def execute_step_decorated_function(
    func: Callable, step: "Step", outputs: Optional[List[str]], item_type
) -> list:
    """Run ``func(step)`` and enforce "N returned values == N declared
    outputs" (`/root/reference/bdq/spark_pipeline.py:428-443`)."""
    outputs = validate_step_outputs(func, outputs)
    data = func(step)
    data = validate_list_of_type(
        obj=data,
        obj_name=f"output values of function {func.__name__}",
        item_type=item_type,
        default_value=[],
    )
    if len(data) != len(outputs):
        raise ValueError(
            f"Step {func.__name__}(...) returned {len(data)} {item_type}(s), "
            f"but {len(outputs)} were expected, to match outputs "
            f"specification: {outputs}"
        )
    return data


def validate_xor_values(**kwargs):
    """Exactly one of the kwargs must be truthy; returns (name, value)."""
    set_values = [k for k, v in kwargs.items() if v]
    if len(set_values) != 1:
        all_names = ", ".join(kwargs)
        got = ", ".join(set_values) or "None"
        raise ValueError(
            f"Exactly one of {all_names} has to be defined, got: {got}"
        )
    name = set_values[0]
    return name, kwargs[name]


# ---------------------------------------------------------------------------
# Step
# ---------------------------------------------------------------------------

class Step:
    """Callable DAG-node wrapper binding a function to declared outputs."""

    def __init__(
        self,
        func: Callable,
        pipeline: "SparkPipeline",
        depends_on: Optional[List[Union[Callable, str]]] = None,
        outputs: Optional[List[str]] = None,
        spark_metrics_supported: bool = False,
        retries: int = 0,
        retry_delay_seconds: float = 0.0,
        timeout_seconds: Optional[float] = None,
    ):
        if func is None or not callable(func):
            raise ValueError("func must be a callable")
        if retries < 0:
            raise ValueError("retries must be >= 0")
        if timeout_seconds is not None and timeout_seconds <= 0:
            raise ValueError("timeout_seconds must be > 0")

        self.name = func.__name__
        self.pipeline = pipeline
        self.log: logging.Logger = pipeline.log.getChild(self.name)
        self.function = func
        self.outputs = validate_step_outputs(func, outputs)
        self.metrics: Dict[str, Any] = {}
        self._spark_metrics_supported = spark_metrics_supported
        self.retries = retries
        self.retry_delay_seconds = retry_delay_seconds
        self.timeout_seconds = timeout_seconds
        #: attempts made during the most recent run (1 = no retry needed)
        self.attempts = 0

        if self._lazy_function_spark_metrics:
            if not spark_metrics_supported:
                raise ValueError(
                    f"spark metrics are not supported by Step {self.name}"
                )
            if not pipeline._state_store:
                raise ValueError(
                    "pipeline's state store must be enabled to use spark metrics"
                )

        for out in self.outputs:
            owner = pipeline._registered_outputs.get(out)
            if owner is not None and owner.name != self.name:
                raise ValueError(f"{out} is already created by Step {owner.name}")
            pipeline._registered_outputs[out] = self

        resolved = pipeline._resolve_depends_on(depends_on)
        self._dag.node(depends_on=[s._node for s in resolved])(self)

    # -- DAG plumbing -------------------------------------------------------

    @property
    def _dag(self) -> DAG:
        return self.pipeline._dag

    @property
    def _node(self):
        return self._dag.functions[self]

    @property
    def __name__(self) -> str:
        return self.name

    # -- result surface -----------------------------------------------------

    @property
    def result_state(self) -> str:
        return self._node.state

    @property
    def result(self):
        return self._node.result

    @property
    def exception(self):
        return self._node.exception

    @property
    def traceback(self):
        return self._node.traceback

    @property
    def start_ts(self):
        return self._node.start_ts

    @property
    def stop_ts(self):
        return self._node.stop_ts

    @property
    def _lazy_function_spark_metrics(self) -> dict:
        return self.pipeline._function_lazy_spark_metrics.get(self.name, {})

    @property
    def last_run_metrics(self) -> dict:
        prefix = f"{self.name}."
        return {
            key[len(prefix):]: value
            for key, value in self.pipeline.last_run_metrics.items()
            if key.startswith(prefix)
        }

    def __repr__(self) -> str:
        return self.name

    def _repr_html_(self) -> str:
        """Notebook rich repr — a property/value table (parity surface:
        reference ``Step._repr_html_``,
        `/root/reference/bdq/spark_pipeline.py:120-132`; that one dumps
        every public attribute through pandas — this renders a curated
        field set as plain HTML, no pandas dependency)."""
        import html as _html

        fields = [
            ("name", self.name),
            ("pipeline", self.pipeline.name),
            ("outputs", ", ".join(self.outputs)),
            ("state", self.result_state),
            ("attempts", self.attempts),
            ("retries", self.retries),
            ("timeout_seconds", self.timeout_seconds),
            ("start_ts", self.start_ts),
            ("stop_ts", self.stop_ts),
            ("metrics", self.metrics),
            ("exception", self.exception),
        ]
        rows = "".join(
            f"<tr><th style='text-align:left'>{_html.escape(str(k))}</th>"
            f"<td>{_html.escape(str(v)[:150])}</td></tr>"
            for k, v in fields
        )
        return f"<table border='1'>{rows}</table>"

    def __call__(self):
        import time

        inner = self.function

        @functools.wraps(inner)
        def tagged(step):
            # steps run on DAG worker threads where getActiveSession() may
            # be None — pass the pipeline's session explicitly
            with SparkUILogger(
                f"{self.pipeline.name}#{self.name}", spark=self.pipeline._spark
            ):
                return inner(step)

        self.attempts = 0
        last_exc: Optional[BaseException] = None
        succeeded = False
        started = time.perf_counter()
        try:
            for attempt in range(self.retries + 1):
                self.attempts = attempt + 1
                try:
                    if self.timeout_seconds is None:
                        result = execute_step_decorated_function(
                            tagged, self, self.outputs, Any
                        )
                    else:
                        result = self._run_with_timeout(tagged)
                except Exception as e:
                    last_exc = e
                    if attempt < self.retries:
                        self.log.warning(
                            "attempt %d/%d of step %s failed (%s); retrying in %.1fs",
                            attempt + 1, self.retries + 1, self.name, e,
                            self.retry_delay_seconds,
                        )
                        if self.retry_delay_seconds:
                            time.sleep(self.retry_delay_seconds)
                else:
                    # deterministic check: raising here (the try's else)
                    # propagates instead of burning retries on a plan
                    # that would fail identically every attempt
                    self._lint_result(result)
                    succeeded = True
                    return result
            assert last_exc is not None
            raise last_exc
        finally:
            # runtime observability: recorded on success AND failure, and
            # persisted with the observe metrics (state is saved even when
            # the pipeline raises), so reruns can see what a failed step
            # cost and how many attempts it burned
            self.metrics["runtime.duration_seconds"] = round(
                time.perf_counter() - started, 3
            )
            self.metrics["runtime.attempts"] = self.attempts
            self.metrics["runtime.succeeded"] = succeeded

    def _lint_result(self, result) -> None:
        """Scale-lint every batch DataFrame the step returned (see
        ``SparkPipeline.plan_lint``).  Streaming DataFrames are skipped —
        their physical plan only exists per micro-batch.  Counts land in
        ``plan_lint.errors/warnings/infos`` metrics either way; in
        "enforce" mode ERROR findings fail the step."""
        mode = getattr(self.pipeline, "plan_lint", "off")
        if mode == "off":
            return
        from bdq_spark.plans.plan_lint import PlanScaleError, lint_plan

        allow = getattr(self.pipeline, "plan_lint_allow", ())
        counts = {"ERROR": 0, "WARN": 0, "INFO": 0}
        fired = []
        errors = []
        for item in result or []:
            if not isinstance(item, DataFrame) or item.isStreaming:
                continue
            for f in lint_plan(item, allow=allow):
                counts[f.severity] += 1
                fired.append(f"{f.severity}:{f.rule}")
                log = self.log.info if f.severity == "INFO" else self.log.warning
                log("plan lint: %s", f)
                if f.severity == "ERROR":
                    errors.append(f)
        self.metrics["plan_lint.errors"] = counts["ERROR"]
        self.metrics["plan_lint.warnings"] = counts["WARN"]
        self.metrics["plan_lint.infos"] = counts["INFO"]
        self.metrics["plan_lint.rules"] = sorted(set(fired))
        if mode == "enforce" and errors:
            raise PlanScaleError(errors)

    def _run_with_timeout(self, tagged: Callable):
        """Run the step body on a watchdog-supervised thread.

        The body's Spark jobs are tagged with a per-attempt job group
        (job groups are thread-local, so this does not disturb sibling
        steps); on timeout the group is cancelled so the cluster stops
        working on the doomed attempt.  The Python thread itself cannot
        be killed — it is a daemon and unwinds when its cancelled Spark
        action raises.
        """
        import concurrent.futures

        sc = self.pipeline._spark.sparkContext
        group = f"{self.pipeline.name}#{self.name}#attempt{self.attempts}"

        def body():
            sc.setJobGroup(group, f"step {self.name}", interruptOnCancel=True)
            try:
                return execute_step_decorated_function(
                    tagged, self, self.outputs, Any
                )
            finally:
                sc.setJobGroup("", "")

        pool = concurrent.futures.ThreadPoolExecutor(
            max_workers=1, thread_name_prefix=f"step-{self.name}-timeout"
        )
        try:
            future = pool.submit(body)
            try:
                return future.result(timeout=self.timeout_seconds)
            except concurrent.futures.TimeoutError:
                try:
                    sc.cancelJobGroup(group)
                except Exception:  # pragma: no cover - py4j edge
                    pass
                raise StepTimeoutError(
                    f"step {self.name} exceeded timeout of "
                    f"{self.timeout_seconds}s (attempt {self.attempts}); "
                    f"job group {group} cancelled"
                ) from None
        finally:
            pool.shutdown(wait=False)


# ---------------------------------------------------------------------------
# SparkPipeline
# ---------------------------------------------------------------------------

class SparkPipeline:
    """Named pipeline owning a DAG of steps, an output registry, optional
    persisted state, and per-step observe metrics."""

    def __init__(
        self,
        name: str,
        spark: Optional[SparkSession] = None,
        state_store_catalog: Optional[str] = None,
        state_store_database: Optional[str] = None,
        plan_lint: str = "off",
        plan_lint_allow: Optional[List[str]] = None,
    ):
        if plan_lint not in ("off", "warn", "enforce"):
            raise ValueError(
                "plan_lint must be 'off', 'warn' or 'enforce', "
                f"got {plan_lint!r}"
            )
        #: scale-lint every step's returned DataFrames (beyond-reference
        #: robustness, like retries/timeouts): "warn" logs findings and
        #: records per-step plan_lint.* metrics; "enforce" additionally
        #: FAILS the step on ERROR-severity shapes (cartesian product,
        #: row-at-a-time Python UDF, single-partition funnel) so a plan
        #: that cannot survive cluster scale never ships.  Lint failures
        #: are deterministic, so they are raised OUTSIDE the retry loop.
        self.plan_lint = plan_lint
        self.plan_lint_allow = tuple(plan_lint_allow or ())
        self.name = name
        self.log = logging.getLogger(name)
        self.log.setLevel(logging.INFO)
        self.conf: Dict[str, str] = {}
        self.start_ts: Optional[datetime] = None
        self.stop_ts: Optional[datetime] = None

        self._spark = spark or SparkSession.getActiveSession()
        if self._spark is None:
            raise ValueError("could not get active spark session")

        self._registered_outputs: Dict[str, Step] = {}
        self._function_lazy_spark_metrics: Dict[str, dict] = {}
        self._dag = DAG(name)
        self._state_store: Optional[CatalogPersistedStateStore] = None
        self._state_store_data: Optional[dict] = None

        if state_store_database:
            with SparkUILogger(
                f"{name}#_load_state_from_store", spark=self._spark
            ):
                schema, json_cols = self._state_schema()
                self._state_store = CatalogPersistedStateStore(
                    catalog_name=state_store_catalog,
                    database_name=state_store_database,
                    table_name=CatalogPersistedStateStore.clean(name),
                    schema=schema,
                    event_ts_column="start_ts",
                    json_encoded_columns=json_cols,
                    filter_expr=(F.col("pipeline_name") == F.lit(name)),
                    log=self.log,
                    spark=self._spark,
                )
                self._state_store_data = self._state_store.load()

    # -- conf ---------------------------------------------------------------

    @property
    def spark_streaming_checkpoint_location(self) -> Optional[str]:
        return self.conf.get(
            "spark.sql.streaming.checkpointLocation",
            self._spark.conf.get("spark.sql.streaming.checkpointLocation", None),
        )

    @spark_streaming_checkpoint_location.setter
    def spark_streaming_checkpoint_location(self, value: str) -> None:
        self.conf["spark.sql.streaming.checkpointLocation"] = value

    # -- step surface -------------------------------------------------------

    @property
    def steps(self) -> Dict[str, Step]:
        return {node.function.name: node.function for node in self._dag.nodes}

    def _steps_in_state(self, state: str) -> Dict[str, Step]:
        return {k: v for k, v in self.steps.items() if v.result_state == state}

    @property
    def error_steps(self) -> Dict[str, Step]:
        return self._steps_in_state("ERROR")

    @property
    def skipped_steps(self) -> Dict[str, Step]:
        return self._steps_in_state("SKIPPED")

    @property
    def success_steps(self) -> Dict[str, Step]:
        return self._steps_in_state("SUCCESS")

    def __repr__(self) -> str:
        return f"SparkPipeline({self.name!r}, steps={list(self.steps)})"

    def _repr_html_(self) -> str:
        """Notebook rich repr: one row per step with state, timing and
        declared outputs (extends the reference's per-Step HTML repr to
        the whole pipeline)."""
        import html as _html

        def cell(v) -> str:
            return _html.escape(str(v)[:150])

        rows = "".join(
            "<tr>"
            f"<td>{cell(s.name)}</td><td>{cell(s.result_state)}</td>"
            f"<td>{cell(', '.join(s.outputs))}</td>"
            f"<td>{cell(s.start_ts or '')}</td><td>{cell(s.stop_ts or '')}</td>"
            f"<td>{cell(s.exception or '')}</td>"
            "</tr>"
            for s in self.steps.values()
        )
        return (
            f"<b>SparkPipeline {_html.escape(self.name)}</b>"
            "<table border='1'>"
            "<tr><th>step</th><th>state</th><th>outputs</th>"
            "<th>start</th><th>stop</th><th>exception</th></tr>"
            f"{rows}</table>"
        )

    @property
    def is_success(self) -> bool:
        return self._dag.is_success()

    # -- metrics ------------------------------------------------------------

    @property
    def metrics(self) -> dict:
        return {
            f"{step_name}.{metric_name}": value
            for step_name, step in self.steps.items()
            for metric_name, value in step.metrics.items()
        }

    @property
    def last_run_metrics(self) -> dict:
        if self._state_store is None:
            raise ValueError("State store is not enabled")
        return deepcopy((self._state_store_data or {}).get("metrics", {}) or {})

    def spark_metric(
        self,
        *,
        name: Optional[str] = None,
        expr: Union[str, Column],
        progressive: bool = False,
    ):
        """Declare a named aggregate observed during the step's write."""
        if expr is None or (isinstance(expr, str) and not expr):
            raise ValueError("expr is not defined")
        name = name or str(expr)
        if isinstance(expr, str):
            expr = F.expr(expr)

        def wrap(func):
            registry = self._function_lazy_spark_metrics.setdefault(
                func.__name__, {}
            )
            registry[name] = {"expr": expr, "progressive": progressive}
            return func

        return wrap

    def spark_progressive_metric(self, *, name: Optional[str] = None, expr):
        return self.spark_metric(name=name, expr=expr, progressive=True)

    # -- execution ----------------------------------------------------------

    def _resolve_depends_on(
        self, depends_on: Optional[List[Union[Callable, str]]]
    ) -> List[Step]:
        """Dependencies resolve by Step callable OR by output-name string."""
        items = validate_list_of_type(
            obj=depends_on,
            obj_name="depends_on",
            item_type=(Callable, str),
            default_value=[],
        )
        resolved: List[Step] = []
        for item in items:
            if isinstance(item, str):
                owner = self._registered_outputs.get(item)
                if owner is None:
                    raise ValueError(f"unresolved depends on: {item}")
                item = owner
            if item not in resolved:
                resolved.append(item)
        return resolved

    def _execute(self, max_concurrent_steps: int = 10) -> Dict[str, Step]:
        self.start_ts = datetime.now()
        self.stop_ts = None
        self._dag.execute(max_workers=max_concurrent_steps, spark=self._spark)
        self.stop_ts = datetime.now()
        self._save_state_to_store()
        if self.is_success:
            return self.success_steps
        raise ValueError(f"Step(s) have failed: {self.error_steps}")

    def __call__(self, max_concurrent_steps: int = 10) -> Dict[str, Step]:
        return self._execute(max_concurrent_steps=max_concurrent_steps)

    def visualize(self):
        return self._dag.visualize()

    # -- persisted state ----------------------------------------------------

    @staticmethod
    def _state_schema():
        return (
            "pipeline_name string, start_ts timestamp, "
            "stop_ts timestamp, metrics string",
            ["metrics"],
        )

    def _collect_save_state(self) -> dict:
        metrics = deepcopy(self.metrics)
        # progressive metrics carry over last run's value when this run
        # produced none (`/root/reference/bdq/spark_pipeline.py:325-338`)
        for key, prev in self.last_run_metrics.items():
            if (
                ".progressive_spark_metric." in key
                and prev is not None
                and metrics.get(key) is None
                and key in metrics
            ):
                metrics[key] = prev
        return {
            "pipeline_name": self.name,
            "start_ts": self.start_ts,
            "stop_ts": self.stop_ts,
            "metrics": metrics,
        }

    def _save_state_to_store(self) -> None:
        if not self._state_store:
            return
        with SparkUILogger(f"{self.name}#_save_state_to_store", spark=self._spark):
            self._state_store.save(self._collect_save_state())
            self._state_store_data = self._state_store.load()


# ---------------------------------------------------------------------------
# step-type plugin registration
# ---------------------------------------------------------------------------

def register_spark_pipeline_step_implementation(func: Callable) -> Callable:
    """Attach a ``step_*`` factory to :class:`SparkPipeline`."""
    name = func.__name__
    if not name.startswith("step_"):
        raise ValueError(f"invalid name: {name}; name must start with 'step_'")
    if getattr(SparkPipeline, name, None) is not None:
        raise ValueError(f"{name} is already registered!")
    setattr(SparkPipeline, name, func)
    return func


# ---------------------------------------------------------------------------
# observe-metric plumbing
# ---------------------------------------------------------------------------

def apply_spark_metrics_observers(
    df: DataFrame, spark_metrics: Dict[str, dict], log=None
):
    """Attach ``df.observe`` per declared metric; returns (df, observers)."""
    observers: Dict[str, Any] = {}
    for metric_name, config in (spark_metrics or {}).items():
        expr = config["expr"]
        full = (
            f"progressive_spark_metric.{metric_name}"
            if config["progressive"]
            else f"spark_metric.{metric_name}"
        )
        if df.isStreaming:
            df = df.observe(full, expr.alias(full))
            observers[full] = full
        else:
            obs = Observation(full)
            df = df.observe(obs, expr.alias(full))
            observers[full] = obs
        if log:
            log.debug("registered metric %s: %s", full, expr)
    return df, observers


def get_observed_batch_spark_metrics(observers: dict) -> dict:
    return {
        name: obs.get[name]
        for name, obs in observers.items()
        if isinstance(obs, Observation)
    }


# ---------------------------------------------------------------------------
# built-in step types
# ---------------------------------------------------------------------------

@register_spark_pipeline_step_implementation
def step_python(
    pipeline: SparkPipeline,
    *,
    outputs: Optional[List[str]] = None,
    depends_on: Optional[list] = None,
    retries: int = 0,
    retry_delay_seconds: float = 0.0,
    timeout_seconds: Optional[float] = None,
) -> Callable[[Callable], Step]:
    """Step whose outputs are arbitrary Python values."""

    def wrap(func):
        return Step(
            func, pipeline=pipeline, depends_on=depends_on, outputs=outputs,
            retries=retries, retry_delay_seconds=retry_delay_seconds,
            timeout_seconds=timeout_seconds,
        )

    return wrap


@register_spark_pipeline_step_implementation
def step_spark(
    pipeline: SparkPipeline,
    *,
    outputs: Optional[List[str]] = None,
    depends_on: Optional[list] = None,
    retries: int = 0,
    retry_delay_seconds: float = 0.0,
    timeout_seconds: Optional[float] = None,
) -> Callable[[Callable], Step]:
    """Step that must return DataFrame(s) matching ``outputs``."""

    def wrap(func):
        @functools.wraps(func)
        def logic(step: Step):
            return execute_step_decorated_function(func, step, outputs, DataFrame)

        return Step(
            logic, pipeline=pipeline, depends_on=depends_on, outputs=outputs,
            retries=retries, retry_delay_seconds=retry_delay_seconds,
            timeout_seconds=timeout_seconds,
        )

    return wrap


@register_spark_pipeline_step_implementation
def step_spark_temp_view(
    pipeline: SparkPipeline,
    *,
    outputs: Optional[List[str]] = None,
    depends_on: Optional[list] = None,
    retries: int = 0,
    retry_delay_seconds: float = 0.0,
    timeout_seconds: Optional[float] = None,
) -> Callable[[Callable], Step]:
    """As ``step_spark``, then registers each returned DF as a temp view
    named after its output and re-reads it — the inter-step dataflow."""

    def wrap(func):
        @functools.wraps(func)
        def logic(step: Step):
            names = validate_step_outputs(func, outputs)
            data = execute_step_decorated_function(func, step, names, DataFrame)
            spark = step.pipeline._spark
            registered = []
            for df, name in zip(data, names):
                df.createOrReplaceTempView(name)
                registered.append(spark.table(name))
            return registered

        return Step(
            logic, pipeline=pipeline, depends_on=depends_on, outputs=outputs,
            retries=retries, retry_delay_seconds=retry_delay_seconds,
            timeout_seconds=timeout_seconds,
        )

    return wrap


def _write_table_v1_fallback(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    mode: str,
    format: str,
    partition_by: Optional[List[str]],
    options: dict,
    auto_create_table: bool,
    log: logging.Logger,
) -> None:
    """V1 DataFrameWriter path for catalogs without V2 RTAS support."""
    exists = spark.catalog.tableExists(name)
    writer = df.write.options(**options)
    if format:
        writer = writer.format(format)
    if partition_by:
        writer = writer.partitionBy(*partition_by)

    if mode == "overwrite":
        writer.mode("overwrite").option("overwriteSchema", "true").saveAsTable(name)
    elif mode == "create":
        if exists:
            raise ValueError(f"table {name} already exists (mode=create)")
        writer.saveAsTable(name)
    elif mode == "replace":
        if not exists:
            raise ValueError(f"table {name} does not exist (mode=replace)")
        writer.mode("overwrite").option("overwriteSchema", "true").saveAsTable(name)
    elif mode == "append":
        if not exists and not auto_create_table:
            raise ValueError(f"table {name} does not exist (mode=append)")
        writer.mode("append").saveAsTable(name)
    elif mode == "overwrite_partitions":
        if not exists:
            if not auto_create_table:
                raise ValueError(
                    f"table {name} does not exist (mode=overwrite_partitions)"
                )
            log.info("Creating new table %s", name)
            writer.saveAsTable(name)
        else:
            # dynamic overwrite on a private session: the caller's conf
            # is never touched (``insertInto`` ignores the writer option)
            dynamic = private_session(
                spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
            )
            rebind(df, dynamic).write.mode("overwrite").insertInto(name)


def _write_table(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    mode: str,
    format: str,
    partition_by: Optional[List[str]],
    options: dict,
    table_properties: dict,
    auto_create_table: bool,
    log: logging.Logger,
) -> None:
    """V2 ``writeTo`` (mode map per `/root/reference/bdq/spark_pipeline.py:552-563`)
    with transparent V1 fallback for session-catalog formats.

    ``format=None`` omits the ``USING`` clause entirely — required for
    V2 catalogs that own their storage format (JDBC, some lakehouse
    catalogs) and reject ``CREATE TABLE ... USING``.
    """
    try:
        writer = df.writeTo(name).options(**options)
        if format:
            writer = writer.using(format)
        if partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        for k, v in table_properties.items():
            writer = writer.tableProperty(k, str(v))

        exists = spark.catalog.tableExists(name)
        if mode == "overwrite":
            writer.createOrReplace()
        elif mode == "overwrite_partitions":
            if auto_create_table and not exists:
                log.info("Creating new table %s", name)
                writer.create()
            else:
                writer.overwritePartitions()
        elif mode == "create":
            writer.create()
        elif mode == "replace":
            writer.replace()
        elif mode == "append":
            if auto_create_table and not exists:
                log.info("Creating new table %s", name)
                writer.create()
            else:
                writer.append()
        return
    except Exception as e:
        msg = str(e)
        v2_unsupported = (
            "UNSUPPORTED_FEATURE" in msg
            or "does not support" in msg
            or "Cannot write into v1 table" in msg
        )
        if not v2_unsupported:
            raise
        log.debug("V2 writeTo unsupported for %s; using V1 writer (%s)", name, e)

    _write_table_v1_fallback(
        spark, df, name, mode, format, partition_by, options, auto_create_table, log
    )
    if table_properties:
        props = ", ".join(
            f"'{k}'='{v}'" for k, v in table_properties.items()
        )
        spark.sql(f"ALTER TABLE {name} SET TBLPROPERTIES ({props})")


@register_spark_pipeline_step_implementation
def step_spark_table(
    pipeline: SparkPipeline,
    *,
    outputs: Optional[List[str]] = None,
    depends_on: Optional[list] = None,
    mode: str = "overwrite",
    format: Optional[str] = "parquet",
    partition_by: Optional[List[str]] = None,
    options: Optional[dict] = None,
    table_properties: Optional[dict] = None,
    auto_create_table: bool = True,
    retries: int = 0,
    retry_delay_seconds: float = 0.0,
    timeout_seconds: Optional[float] = None,
) -> Callable[[Callable], Step]:
    """Materializing sink step (catalog tables).

    Default format is ``parquet`` locally (the reference defaults to
    ``delta`` on Databricks; pass ``format='delta'`` where available).
    ``format=None`` writes with no ``USING`` clause — the table format
    is whatever the target catalog manages (required for V2 catalogs
    like JDBC that reject an explicit format).
    """
    allowed = ["overwrite", "overwrite_partitions", "create", "replace", "append"]
    if mode not in allowed:
        raise ValueError(f"Invalid mode: {mode}, allowed modes are: {allowed}")
    options = options or {}
    table_properties = table_properties or {}

    def wrap(func):
        @functools.wraps(func)
        def logic(step: Step):
            names = validate_step_outputs(func, outputs)
            data = execute_step_decorated_function(func, step, names, DataFrame)
            spark = step.pipeline._spark

            if len(names) != 1 and step._lazy_function_spark_metrics:
                raise ValueError("spark metrics can only be used with single output")

            written = []
            for df, name in zip(data, names):
                df, observers = apply_spark_metrics_observers(
                    df, step._lazy_function_spark_metrics, step.log
                )
                _write_table(
                    spark, df, name, mode, format, partition_by,
                    options, table_properties, auto_create_table, step.log,
                )
                step.metrics.update(get_observed_batch_spark_metrics(observers))
                written.append(spark.table(name))
            return written

        return Step(
            logic,
            pipeline=pipeline,
            depends_on=depends_on,
            outputs=outputs,
            spark_metrics_supported=True,
            retries=retries,
            retry_delay_seconds=retry_delay_seconds,
            timeout_seconds=timeout_seconds,
        )

    return wrap


def _streaming_checkpoint_location(pipeline: SparkPipeline, name) -> str:
    root = pipeline.spark_streaming_checkpoint_location
    if not root:
        raise ValueError(
            "SparkPipeline's spark_streaming_checkpoint_location is not defined"
        )
    if callable(name):
        name = name.__name__
    return f"{root}/{pipeline.name}/{name}"


def _apply_trigger(
    dw, trigger_once: bool, trigger_availableNow: bool, trigger_interval: Optional[str]
):
    name, value = validate_xor_values(
        trigger_once=trigger_once,
        trigger_availableNow=trigger_availableNow,
        trigger_interval=trigger_interval,
    )
    if name == "trigger_once":
        return dw.trigger(once=value)
    if name == "trigger_availableNow":
        return dw.trigger(availableNow=value)
    return dw.trigger(processingTime=value)


@register_spark_pipeline_step_implementation
def step_spark_for_each_batch(
    pipeline: SparkPipeline,
    *,
    input_table: Optional[str] = None,
    outputs: Optional[List[str]] = None,
    depends_on: Optional[list] = None,
    trigger_once: bool = False,
    trigger_availableNow: bool = False,
    trigger_interval: Optional[str] = None,
    options: Optional[dict] = None,
    output_mode: Optional[str] = None,
    retries: int = 0,
    retry_delay_seconds: float = 0.0,
) -> Callable[[Callable], Step]:
    """Streaming step: ``foreachBatch`` over a (streaming) input table.

    The user function receives ``(micro_batch_df, batch_id,
    relative_batch_id, step)`` — ``relative_batch_id`` counts from 0
    within this run while ``batch_id`` is the durable checkpointed id.
    Blocks until the streaming query terminates; re-raises its exception.

    ``outputs`` names the tables/views the batch function maintains,
    re-read and returned after the stream ends (the reference contract).
    Pass an explicit ``outputs=[]`` for SINK-ONLY batch functions (an
    external writer, a side-effecting aggregator): the batch function
    runs in a cloned session, so views it creates are invisible to the
    main session's trailing re-read, and declaring an output that only
    exists in the clone would fail the step after a successful stream.
    """
    options = options or {}
    resolved_deps = pipeline._resolve_depends_on(depends_on)

    if not input_table and len(resolved_deps) == 1 and len(resolved_deps[0].outputs) == 1:
        input_table = resolved_deps[0].outputs[0]
    if not input_table:
        raise ValueError(
            "input_table is not defined and cannot be implicitly derived "
            "from depends_on"
        )
    validate_xor_values(
        trigger_once=trigger_once,
        trigger_availableNow=trigger_availableNow,
        trigger_interval=trigger_interval,
    )

    def wrap(func):
        nonlocal outputs
        outputs = validate_step_outputs(func, outputs)

        @functools.wraps(func)
        def logic(step: Step):
            from pyspark.sql.streaming import StreamingQueryListener

            spark = step.pipeline._spark
            streaming_df = spark.table(input_table)
            step.streaming_unblock_event = threading.Event()

            class _TerminationListener(StreamingQueryListener):
                _run_id = None

                def onQueryStarted(self, event):
                    if event.name == step.streaming_query_name:
                        self._run_id = event.runId

                def onQueryProgress(self, event):
                    pass

                def onQueryIdle(self, event):
                    pass

                def onQueryTerminated(self, event):
                    if event.runId == self._run_id:
                        step.streaming_unblock_event.set()

            listener = _TerminationListener()
            spark.streams.addListener(listener)

            relative_batch_id = 0

            def batch_fn(df, batch_id):
                nonlocal relative_batch_id
                with SparkUILogger(
                    f"{step.pipeline.name}#{step.name}", spark=spark
                ):
                    result = func(df, batch_id, relative_batch_id, step)
                relative_batch_id += 1
                return result

            try:
                dw = (
                    streaming_df.writeStream.option(
                        "checkpointLocation", step.streaming_checkpoint_location
                    )
                    .options(**options)
                    .queryName(step.streaming_query_name)
                    .foreachBatch(batch_fn)
                )
                if output_mode:
                    dw = dw.outputMode(output_mode)
                dw = _apply_trigger(
                    dw, trigger_once, trigger_availableNow, trigger_interval
                )
                sq = dw.start()
                step.streaming_query = sq

                step.streaming_unblock_event.wait()
                if sq.isActive:
                    sq.stop()
                ex = sq.exception()
                if ex:
                    raise ex
            finally:
                # the reference leaks its listener; we remove it
                try:
                    spark.streams.removeListener(listener)
                except Exception:
                    pass

            # foreachBatch writes happen in a cloned session; the main
            # session's relation cache can serve stale file listings for
            # tables the batches appended to — refresh before re-reading
            for n in outputs:
                try:
                    spark.catalog.refreshTable(n)
                except Exception:
                    pass  # output may be a temp view or not exist yet
            return [spark.table(n) for n in outputs]

        step = Step(
            logic, pipeline=pipeline, depends_on=resolved_deps, outputs=outputs,
            retries=retries, retry_delay_seconds=retry_delay_seconds,
        )
        step.streaming_query_name = f"{step.pipeline.name}#{step.name}"
        step.streaming_checkpoint_location = _streaming_checkpoint_location(
            pipeline, func
        )
        step.streaming_query = None
        step.streaming_unblock_event = None
        return step

    return wrap
