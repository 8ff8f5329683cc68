#!/usr/bin/env python3
"""bdq_spark benchmark: one workload, one seed, one closed-loop run.

Usage (from the root of a bdq_spark checkout)::

    python3 perfbench/run.py --workload dq_checks --seed 1 --seconds 10 --trace 0

A run is one Python process with Spark in ``local[nproc]`` mode; it

1. sets up ``SETUP_REPS`` times: a fresh SparkSession with a fixed conf,
   then the workload's seeded inputs generated and staged into a fresh
   directory;
2. runs one untimed warm-up pass and checks its outputs against expected
   values derived from the same inputs (DuckDB where the semantics are
   SQL, invariants otherwise);
3. runs timed passes back to back until ``--seconds`` have elapsed (at
   least one), each collecting every output into pandas or committing
   its writes, and clears the SQL cache and checkpoint RDDs between
   passes, as bench.py does.

A workload is a module next to this file with ``stage(spark, rng, path)``
(returns the staged inputs), ``run_pass(ctx)``, ``verify(ctx)`` (returns
the ``checks.Checker`` that ran its checks) and ``reset(ctx)`` (drops what
a pass wrote).  ``attempted`` and ``failed`` count the warm-up pass's
checked operations, plus one of each for a timed pass that raises.

``setup_s`` is the median set-up repetition plus the warm-up pass: the
first pass in a session pays JIT compilation, codegen and Python-worker
start-up, and varies several times more than later passes, so timing it
in ``pass_s`` would hide regressions in the noise.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the run also writes Spark's event log and reports the
per-layer metrics built from the benchmark's spans joined with it.
Details (pass walls, host stamps, spans, per-layer table) go to
``.perfbench/results/``; everything a run writes stays under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

from spans import Tracer, layer_totals, per_pass_median, read_event_log, union_length

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("dq_checks", "corpus_dedup")
SETUP_REPS = 3
NPROC = len(os.sched_getaffinity(0))

END_TO_END = ("pass_s", "setup_s", "peak_rss_mb")
# the operator layers an open ROADMAP item touches, dq_checks' heaviest
# operator (diff) and sources report every counter; the rest a shorter
# set, so the per-layer table stays within 128 metrics
FULL_LAYERS = (
    "sources", "operators.diff", "operators.dedup", "operators.components",
    "operators.tokenizer", "operators.clustering", "operators.ivf",
)
SHORT_LAYERS = (
    "functions", "operators.latest", "operators.pk", "operators.integrity",
    "operators.profile", "operators.text_analysis", "operators.corpus",
    "operators.packing", "operators.contamination", "operators.similarity",
    "streaming.windows", "streaming.stateful", "streaming.cdc_sink",
)
FULL_METRICS = (
    "construct_ms", "execute_ms", "jobs", "stages", "cpu_ms",
    "shuffle_write_bytes", "spill_bytes",
)
SHORT_METRICS = ("construct_ms", "execute_ms", "jobs", "cpu_ms")
OTHER_LAYER_METRICS = (
    "session.construct_ms", "schema.construct_ms", "sources.files_written",
    "plans.pipeline.overhead_ms", "plans.dag.wait_ms",
    "plans.statestore.save_ms", "plans.statestore.load_ms",
    "streaming.triggerExecution_ms", "streaming.addBatch_ms", "streaming.latestOffset_ms",
    "streaming.queryPlanning_ms", "streaming.walCommit_ms",
    "streaming.commitOffsets_ms", "streaming.state_rows",
    "streaming.state_memory_bytes", "streaming.cdc_sink.merge_ms",
    "streaming.cdc_sink.files_rewritten",
    "unattributed.jobs", "unattributed.cpu_ms",
    "spark.jobs", "spark.tasks", "spark.cpu_ms", "spark.gc_ms",
    "trace.pass_ms", "trace.span_coverage",
)
PER_LAYER = (
    tuple(f"{layer}.{m}" for layer in FULL_LAYERS for m in FULL_METRICS)
    + tuple(f"{layer}.{m}" for layer in SHORT_LAYERS for m in SHORT_METRICS)
    + OTHER_LAYER_METRICS
)
UNITS = {"pass_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("coverage"):
        return "ratio"
    return "count"


class Context:
    """What a workload pass sees: the session, its staged inputs and the
    tracer; it keeps the pass's outputs and measurements."""

    def __init__(self, spark, inputs, tracer, work_dir):
        self.spark = spark
        self.inputs = inputs
        self.tracer = tracer
        self.work_dir = work_dir
        self.outputs: dict = {}
        self.counters: dict = {}
        self.samples: dict = {}

    def span(self, layer, phase="construct"):
        return self.tracer.span(layer, phase)

    def emit(self, name, df, layer):
        """Materialize one output by collecting it into pandas."""
        with self.span(layer, "execute"):
            self.outputs[name] = df.toPandas()

    def value(self, name, value):
        """Record a Python-valued output (already computed by its call)."""
        self.outputs[name] = value

    def count(self, key, value):
        """Add to a per-pass total (reported as the median over passes)."""
        self.counters[key] = self.counters.get(key, 0) + value

    def sample(self, key, value):
        """Record one observation (reported as the median over the run)."""
        self.samples.setdefault(key, []).append(value)


def build_session(work_dir: str, trace: bool):
    """Start the SparkContext with the benchmark's fixed conf, then take
    the session from ``bdq_spark.get_spark``, which adds the package's
    builder defaults (shuffle partitions = nproc, AQE on, UTC, Arrow)."""
    from pyspark import SparkConf, SparkContext

    from bdq_spark import get_spark

    tmp = os.path.join(work_dir, "tmp")
    conf = (
        SparkConf().setMaster(f"local[{NPROC}]").setAppName("bdq_spark-perfbench")
        .set("spark.sql.catalogImplementation", "in-memory")
        .set("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .set("spark.local.dir", os.path.join(work_dir, "local"))
        .set("spark.driver.memory", "1g")
        # a fixed heap and young generation: peak RSS then follows what the
        # run keeps live, not the collector's adaptive sizing
        .set("spark.driver.extraJavaOptions",
             f"-Xms1g -Xmn256m -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .set("spark.ui.enabled", "false")
        .set("spark.ui.showConsoleProgress", "false")
        .set("spark.eventLog.enabled", "true" if trace else "false")
    )
    if trace:
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf = conf.set("spark.eventLog.dir", log_dir).set("spark.eventLog.compress", "false")
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)  # get_spark's shuffle partitions
    SparkContext(conf=conf).setLogLevel("ERROR")
    spark = get_spark()
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    return spark


def stop_jvm() -> None:
    """End the JVM PySpark launched (closing its stdin stops it) and wait
    for it, so the run leaves no process behind."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def reset_between_passes(spark) -> None:
    """As bench.py: drop cached tables and checkpoint blocks so every pass
    starts from a clean block manager, and take the GC hit here."""
    spark.catalog.clearCache()
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist()
    spark.sparkContext._jvm.System.gc()


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _descendants(pid: int) -> list:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as fh:
                kids = [int(k) for k in fh.read().split()]
        except OSError:
            kids = []
        out.extend(kids)
        todo.extend(kids)
    return out


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this process plus its JVM."""
    total = _hwm_mb(os.getpid())
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    total += _hwm_mb(pid)
        except OSError:
            pass
    return total


def host_stamp() -> dict:
    from bench import _machine_state

    state = _machine_state()
    state["busy"] = state.get("loadavg_1m", 0.0) > NPROC
    return state


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "bdq_spark", "__init__.py"))
            and os.path.isfile(os.path.join(root, "bench.py"))):
        print("perfbench: run from the root of a bdq_spark checkout "
              "(bdq_spark/ and bench.py not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    import numpy as np


    workload = importlib.import_module(args.workload)
    trace = bool(args.trace)
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    # temporary files of this process and its JVM stay in the checkout too
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")

    run_start = time.perf_counter()
    detail = {"workload": args.workload, "seed": args.seed, "trace": trace,
              "nproc": NPROC, "host_start": host_stamp()}
    spark = None
    try:
        setup_walls, session_walls = [], []
        for rep in range(SETUP_REPS):
            stage_dir = os.path.join(work, f"inputs{rep}")
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = build_session(work, trace)
            session_walls.append(time.perf_counter() - t0)
            inputs = workload.stage(spark, np.random.default_rng(args.seed), stage_dir)
            setup_walls.append(time.perf_counter() - t0)
            if rep:
                shutil.rmtree(os.path.join(work, f"inputs{rep - 1}"), ignore_errors=True)

        # warm-up pass: untimed, and the pass whose outputs are checked
        tracer = Tracer(spark.sparkContext, trace)
        warm = Context(spark, inputs, tracer, work)
        t0 = time.perf_counter()
        with tracer.root("warmup"):
            workload.run_pass(warm)
        warmup_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        # an operation is one checked output group; the warm-up pass is
        # the one verified, so it alone sets attempted and failed
        check = workload.verify(warm)
        attempted, failed = len(check.checked), len(check.failed)
        detail.update(setup_walls_s=setup_walls, session_walls_s=session_walls,
                      warmup_s=warmup_s, verify_s=time.perf_counter() - t0,
                      verify_failures=check.messages)
        workload.reset(warm)
        reset_between_passes(spark)

        walls, counters, pass_ids = [], [], []
        samples: dict = {}
        deadline = time.perf_counter() + args.seconds
        while not walls or time.perf_counter() < deadline:
            ctx = Context(spark, inputs, tracer, work)
            pid = len(walls)
            t0 = time.perf_counter()
            try:
                with tracer.root(pid):
                    workload.run_pass(ctx)
            except Exception:  # an operation failed: report it, measure no further
                if not walls:
                    raise
                traceback.print_exc()
                detail["verify_failures"].append(f"pass {pid} raised: {traceback.format_exc(limit=1)}")
                attempted, failed = attempted + 1, failed + 1
                workload.reset(ctx)
                break
            walls.append(time.perf_counter() - t0)
            counters.append(ctx.counters)
            for key, values in ctx.samples.items():
                samples.setdefault(key, []).extend(values)
            pass_ids.append(pid)
            workload.reset(ctx)
            reset_between_passes(spark)

        metrics = {
            "pass_s": statistics.median(walls),
            "setup_s": statistics.median(setup_walls) + warmup_s,
            "peak_rss_mb": peak_rss_mb(spark),
        }
        detail.update(passes=len(walls), pass_walls_s=walls,
                      input_rows=inputs.get("rows"), attempted=attempted, failed=failed,
                      op_fail_ratio=failed / attempted)
        spark.stop()
        spark = None

        if trace:
            log = read_event_log(os.path.join(work, "eventlog"))
            totals = layer_totals(tracer.spans, log)
            layers = per_pass_median(totals, pass_ids, _layer_key)
            for key in PER_LAYER:
                metrics[key] = layers.get(key, 0.0)
            for key in {k for c in counters for k in c}:
                metrics[key] = statistics.median(c.get(key, 0.0) for c in counters)
            for key, values in samples.items():
                metrics[key] = statistics.median(values)
            metrics["session.construct_ms"] = statistics.median(session_walls) * 1000
            metrics["trace.pass_ms"] = statistics.median(walls) * 1000
            metrics["trace.span_coverage"] = _coverage(tracer.spans, pass_ids)
            detail["spans"] = tracer.spans
            detail["layers"] = {k: v for k, v in sorted(layers.items())}
        detail["host_end"] = host_stamp()
        detail["run_wall_s"] = time.perf_counter() - run_start
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    wanted = PER_LAYER if trace else END_TO_END
    out = {k: {"value": metrics[k], "unit": unit_of(k)} for k in wanted}
    detail["metrics"] = out
    name = f"{args.workload}-seed{args.seed}-trace{int(trace)}.json"
    with open(os.path.join(results, name), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }))
    return 0


def _layer_key(name, phase, metric):
    """Map a span total to its per-layer metric name (None: not reported);
    ``construct_ms``/``execute_ms`` are self times."""
    if phase in ("construct", "execute") and metric == "self_ms":
        return f"{name}.{phase}_ms"
    if metric in ("jobs", "stages", "cpu_ms", "shuffle_write_bytes", "spill_bytes"):
        return f"{name}.{metric}" if phase != "pass" else None
    return None


def _coverage(spans, pass_ids) -> float:
    """Median share of a pass's wall covered by its top-level spans."""
    shares = []
    for root in (s for s in spans if s["phase"] == "pass" and s["pass"] in pass_ids):
        kids = [(s["start"], s["end"]) for s in spans if s["parent"] == root["id"]]
        shares.append(union_length(kids, root["start"], root["end"])
                      / (root["end"] - root["start"]))
    return statistics.median(shares)


if __name__ == "__main__":
    sys.exit(main())
