"""Physical-plan scale lint: "would this plan survive 100x?" as an API.

The reference frames data quality as *checks you run before you trust a
dataset* (``/root/reference/README.md:3`` — "processes your quality
checks at scale offered by spark").  This module applies the same idea
to the QUERY itself: before a job ships to a 1000-executor cluster over
100 TB, lint its physical plan for the shapes that are invisible at
test scale and fatal at production scale.

The rules are the ones this repo's own per-round plan audit enforces on
its query registry (``tools/explain_audit.py`` imports its fingerprint
from here), promoted to a public API so users can gate THEIR queries
the same way::

    from bdq_spark.plans.plan_lint import lint_plan, assert_scalable

    findings = lint_plan(df)          # structured findings, worst first
    assert_scalable(df)               # raise PlanScaleError on any ERROR

What each rule catches, and why it matters at 100 TB:

``cartesian-product`` (ERROR)
    A ``CartesianProduct`` node — O(n*m) rows materialized.  Fine for a
    deliberate brute-force scorer on a bounded side; fatal anywhere
    else.  Allow intentional ones via ``allow={"cartesian-product"}``.
``python-row-udf`` (ERROR)
    A ``BatchEvalPython`` node — a row-at-a-time Python UDF in the hot
    path, ~10-100x slower than Arrow-vectorized ``pandas_udf``
    (``ArrowEvalPython``, which this rule deliberately does NOT flag)
    and a codegen barrier besides.
``single-partition-exchange`` (ERROR)
    ``Exchange SinglePartition`` — the whole dataset funnels through
    one task.  The classic cause is a window function with no
    ``partitionBy`` or a global ``orderBy`` mid-plan; at 100 TB this is
    one executor core doing all the work (or an OOM).  A terminal
    single-partition collapse under a LIMIT/TakeOrdered is typically
    tiny-by-then and can be allowed explicitly.
``nested-loop-join`` (WARN)
    ``BroadcastNestedLoopJoin`` — every probe row scans the whole
    broadcast side.  Benign when the broadcast side is a 1-row scalar
    aggregate (the common "attach a global count" shape); quadratic
    work when it is not.  The lint cannot see cardinalities, so this
    stays a WARN for human review.
``sort-merge-join`` (WARN)
    A ``SortMergeJoin`` where a broadcast might fit — SMJ means BOTH
    sides shuffle and sort.  Correct for big-big joins; wasteful when
    one side is a small dimension (check stats, then hint
    ``broadcast()``).
``wide-scan`` (WARN)
    A parquet ``ReadSchema`` carrying ``wide_scan_columns``+ columns —
    column pruning did not reach the scan, so every executor reads and
    decodes bytes the query never uses.
``unpushed-filter-scan`` (INFO)
    The plan has ``Filter`` nodes but a parquet scan advertises no
    ``PushedFilters`` — predicate pushdown may have been defeated (a
    UDF in the predicate, a cast on the column side).  INFO because
    some filters legitimately cannot push (post-aggregation HAVING).
``lineage-truncation`` (INFO)
    ``Scan ExistingRDD`` leaves — a ``localCheckpoint``/RDD boundary
    hides the subtree behind it, so every other count here understates
    the real work.  Not a defect; a reminder that the fingerprint is
    partial.

Each finding carries ``rule``, ``severity``, ``count`` and a remedy
hint.  ``plan_fingerprint`` returns the exact counts dict the repo's
plan-regression golden (``plans_golden.json``) stores, so library users
can snapshot-and-diff their own plans the same way CI does here.
"""

from __future__ import annotations

import io
import re
import threading
from contextlib import contextmanager, redirect_stdout
from dataclasses import dataclass
from typing import Iterable, Iterator, List, Union

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "PlanFinding",
    "PlanScaleError",
    "plan_text",
    "plan_fingerprint",
    "count_jobs",
    "lint_plan",
    "assert_scalable",
]

ERROR, WARN, INFO = "ERROR", "WARN", "INFO"
_SEV_ORDER = {ERROR: 0, WARN: 1, INFO: 2}


@dataclass(frozen=True)
class PlanFinding:
    rule: str
    severity: str  # ERROR | WARN | INFO
    count: int
    message: str
    remedy: str

    def __str__(self) -> str:  # readable in logs / assertion output
        return f"[{self.severity}] {self.rule} (x{self.count}): {self.message}"


class PlanScaleError(AssertionError):
    """Raised by :func:`assert_scalable`; carries the findings list."""

    def __init__(self, findings: List[PlanFinding]):
        self.findings = findings
        super().__init__(
            "plan has scale-fatal shapes:\n"
            + "\n".join(f"  {f}" for f in findings)
        )


_EXPLAIN_LOCK = threading.Lock()


def plan_text(df_or_text: Union[DataFrame, str]) -> str:
    """The ``explain("formatted")`` text of a DataFrame (or passthrough
    for an already-captured plan string).

    Uses the JVM's ``queryExecution().explainString`` directly — NOT
    ``df.explain()`` + ``redirect_stdout``, which swaps the
    process-wide stdout and interleaves plans when concurrent pipeline
    steps lint in parallel (DAG steps run on worker threads).  The
    redirect fallback keeps a lock for the same reason."""
    if isinstance(df_or_text, str):
        return df_or_text
    df = df_or_text
    try:
        jvm = df.sparkSession._jvm
        mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        return df._jdf.queryExecution().explainString(mode)
    except Exception:
        with _EXPLAIN_LOCK:
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            return buf.getvalue()


def plan_fingerprint(df_or_text: Union[DataFrame, str]) -> dict:
    """The plan-shape counts dict used by ``plans_golden.json`` — keys
    and semantics are the regression-golden contract: ``exchanges``,
    ``broadcast_hash_joins``, ``sort_merge_joins``, ``pushed_scans``,
    ``cartesian``, ``rdd_scans``."""
    plan = plan_text(df_or_text)
    return {
        "exchanges": len(re.findall(r"Exchange", plan)),
        "broadcast_hash_joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "sort_merge_joins": len(re.findall(r"SortMergeJoin", plan)),
        "pushed_scans": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "cartesian": "CartesianProduct" in plan,
        "rdd_scans": len(re.findall(r"Scan ExistingRDD", plan)),
    }


def checkpoint_partitions(df: DataFrame) -> int:
    """MAX partition count across the plan's ``LogicalRDD`` leaves (the
    ``localCheckpoint`` scans) — the plan-shape dimension the r10 CC
    defect proved invisible to every count in :func:`plan_fingerprint`:
    a fused setup that pins a 920-row edge checkpoint at 32 partitions
    has identical exchange/join/rdd-scan counts to one AQE-coalesced to
    1 partition, but schedules 32 near-empty tasks in every downstream
    job (measured 2x on the clustering entry).  Partition counts live
    on the RDD, not in the explain text, so this reads the analyzed
    plan's leaves through the JVM; returns 0 when the plan has no
    checkpoint leaves (or on any introspection failure — the
    fingerprint must never break the audit).

    ``LogicalRDD`` also covers ``createDataFrame`` over a local
    collection — parallelized at ``defaultParallelism``, i.e. a
    SESSION/MACHINE-dependent width that would make goldens flag false
    regressions on a box with a different core count (ADVICE r11).
    Those leaves are excluded: their lineage bottoms out in a
    ``ParallelCollectionRDD`` (visible in ``toDebugString``), whereas a
    ``localCheckpoint`` leaf's lineage is truncated at the checkpoint,
    so the probe distinguishes them reliably."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        best = 0
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                rdd = leaf.rdd()
                if "ParallelCollectionRDD" in rdd.toDebugString():
                    continue  # createDataFrame leaf, not a checkpoint
                best = max(best, rdd.getNumPartitions())
        return best
    except Exception:
        return 0


def _max_job_id(spark: SparkSession) -> int:
    """The highest job id the SparkContext has scheduled so far (-1
    before any).  Job ids are allocated consecutively, so a delta
    across a region counts every job the region scheduled.  The
    listener bus is drained first: the status store is filled
    asynchronously, and a job that just finished may not be in it
    yet.  ``getJobIdsForGroup(None)`` lists only jobs outside a job
    group, so the walk past its maximum picks up grouped jobs too
    (streaming micro-batches, pipeline steps)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    top = max(tracker.getJobIdsForGroup(None) or [], default=-1)
    while tracker.getJobInfo(top + 1) is not None:
        top += 1
    return top


@contextmanager
def count_jobs(spark: SparkSession) -> Iterator[dict]:
    """Count the jobs a block schedules and the distinct stages they
    run.  Yields a dict that holds ``jobs`` and ``stages`` once the
    block exits.

    ``stages`` counts the stages among the jobs' stage ids that ran
    at least one task.  Skipped stages are left out: a job lists the
    map stages of every shuffle it reads, also those an earlier job
    already wrote, and whether such a stage keeps its id or gets a
    new one depends on job timing.  Stages that ran do not.

    Both numbers are host-insensitive: they do not depend on load or
    core count, only on what the code asks Spark to run.  Jobs from
    other threads that run at the same time are counted too, so count
    on a quiet session."""
    counts: dict = {}
    first = _max_job_id(spark) + 1
    yield counts
    last = _max_job_id(spark)
    tracker = spark.sparkContext.statusTracker()
    stages = set()
    for job in range(first, last + 1):
        info = tracker.getJobInfo(job)
        if info is not None:
            stages.update(info.stageIds)
    ran = 0
    for stage in stages:
        info = tracker.getStageInfo(stage)
        if info is not None and info.numCompletedTasks:
            ran += 1
    counts["jobs"] = last + 1 - first
    counts["stages"] = ran


# ops below a SinglePartition exchange that make it benign: the stream
# was already reduced to O(partitions) rows (partial aggregates) or a
# bounded prefix (limits) before the funnel
_REDUCING_CHILD = re.compile(
    r"^(HashAggregate|SortAggregate|ObjectHashAggregate|LocalLimit|"
    r"CollectLimit|TakeOrderedAndProject)$"
)
_TREE_NODE = re.compile(r"^[\s+:*-]*([A-Za-z]\w*).*\((\d+)\)\s*$")


def _single_partition_hazards(plan: str) -> int:
    """Count SinglePartition exchanges whose child stream was NOT
    already reduced (partial aggregate / limit) — the ones where the
    full dataset genuinely funnels through one task.  Falls back to
    counting every SinglePartition when the text has no formatted-mode
    tree to read child relationships from (simple-mode explain)."""
    # detail sections start at column 0 as "(N) OpName"; an exchange is
    # single-partition when its Arguments line says so
    sp_ids = set()
    for m in re.finditer(r"(?m)^\((\d+)\) Exchange\b", plan):
        section_end = plan.find("\n(", m.end())
        section = plan[m.end(): section_end if section_end != -1 else None]
        if re.search(r"Arguments: SinglePartition\b", section):
            sp_ids.add(m.group(1))
    tree_lines = []
    in_tree = False
    for line in plan.splitlines():
        if line.startswith("== Physical Plan =="):
            in_tree = True
            continue
        if in_tree:
            if not line.strip():
                break
            tree_lines.append(line)
    if not in_tree or not tree_lines:
        # no formatted tree: best effort on raw markers
        return len(re.findall(r"\bSinglePartition\b", plan))
    if not sp_ids:
        return 0
    nodes = [(_TREE_NODE.match(ln), ln) for ln in tree_lines]
    hazards = 0
    for i, (m, _ln) in enumerate(nodes):
        if not m or m.group(1) != "Exchange" or m.group(2) not in sp_ids:
            continue
        # pre-order text: the exchange's (only) child is the NEXT tree
        # node — scan past lines that aren't plan nodes (AQE runs
        # interleave section markers like "+- == Final Plan ==" into
        # the tree; treating one as the child flagged healthy plans)
        child = None
        for nm, _ in nodes[i + 1:]:
            if nm is not None:
                child = nm
                break
        if child is None or not _REDUCING_CHILD.match(child.group(1)):
            hazards += 1
    return hazards


def lint_plan(
    df_or_text: Union[DataFrame, str],
    *,
    allow: Iterable[str] = (),
    wide_scan_columns: int = 10,
) -> List[PlanFinding]:
    """Lint a physical plan for 100 TB scale hazards.

    Returns findings sorted worst-first (ERROR, WARN, INFO).  ``allow``
    suppresses rules by name for shapes that are intentional in this
    query (e.g. ``{"cartesian-product"}`` for a deliberate brute-force
    scorer).  ``wide_scan_columns`` is the ReadSchema width at which a
    scan counts as unpruned."""
    plan = plan_text(df_or_text)
    allow = set(allow)
    findings: List[PlanFinding] = []

    def add(rule, severity, count, message, remedy):
        if count and rule not in allow:
            findings.append(PlanFinding(rule, severity, count, message, remedy))

    add(
        "cartesian-product",
        ERROR,
        len(re.findall(r"CartesianProduct", plan)),
        "CartesianProduct materializes |left| x |right| rows",
        "join on a key, or allow={'cartesian-product'} if the small "
        "side is bounded by construction",
    )
    add(
        "python-row-udf",
        ERROR,
        len(re.findall(r"BatchEvalPython", plan)),
        "row-at-a-time Python UDF in the plan (BatchEvalPython)",
        "use built-in pyspark.sql.functions, or a pandas_udf / "
        "mapInPandas (ArrowEvalPython) for ~10-100x less overhead",
    )
    add(
        "single-partition-exchange",
        ERROR,
        _single_partition_hazards(plan),
        "the whole dataset funnels through ONE partition",
        "give the window a partitionBy, replace global orderBy with "
        "sortWithinPartitions, or keep global sorts terminal-only",
    )
    add(
        "nested-loop-join",
        WARN,
        len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "BroadcastNestedLoopJoin: every probe row scans the whole "
        "broadcast side",
        "fine for a 1-row scalar aggregate; otherwise add an equi-join "
        "key so it becomes a hash join",
    )
    add(
        "sort-merge-join",
        WARN,
        len(re.findall(r"SortMergeJoin", plan)),
        "SortMergeJoin shuffles AND sorts both sides",
        "correct for big-big joins; broadcast() the small side if one "
        "fits in executor memory",
    )
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    wide = [s for s in scans if s.count(",") + 1 >= wide_scan_columns]
    add(
        "wide-scan",
        WARN,
        len(wide),
        f"parquet scan reads >= {wide_scan_columns} columns"
        + (f" (first: {wide[0][:60]}...)" if wide else ""),
        "select() the needed columns before wide transforms so column "
        "pruning reaches the scan",
    )
    n_filters = len(re.findall(r"\n\s*[+:*-]*\s*\(\d+\) Filter\b", plan))
    n_pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
    add(
        "unpushed-filter-scan",
        INFO,
        1 if (n_filters and scans and not n_pushed) else 0,
        "plan filters rows but no parquet scan advertises PushedFilters",
        "check the predicate: UDFs or casts on the column side defeat "
        "pushdown; compare literals in the column's own type",
    )
    add(
        "lineage-truncation",
        INFO,
        len(re.findall(r"Scan ExistingRDD", plan)),
        "localCheckpoint/RDD boundary hides the subtree behind it",
        "counts above understate the real work; audit the pre-"
        "checkpoint plan separately if it matters",
    )
    findings.sort(key=lambda f: (_SEV_ORDER[f.severity], f.rule))
    return findings


def assert_scalable(
    df_or_text: Union[DataFrame, str],
    *,
    allow: Iterable[str] = (),
    fail_on: str = ERROR,
    wide_scan_columns: int = 10,
) -> List[PlanFinding]:
    """Lint and RAISE :class:`PlanScaleError` if any finding is at or
    above ``fail_on`` severity (default: ERROR only).  Returns the full
    findings list (including sub-threshold ones) when it passes, so
    callers can still log the WARN/INFO tail."""
    findings = lint_plan(
        df_or_text, allow=allow, wide_scan_columns=wide_scan_columns
    )
    threshold = _SEV_ORDER[fail_on]
    bad = [f for f in findings if _SEV_ORDER[f.severity] <= threshold]
    if bad:
        raise PlanScaleError(bad)
    return findings
