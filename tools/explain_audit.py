#!/usr/bin/env python3
"""Physical-plan audit for the driver queries.

Checks the plan properties that matter at 100 TB:

- parquet scans prune columns (``ReadSchema`` should not contain columns
  the query never touches);
- filters reach the scan (``PushedFilters`` non-empty where applicable);
- small dimension joins broadcast (``BroadcastHashJoin``);
- no Cartesian products outside the intentional KNN cross joins.

Usage::

    python tools/explain_audit.py [query ...]   # audit (and diff vs snapshot)
    python tools/explain_audit.py --snapshot    # write plans_golden.json
    python tools/explain_audit.py --assert [query ...]  # exit 1 on regression

``--assert`` turns plan drift from a review-time WARN into a hard
failure for the REGRESSION direction only: an entry whose plan gains
exchanges, sort-merge joins, rdd-scan truncation leaves, construction
jobs or stages, or a cartesian product over its committed golden exits
non-zero (improvements — fewer shuffles, fewer jobs, more pushdown —
stay warnings so a better plan never blocks).
``tests/test_plan_regressions.py`` runs a subset in this mode on every
pytest run, so a lost broadcast, an accidental extra shuffle or an
extra eager job fails CI instead of waiting for someone to re-run the
audit by hand.

The committed snapshot (``plans_golden.json``) records each query's plan
fingerprint (exchange/join/pushdown counts); the audit prints a DRIFT
marker when a fingerprint changes, so plan regressions (a lost broadcast,
an extra shuffle) show up in review diffs.

Two fingerprint fields count work rather than plan shape:
``construct_jobs`` is the number of Spark jobs the entry function
schedules while it BUILDS its DataFrame (eager counts, collects,
checkpoints, staging writes), and ``construct_stages`` the number of
distinct stages those jobs ran.  Both come from the SparkContext's
status tracker (:func:`bdq_spark.plans.plan_lint.count_jobs`).  Unlike
wall time they do not move with host load or core count, so the golden
compares them exactly.  Two things outside the entry move them: an
entry that stages a fixture under the temp dir schedules more jobs on
a cold temp dir (when a call built a fixture, :func:`run_audit` counts
a second call, so the golden records the warm count), and an entry that
leaves a frame persisted would make a later entry that builds the same
frame cheaper (``prepare_corpus`` once cached its deduped corpus), so
:func:`run_audit` clears the session's cache before each entry and an
entry reads the same counts alone as in a full run.

Truncation caveat, made explicit in the fingerprint: operators that
``localCheckpoint`` internally replace the materialized subtree with a
``Scan ExistingRDD`` leaf, so their explain output understates the real
work (an "exchanges=0" plan may hide a whole dedup funnel behind one
checkpoint scan).  The ``rdd_scans`` fingerprint field counts those
leaves — a query whose exchanges drop while ``rdd_scans`` rises has NOT
gotten cheaper, and either count drifting flags the plan for review.
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.01"
SNAPSHOT_PATH = os.path.join(REPO, "plans_golden.json")

# queries where a full-column scan or cartesian join is by design
FULL_SCAN_OK = {
    "compare_orders_diff",      # diff compares every column by contract
    "latest_events_conflict",   # distinct over all selected columns
    "multimodal_decode",        # payload is the data
    "multimodal_audio_decode",  # payload is the data
    "fk_broken_sampled",        # sample_records carries full fact rows by contract
}
# queries where an unconditioned join is the intended plan: brute-force
# scoring (knn/near-dup verify) or a broadcast single-row aggregate
# attached to a tiny result (profile's exact decimal mean)
CARTESIAN_OK = {
    "knn_embeddings",
    "knn_quantized_embeddings",
    "knn_lsh_embeddings",
    "embedding_near_dup_pairs",
    "profile_orders_numeric",
    # IDF weighting attaches the 1-row train-corpus count N to every
    # probe shingle (contamination.py: join(F.broadcast(n_train))) — a
    # single broadcast row, constant-size at any corpus scale
    "doc_contamination_weighted",
    # same shape: the 1-row (total, V) scalar aggregate broadcast onto
    # the vocabulary before the smoothed log-prob projection
    "doc_lm_score",
    # same shape: the 1-row (total, n_keys) aggregate broadcast onto the
    # per-key counts before the share/skew projection
    "skew_report_lineitem_suppkey",
    # same shape: 1-row scalar-aggregate broadcasts (positive-balance
    # average / global max revenue / temperature normalizer) gating the
    # main relation
    "wealthy_low_activity_customers",
    "top_supplier_by_period_revenue",
    "doc_temperature_mixture",
    # same shape: the 1-row min/max bounds broadcast onto the scaled
    # values before bucketing
    "histogram_orders_totalprice",
    # same shape: the 1-row vocabulary-size V broadcast onto the bigram
    # vocabulary before the smoothed log-prob projection
    "doc_lm_score_bigram",
    # same shape: 1-row scalar broadcasts (corpus size N for idf /
    # vocabulary totals + head mass) onto small aggregates
    "doc_top_terms",
    "vocab_stats_documents",
    # same shape: the 1-row (N, V) train-corpus scalar broadcast onto
    # the scored trigrams for the backoff floor
    "doc_lm_score_trigram",
    # same shape (audited r11 — every BroadcastNestedLoopJoin below is
    # a Cross against a 1-ROW scalar aggregate, bounded at any scale):
    # KMV theta (the k-th minimum hash) gating the h < theta filter and
    # the union/intersection estimates
    "events_kmv_setops",
    # the 1-row corpus size N for idf, as in doc_top_terms
    "docs_bm25_search",
    # the 1-row streaming HLL register-merge total attached to the
    # batch replay twin for the compare
    "streaming_hll_distinct",
    # the 1-row per-sketch width/total scalars attached to the joined
    # CMS grids before the estimate projection
    "join_size_estimate_cms",
    # the 1-row funnel denominator (stage-1 population) broadcast onto
    # the per-stage conversion rates
    "events_funnel_conversion",
}


from bdq_spark.plans.plan_lint import (
    checkpoint_partitions,
    count_jobs,
    plan_fingerprint,
    plan_text,
)

plan_of = plan_text  # back-compat alias; the library owns the capture


# fingerprint fields where a HIGHER value than golden is a regression
# (more shuffles / more unbroadcast joins / more checkpoint truncation /
# a checkpoint pinned wider than its data — the r10 CC defect, which no
# explain-text count could see / more jobs or stages scheduled while
# the entry builds its frame); cartesian is boolean: golden
# False -> True regresses
_REGRESSION_KEYS = (
    "exchanges",
    "sort_merge_joins",
    "rdd_scans",
    "checkpoint_partitions",
    "construct_jobs",
    "construct_stages",
)


def relative_checkpoint_width(n: int, shuffle_width: int):
    """A checkpoint partition count as recorded in the golden: a
    multiple of the session's shuffle width (a checkpoint pinned at the
    width, e.g. a streaming state store's) is recorded as ``"<k>x
    shuffle"``, so audits at 4 and 8 cores agree; any other count is
    data-derived and kept as it is.  A data-derived count that happens
    to be a multiple of the width reads as pinned (shuffle width 1 is
    left absolute for that reason)."""
    if shuffle_width > 1 and n >= shuffle_width and n % shuffle_width == 0:
        return f"{n // shuffle_width}x shuffle"
    return n


def _rank(value):
    """Order of a fingerprint value for the regression check: any
    ``"<k>x shuffle"`` width ranks above every data-derived count."""
    if isinstance(value, str):
        return (1, int(value.split("x")[0]))
    return (0, value)


def regressions_vs_golden(golden_fp: dict, fp: dict) -> list:
    """The REGRESSION subset of drift: counts that grew, or a cartesian
    that appeared.  Improvements (counts that shrank, pushdown gained)
    are drift worth a snapshot refresh but never a failure.  A
    checkpoint newly pinned at the shuffle width where the golden has a
    data-derived width regresses (:func:`relative_checkpoint_width`)."""
    regs = [
        # .get() in the message too: an older golden snapshot missing a
        # newer fingerprint key must REPORT the regression, not KeyError
        f"{k} {golden_fp.get(k, 0)}->{fp.get(k, 0)}"
        for k in _REGRESSION_KEYS
        if _rank(fp.get(k, 0)) > _rank(golden_fp.get(k, 0))
    ]
    if fp.get("cartesian") and not golden_fp.get("cartesian"):
        regs.append("cartesian False->True")
    return regs


def run_audit(spark, queries, only=(), golden=None, quiet=False):
    """Audit ``queries`` (all, or the ``only`` subset) and return
    ``(fingerprints, problems, regressions)``.  ``problems`` is every
    WARN note; ``regressions`` only the golden-vs-now degradations from
    :func:`regressions_vs_golden` (None golden -> no drift checks)."""
    from bdq_spark import entry_queries as eq

    only = set(only)
    golden = golden or {}
    fingerprints = {}
    problems = []
    regressed = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            # no frame an earlier entry persisted may serve this one
            spark.catalog.clearCache()
            builds = eq._staged_builds
            with count_jobs(spark) as built:
                df = fn(spark, SF_DIR)
            if eq._staged_builds != builds:
                # the call staged a fixture on a cold temp dir; the
                # golden records the steady state, so count a second call
                with count_jobs(spark) as built:
                    df = fn(spark, SF_DIR)
            plan = plan_of(df)
        except Exception as e:
            problems.append((name, f"explain failed: {e}"))
            regressed.append((name, f"explain failed: {e}"))
            continue

        notes = []
        scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        wide_scans = [s for s in scans if s.count(",") >= 9]
        if wide_scans and name not in FULL_SCAN_OK:
            notes.append(f"wide scan ({wide_scans[0][:60]}...)")
        if "CartesianProduct" in plan and name not in CARTESIAN_OK:
            notes.append("CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in CARTESIAN_OK:
            notes.append("BroadcastNestedLoopJoin")
        fp = plan_fingerprint(plan)
        # partition counts live on the checkpoint RDDs, not in the
        # explain text — read them off the DataFrame's analyzed plan
        fp["checkpoint_partitions"] = relative_checkpoint_width(
            checkpoint_partitions(df),
            int(spark.conf.get("spark.sql.shuffle.partitions")),
        )
        fp["construct_jobs"] = built["jobs"]
        fp["construct_stages"] = built["stages"]
        n_exchange = fp["exchanges"]
        n_bcast = fp["broadcast_hash_joins"]
        n_smj = fp["sort_merge_joins"]
        n_pushed = fp["pushed_scans"]
        n_rdd = fp["rdd_scans"]
        fingerprints[name] = fp

        drift = ""
        if golden:
            if name not in golden:
                drift = "DRIFT: new query (re-run --snapshot)"
            elif golden[name] != fp:
                diffs = [
                    f"{k} {golden[name].get(k)}->{fp[k]}"
                    for k in fp
                    if golden[name].get(k) != fp[k]
                ]
                drift = "DRIFT: " + ", ".join(diffs)
            regs = regressions_vs_golden(golden.get(name, {}), fp) \
                if name in golden else []
            if regs:
                regressed.append((name, ", ".join(regs)))
        if drift:
            notes.append(drift)

        status = "WARN" if notes else "ok"
        if not quiet:
            print(
                f"{status:4s} {name:34s} exchanges={n_exchange:2d} "
                f"bhj={n_bcast} smj={n_smj} pushed_scans={n_pushed} "
                f"rdd={n_rdd} ckpt_parts={fp['checkpoint_partitions']} "
                f"jobs={fp['construct_jobs']} stages={fp['construct_stages']}"
                + (f"  <- {'; '.join(notes)}" if notes else "")
            )
        if notes:
            problems.append((name, "; ".join(notes)))
    return fingerprints, problems, regressed


def main() -> int:
    from bdq_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    args = sys.argv[1:]
    write_snapshot = "--snapshot" in args
    assert_mode = "--assert" in args
    only = set(a for a in args if not a.startswith("--"))

    golden = {}
    if not write_snapshot and os.path.exists(SNAPSHOT_PATH):
        with open(SNAPSHOT_PATH) as f:
            golden = json.load(f)

    fingerprints, problems, regressed = run_audit(
        spark, queries, only=only, golden=golden if not write_snapshot else None
    )

    if write_snapshot:
        if only:  # partial snapshot: merge into the committed golden
            merged = {}
            if os.path.exists(SNAPSHOT_PATH):
                with open(SNAPSHOT_PATH) as f:
                    merged = json.load(f)
            merged.update(fingerprints)
            fingerprints = merged
        with open(SNAPSHOT_PATH, "w") as f:
            json.dump(fingerprints, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"\nsnapshot written: {len(fingerprints)} queries")
        return 0

    print()
    if regressed and assert_mode:
        print(f"{len(regressed)} plan REGRESSION(S):")
        for name, why in regressed:
            print(f"  {name}: {why}")
        return 1
    if problems:
        print(f"{len(problems)} plan warning(s)")
    else:
        print("all plans clean")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
