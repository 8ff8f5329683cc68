"""Plan-shape and job-count regression gate + registry-coverage
invariant.

``plans_golden.json`` used to be advisory: drift only surfaced if
someone re-ran ``tools/explain_audit.py`` by hand.  These tests make
the REGRESSION direction (an entry gaining exchanges / sort-merge
joins / rdd-scan truncation leaves / construction jobs or stages / a
cartesian product over its committed golden) fail every pytest run
over a subset, and pin the bookkeeping hole that let
``near_dup_kcore`` ship with neither a plan golden nor a driver
correctness row.
"""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_spec = importlib.util.spec_from_file_location(
    "explain_audit", os.path.join(REPO, "tools", "explain_audit.py")
)
explain_audit = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(explain_audit)

# cheap pure-read entries (small plans, no sidecar writes) plus the
# entries that run hand-scheduled loops while they build their frame —
# connected components, kcore peeling, the BPE merge loop, dedup
# clustering and the primary-key sweep.  Their eager jobs are where an
# extra count or checkpoint shows up first, so construct_jobs /
# construct_stages gate them.  ~16 s on a warm session.
ASSERT_SUBSET = [
    "latest_events",
    "events_daily_by_type",
    "orders_rollup_by_year",
    "large_order_customers",
    "schema_diff_orders",
    "salted_join_revenue",
    "embedding_dedup_clusters",
    "near_dup_kcore",
    "bpe_train_merges",
    "documents_deduped",
    "pk_minimal_combinations",
]


def _golden():
    with open(os.path.join(REPO, "plans_golden.json")) as f:
        return json.load(f)


def test_regression_classifier_direction():
    g = {"exchanges": 2, "sort_merge_joins": 0, "rdd_scans": 1,
         "cartesian": False, "broadcast_hash_joins": 2, "pushed_scans": 3}
    better = dict(g, exchanges=1, pushed_scans=4)
    assert explain_audit.regressions_vs_golden(g, better) == []
    worse = dict(g, exchanges=3, cartesian=True)
    regs = explain_audit.regressions_vs_golden(g, worse)
    assert regs == ["exchanges 2->3", "cartesian False->True"]
    # losing a broadcast usually shows up as smj/exchange growth
    assert explain_audit.regressions_vs_golden(
        g, dict(g, sort_merge_joins=1)
    ) == ["sort_merge_joins 0->1"]
    # one more eager job or stage while building the frame regresses;
    # one fewer is an improvement
    g = dict(g, construct_jobs=23, construct_stages=34)
    assert explain_audit.regressions_vs_golden(
        g, dict(g, construct_jobs=24)
    ) == ["construct_jobs 23->24"]
    assert explain_audit.regressions_vs_golden(
        g, dict(g, construct_stages=35)
    ) == ["construct_stages 34->35"]
    assert explain_audit.regressions_vs_golden(
        g, dict(g, construct_jobs=22, construct_stages=33)
    ) == []


def test_checkpoint_width_relative_to_shuffle_width():
    """A checkpoint pinned at the shuffle width reads the same at 4 and
    8 cores, and a checkpoint newly pinned wider than its data still
    regresses."""
    width = explain_audit.relative_checkpoint_width
    assert width(4, 4) == width(8, 8) == "1x shuffle"
    assert width(16, 8) == "2x shuffle"
    assert width(1, 4) == width(1, 8) == 1
    assert width(0, 4) == 0 and width(3, 4) == 3 and width(2, 1) == 2
    g = {"checkpoint_partitions": 1}
    assert explain_audit.regressions_vs_golden(
        g, {"checkpoint_partitions": width(8, 8)}
    ) == ["checkpoint_partitions 1->1x shuffle"]
    pinned = {"checkpoint_partitions": "1x shuffle"}
    assert explain_audit.regressions_vs_golden(pinned, {"checkpoint_partitions": width(4, 4)}) == []
    assert explain_audit.regressions_vs_golden(pinned, {"checkpoint_partitions": 1}) == []
    assert explain_audit.regressions_vs_golden(
        pinned, {"checkpoint_partitions": "2x shuffle"}
    ) == ["checkpoint_partitions 1x shuffle->2x shuffle"]


def test_cheap_subset_matches_golden_in_assert_mode(spark):
    import __spark_entry__ as entrymod

    golden = _golden()
    assert set(ASSERT_SUBSET) <= set(golden)
    _, _, regressed = explain_audit.run_audit(
        spark, entrymod.queries(), only=ASSERT_SUBSET, golden=golden,
        quiet=True,
    )
    assert regressed == []


def test_cold_fixture_entry_audits_at_golden(spark):
    """An entry that stages its fixture on a cold temp dir also runs the
    build's jobs; the audit then counts a second call, so a first audit
    on a fresh checkout reads the golden's steady-state count."""
    import hashlib
    import shutil
    import tempfile

    import __spark_entry__ as entrymod

    key = hashlib.md5(explain_audit.SF_DIR.encode()).hexdigest()[:12]
    shutil.rmtree(
        os.path.join(tempfile.gettempdir(), f"bdq_bloom_orders_{key}"),
        ignore_errors=True,
    )
    golden = _golden()
    fps, _, regressed = explain_audit.run_audit(
        spark, entrymod.queries(), only=["bloom_pruned_scan"],
        golden=golden, quiet=True,
    )
    want = golden["bloom_pruned_scan"]
    assert fps["bloom_pruned_scan"]["construct_jobs"] == want["construct_jobs"]
    assert (
        fps["bloom_pruned_scan"]["construct_stages"]
        == want["construct_stages"]
    )
    assert regressed == []


def test_every_entry_has_a_plan_golden():
    """Every registered query has a plans_golden fingerprint, so
    ``explain_audit --assert`` gates its plan and job counts.  Its
    value check is pinned by
    ``test_registry.test_every_entry_has_a_value_check``."""
    from bdq_spark import entry_queries as eq

    golden = _golden()
    missing_golden = [n for n in eq.QUERIES if n not in golden]
    assert missing_golden == []


@pytest.mark.slow
def test_full_registry_lints_error_free(spark):
    """VERDICT r8 item 3: EVERY registry entry's physical plan must be
    free of ERROR-severity scale hazards (cartesian product,
    row-at-a-time Python UDF, unreduced single-partition funnel) — as
    a pytest, so a new entry can't regress silently between rounds.
    Runs at sf0.001 (explain-only beyond what entry construction
    itself stages); WARN/INFO findings are the audit's business, not a
    failure here."""
    import __spark_entry__ as entrymod

    from bdq_spark.plans.plan_lint import lint_plan

    sf_dir = "/root/testdata/sf0.001"
    errors = {}
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, sf_dir)
        except Exception as e:  # construction failure is its own bug
            errors[name] = [f"entry construction failed: {e}"]
            continue
        bad = [
            f"{f.rule}: {f.message}"
            for f in lint_plan(df)
            if f.severity == "ERROR"
        ]
        if bad:
            errors[name] = bad
    assert errors == {}, f"scale-hazard ERRORs in {sorted(errors)}: {errors}"
