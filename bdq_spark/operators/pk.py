"""Primary-key uniqueness validation and minimal-composite-PK search.

Parity targets: `/root/reference/bdq/dataframe.py:184-235` (O8/O9 in
SURVEY.md §2.1); goldens in
`/root/reference/tests/validate_pk_candidates_test.py` and
`.../validate_primary_key_candidate_combinations_test.py:16`.

Scale notes (100 TB):

- O8 is one hash-aggregate shuffle on the candidate key plus a global sum
  over the (usually tiny) duplicate groups; partial (map-side) aggregation
  means the shuffle carries one row per key per mapper, not per input row.
- O9 runs many O8 queries *concurrently* from driver threads (FAIR
  scheduler pools keep them from convoying) and prunes supersets: once
  ``{a}`` proves unique, every combination containing ``a`` is skipped via
  ``DAG.BREAK`` propagation — the reference's "minimum possible amount of
  queries" claim (`/root/reference/README.md:282`).  At scale this is the
  difference between O(2^n) and O(frontier) full-table aggregations.
- Caching the input once (``df.cache()``) before a combination sweep is
  the caller's choice; the operator itself never persists.
"""

from __future__ import annotations

from typing import Iterable, List, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bdq_spark.plans.dag import DAG

__all__ = [
    "validate_primary_key_candidate",
    "validate_primary_key_candidate_combinations",
]


def validate_primary_key_candidate(
    df: DataFrame,
    key_columns: List[str],
    record_count: "int | None" = None,
) -> dict:
    """Check whether ``key_columns`` uniquely identify every row.

    Returns ``{'record_count', 'failed_records', 'failed_df'}`` where
    ``failed_records`` is the total number of rows participating in
    duplicate key groups (0 means the candidate is a valid PK).

    ``record_count`` skips the full-table count when the caller already
    knows it — the combination sweep below validates many candidates
    over ONE df, and the row count is a property of the df, not the
    candidate, so re-counting per candidate is a full-table scan wasted
    per combination.

    Deviation from the reference (SURVEY.md §7.0 sanctioned bug-fix): the
    reference returns the *original* df as ``failed_df``
    (`/root/reference/bdq/dataframe.py:194`); here ``failed_df`` is the
    lazy DataFrame of offending key groups with their duplicate counts —
    the thing a user actually inspects.
    """
    if record_count is None:
        record_count = df.count()

    duplicate_groups = (
        df.groupBy(*key_columns)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
    )

    failed = duplicate_groups.select(F.sum("cnt")).first()[0] or 0

    return {
        "record_count": record_count,
        "failed_records": failed,
        "failed_df": duplicate_groups,
    }


def validate_primary_key_candidate_combinations(
    df: DataFrame,
    combinations: Iterable[Sequence[str]],
    max_workers: int,
    verbose: bool = False,
) -> List[Sequence[str]]:
    """Find all *minimal* unique column combinations among ``combinations``.

    Builds a DAG node per combination; a combination depends on every
    earlier combination whose column set is a strict subset of its own.
    When a combination validates (0 failed records) it is appended to the
    result and returns ``DAG.BREAK``, which suppresses every superset —
    they cannot be *minimal* keys (`/root/reference/bdq/dataframe.py:197-235`).

    ``combinations`` should be ordered smallest-first (as produced by
    :func:`bdq_spark.schema.get_column_names_combinations`) for the
    pruning to be effective.  Results arrive in completion order.
    """
    graph = DAG()
    registered: dict = {}
    solutions: List[Sequence[str]] = []

    # one full-table count shared by every validator (the count is a
    # property of df, not of the candidate — pre-r13 each of the N
    # concurrent validators re-ran it, N-1 wasted full-table scans)
    record_count = df.count()

    for combo in combinations:
        def make_validator(key_columns):
            def _validate():
                outcome = validate_primary_key_candidate(
                    df, list(key_columns), record_count=record_count
                )
                if outcome["failed_records"] == 0:
                    solutions.append(key_columns)
                    return graph.BREAK
                return list(key_columns)

            _validate.__name__ = f"validate({list(key_columns)})"
            _validate.__qualname__ = _validate.__name__
            return _validate

        deps = [
            node
            for cols, node in registered.items()
            if set(cols) < set(combo)
        ]
        if verbose:
            print(f"validator for {combo}: depends on {len(deps)} subset(s)")

        registered[tuple(combo)] = graph.node(depends_on=deps)(make_validator(combo))

    graph.execute(max_workers=max_workers, spark=df.sparkSession)
    return solutions
