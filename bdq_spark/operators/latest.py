"""Latest-record dedup (SCD-style) with optional PK-conflict detection.

Parity targets: `/root/reference/bdq/dataframe.py:142-182` (operators
O5-O7 in SURVEY.md §2.1); golden behavior in
`/root/reference/README.md:252-276`.

Scale notes (100 TB):

- One window shuffle on the PK columns is the whole cost of
  :func:`get_latest_records`; ``row_number`` needs no full sort per
  partition beyond the window ordering and is pipelined in one stage.
- The conflict variant reuses the *same* WindowSpec for ``row_number`` and
  ``dense_rank`` so Catalyst evaluates both in a single Window physical
  node — one shuffle, not two.  The conflict join is an equi self-join on
  the PK, which AQE will broadcast when the conflict set is small (the
  common case: conflicts are anomalies).
- Skewed PKs (one key with millions of versions) are the classic hazard;
  AQE skew-join handles the join side, and the window itself only ever
  materializes per-key groups, so the operator degrades linearly, not
  quadratically.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

__all__ = [
    "get_latest_records_window",
    "get_latest_records",
    "get_latest_records_with_pk_confict_detection_flag",
    "get_latest_records_with_pk_conflict_detection_flag",
]


def get_latest_records_window(
    primary_key_columns: List[str], order_by_columns: List[str]
) -> WindowSpec:
    """Shared WindowSpec: partition by PK, order by each column DESC
    (`/root/reference/bdq/dataframe.py:142-148`)."""
    return Window.partitionBy(*primary_key_columns).orderBy(
        *[F.col(c).desc() for c in order_by_columns]
    )


def get_latest_records(
    df: DataFrame,
    primary_key_columns: List[str],
    order_by_columns: List[str],
) -> DataFrame:
    """Keep the newest row per primary key; ties broken arbitrarily.

    ``row_number() == 1`` over the shared descending window (parity with
    the reference bdq's ``bdq/dataframe.py:150-157``).  For deterministic
    results on tied order columns, include a tiebreaker column in
    ``order_by_columns``.
    """
    w = get_latest_records_window(primary_key_columns, order_by_columns)
    return (
        df.withColumn("__row_number", F.row_number().over(w))
        .filter(F.col("__row_number") == 1)
        .drop("__row_number")
    )


def get_latest_records_with_pk_confict_detection_flag(
    df: DataFrame,
    primary_key_columns: List[str],
    order_by_columns: List[str],
) -> DataFrame:
    """Latest records keeping *all* rows tied at the newest version, each
    flagged ``__has_pk_conflict`` when the tie is a genuine conflict.

    Semantics of `/root/reference/bdq/dataframe.py:159-182` (public name
    keeps the reference's "confict" typo; a correctly-spelled alias exists):

    1. ``distinct()`` first, so carbon-copy duplicate rows collapse and do
       NOT count as conflicts;
    2. ``row_number`` and ``dense_rank`` over the same descending window;
       keep ``dense_rank == 1`` (all rows tied at the top);
    3. a PK is conflicted iff any surviving row has ``row_number != 1``
       (i.e. >1 distinct row ties at the newest order value);
    4. every kept row gets a boolean ``__has_pk_conflict``.
    """
    w = get_latest_records_window(primary_key_columns, order_by_columns)

    ranked = (
        df.distinct()
        .withColumn("__row_number", F.row_number().over(w))
        .withColumn("__dense_rank", F.dense_rank().over(w))
        .filter(F.col("__dense_rank") == 1)
    )

    conflicted_pks = (
        ranked.filter(F.col("__row_number") != 1)
        .select(*primary_key_columns)
        .distinct()
    )

    kept = ranked.drop("__row_number", "__dense_rank").alias("kept")
    conflicts = conflicted_pks.withColumn("__conflict_marker", F.lit(True)).alias(
        "conflicts"
    )
    on = [
        F.col(f"kept.{c}").eqNullSafe(F.col(f"conflicts.{c}"))
        for c in primary_key_columns
    ]
    flag = F.coalesce(F.col("conflicts.__conflict_marker"), F.lit(False))
    return kept.join(conflicts, on, "left_outer").select(
        "kept.*", flag.alias("__has_pk_conflict")
    )


#: Correctly-spelled alias (SURVEY.md §7.0).
get_latest_records_with_pk_conflict_detection_flag = (
    get_latest_records_with_pk_confict_detection_flag
)
