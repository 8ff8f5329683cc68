#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry at a given SF dir on Spark AND the matching
``oracle_sql()`` on DuckDB, then compares row count, column names, and an
order-insensitive value multiset.  An entry without an oracle only has
to return rows here; its line names the registry's ``value_test``, the
pytest that checks its values.  Usage::

    python tools/check_oracle.py [sf_dir] [query ...]

Driver-faithful typing (round 8): DuckDB results are fetched through
Arrow (``.arrow().to_pylist()``), NOT ``fetchall()``.  ``fetchall``
silently converts HUGEINT to Python int, which made two r7 oracles
(``sum()`` / ``list_sum()`` over BIGINT promotes to HUGEINT in DuckDB)
pass locally while the driver's typed hash failed.  Through Arrow a
HUGEINT arrives as ``decimal128(38, 0)`` / ``Decimal`` and the multiset
compare fails exactly like the driver does; an explicit lint also
flags the column by name so the fix (``CAST(... AS BIGINT)``) is
obvious.  ``tests/test_oracle_types.py`` sweeps all oracles for the
same signature at pytest time.
"""

from __future__ import annotations

import math
import os
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb
import pyarrow as pa

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    if isinstance(v, bool):
        return str(v)
    return repr(v)


def row_key(row, col_order):
    return tuple(norm_cell(row[i]) for i in col_order)


def align_order(cols) -> list:
    """Column-alignment order built over (name, occurrence) pairs.
    ``list.index()`` maps every duplicate output name to its FIRST
    occurrence (cols ['a','a','b'] -> [0,0,2]), so the second duplicate
    column was never actually compared (ADVICE r9).  Sorting
    ``enumerate`` pairs by (name, original position) gives each
    duplicate its own index, and the k-th occurrence of a name on the
    Spark side aligns with the k-th occurrence on the DuckDB side."""
    return [i for _, i in sorted((c, i) for i, c in enumerate(cols))]


def arrow_rows(tbl) -> list:
    """Rows of an Arrow table as positional tuples.  Positional, not
    via ``to_pylist()`` dicts: dict-keyed rebuild silently collapses
    duplicate output column names to one value, weakening the multiset
    compare for that shape (ADVICE r8)."""
    if tbl.num_columns == 0:
        return [() for _ in range(tbl.num_rows)]
    return list(zip(*[col.to_pylist() for col in tbl.columns]))


def main() -> int:
    import __spark_entry__ as entrymod
    from bdq_spark.entry_queries import VALUE_TESTS
    from bdq_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []

    for name, fn in queries.items():
        if ONLY and name not in ONLY:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            spark_cols = sdf.columns
            spark_rows = sdf.collect()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error: {e}")
            continue

        if name not in oracles:
            print(
                f"rows  {name}: {len(spark_rows)} rows "
                f"(value test: {VALUE_TESTS[name]})"
            )
            if len(spark_rows) == 0:
                failures.append((name, "rows-only query returned 0 rows"))
            continue

        try:
            tbl = con.sql(oracles[name]).arrow()
            duck_cols = list(tbl.column_names)
            duck_rows = arrow_rows(tbl)
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL  {name}: duckdb error: {e}")
            continue

        problems = []
        hugeint_cols = [
            f.name
            for f in tbl.schema
            if pa.types.is_decimal(f.type)
            and (f.type.precision, f.type.scale) == (38, 0)
        ]
        if hugeint_cols:
            problems.append(
                f"HUGEINT-typed oracle column(s) {hugeint_cols} "
                f"(decimal128(38,0) via Arrow) — add CAST(... AS BIGINT)"
            )
        if sorted(spark_cols) != sorted(duck_cols):
            problems.append(f"columns {sorted(spark_cols)} != {sorted(duck_cols)}")
        if len(spark_rows) != len(duck_rows):
            problems.append(f"rowcount {len(spark_rows)} != {len(duck_rows)}")

        if not problems:
            s_order = align_order(spark_cols)
            d_order = align_order(duck_cols)
            s_multi = Counter(row_key(r, s_order) for r in spark_rows)
            d_multi = Counter(row_key(tuple(r), d_order) for r in duck_rows)
            if s_multi != d_multi:
                sample_s = list((s_multi - d_multi).items())[:3]
                sample_d = list((d_multi - s_multi).items())[:3]
                problems.append(
                    f"value mismatch; spark-only={sample_s} duck-only={sample_d}"
                )

        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"OK    {name}: {len(spark_rows)} rows")

    print()
    if failures:
        print(f"{len(failures)} FAILURE(S):")
        for name, why in failures:
            print(f"  {name}: {why}")
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
