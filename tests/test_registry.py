"""Driver-contract invariants over the query registry (no Spark needed).

The driver checks a 50-entry prefix of ``queries()``; these tests pin
the properties the round notes rely on so a refactor can't silently
break the correctness gate's coverage.
"""

import json
import os

from bdq_spark import entry_queries as eq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_oracle_has_a_query():
    missing = [n for n in eq.ORACLE_SQL if n not in eq.QUERIES]
    assert missing == []


def test_priority_fills_the_driver_window_exactly():
    # the driver checks the first 50 entries; the priority list's
    # 50-prefix defines them — shorter wastes slots.  The list may
    # carry positions 51+; those get no driver row, so each must
    # either be covered by a past CORRECTNESS round or have a
    # locally-replayable oracle (test_no_query_is_unverifiable pins
    # that for the whole registry).
    assert len(eq._DRIVER_PRIORITY) >= 50
    assert list(eq.QUERIES)[:50] == eq._DRIVER_PRIORITY[:50]


def test_no_query_is_unverifiable():
    """Every registered query is either in the driver window, green in
    ANY recorded CORRECTNESS round, or has a value-hash oracle the
    judge can replay locally (rows-only entries outside the window must
    not accumulate)."""
    names = list(eq.QUERIES)
    window = set(names[:50])
    checked = set()
    for r in range(30, 0, -1):
        p = os.path.join(REPO, f"CORRECTNESS_r{r:02d}.json")
        if os.path.exists(p):
            checked.update(json.load(open(p)))
    orphans = [
        n
        for n in names
        if n not in window and n not in checked and n not in eq.ORACLE_SQL
    ]
    # doc_compression_ratio is the one deliberate exception (rows-only
    # by necessity, pinned against zlib in test_text_dedup.py)
    assert orphans in ([], ["doc_compression_ratio"])


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
    import inspect

    # ADVICE r8: the guard bound IS the operator's auto-cutover
    # constant (one definition, imported) — not a duplicated literal
    # that could silently drift from the contract it mirrors
    assert (
        eq._NEAR_DUP_PAIRS_EXACT_MAX_ROWS
        is dedup.EMBEDDING_PAIRS_EXACT_MAX_ROWS
    )
    assert (
        inspect.signature(dedup.embedding_cosine_pairs)
        .parameters["exact_max_rows"].default
        == dedup.EMBEDDING_PAIRS_EXACT_MAX_ROWS
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
