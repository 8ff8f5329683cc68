"""dq_checks: the data-quality suite as one SparkPipeline on the threaded DAG.

Why this workload: about 75 short jobs per pass on small tables (12k
orders), so per-job fixed cost, job scheduling and the pipeline's
orchestration decide the wall, with writes beside the reads.  The only
Python workers are ``running_counter``'s, and no operator here loops over
jobs, so corpus-side optimizations should change nothing on it.
"""

from __future__ import annotations

import os
import shutil
import time
from datetime import datetime

import duckdb

import checks
import ingest
import inputs as gen
from spans import union_length

N_ORDERS = 12_000  # lineitem ~48k, orders 12k, events 8k
MAX_WORKERS = len(os.sched_getaffinity(0))
PK_COMBOS = [
    ["l_orderkey"], ["l_partkey"], ["l_orderkey", "l_linenumber"],
    ["l_orderkey", "l_linenumber", "l_partkey"],
]
KEY_COLUMNS = ["l_orderkey", "l_linenumber"]
TABLES = ("customer", "part", "orders", "orders_v2", "lineitem", "events")


def stage(spark, rng, path):
    """Generate the star schema and stage one parquet file per table."""
    tables = gen.star_schema(rng, N_ORDERS)
    for name, table in tables.items():
        gen.write(table, os.path.join(path, name))
    ingest.stage(rng, path, tables["customer"])
    dfs = {name: spark.read.parquet(os.path.join(path, name)) for name in TABLES}
    return {"path": path, "dfs": dfs,
            "rows": {name: t.num_rows for name, t in tables.items()}}


def run_pass(ctx):
    """One pipeline run: every check as a step, ``MAX_WORKERS`` at a time."""
    from bdq_spark import (
        CatalogPersistedStateStore, SparkPipeline, compare_dataframes,
        compare_schemas, fact_dim_broken_relationship,
        get_latest_records_with_pk_conflict_detection_flag, surrogate_key_hash,
        surrogate_key_string, validate_primary_key_candidate_combinations,
    )
    from bdq_spark.operators import profile_table
    from bdq_spark.sources import write_bucketed

    spark, dfs = ctx.spark, ctx.inputs["dfs"]
    spark.sql("CREATE DATABASE IF NOT EXISTS bench")
    pipeline = SparkPipeline("dq_checks", spark=spark)
    timeline, steps = {}, {}

    def step(name, depends_on=()):
        """Register ``body`` as a python step and record when it ran."""
        def wrap(body):
            def run(_step):
                start = time.time()
                try:
                    return body()
                finally:
                    timeline[name] = (start, time.time(), list(depends_on))
            run.__name__ = name
            steps[name] = pipeline.step_python(
                outputs=[], depends_on=[steps[d] for d in depends_on]
            )(run)
            return steps[name]
        return wrap

    out_dir = os.path.join(ctx.work_dir, "stream_out")
    streams = ingest.add_steps(pipeline, ctx, out_dir)

    @step("schema")
    def _schema():
        with ctx.span("schema"):
            diff = compare_schemas(dfs["orders"].schema, dfs["orders_v2"].schema)
        ctx.value("schema", diff)

    @step("diff")
    def _diff():
        with ctx.span("operators.diff"):
            res = compare_dataframes(dfs["orders"], dfs["orders_v2"], ["o_orderkey"])
        for status in ("added", "removed", "changed", "not_changed"):
            keys = res[status].select("o_orderkey")
            ctx.emit(f"diff.{status}", keys, "operators.diff")

    @step("latest")
    def _latest():
        with ctx.span("operators.latest"):
            out = get_latest_records_with_pk_conflict_detection_flag(
                dfs["events"], ["event_id"], ["ts"]
            )
        ctx.emit("latest", out, "operators.latest")

    @step("pk")
    def _pk():
        with ctx.span("operators.pk"):
            found = validate_primary_key_candidate_combinations(
                dfs["lineitem"], PK_COMBOS, max_workers=2
            )
        ctx.value("pk", sorted(tuple(c) for c in found))

    @step("fk")
    def _fk():
        for name, fact, fk, dim, pk in (
            ("fk.lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
            ("fk.orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
        ):
            with ctx.span("operators.integrity"):
                broken = fact_dim_broken_relationship(dfs[fact], [fk], dfs[dim], [pk])
            out = broken.selectExpr(fk, "size(sample_records) AS n_samples")
            ctx.emit(name, out, "operators.integrity")

    @step("keys")
    def _keys():
        with ctx.span("functions"):
            keyed = dfs["lineitem"].select(
                *KEY_COLUMNS,
                surrogate_key_string(KEY_COLUMNS).alias("sk_string"),
                surrogate_key_hash(KEY_COLUMNS).alias("sk_hash"),
            )
        with ctx.span("sources", "execute"):
            write_bucketed(keyed, "bench.lineitem_keys", ["l_orderkey"], MAX_WORKERS)
        ctx.value("keys", "bench.lineitem_keys")

    @step("profile", depends_on=["keys"])
    def _profile():
        with ctx.span("operators.profile"):
            prof = profile_table(dfs["orders"])
        ctx.emit("profile", prof, "operators.profile")

    @step("state", depends_on=["schema", "diff", "latest", "pk", "fk", "profile"])
    def _state():
        with ctx.span("plans.statestore"):
            store = CatalogPersistedStateStore(
                catalog_name=None, database_name="bench", table_name="dq_state",
                schema="run string, ts timestamp, payload string",
                event_ts_column="ts", json_encoded_columns=["payload"], spark=spark,
            )
        saved = {"run": "dq_checks", "ts": datetime.now().replace(microsecond=0),
                 "payload": {"steps": sorted(timeline), "orders": ctx.inputs["rows"]["orders"]}}
        with ctx.span("plans.statestore", "execute"):
            t0 = time.perf_counter()
            store.save(saved)
            t1 = time.perf_counter()
            loaded = store.load()
            t2 = time.perf_counter()
        ctx.count("plans.statestore.save_ms", (t1 - t0) * 1000)
        ctx.count("plans.statestore.load_ms", (t2 - t1) * 1000)
        ctx.value("state", (saved, loaded))

    start = time.time()
    pipeline(max_concurrent_steps=MAX_WORKERS)
    end = time.time()
    for name, layer in (("ingest", "streaming.windows"), ("counter", "streaming.stateful"),
                        ("cdc", "streaming.cdc_sink")):
        node = streams[name]
        timeline[name] = (node.start_ts.timestamp(), node.stop_ts.timestamp(), [])
        # the query's own start, planning and commits, around its batches
        ctx.tracer.record(layer, "query", *timeline[name][:2], query=str(node.streaming_query.id))
    ingest.record_progress(ctx, streams)
    ctx.outputs["streams"] = streams

    bodies = [(s, e) for s, e, _ in timeline.values()]
    ctx.count("plans.pipeline.overhead_ms", ((end - start) - union_length(bodies, start, end)) * 1000)
    wait = 0.0
    for s, _, deps in timeline.values():
        ready = max([timeline[d][1] for d in deps], default=start)
        wait += max(s - ready, 0.0)
    ctx.count("plans.dag.wait_ms", wait * 1000)


def reset(ctx):
    for query in ctx.spark.streams.active:
        query.stop()
    shutil.rmtree(os.path.join(ctx.work_dir, "stream_out"), ignore_errors=True)
    ctx.spark.sql("DROP TABLE IF EXISTS bench.lineitem_keys")
    ctx.spark.sql("DROP TABLE IF EXISTS bench.dq_state")


def verify(ctx):
    """Check the pass's outputs, and the tables and sinks it wrote (read
    back here, untimed), against DuckDB over the staged parquet."""
    con = duckdb.connect()
    path = ctx.inputs["path"]
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/{name}/*.parquet')")
    out = ctx.outputs
    out["keys"] = ctx.spark.table(out["keys"]).selectExpr(
        "l_orderkey", "l_linenumber", "sk_string", "hex(sk_hash) AS sk_hash"
    ).toPandas()
    ingest.collect(ctx, out["streams"])
    check = checks.Checker(con)

    diff_sql = """
        SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
               CASE WHEN a.o_orderkey IS NULL THEN 'added'
                    WHEN b.o_orderkey IS NULL THEN 'removed'
                    WHEN (a.o_custkey, a.o_orderstatus, a.o_totalprice, a.o_orderdate,
                          a.o_orderpriority) IS DISTINCT FROM
                         (b.o_custkey, b.o_orderstatus, b.o_totalprice, b.o_orderdate,
                          b.o_orderpriority) THEN 'changed'
                    ELSE 'not_changed' END AS status
        FROM orders a FULL OUTER JOIN orders_v2 b ON a.o_orderkey = b.o_orderkey"""
    for status in ("added", "removed", "changed", "not_changed"):
        check.frame(f"diff.{status}", out[f"diff.{status}"],
                    f"SELECT o_orderkey FROM ({diff_sql}) WHERE status = '{status}'")

    check.frame("latest", out["latest"], """
        WITH d AS (SELECT DISTINCT * FROM events),
        r AS (SELECT *, dense_rank() OVER (PARTITION BY event_id ORDER BY ts DESC) AS dr
              FROM d),
        kept AS (SELECT * EXCLUDE (dr) FROM r WHERE dr = 1)
        SELECT *, count(*) OVER (PARTITION BY event_id) > 1 AS __has_pk_conflict FROM kept""")

    unique = []
    total = con.execute("SELECT count(*) FROM lineitem").fetchone()[0]
    for combo in PK_COMBOS:
        cols = ", ".join(combo)
        n = con.execute(f"SELECT count(*) FROM (SELECT DISTINCT {cols} FROM lineitem)").fetchone()[0]
        if n == total and not any(set(u) < set(combo) for u in unique):
            unique.append(tuple(combo))
    check.equal("pk", out["pk"], sorted(unique))

    for name, fact, fk, dim, pk in (
        ("fk.lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("fk.orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ):
        check.frame(name, out[name], f"""
            SELECT {fk}, least(count(*), 3) AS n_samples FROM {fact}
            WHERE {fk} NOT IN (SELECT {pk} FROM {dim}) GROUP BY {fk}""")

    check.frame("keys", out["keys"], """
        SELECT l_orderkey, l_linenumber,
               '[' || l_orderkey || ', ' || l_linenumber || ']' AS sk_string
        FROM lineitem""")
    hashes = out["keys"]["sk_hash"]
    check.true("keys.hash", hashes.nunique() == len(hashes) and bool((hashes.str.len() == 40).all()),
               "surrogate hashes are not distinct 20-byte values")

    prof = out["profile"].set_index("column")
    for col in ("o_orderkey", "o_custkey", "o_totalprice"):
        n, nulls, lo, hi, mean = con.execute(
            f"SELECT count(*), count(*) - count({col}), min({col}), max({col}), avg({col}) "
            "FROM orders").fetchone()
        row = prof.loc[col]
        got = (int(row["n_rows"]), int(row["n_nulls"]), float(row["min_value"]),
               float(row["max_value"]), round(float(row["mean"]), 4))
        check.equal(f"profile.{col}", got, (n, nulls, float(lo), float(hi), round(mean, 4)))

    saved, loaded = out["state"]
    check.equal("state", {k: loaded.get(k) for k in saved}, saved)
    columns = {r[0] for r in con.execute("DESCRIBE orders").fetchall()}
    check.equal("schema", out["schema"],
                {"added": set(), "removed": set(), "changed": {}, "not_changed": columns})
    ingest.verify(con, check, out, path)
    con.close()
    return check
