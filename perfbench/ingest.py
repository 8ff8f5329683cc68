"""Streaming-ingest steps of the dq_checks pipeline.

Three ``step_spark_for_each_batch`` steps drain pre-staged backlogs under
``availableNow`` with ``maxFilesPerTrigger=1``:

- ``ingest``: an event stream through ``dedup_within_watermark``; each
  micro-batch appends to a parquet sink, extends its zonemap and Bloom
  sidecars, and appends the batch's ``tumbling_window_agg`` counts;
- ``counter``: the same event files through ``running_counter`` (per-user
  state kept across triggers, update mode), each batch's updates
  appended to a parquet sink;
- ``cdc``: the customer change feed merged by
  ``cdc_merge_sink_partitioned`` into a bucketed snapshot.

Per-trigger ``durationMs`` and state sizes come from the event queries'
progress lists (the session keeps every update, see ``run.build_session``).
"""

from __future__ import annotations

import json
import os
import time

import inputs as gen

STREAM_FILES = 2
STREAM_EVENTS = 4_000
CDC_BATCHES = 1
WINDOW = "5 minutes"
EVENTS_DDL = ("event_id bigint, ts timestamp, user_id bigint, event_type string, "
              "value double, props string")
CHANGES_DDL = "c_custkey bigint, c_name string, c_acctbal double, op string, ver bigint"
SNAPSHOT_COLUMNS = ["c_custkey", "c_name", "c_acctbal"]
PROGRESS_KEYS = ("triggerExecution", "addBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")


def _pin_mtimes(path: str) -> None:
    """Give the staged files increasing, fixed mtimes so the file source
    admits them in name order on every run."""
    for i, name in enumerate(sorted(os.listdir(path))):
        os.utime(os.path.join(path, name), (1_700_000_000 + i, 1_700_000_000 + i))


def stage(rng, path: str, customer) -> None:
    """Stage the event backlog (one file per trigger, with re-sent rows)
    and the change feed (one key-disjoint batch per file)."""
    events = gen.events(rng, STREAM_EVENTS, n_users=STREAM_EVENTS // 20,
                        span_us=STREAM_FILES * 60_000_000, exact_resend=True)
    gen.write(events, os.path.join(path, "stream_events"), n_files=STREAM_FILES)
    _pin_mtimes(os.path.join(path, "stream_events"))
    changes = os.path.join(path, "changes")
    for i, batch in enumerate(gen.customer_changes(rng, customer, CDC_BATCHES)):
        gen.write(batch, os.path.join(changes, f"b{i}"))
        os.rename(os.path.join(changes, f"b{i}", "part-00000.parquet"),
                  os.path.join(changes, f"part-{i:05d}.parquet"))
        os.rmdir(os.path.join(changes, f"b{i}"))
    _pin_mtimes(changes)


def _parquet_files(path: str) -> set:
    """Parquet data files under ``path``, outside ``_``-prefixed sidecars."""
    return {os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
            if f.endswith(".parquet") and "/_" not in d[len(path):]}


def add_steps(pipeline, ctx, out_dir: str) -> dict:
    """Register the two streaming steps on ``pipeline``; returns them and
    the paths they write."""
    from pyspark.sql import functions as F

    from bdq_spark.sources.sinks import (
        append_bloom, append_zonemap, write_bloom_index, write_zonemap,
    )
    from bdq_spark.streaming import (
        cdc_merge_sink_partitioned, dedup_within_watermark, init_snapshot,
        running_counter, tumbling_window_agg,
    )

    spark, path = ctx.spark, ctx.inputs["path"]
    sink, windows = os.path.join(out_dir, "events"), os.path.join(out_dir, "windows")
    snapshot, counts_dir = os.path.join(out_dir, "snapshot"), os.path.join(out_dir, "counts")
    pipeline.spark_streaming_checkpoint_location = os.path.join(out_dir, "checkpoints")

    with ctx.span("streaming.cdc_sink"):
        init_snapshot(spark, snapshot, ctx.inputs["dfs"]["customer"].select(*SNAPSHOT_COLUMNS),
                      keys=["c_custkey"], num_buckets=8)

    def events():
        return (spark.readStream.schema(EVENTS_DDL).option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(path, "stream_events")))

    stream = events()
    with ctx.span("streaming.windows"):
        # dedup_within_watermark sets the watermark itself; a second
        # with_watermark on the same column is rejected by Spark
        deduped = dedup_within_watermark(stream, ["event_id"], "ts", "30 minutes")
    deduped.createOrReplaceTempView("stream_events")
    with ctx.span("streaming.stateful"):
        running = running_counter(events(), key_column="user_id", value_column="value")
    running.createOrReplaceTempView("stream_counts")
    (spark.readStream.schema(CHANGES_DDL).option("maxFilesPerTrigger", 1)
     .parquet(os.path.join(path, "changes")).createOrReplaceTempView("customer_changes"))

    @pipeline.step_spark_for_each_batch(input_table="stream_events", outputs=[],
                                        trigger_availableNow=True)
    def ingest(batch, batch_id, relative_batch_id, _step):
        s = batch.sparkSession
        with ctx.span("sources", "execute"):
            before = _parquet_files(sink)
            if not before:
                write_zonemap(s, batch, sink, ["event_id", "user_id"])
                write_bloom_index(s, sink, ["event_id"], bits=65536, schema_ddl=EVENTS_DDL)
            else:
                batch.write.mode("append").parquet(sink)
                new = sorted(_parquet_files(sink) - before)
                if new:
                    append_zonemap(s, sink, new, count_appended=False, schema_ddl=EVENTS_DDL)
                    append_bloom(s, sink, new, count_appended=False, schema_ddl=EVENTS_DDL)
            ctx.count("sources.files_written", len(_parquet_files(sink) - before))
        with ctx.span("streaming.windows", "execute"):
            counts = tumbling_window_agg(batch, "ts", WINDOW, [F.count(F.lit(1)).alias("n")])
            counts.write.mode("append").parquet(windows)

    @pipeline.step_spark_for_each_batch(input_table="stream_counts", outputs=[],
                                        trigger_availableNow=True, output_mode="update")
    def counter(batch, batch_id, relative_batch_id, _step):
        with ctx.span("streaming.stateful", "execute"):
            batch.write.mode("append").parquet(counts_dir)

    merge = cdc_merge_sink_partitioned(spark, snapshot, keys=["c_custkey"], order_by=["ver"],
                                       columns=SNAPSHOT_COLUMNS, num_buckets=8)

    @pipeline.step_spark_for_each_batch(input_table="customer_changes", outputs=[],
                                        trigger_availableNow=True)
    def cdc(batch, batch_id, relative_batch_id, _step):
        before = _parquet_files(snapshot)
        t0 = time.perf_counter()
        with ctx.span("streaming.cdc_sink", "execute"):
            merge(batch, batch_id)
        ctx.sample("streaming.cdc_sink.merge_ms", (time.perf_counter() - t0) * 1000)
        ctx.count("streaming.cdc_sink.files_rewritten", len(_parquet_files(snapshot) - before))

    return {"ingest": ingest, "counter": counter, "cdc": cdc, "sink": sink,
            "windows": windows, "snapshot": snapshot, "counts": counts_dir}


def record_progress(ctx, steps: dict) -> None:
    """Per-trigger durations and state sizes of the event streams."""
    progress = [p for name in ("ingest", "counter")
                for p in steps[name].streaming_query.recentProgress]
    for p in progress:
        p = p if isinstance(p, dict) else json.loads(p.json)
        dur = p.get("durationMs", {})
        if p.get("numInputRows", 0) == 0:
            continue
        for key in PROGRESS_KEYS:
            ctx.sample(f"streaming.{key}_ms", float(dur.get(key, 0)))
        for op in p.get("stateOperators", []):
            ctx.sample("streaming.state_rows", float(op.get("numRowsTotal", 0)))
            ctx.sample("streaming.state_memory_bytes", float(op.get("memoryUsedBytes", 0)))


def collect(ctx, steps: dict) -> None:
    """Read the sinks back into ``ctx.outputs`` for checking."""
    from pyspark.sql import functions as F

    from bdq_spark.sources.sinks import bloom_manifest, zonemap_manifest
    from bdq_spark.streaming import read_snapshot

    spark = ctx.spark
    events = spark.read.schema(EVENTS_DDL).parquet(steps["sink"])
    # an empty micro-batch (the no-data batch that advances the watermark)
    # writes a row-less file, which has nothing to index
    data = {os.path.basename(r[0])
            for r in events.select(F.input_file_name()).distinct().collect()}
    ctx.outputs["ingest.events"] = events.toPandas()
    ctx.outputs["ingest.windows"] = spark.read.parquet(steps["windows"]).toPandas()
    ctx.outputs["ingest.index"] = (
        data,
        {os.path.basename(f) for f in zonemap_manifest(spark, steps["sink"])},
        {os.path.basename(f) for f in bloom_manifest(spark, steps["sink"])["files"]},
    )
    ctx.outputs["counter"] = spark.read.parquet(steps["counts"]).toPandas()
    ctx.outputs["cdc.snapshot"] = read_snapshot(spark, steps["snapshot"]).select(
        *SNAPSHOT_COLUMNS).toPandas()


def verify(con, check, outputs, path: str) -> None:
    con.execute(f"""CREATE VIEW stream_events AS SELECT DISTINCT *
                    FROM read_parquet('{path}/stream_events/*.parquet')""")
    con.execute(f"CREATE VIEW changes AS SELECT * FROM read_parquet('{path}/changes/*.parquet')")
    check.frame("ingest.events", outputs["ingest.events"], "SELECT * FROM stream_events")
    windows = outputs["ingest.windows"].groupby("window_start", as_index=False)["n"].sum()
    check.frame("ingest.windows", windows, f"""
        SELECT time_bucket(INTERVAL '{WINDOW}', ts) AS window_start, count(*) AS n
        FROM stream_events GROUP BY 1""")
    data, zonemap, bloom = outputs["ingest.index"]
    check.true("ingest.zonemap", data == zonemap, f"unindexed {sorted(data ^ zonemap)[:3]}")
    check.true("ingest.bloom", data == bloom, f"unindexed {sorted(data ^ bloom)[:3]}")
    # update mode emits a key's running totals on every trigger that saw
    # it; the last emission (most events) is the key's final state
    updates = outputs["counter"].sort_values("n_events")
    final = updates.groupby("key", as_index=False).tail(1).assign(total=lambda d: d["total"].round(2))
    check.frame("counter", final, f"""
        SELECT user_id AS key, count(*) AS n_events, round(sum(value), 2) AS total,
               max(value) AS max_value
        FROM read_parquet('{path}/stream_events/*.parquet') GROUP BY user_id""")
    check.frame("cdc.snapshot", outputs["cdc.snapshot"], """
        WITH latest AS (
          SELECT * FROM changes
          QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY ver DESC) = 1)
        SELECT c_custkey, c_name, c_acctbal FROM customer
        WHERE c_custkey NOT IN (SELECT c_custkey FROM latest)
        UNION ALL
        SELECT c_custkey, c_name, c_acctbal FROM latest WHERE op <> 'D'""")

