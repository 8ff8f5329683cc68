"""Stateful streaming operator tests — state carries across micro-batches."""

from pyspark.sql import functions as F

from bdq_spark.streaming.stateful import running_counter


def test_running_counter_batch_matches_groupby(spark):
    ev = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (2, 5.0), (2, 7.0), (2, 1.0)],
        "user_id:long, value:double",
    )
    got = {r.key: (r.n_events, r.total, r.max_value)
           for r in running_counter(ev).collect()}
    assert got == {1: (2, 30.0, 20.0), 2: (3, 13.0, 7.0)}


def test_running_counter_streaming_state_across_batches(spark, tmp_path):
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    def emit(name, rows):
        spark.createDataFrame(rows, "user_id:long, value:double").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / name))

    emit("b1", [(1, 10.0), (2, 5.0)])

    stream = spark.readStream.schema("user_id long, value double").parquet(
        f"{src}/*"
    )
    out = running_counter(stream)
    assert out.isStreaming

    spark.sql("DROP TABLE IF EXISTS rc_sink")
    collected = []

    def run_available():
        # memory sink cannot recover from a checkpoint; foreachBatch can
        def sink(batch_df, batch_id):
            collected.extend(batch_df.collect())

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(90)

    run_available()
    first = {r.key: (r.n_events, r.total) for r in collected}
    assert first == {1: (1, 10.0), 2: (1, 5.0)}

    # second batch: state must ACCUMULATE, not reset
    emit("b2", [(1, 30.0), (3, 2.0)])
    collected.clear()
    run_available()
    second = {r.key: (r.n_events, r.total, r.max_value) for r in collected}
    # update mode emits only touched keys; user 1 carries state forward
    assert second[1] == (2, 40.0, 30.0)
    assert second[3] == (1, 2.0, 2.0)
    assert 2 not in second  # untouched key not re-emitted in update mode


# ---------------------------------------------------------------------------
# sessionize (custom session machine, EventTimeTimeout)
# ---------------------------------------------------------------------------

def test_sessionize_batch_matches_native_session_window(spark):
    from bdq_spark.streaming import session_window_agg, sessionize
    from pyspark.sql import functions as F

    from bdq_spark.sources import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    custom = sorted(
        map(tuple, sessionize(ev, "user_id", "ts", gap="1 hour").collect())
    )
    native = sorted(
        map(
            tuple,
            session_window_agg(
                ev, "ts", "1 hour", [F.count(F.lit(1)).alias("n_events")],
                group_by=["user_id"],
            )
            .select(
                "user_id",
                F.unix_millis("window_start").alias("session_start_ms"),
                F.unix_millis("window_end").alias("session_end_ms"),
                "n_events",
            )
            .collect(),
        )
    )
    assert custom == native


def test_sessionize_streaming_event_time_timeout(spark, tmp_path):
    from datetime import datetime as DT

    from bdq_spark.streaming import sessionize

    schema = "user_id long, ts timestamp"
    f1 = spark.createDataFrame(
        [(1, DT(2024, 1, 1, 10, 0)), (1, DT(2024, 1, 1, 10, 10)),
         (2, DT(2024, 1, 1, 9, 0)), (2, DT(2024, 1, 1, 12, 0))],
        schema,
    )
    f2 = spark.createDataFrame([(1, DT(2024, 1, 1, 14, 0))], schema)
    src = tmp_path / "sess_src"
    f1.coalesce(1).write.parquet(str(src / "b1"))
    f2.coalesce(1).write.parquet(str(src / "b2"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = sessionize(stream, "user_id", "ts", gap="1 hour")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.table("sess_sink").collect()))
    spark.catalog.dropTempView("sess_sink")
    # one query, two micro-batches (maxFilesPerTrigger=1) + trailing
    # no-data batch:
    # - user 2's 9:00 session closes via the IN-BATCH gap to 12:00;
    # - user 1's 10:00-10:10 session closes via EVENT-TIME TIMEOUT when
    #   batch 2's 14:00 event (or the trailing batch) moves the
    #   watermark past 11:10;
    # - user 2's open 12:00 session times out once the watermark passes
    #   13:00;
    # - user 1's new 14:00 session stays open in state, correctly
    #   unemitted under append semantics.
    assert got == [
        (1, _ms(2024, 1, 1, 10, 0), _ms(2024, 1, 1, 11, 10), 2),
        (2, _ms(2024, 1, 1, 9, 0), _ms(2024, 1, 1, 10, 0), 1),
        (2, _ms(2024, 1, 1, 12, 0), _ms(2024, 1, 1, 13, 0), 1),
    ]


def _ms(*args):
    from datetime import datetime, timezone

    return int(datetime(*args, tzinfo=timezone.utc).timestamp() * 1000)


def test_sessionize_string_key_schema(spark):
    from datetime import datetime as DT

    from bdq_spark.streaming import sessionize

    ev = spark.createDataFrame(
        [("a", DT(2024, 1, 1, 10, 0)), ("a", DT(2024, 1, 1, 10, 10)),
         ("b", DT(2024, 1, 1, 9, 0))],
        "device string, ts timestamp",
    )
    out = sessionize(ev, key_column="device", ts_column="ts", gap="1 hour")
    assert out.schema["device"].dataType.simpleString() == "string"
    got = sorted(map(tuple, out.collect()))
    assert got == [
        ("a", _ms(2024, 1, 1, 10, 0), _ms(2024, 1, 1, 11, 10), 2),
        ("b", _ms(2024, 1, 1, 9, 0), _ms(2024, 1, 1, 10, 0), 1),
    ]


def test_sessionize_late_event_widens_open_session(spark, tmp_path):
    """A late event (older than the open session's last timestamp but
    newer than the watermark) must widen the session, never move its end
    backwards — a backwards `last` makes the next on-time event split a
    session that never closed."""
    from datetime import datetime as DT

    from bdq_spark.streaming import sessionize

    schema = "user_id long, ts timestamp"
    src = tmp_path / "late_src"
    # batch 1: open session (10:00, 10:29); watermark -> 9:29
    spark.createDataFrame(
        [(1, DT(2024, 1, 1, 10, 0)), (1, DT(2024, 1, 1, 10, 29))], schema
    ).coalesce(1).write.parquet(str(src / "b1"))
    # batch 2: 10:05 is LATE (inside the open session, above watermark);
    # 10:40 is 11 min after the true last (10:29) -> same session.
    # The buggy fold moved last back to 10:05, then split at 10:40.
    spark.createDataFrame(
        [(1, DT(2024, 1, 1, 10, 5)), (1, DT(2024, 1, 1, 10, 40))], schema
    ).coalesce(1).write.parquet(str(src / "b2"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = sessionize(
        stream, "user_id", "ts", gap="30 minutes", watermark="1 hour"
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.table("late_sink").collect()))
    spark.catalog.dropTempView("late_sink")
    # the watermark (max 10:40 - 1h = 9:40) never passes last+gap, so a
    # correct fold emits NOTHING: the one session is still open in state
    assert got == []


def test_sessionize_late_event_before_open_session_splits(spark, tmp_path):
    """A late event more than `gap` BEFORE the open session's start must
    form its own (closed) earlier session — not be absorbed across a
    silence longer than the gap — matching what a batch replay of the
    same events produces."""
    from datetime import datetime as DT

    from bdq_spark.streaming import sessionize

    schema = "user_id long, ts timestamp"
    src = tmp_path / "pre_src"
    # batch 1: open session (10:29); watermark -> 9:29 (1h)
    spark.createDataFrame([(1, DT(2024, 1, 1, 10, 29))], schema).coalesce(
        1
    ).write.parquet(str(src / "b1"))
    # batch 2: 9:45 is late, above watermark, and 44 min (> 30 min gap)
    # before the session start -> its own session, closed by the block
    spark.createDataFrame([(1, DT(2024, 1, 1, 9, 45))], schema).coalesce(
        1
    ).write.parquet(str(src / "b2"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = sessionize(
        stream, "user_id", "ts", gap="30 minutes", watermark="1 hour"
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("pre_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.table("pre_sink").collect()))
    spark.catalog.dropTempView("pre_sink")
    # the 9:45 pre-session closes in-batch against the 10:29 block;
    # the 10:29 session stays open in state (watermark never passes it)
    assert got == [(1, _ms(2024, 1, 1, 9, 45), _ms(2024, 1, 1, 10, 15), 1)]


def test_fold_sessions_incremental_equals_oneshot_property():
    """Property: for ANY consecutive split of a sorted event stream into
    micro-batches (in-order delivery), incremental folding with carried
    state produces exactly the one-shot sessions — closed sessions plus
    the final open one."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bdq_spark.streaming.stateful import _fold_sessions

    @settings(max_examples=200, deadline=None)
    @given(
        ts=st.lists(st.integers(0, 10_000), min_size=1, max_size=40),
        cuts=st.lists(st.integers(0, 39), max_size=5),
        gap=st.integers(1, 500),
    )
    def check(ts, cuts, gap):
        ts = sorted(ts)
        one_closed, one_open = _fold_sessions(ts, (None, None, 0), gap)
        bounds = sorted({c for c in cuts if c < len(ts)})
        pieces, prev = [], 0
        for b in bounds + [len(ts)]:
            if b > prev:
                pieces.append(ts[prev:b])
                prev = b
        state, closed = (None, None, 0), []
        for piece in pieces:
            c, state = _fold_sessions(piece, state, gap)
            closed.extend(c)
        assert closed == one_closed
        assert state == one_open

    check()


def test_fold_sessions_late_event_matches_batch_replay_property():
    """Property: delivering ONE event late (in a second batch, after the
    rest) gives the same sessions as the sorted one-shot fold, provided
    the late event is not more than `gap` before every already-emitted
    session boundary — the bounded-state contract.  Restricting to
    streams where nothing closed before the late event arrives makes
    the equality exact."""
    from hypothesis import assume, given, settings
    from hypothesis import strategies as st

    from bdq_spark.streaming.stateful import _fold_sessions

    @settings(max_examples=200, deadline=None)
    @given(
        ts=st.lists(st.integers(0, 2_000), min_size=2, max_size=25),
        late_idx=st.integers(0, 24),
        gap=st.integers(200, 3_000),
    )
    def check(ts, late_idx, gap):
        ts = sorted(ts)
        late_idx %= len(ts)
        late = ts[late_idx]
        rest = ts[:late_idx] + ts[late_idx + 1:]
        # batch 1: everything but the late event
        c1, state = _fold_sessions(rest, (None, None, 0), gap)
        # the contract covers late events while nothing has closed yet
        assume(not c1)
        # batch 2: the late event alone
        c2, state = _fold_sessions([late], state, gap)
        one_closed, one_open = _fold_sessions(ts, (None, None, 0), gap)
        assert c1 + c2 + [state] == one_closed + [one_open]

    check()


def test_running_zscore_batch_reference(spark):
    from bdq_spark.streaming import running_zscore

    ev = spark.createDataFrame(
        [(1, i, float(v)) for i, v in enumerate([10.0, 12.0, 11.0, 50.0])]
        + [(2, 0, 5.0), (2, 1, 5.0), (2, 2, 5.0)],
        "user_id long, event_id long, value double",
    ).withColumn("ts", F.to_timestamp(F.lit("2024-01-01")) + F.make_interval(secs=F.col("event_id")))
    out = {(r.user_id, r.event_id): (r.n_prior, r.zscore)
           for r in running_zscore(ev, order_columns=["event_id"]).collect()}
    # first two events of a key: no variance -> NULL
    assert out[(1, 0)] == (0, None) and out[(1, 1)] == (1, None)
    # exact reference: priors [1000, 1200] cents -> mean 1100, var 10000
    assert out[(1, 2)] == (2, round((1100 - 1100.0) / 100.0, 6))
    # priors [1000,1200,1100]: mean 1100, var = (0+10000+0)/3
    import math
    var = (1000**2 + 1200**2 + 1100**2) / 3 - 1100.0**2
    assert out[(1, 3)] == (3, round((5000 - 1100.0) / math.sqrt(var), 6))
    # constant priors: variance 0 -> NULL, never a division blowup
    assert out[(2, 2)] == (2, None)


def _bigint_zscores(values, scale=100):
    """Pure-Python reference: each value's z-score against its key's
    prior values, with the scaled sums kept as Python integers."""
    n = s = q = 0
    out = []
    for v in values:
        c = int(round(v * scale))
        z = None
        if n >= 2:
            mean = float(s) / n
            var = float(q) / n - mean * mean
            if var > 0:
                z = round((c - mean) / var**0.5, 6)
        out.append((n, z))
        n, s, q = n + 1, s + c, q + c * c
    return out


def test_running_zscore_int64_fallback_matches_bigint_reference(spark):
    """Values near 3e7 at scale 100 give c^2 > 2^62, so both the batch
    fold and the streaming fold must leave int64 for the bigint loop;
    their scores equal the pure-Python bigint reference."""
    import pandas as pd

    from bdq_spark.streaming import running_zscore
    from bdq_spark.streaming.stateful import _zscore_rows

    big = [30_000_000.0 + 1234.56 * ((i * 7) % 11) for i in range(12)]
    small = [10.0, 12.0, 11.0, 50.0]
    rows = [(1, i, v) for i, v in enumerate(big)]
    rows += [(2, i, v) for i, v in enumerate(small)]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, value double"
    ).withColumn(
        "ts",
        F.to_timestamp(F.lit("2024-01-01"))
        + F.make_interval(secs=F.col("event_id")),
    )
    expected = {
        (k, i): z
        for k, vals in ((1, big), (2, small))
        for i, z in enumerate(_bigint_zscores(vals))
    }
    batch = {
        (r.user_id, r.event_id): (r.n_prior, r.zscore)
        for r in running_zscore(ev, order_columns=["event_id"]).collect()
    }
    assert batch == expected

    # the streaming fold over two micro-batches of key 1, state carried
    pdf = pd.DataFrame({"value": big})
    state, got = (0, 0, 0), []
    for part in (pdf.iloc[:5], pdf.iloc[5:]):
        scored, state = _zscore_rows(part, state, "value", 100)
        got += list(zip(scored["n_prior"], scored["zscore"]))
    got = [(int(n), None if pd.isna(z) else float(z)) for n, z in got]
    assert got == _bigint_zscores(big)
    assert state[2] == sum(int(round(v * 100)) ** 2 for v in big) > 2**63


def test_running_zscore_bigint_fallback_is_per_key(spark, monkeypatch):
    """The batch fold's int64 guard is per key: of two keys that share a
    hash bucket, only the one whose scaled sums could overflow takes the
    bigint loop, the other stays vectorized, and both equal the
    pure-Python bigint reference."""
    import pandas as pd

    from bdq_spark.streaming import stateful

    # the batch path's bucket count for a small input is
    # defaultParallelism; pick a small key in the big key's bucket
    n_buckets = spark.sparkContext.defaultParallelism
    bucket = {
        r.id: r.b
        for r in spark.range(1, 64)
        .select("id", F.pmod(F.xxhash64("id"), F.lit(n_buckets)).alias("b"))
        .collect()
    }
    small_key = next(k for k in range(2, 64) if bucket[k] == bucket[1])
    big = [30_000_000.0 + 1234.56 * ((i * 7) % 11) for i in range(12)]
    small = [10.0, 12.0, 11.0, 50.0, 9.5]
    rows = [(1, i, v) for i, v in enumerate(big)]
    rows += [(small_key, i, v) for i, v in enumerate(small)]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, value double"
    ).withColumn(
        "ts",
        F.to_timestamp(F.lit("2024-01-01"))
        + F.make_interval(secs=F.col("event_id")),
    )
    expected = {
        (k, i): z
        for k, vals in ((1, big), (small_key, small))
        for i, z in enumerate(_bigint_zscores(vals))
    }
    batch = {
        (r.user_id, r.event_id): (r.n_prior, r.zscore)
        for r in stateful.running_zscore(ev, order_columns=["event_id"]).collect()
    }
    assert batch == expected

    # the bucket's fold, run in this process with a spy on the loop
    seen = []
    loop = stateful._zscore_rows_loop

    def spy(pdf, *args):
        seen.append(set(pdf["user_id"]))
        return loop(pdf, *args)

    monkeypatch.setattr(stateful, "_zscore_rows_loop", spy)
    monkeypatch.setattr(
        stateful, "_apply_per_key_bucket", lambda df, key, one_shot, schema: one_shot
    )
    one_shot = stateful.running_zscore(ev, order_columns=["event_id"])
    out = one_shot(ev.toPandas())
    assert seen == [{1}]
    got = {
        (r.user_id, r.event_id): (r.n_prior, None if pd.isna(r.zscore) else r.zscore)
        for r in out.itertuples()
    }
    assert got == expected


def test_running_zscore_streaming_state_across_batches(spark, tmp_path):
    """The (n, sum, sumsq) state must carry across micro-batches: an
    event in batch 2 is scored against batch 1's priors."""
    from bdq_spark.streaming import running_zscore

    schema = "user_id long, event_id long, ts timestamp, value double"
    src = tmp_path / "zsrc"
    from datetime import datetime as DT

    spark.createDataFrame(
        [(1, 0, DT(2024, 1, 1, 0, 0), 10.0),
         (1, 1, DT(2024, 1, 1, 0, 1), 12.0),
         (1, 2, DT(2024, 1, 1, 0, 2), 11.0)],
        schema,
    ).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(
        [(1, 3, DT(2024, 1, 1, 0, 3), 50.0)], schema
    ).coalesce(1).write.parquet(str(src / "b2"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = running_zscore(stream, order_columns=["event_id"])
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("z_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.event_id: (r.n_prior, r.zscore)
           for r in spark.table("z_sink").collect()}
    spark.catalog.dropTempView("z_sink")
    # batch 2's event scored against batch 1's three priors
    import math
    var = (1000**2 + 1200**2 + 1100**2) / 3 - 1100.0**2
    assert got[3] == (3, round((5000 - 1100.0) / math.sqrt(var), 6))
    # batch/streaming parity with the batch path
    batch = {r.event_id: (r.n_prior, r.zscore)
             for r in running_zscore(
                 spark.read.parquet(f"{src}/*"), order_columns=["event_id"]
             ).collect()}
    assert got == batch


def test_running_zscore_multi_chunk_micro_batch(spark, tmp_path):
    """A key whose micro-batch exceeds Arrow's maxRecordsPerBatch arrives
    as MULTIPLE out-of-order chunks; the fold must gather and sort the
    whole micro-batch before scoring, or events get scored against
    statistics that already include later events."""
    from datetime import datetime as DT

    from bdq_spark.streaming import running_zscore

    schema = "user_id long, event_id long, ts timestamp, value double"
    src = tmp_path / "zsrc"
    # 50 events for one key, written in REVERSE event order so the
    # Arrow chunks deliver the latest events first
    rows = [
        (1, i, DT(2024, 1, 1, 0, 0, i), float(10 + (i * 7) % 13))
        for i in range(50)
    ]
    spark.createDataFrame(rows[::-1], schema).coalesce(1).write.parquet(
        str(src / "b1")
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = (
            running_zscore(stream, order_columns=["event_id"])
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("z_chunk_sink")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {r.event_id: (r.n_prior, r.zscore)
               for r in spark.table("z_chunk_sink").collect()}
        spark.catalog.dropTempView("z_chunk_sink")
        batch = {r.event_id: (r.n_prior, r.zscore)
                 for r in running_zscore(
                     spark.read.parquet(f"{src}/*"),
                     order_columns=["event_id"],
                 ).collect()}
        assert len(got) == 50
        assert got == batch
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
