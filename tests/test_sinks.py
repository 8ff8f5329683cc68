"""Partitioned/bucketed sink tests — verifying the physical layout
actually delivers pruning and shuffle-free joins."""

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from bdq_spark.sources.sinks import write_bucketed, write_partitioned


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_write_partitioned_enables_pruning(spark, tmp_path):
    df = spark.range(0, 1000).withColumn("part", F.col("id") % 5)
    path = str(tmp_path / "parted")
    write_partitioned(df, path, ["part"])

    back = spark.read.parquet(path).filter(F.col("part") == 3)
    assert back.count() == 200
    plan = _plan(back)
    # the partition filter must reach the scan, not a post-scan Filter
    assert "PartitionFilters" in plan
    assert "part" in plan.split("PartitionFilters", 1)[1].split("\n")[0]


def test_write_bucketed_join_without_shuffle(spark):
    spark.sql("DROP TABLE IF EXISTS bk_left")
    spark.sql("DROP TABLE IF EXISTS bk_right")
    left = spark.range(0, 500).withColumn("v", F.col("id") * 2)
    right = spark.range(0, 500).withColumn("w", F.col("id") * 3)
    write_bucketed(left, "bk_left", ["id"], 4, sort_by=["id"])
    write_bucketed(right, "bk_right", ["id"], 4, sort_by=["id"])

    j = spark.table("bk_left").join(spark.table("bk_right"), "id")
    assert j.count() == 500

    # co-bucketed join: no Exchange on either side
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark.table("bk_left").join(spark.table("bk_right"), "id"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan


def test_plan_has_exchange_guard_not_vacuous(spark):
    """Round-6 ADVICE: explain('formatted') prints '(N) Exchange' and
    'Arguments: hashpartitioning(...)' on separate lines, so the old
    single-line 'Exchange hashpartitioning' substring never matched and
    the bucketed entry's self-check was vacuous.  Prove the replacement
    actually fires on a deliberately shuffled plan and stays silent on
    a shuffle-free one."""
    import io
    from contextlib import redirect_stdout

    from bdq_spark.entry_queries import _plan_has_exchange

    def formatted(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(0, 100).withColumn("v", F.col("id") * 2)
        b = spark.range(0, 100).withColumn("w", F.col("id") * 3)
        shuffled = formatted(a.join(b, "id"))  # unbucketed SMJ: 2 shuffles
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Exchange hashpartitioning" not in shuffled  # the vacuous form
    assert _plan_has_exchange(shuffled)

    clean = formatted(spark.range(0, 100).filter("id > 5"))
    assert not _plan_has_exchange(clean)
    # BroadcastExchange must NOT count as a shuffle
    bc = formatted(a.join(F.broadcast(b), "id"))
    assert "BroadcastExchange" in bc and not _plan_has_exchange(bc)


def test_compact_parquet_shrinks_files_preserves_content(spark, tmp_path):
    from bdq_spark.sources.sinks import compact_parquet

    src, dst = str(tmp_path / "frag"), str(tmp_path / "compact")
    df = spark.range(0, 10_000).selectExpr("id", "id % 7 AS g")
    df.repartition(40).write.parquet(src)
    stats = compact_parquet(spark, src, dst, target_bytes=1 << 30)
    assert stats["files_before"] == 40
    assert stats["files_after"] == 1
    assert stats["bytes_before"] > 0
    got = spark.read.parquet(dst)
    assert got.count() == 10_000
    a = sorted(map(tuple, got.groupBy("g").count().collect()))
    b = sorted(map(tuple, df.groupBy("g").count().collect()))
    assert a == b
    import pytest as _pt
    with _pt.raises(ValueError, match="no parquet files"):
        compact_parquet(spark, str(tmp_path / "empty"), dst)


def test_zonemap_roundtrip_and_pruning(spark, tmp_path):
    """write_zonemap census matches per-file truth; candidate pruning
    is lossless (pruned read == full filter) and actually prunes when
    the layout is range-clustered; empty ranges return empty."""
    from bdq_spark.sources.sinks import (
        read_zonemap,
        write_zonemap,
        zonemap_candidate_files,
        zonemap_manifest,
    )

    path = str(tmp_path / "zm")
    df = spark.range(0, 10_000).select(
        F.col("id"),
        (F.col("id") % 100).alias("a"),
        (F.col("id") * 3 % 997).alias("b"),
    )
    laid = df.repartitionByRange(8, "a").sortWithinPartitions("a")
    summary = write_zonemap(spark, laid, path, ["a", "b"])
    assert summary["files"] == 8
    manifest = zonemap_manifest(spark, path)
    assert len(manifest) == 8
    # census truth: global min/max across files == table min/max
    los = min(v["a"][0] for v in manifest.values())
    his = max(v["a"][1] for v in manifest.values())
    assert (los, his) == (0, 99)
    # per-file census exactness: sidecar rows == recomputed truth
    truth = (
        spark.read.parquet(path)
        .withColumn("__f", F.input_file_name())
        .groupBy("__f")
        .agg(F.min("a"), F.max("a"), F.min("b"), F.max("b"))
        .collect()
    )
    for r in truth:
        assert manifest[r["__f"]] == {
            "a": [r["min(a)"], r["max(a)"]],
            "b": [r["min(b)"], r["max(b)"]],
        }
    # the sidecar is invisible to data reads of the directory
    assert spark.read.parquet(path).columns == ["id", "a", "b"]

    cand = zonemap_candidate_files(spark, path, {"a": (10, 15)})
    assert 0 < len(cand["files"]) < cand["total"] == 8

    got = sorted(
        r.id for r in read_zonemap(spark, path, {"a": (10, 15)}).collect()
    )
    exp = sorted(
        r.id
        for r in df.filter((F.col("a") >= 10) & (F.col("a") <= 15)).collect()
    )
    assert got == exp

    # two-column predicates compose (AND): still lossless
    preds = {"a": (20, 60), "b": (100, 400)}
    got2 = read_zonemap(spark, path, preds).count()
    exp2 = df.filter(
        (F.col("a") >= 20) & (F.col("a") <= 60)
        & (F.col("b") >= 100) & (F.col("b") <= 400)
    ).count()
    assert got2 == exp2 > 0

    # out-of-range: zero candidates, empty frame with the right schema
    c2 = zonemap_candidate_files(spark, path, {"a": (1000, 2000)})
    assert c2["files"] == []
    empty = read_zonemap(spark, path, {"a": (1000, 2000)})
    assert empty.count() == 0 and empty.columns == ["id", "a", "b"]


def test_zonemap_open_bounds_and_errors(spark, tmp_path):
    import pytest as _pt

    from bdq_spark.sources.sinks import (
        read_zonemap,
        write_zonemap,
        zonemap_candidate_files,
    )

    path = str(tmp_path / "zm2")
    df = spark.range(0, 100).select(F.col("id"), (F.col("id") % 7).alias("a"))
    write_zonemap(spark, df, path, ["a"], num_files=2)
    # open-ended bounds
    assert read_zonemap(spark, path, {"a": (5, None)}).count() == \
        df.filter(F.col("a") >= 5).count()
    assert read_zonemap(spark, path, {"a": (None, 2)}).count() == \
        df.filter(F.col("a") <= 2).count()
    with _pt.raises(ValueError, match="not in zonemap"):
        zonemap_candidate_files(spark, path, {"nope": (0, 1)})
    with _pt.raises(ValueError, match="no _ZONEMAP"):
        zonemap_candidate_files(spark, str(tmp_path / "missing"), {"a": (0, 1)})
    with _pt.raises(ValueError, match="only numeric"):
        write_zonemap(
            spark,
            df.select(F.col("id").cast("string").alias("s")),
            str(tmp_path / "zm3"),
            ["s"],
        )


def test_zonemap_zorder_composition_prunes_both_dims(spark, tmp_path):
    """The layout+index composition the entry exercises: Z-ordered
    files have tight boxes in BOTH dimensions, so a zonemap range on
    EITHER single dimension prunes files (a single-column sort can
    only serve its own column)."""
    import random

    from bdq_spark.operators.layout import zorder_layout
    from bdq_spark.sources.sinks import write_zonemap, zonemap_candidate_files

    rng = random.Random(23)
    rows = [(i, rng.randint(0, 1023), rng.randint(0, 1023))
            for i in range(8192)]
    df = spark.createDataFrame(rows, "id:long, x:long, y:long")
    path = str(tmp_path / "zmz")
    laid = zorder_layout(
        df, [("x", F.col("x")), ("y", F.col("y"))], bits=5,
        num_partitions=16,
    )
    write_zonemap(spark, laid, path, ["x", "y"])
    cx = zonemap_candidate_files(spark, path, {"x": (0, 63)})
    cy = zonemap_candidate_files(spark, path, {"y": (0, 63)})
    assert len(cx["files"]) < cx["total"]
    assert len(cy["files"]) < cy["total"]


def test_append_zonemap_incremental_census(spark, tmp_path):
    """append_zonemap censuses ONLY the named new files, the merged
    sidecar equals a from-scratch rebuild, pruning stays lossless over
    the grown directory, and re-appending the same batch is a no-op
    (idempotence for retried ingests)."""
    import os

    import pytest as _pt

    from bdq_spark.sources.sinks import (
        append_zonemap,
        read_zonemap,
        write_zonemap,
        zonemap_candidate_files,
        zonemap_manifest,
    )

    path = str(tmp_path / "zma")
    base = spark.range(0, 4000).select(
        F.col("id"), (F.col("id") % 40).alias("a")
    )
    write_zonemap(spark, base.repartitionByRange(4, "a"), path, ["a"])
    before = zonemap_manifest(spark, path)

    # a later ingest drops new files into the same directory
    extra = spark.range(10_000, 12_000).select(
        F.col("id"), (F.col("id") % 40 + 100).alias("a")
    )
    extra.coalesce(2).write.mode("append").parquet(path)
    all_files = {
        r["f"]
        for r in spark.read.parquet(path)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    new_files = sorted(all_files - set(before))
    assert len(new_files) == 2

    got = append_zonemap(spark, path, new_files)
    assert got["files_appended"] == 2
    after = zonemap_manifest(spark, path)
    assert set(after) == all_files
    # appended stats are exact: the extra batch holds a in [100, 139]
    for f in new_files:
        lo, hi = after[f]["a"]
        assert 100 <= lo <= hi <= 139

    # pruning over the grown directory is lossless and actually prunes
    cand = zonemap_candidate_files(spark, path, {"a": (100, 139)})
    assert set(cand["files"]) == set(new_files)
    assert cand["total"] == 6
    got_rows = read_zonemap(spark, path, {"a": (100, 139)}).count()
    assert got_rows == 2000

    # idempotence: same batch again appends nothing
    again = append_zonemap(spark, path, new_files)
    assert again["files_appended"] == 0
    assert zonemap_manifest(spark, path) == after

    with _pt.raises(ValueError, match="at least one"):
        append_zonemap(spark, path, [])
    with _pt.raises(ValueError, match="no _ZONEMAP"):
        append_zonemap(spark, str(tmp_path / "missing"), new_files)
    # a batch missing the indexed column is refused
    bad = str(tmp_path / "bad.parquet")
    spark.range(5).write.parquet(bad)
    bad_file = [
        r["f"]
        for r in spark.read.parquet(bad)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    ]
    with _pt.raises(ValueError, match="lack indexed column"):
        append_zonemap(spark, path, bad_file)


def test_append_zonemap_type_alignment(spark, tmp_path):
    """ADVICE r9: appended census shards must match the sidecar's parquet
    schema by TYPE, not just name.  An int batch into a bigint sidecar
    upcasts losslessly (merged sidecar stays one-schema readable); a
    bigint batch into an int sidecar RAISES — a narrowing cast would
    NULL-overflow min/max and pruning would silently drop files."""
    import pytest as _pt

    from bdq_spark.sources.sinks import (
        append_zonemap,
        write_zonemap,
        zonemap_manifest,
    )

    # bigint sidecar, int batch -> lossless upcast, single readable schema
    path = str(tmp_path / "zty")
    base = spark.range(0, 100).select(
        F.col("id"), F.col("id").cast("bigint").alias("a")
    )
    write_zonemap(spark, base.coalesce(1), path, ["a"])
    before = set(zonemap_manifest(spark, path))
    extra = spark.range(0, 50).select(
        F.col("id"), (F.col("id") + 1000).cast("int").alias("a")
    )
    extra.coalesce(1).write.mode("append").parquet(path)
    new_files = sorted(
        {
            r["f"]
            for r in spark.read.parquet(path)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        }
        - before
    )
    got = append_zonemap(spark, path, new_files)
    assert got["files_appended"] == 1
    merged = spark.read.parquet(path.rstrip("/") + "/_ZONEMAP")
    assert merged.schema["lo_a"].dataType.simpleString() == "bigint"
    assert merged.count() == len(before) + 1

    # int sidecar, bigint batch -> refused, sidecar untouched
    path2 = str(tmp_path / "zty2")
    base2 = spark.range(0, 100).select(
        F.col("id"), F.col("id").cast("int").alias("a")
    )
    write_zonemap(spark, base2.coalesce(1), path2, ["a"])
    before2 = set(zonemap_manifest(spark, path2))
    wide = spark.range(0, 50).select(
        F.col("id"), (F.col("id") + 3_000_000_000).cast("bigint").alias("a")
    )
    wide.coalesce(1).write.mode("append").parquet(path2)
    new2 = sorted(
        {
            r["f"]
            for r in spark.read.parquet(path2)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        }
        - before2
    )
    with _pt.raises(ValueError, match="narrowing"):
        append_zonemap(spark, path2, new2)
    assert set(zonemap_manifest(spark, path2)) == before2
