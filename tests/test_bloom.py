"""File-level Bloom-filter skipping (sources/sinks.py ``_BLOOM`` sidecar).

The guarantee under test: NO FALSE NEGATIVES — for every value present
in the data, the file holding it always survives pruning — plus real
pruning on a layout where zonemap ranges cannot help, and python/Spark
agreement on the position function.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import Row
from pyspark.sql import functions as F

from bdq_spark.sources.sinks import (
    _bloom_positions,
    bloom_candidate_files,
    bloom_manifest,
    read_bloom,
    write_bloom_index,
)


def _stage(spark, tmp, n=400, files=8, bits=2048, hashes=5):
    path = os.path.join(tmp, "t")
    df = spark.createDataFrame(
        [Row(id=i, grp=i % 7, payload=f"row-{i}") for i in range(n)]
    )
    # cluster by grp so id is scattered across files — the zonemap-hostile case
    df.repartitionByRange(files, "grp").write.mode("overwrite").parquet(path)
    summary = write_bloom_index(spark, path, ["id"], bits=bits, hashes=hashes)
    return path, summary


def test_no_false_negatives_every_value(spark):
    with tempfile.TemporaryDirectory() as tmp:
        path, _ = _stage(spark, tmp)
        full = spark.read.parquet(path).withColumn(
            "__file", F.input_file_name()
        )
        truth = {r.id: r["__file"] for r in full.select("id", "__file").collect()}
        for probe in list(truth)[::17] + [0, 399]:
            cand = bloom_candidate_files(spark, path, {"id": probe})
            assert truth[probe] in cand["files"], probe


def test_pruning_happens_and_read_is_exact(spark):
    with tempfile.TemporaryDirectory() as tmp:
        path, _ = _stage(spark, tmp)
        pruned_any = False
        for probe in (3, 111, 222, 333):
            cand = bloom_candidate_files(spark, path, {"id": probe})
            pruned_any |= len(cand["files"]) < cand["total"]
            got = read_bloom(spark, path, {"id": probe}).collect()
            assert [(r.id, r.payload) for r in got] == [(probe, f"row-{probe}")]
        assert pruned_any  # 2048 bits / ~50 ids per file prunes hard
        # absent value: zero rows, regardless of candidate count
        assert read_bloom(spark, path, {"id": 10**9}).count() == 0


def test_positions_match_spark_side(spark):
    """The sidecar's sets must equal a plain-Python recompute over the
    actual file contents — pins the md5 position function end-to-end."""
    with tempfile.TemporaryDirectory() as tmp:
        path, summary = _stage(spark, tmp, n=100, files=4)
        bits, hashes = summary["bits"], summary["hashes"]
        manifest = bloom_manifest(spark, path)
        assert summary["files"] == len(manifest["files"]) == 4
        full = spark.read.parquet(path).withColumn(
            "__file", F.input_file_name()
        )
        by_file: dict[str, set] = {}
        for r in full.select("id", "__file").collect():
            by_file.setdefault(r["__file"], set()).update(
                _bloom_positions(r.id, hashes, bits)
            )
        import base64

        def unpack(b64s):
            raw = base64.b64decode(b64s)
            return {p for p in range(bits) if raw[p >> 3] & (1 << (p & 7))}

        got = {f: unpack(ps) for f, ps in manifest["columns"]["id"].items()}
        assert got == by_file


def test_multi_column_and_errors(spark):
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "t")
        df = spark.createDataFrame(
            [Row(a=i, b=f"s{i % 5}") for i in range(50)]
        )
        df.coalesce(4).write.mode("overwrite").parquet(path)
        write_bloom_index(spark, path, ["a", "b"], bits=512, hashes=4)
        cand = bloom_candidate_files(spark, path, {"a": 7, "b": "s2"})
        assert cand["total"] == 4 and cand["files"]
        got = read_bloom(spark, path, {"a": 7, "b": "s2"}).collect()
        assert [(r.a, r.b) for r in got] == [(7, "s2")]
        import pytest

        with pytest.raises(ValueError):
            bloom_candidate_files(spark, path, {"missing": 1})
        with pytest.raises(ValueError, match="no _BLOOM sidecar under"):
            bloom_candidate_files(spark, os.path.join(tmp, "nope"), {"a": 1})


def test_read_indexed_combines_both_sidecars(spark):
    from bdq_spark.operators.layout import zorder_layout
    from bdq_spark.sources.sinks import (
        indexed_candidate_files,
        read_indexed,
        write_bloom_index,
        write_zonemap,
    )
    from pyspark.sql import functions as SF

    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "t")
        df = spark.createDataFrame(
            [Row(id=i, a=i % 97, b=(i * 7) % 101) for i in range(800)]
        )
        laid = zorder_layout(
            df, [("a", SF.col("a")), ("b", SF.col("b"))], bits=7,
            num_partitions=8,
        )
        write_zonemap(spark, laid, path, ["a", "b"])
        write_bloom_index(spark, path, ["id"], bits=4096, hashes=5)
        ranges = {"a": (10, 30)}
        equals = {"id": 250}  # a=250%97=56 outside [10,30] -> empty result
        cand = indexed_candidate_files(spark, path, ranges, equals)
        assert cand["total"] == 8
        got = read_indexed(spark, path, ranges, equals).collect()
        assert got == []  # predicates applied exactly even when files survive
        # a satisfiable combined query returns exactly the full-scan answer
        equals2 = {"id": 25}  # a=25, inside range
        got2 = read_indexed(spark, path, {"a": (10, 30)}, equals2).collect()
        assert [(r.id, r.a, r.b) for r in got2] == [(25, 25, (25 * 7) % 101)]
        # intersection never exceeds either one-index candidate set
        from bdq_spark.sources.sinks import (
            bloom_candidate_files,
            zonemap_candidate_files,
        )

        cz = zonemap_candidate_files(spark, path, {"a": (10, 30)})
        cb = bloom_candidate_files(spark, path, equals2)
        ci = indexed_candidate_files(spark, path, {"a": (10, 30)}, equals2)
        assert set(ci["files"]) <= set(cz["files"]) & set(cb["files"])
        import pytest as _p

        with _p.raises(ValueError):
            indexed_candidate_files(spark, path)


def test_all_null_first_column_file_not_dropped(spark):
    """ADVICE r7 regression: the candidate universe must be the full
    file census, not bloom_cols[0]'s per-file map.  A file whose FIRST
    indexed column is all-NULL used to vanish from the universe and be
    pruned even when the probe was on a DIFFERENT column — a false
    negative that broke the lossless contract."""
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "t")
        # file 0: a populated;  file 1: a all-NULL but b='needle'
        df0 = spark.createDataFrame([Row(a=1, b="x0"), Row(a=2, b="x1")])
        df1 = spark.createDataFrame(
            [Row(a=None, b="needle"), Row(a=None, b="x2")],
            schema="a int, b string",
        )
        df0.union(df1).repartitionByRange(2, "a").write.mode(
            "overwrite"
        ).parquet(path)
        write_bloom_index(spark, path, ["a", "b"], bits=512, hashes=4)
        manifest = bloom_manifest(spark, path)
        # precondition: some file really is absent from column a's map
        assert len(manifest["columns"]["a"]) < len(manifest["files"])
        cand = bloom_candidate_files(spark, path, {"b": "needle"})
        assert cand["total"] == len(manifest["files"])
        got = read_bloom(spark, path, {"b": "needle"}).collect()
        assert [(r.a, r.b) for r in got] == [(None, "needle")]
        # probing the all-NULL column still prunes that file (correct:
        # NULL never satisfies equality)
        ca = bloom_candidate_files(spark, path, {"a": 1})
        null_files = set(manifest["files"]) - set(manifest["columns"]["a"])
        assert null_files and not (null_files & set(ca["files"]))


def test_append_bloom_incremental_filters(spark):
    """append_bloom indexes only the new files under the sidecar's own
    (bits, hashes, columns); the merged index has no false negatives
    across old AND new files, the new filters match a plain-Python
    recompute, and a retried batch appends nothing."""
    import pytest as _pt

    from bdq_spark.sources.sinks import append_bloom

    with tempfile.TemporaryDirectory() as tmp:
        path, summary = _stage(spark, tmp, n=200, files=4, bits=1024)
        bits, hashes = summary["bits"], summary["hashes"]
        before = set(bloom_manifest(spark, path)["files"])

        extra = spark.createDataFrame(
            [Row(id=i, grp=i % 7, payload=f"new-{i}") for i in
             range(1000, 1100)]
        )
        extra.coalesce(2).write.mode("append").parquet(path)
        all_files = {
            r["f"]
            for r in spark.read.parquet(path)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        }
        new_files = sorted(all_files - before)
        assert len(new_files) == 2

        got = append_bloom(spark, path, new_files)
        assert got["files_appended"] == 2
        manifest = bloom_manifest(spark, path)
        assert set(manifest["files"]) == all_files

        # new filters == plain-Python recompute over the new files
        full = spark.read.parquet(*new_files).withColumn(
            "__file", F.input_file_name()
        )
        by_file: dict = {}
        for r in full.select("id", "__file").collect():
            by_file.setdefault(r["__file"], set()).update(
                _bloom_positions(r.id, hashes, bits)
            )
        import base64

        def unpack(b64s):
            raw = base64.b64decode(b64s)
            return {p for p in range(bits) if raw[p >> 3] & (1 << (p & 7))}

        for f in new_files:
            assert unpack(manifest["columns"]["id"][f]) == by_file[f]

        # no false negatives across the grown directory
        truth = {
            r.id: r["__f"]
            for r in spark.read.parquet(path)
            .select("id", F.input_file_name().alias("__f"))
            .collect()
        }
        for probe in [0, 55, 199, 1000, 1042, 1099]:
            cand = bloom_candidate_files(spark, path, {"id": probe})
            assert truth[probe] in cand["files"], probe
            assert cand["total"] == len(all_files)

        # idempotence + errors
        assert append_bloom(spark, path, new_files)["files_appended"] == 0
        with _pt.raises(ValueError, match="no _BLOOM"):
            append_bloom(spark, os.path.join(tmp, "nope"), new_files)
