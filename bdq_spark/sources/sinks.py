"""Physical-layout sinks and file-skipping sidecar indexes for plain
parquet directories.

The reference's only sinks are catalog-table writes through
``DataFrameWriterV2`` (``bdq/spark_pipeline.py:540`` in the reference).
These helpers add the physical-layout tools that matter at 100 TB:

- **partitioned writes** — directory partitioning by low-cardinality
  columns gives partition PRUNING: a filter on the partition column
  skips whole directories at plan time (visible as ``PartitionFilters``
  in ``.explain``);
- **bucketed writes** — ``bucketBy`` pre-shuffles data by join/agg key at
  write time; two tables bucketed the same way join WITHOUT a shuffle
  (and without a sort when also ``sortBy``-ed), which converts every
  repeated join on that key from O(data) shuffle to zero.  Bucketing
  requires ``saveAsTable`` (metastore-tracked); plain paths cannot
  carry bucket metadata;
- **compaction** — :func:`compact_parquet` rewrites a small-files
  directory into ~target-sized files;
- **file-skipping sidecars** — the per-file statistics Delta and
  Iceberg keep in their transaction log, kept next to a plain parquet
  directory instead:

  - ``<path>/_ZONEMAP`` holds each file's min/max of numeric columns
    (:func:`write_zonemap`, :func:`append_zonemap`) and prunes range
    predicates;
  - ``<path>/_BLOOM`` holds each file's Bloom filter
    (:func:`write_bloom_index`, :func:`append_bloom`) and prunes
    equality predicates.

  Both are parquet written executor-side, each with a small JSON meta
  file: ``_ZONEMAP_META.json`` holds the census schema,
  ``_BLOOM_META.json`` the filter's bits, hashes and columns.
  :func:`zonemap_candidate_files`, :func:`bloom_candidate_files` and
  :func:`indexed_candidate_files` resolve predicates to the files no
  index can rule out in one small Spark job each;
  :func:`read_indexed` scans only those files and applies the
  predicates exactly.
"""

from __future__ import annotations

import json
from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "write_partitioned",
    "write_bucketed",
    "compact_parquet",
    "write_zonemap",
    "append_zonemap",
    "zonemap_candidate_files",
    "zonemap_manifest",
    "write_bloom_index",
    "append_bloom",
    "bloom_candidate_files",
    "bloom_manifest",
    "indexed_candidate_files",
    "read_indexed",
]


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: List[str],
    format: str = "parquet",
    mode: str = "overwrite",
    max_records_per_file: Optional[int] = None,
) -> None:
    """Write a path-based table partitioned by ``partition_by``.

    ``max_records_per_file`` caps file sizes (skew guard: one giant
    partition value otherwise produces one giant file).  Choose
    low-cardinality columns — every distinct tuple becomes a directory,
    and millions of tiny directories destroy listing performance.
    """
    writer = df.write.format(format).mode(mode).partitionBy(*partition_by)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: List[str],
    num_buckets: int,
    sort_by: Optional[List[str]] = None,
    format: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write a metastore table bucketed (and optionally sorted) by key.

    Joining two tables bucketed identically on the join key lets Spark
    plan a SortMergeJoin with NO Exchange on either side; aggregations on
    the bucket key likewise skip their shuffle.  ``num_buckets`` should
    roughly match target parallelism (buckets are the unit of task
    assignment for bucket-aware scans).
    """
    writer = (
        df.write.format(format)
        .mode(mode)
        .bucketBy(num_buckets, *bucket_by)
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


def _hadoop_fs(spark, path: str):
    """``(FileSystem, Path class)`` for ``path`` through the Hadoop FS
    API, so the caller works on HDFS/S3A as well as local paths."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    return Path(path).getFileSystem(spark._jsc.hadoopConfiguration()), Path


def _write_json(fs, hpath, payload: dict) -> None:
    out = fs.create(hpath, True)
    try:
        out.write(json.dumps(payload).encode())
    finally:
        out.close()


def _read_json(fs, hpath) -> dict:
    stream = fs.open(hpath)
    try:
        return json.loads(bytes(stream.readAllBytes()).decode())
    finally:
        stream.close()


def compact_parquet(
    spark,
    path: str,
    out_path: str,
    target_bytes: int = 128 * 1024 * 1024,
    min_files: int = 1,
) -> dict:
    """Compact a small-files parquet directory into ~``target_bytes``
    files — the standard lake-maintenance pass (streaming sinks and
    over-parallel writes leave thousands of tiny files; at 100 TB the
    NameNode/listing overhead and per-file open cost dominate scans
    long before the data does).

    File census via the Hadoop FileSystem API (portable to HDFS/S3A/
    local); the rewrite is ``repartition(ceil(bytes / target))`` —
    a full shuffle, the price of making downstream scans cheap forever
    after.  Writes to ``out_path`` (never in place: an in-place rewrite
    that fails mid-job loses data).  Returns
    ``{files_before, bytes_before, files_after}``.
    """
    fs, Path = _hadoop_fs(spark, path)
    if not fs.exists(Path(path)):
        raise ValueError(f"no parquet files under {path}")
    files_before, bytes_before = 0, 0
    it = fs.listFiles(Path(path), True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.endswith(".parquet"):
            files_before += 1
            bytes_before += st.getLen()
    if files_before == 0:
        raise ValueError(f"no parquet files under {path}")
    n_out = max(min_files, -(-bytes_before // target_bytes))
    (
        spark.read.parquet(path)
        .repartition(int(n_out))
        .write.mode("overwrite")
        .parquet(out_path)
    )
    files_after = 0
    it = fs.listFiles(Path(out_path), True)
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            files_after += 1
    return {
        "files_before": files_before,
        "bytes_before": int(bytes_before),
        "files_after": files_after,
    }


_SIDECAR_WRITERS = {"_ZONEMAP": "write_zonemap", "_BLOOM": "write_bloom_index"}

# the bloom sidecar's schema is STATIC (unlike the zonemap's, whose
# lo_/hi_ columns follow the indexed table): declaring it at every read
# spares each probe and append a footer-inference job
_BLOOM_SIDECAR_SCHEMA = "__file string, __col string, __w int, __word bigint"


def _sidecar_path(path: str, name: str) -> str:
    return path.rstrip("/") + "/" + name


def _fs_write_json(spark, path: str, name: str, payload: dict) -> None:
    fs, Path = _hadoop_fs(spark, path)
    _write_json(fs, Path(path, name), payload)


def _fs_read_json(spark, path: str, name: str) -> dict:
    fs, Path = _hadoop_fs(spark, path)
    hpath = Path(path, name)
    if not fs.exists(hpath):
        raise ValueError(f"no {name} under {path}")
    return _read_json(fs, hpath)


def _require_sidecar(spark, path: str, name: str) -> None:
    fs, Path = _hadoop_fs(spark, path)
    if not fs.exists(Path(path, name)):
        raise ValueError(
            f"no {name} sidecar under {path} — build one with "
            f"{_SIDECAR_WRITERS[name]} first"
        )


def _read_sidecar(spark, path: str, name: str) -> DataFrame:
    """The ``name`` sidecar of ``path`` read with an explicit schema —
    the zonemap's from ``_ZONEMAP_META.json``, the Bloom sidecar's
    fixed — so no read of it schedules a footer-inference job."""
    ddl = (
        _fs_read_json(spark, path, "_ZONEMAP_META.json")["schema_ddl"]
        if name == "_ZONEMAP"
        else _BLOOM_SIDECAR_SCHEMA
    )
    return spark.read.schema(ddl).parquet(_sidecar_path(path, name))


def _count_data_files(spark, path: str) -> int:
    """Number of DATA files of a parquet directory via one Hadoop-FS
    ``listStatus`` — the same universe a Spark scan (and therefore an
    ``input_file_name`` census) sees: every file not hidden by a
    leading ``_`` or ``.``.  A driver metadata call, not a job."""
    fs, Path = _hadoop_fs(spark, path)
    n = 0
    for st in fs.listStatus(Path(path)):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith(("_", ".")):
            n += 1
    return n


def _zonemap_census(files: DataFrame, stats_cols: List[str]) -> DataFrame:
    """One ``(__file, lo_<c>..., hi_<c>...)`` row per file of ``files``,
    a scan carrying ``__file`` from ``input_file_name()``."""
    return files.groupBy("__file").agg(
        *[F.min(c).alias(f"lo_{c}") for c in stats_cols],
        *[F.max(c).alias(f"hi_{c}") for c in stats_cols],
    )


def _bloom_census(
    files: DataFrame, bloom_cols: List[str], bits: int, hashes: int
) -> DataFrame:
    """The Bloom sidecar rows of every file of ``files``, a scan
    carrying ``__file`` from ``input_file_name()``: one ``(__file,
    __col, __w, __word)`` row per nonzero 64-bit filter word, plus one
    column-NULL row per file for the file census."""
    from bdq_spark.operators.dedup import _md5_base_hash

    stack = "stack({}, {}) AS (__col, __v)".format(
        len(bloom_cols),
        ", ".join(f"'{c}', CAST(`{c}` AS STRING)" for c in bloom_cols),
    )
    filters = (
        files.selectExpr("__file", stack)
        .where(F.col("__v").isNotNull())
        .select(
            "__file",
            "__col",
            F.explode(F.sequence(F.lit(0), F.lit(hashes - 1))).alias("__j"),
            "__v",
        )
        .select(
            "__file",
            "__col",
            F.pmod(
                _md5_base_hash(
                    F.concat_ws(
                        ":", F.col("__j").cast("string"), F.col("__v")
                    )
                ),
                F.lit(bits),
            ).alias("__p"),
        )
        .distinct()
        .selectExpr(
            "__file",
            "__col",
            "CAST(__p DIV 64 AS INT) AS __w",
            "shiftleft(CAST(1 AS BIGINT), CAST(__p % 64 AS INT)) AS __bv",
        )
        .groupBy("__file", "__col", "__w")
        .agg(F.expr("bit_or(__bv)").alias("__word"))
    )
    census = files.select("__file").distinct().select(
        "__file",
        F.lit(None).cast("string").alias("__col"),
        F.lit(None).cast("int").alias("__w"),
        F.lit(None).cast("bigint").alias("__word"),
    )
    return filters.unionByName(census)


def _append_sidecar(
    spark, path: str, name: str, open_index, new_files: List[str],
    count_appended: bool, schema_ddl: Optional[str],
    batch: Optional[DataFrame],
) -> dict:
    """The append path of both sidecars.  ``open_index(spark, path)``
    returns ``(indexed columns, the sidecar's known-file frame, census
    builder)``; the builder turns the scan of the files not yet indexed
    into the rows to append."""
    if not new_files:
        raise ValueError("new_files must name at least one parquet file")
    _require_sidecar(spark, path, name)
    cols, known, census = open_index(spark, path)
    if batch is None:
        batch = (
            spark.read.schema(schema_ddl).parquet(*new_files)
            if schema_ddl
            else spark.read.parquet(*new_files)
        ).withColumn("__file", F.input_file_name())
    missing = [c for c in cols if c not in batch.columns]
    if missing:
        raise ValueError(
            f"new files lack indexed column(s) {missing}; the sidecar "
            f"indexes {cols}"
        )
    # idempotence: a retried batch must not census a file twice
    new = batch.join(known, "__file", "left_anti")
    rows = census(new)
    # the count only feeds the returned summary and re-runs the scan;
    # per-trigger callers that ignore it pass count_appended=False and
    # pay one job, the write, per append
    n = new.select("__file").distinct().count() if count_appended else None
    sidecar = _sidecar_path(path, name)
    rows.write.mode("append").parquet(sidecar)
    return {"files_appended": n, "sidecar": sidecar}


def write_zonemap(
    spark,
    df: DataFrame,
    path: str,
    stats_cols: List[str],
    num_files: Optional[int] = None,
) -> dict:
    """Write ``df`` as parquet plus a FILE-LEVEL min/max index — the
    data-skipping half of what a lakehouse table format keeps in its
    transaction log (Delta/Iceberg per-file stats), for plain parquet
    directories.  Row-group statistics already skip WITHIN a file;
    the zonemap skips whole files BEFORE the scan is even planned,
    which at 100 TB is the difference between listing+opening every
    file of a table and touching only the handful whose range overlaps
    the predicate.  Pairs with
    :func:`bdq_spark.operators.layout.zorder_layout`: Z-ordered files
    have tight bounding boxes in every interleaved dimension, so the
    zonemap prunes range predicates on ANY of them.

    The stats census is a DISTRIBUTED second scan of the written files
    (``input_file_name`` group-by — no driver-side footer reads, works
    on any Hadoop-FS path), and the sidecar itself is written
    EXECUTOR-SIDE as parquet shards under ``<path>/_ZONEMAP``
    (underscore-prefixed, so data reads of ``path`` never see it) —
    no per-file stats ever land on the driver, so the build scales to
    100 TB file counts.  Candidate resolution
    (:func:`zonemap_candidate_files`) filters the sidecar IN SPARK and
    collects only the surviving file names.

    ``stats_cols`` must be numeric (int/long/double) — the overlap
    test is numeric comparison.  Returns a bounded summary dict
    ``{"files", "stats_cols", "sidecar"}``; use
    :func:`zonemap_manifest` (O(files) driver memory, introspection
    only) when the full per-file table is genuinely needed.
    """
    for f in df.select(*stats_cols).schema.fields:
        t = f.dataType.simpleString()
        if t not in ("int", "bigint", "smallint", "tinyint", "float",
                     "double"):
            raise ValueError(
                f"zonemap column {f.name!r} is {t}; only numeric columns "
                "are supported — integerize (epoch days, cents) upstream"
            )
    if num_files is not None:
        df = df.coalesce(num_files)
    df.write.mode("overwrite").parquet(path)

    sidecar = _sidecar_path(path, "_ZONEMAP")
    census = _zonemap_census(
        # read back with the schema of the frame just written: the files
        # hold df's rows, so inference could only rediscover it, at the
        # cost of one more scheduled job per write
        spark.read.schema(df.schema).parquet(path)
        .withColumn("__file", F.input_file_name()),
        stats_cols,
    )
    census.write.mode("overwrite").parquet(sidecar)
    # the census schema as DDL, so every later probe and append reads
    # the sidecar with an explicit schema instead of scheduling a
    # footer-inference job first.  Names are backtick-quoted: an
    # indexed column whose name is not a bare identifier (space,
    # hyphen) still yields lo_/hi_ names that parse.
    _fs_write_json(
        spark, path, "_ZONEMAP_META.json",
        {"schema_ddl": ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in census.schema.fields
        )},
    )
    # file count from a Hadoop-FS listing of the data dir (metadata, no
    # job) instead of a job over the just-written sidecar: the census
    # keys are input_file_name over exactly the non-hidden files of
    # ``path``, so the counts agree by construction
    return {
        "files": _count_data_files(spark, path),
        "stats_cols": list(stats_cols),
        "sidecar": sidecar,
    }


def zonemap_manifest(spark, path: str) -> dict:
    """The zonemap as a dict ``{file: {col: [min, max]}}``.

    INTROSPECTION/TEST tool only — collects one row per data file onto
    the driver, which is exactly what the pruning path avoids.
    """
    _require_sidecar(spark, path, "_ZONEMAP")
    rows = _read_sidecar(spark, path, "_ZONEMAP").collect()
    cols = sorted(
        c[3:] for c in (rows[0].asDict() if rows else {})
        if c.startswith("lo_")
    )
    return {
        r["__file"]: {c: [r[f"lo_{c}"], r[f"hi_{c}"]] for c in cols}
        for r in rows
    }


# widening order of the numeric census types, for the append guard
_NUM_RANK = {
    "tinyint": 0, "smallint": 1, "integer": 2, "int": 2,
    "bigint": 3, "float": 4, "double": 5,
}


def _open_zonemap(spark, path: str) -> tuple:
    """The zonemap's indexed columns, known files and census builder
    for :func:`_append_sidecar`."""
    existing = _read_sidecar(spark, path, "_ZONEMAP")
    stats_cols = sorted(
        c[3:] for c in existing.columns if c.startswith("lo_")
    )

    def census(new: DataFrame) -> DataFrame:
        # appended census shards must match the sidecar's parquet
        # schema exactly, or a later read of the sidecar fails or
        # silently picks one file's schema.  Upcasts (int batch into a
        # bigint sidecar) are lossless and applied by the cast below;
        # NARROWING (bigint batch into an int sidecar) would overflow
        # min/max to NULL, and the pruner treats a NULL lo_ as "can't
        # match", so that direction raises instead
        for c in stats_cols:
            got = new.schema[c].dataType.simpleString()
            want = existing.schema[f"lo_{c}"].dataType.simpleString()
            if got != want and not (
                got in _NUM_RANK
                and want in _NUM_RANK
                and _NUM_RANK[got] <= _NUM_RANK[want]
            ):
                raise ValueError(
                    f"column {c!r} arrives as {got} but the sidecar "
                    f"censuses {want}; rebuild the sidecar with "
                    f"write_zonemap to widen it (a narrowing cast would "
                    f"NULL-overflow min/max and silently drop files "
                    f"from pruning)"
                )
        return _zonemap_census(new, stats_cols).select(
            *[
                F.col(c).cast(existing.schema[c].dataType).alias(c)
                for c in existing.columns
            ]
        )

    return stats_cols, existing.select("__file"), census


def append_zonemap(
    spark, path: str, new_files: List[str], count_appended: bool = True,
    schema_ddl: Optional[str] = None,
    batch: Optional[DataFrame] = None,
) -> dict:
    """Incrementally extend an existing zonemap sidecar with the
    min/max census of ``new_files`` — the streaming-ingest maintenance
    path: an appender that just wrote a batch of parquet files into
    ``path`` indexes exactly those files instead of rebuilding the
    whole sidecar (at 100 TB a rebuild re-scans the entire table; the
    append scans only the new data).

    The caller names the files because the caller knows what it wrote
    (a directory diff would need a full listing — an O(files) driver
    walk).  The stats columns come from the existing sidecar's schema;
    the append is IDEMPOTENT (files already censused are anti-joined
    away executor-side, so re-running a failed batch never duplicates
    rows) and executor-side end to end (parquet append of census
    shards; no driver collect).  Returns ``{"files_appended": n,
    "sidecar": ...}``, ``n`` from a count of the appended files.

    ``schema_ddl``: the new files' schema, when the appender knows it
    (it wrote them) — skips the footer-inference job that
    ``spark.read.parquet`` otherwise schedules on every append, a
    fixed latency per streaming trigger at any scale.  Must match what
    inference would return; the type-alignment guard still validates
    the indexed columns against the sidecar either way.

    ``batch``: a pre-scanned (typically persisted) frame of exactly
    ``new_files`` CARRYING a ``__file`` column from
    ``input_file_name()`` — lets a caller maintaining several sidecars
    feed all their censuses from ONE scan of the new data, so the
    batch bytes are read once, not once per sidecar.  The ``__file``
    column must come from the original file scan: ``input_file_name()``
    over an already-cached relation silently returns empty strings.
    """
    return _append_sidecar(
        spark, path, "_ZONEMAP", _open_zonemap, new_files,
        count_appended, schema_ddl, batch,
    )


def zonemap_candidate_files(spark, path: str, predicates: dict) -> dict:
    """Resolve ``predicates`` (``{col: (lo, hi)}`` inclusive ranges;
    ``None`` bounds are open) against the zonemap sidecar: returns
    ``{"files": [...], "total": n}`` — the files whose min/max range
    overlaps EVERY predicate, i.e. the only files that can contain
    matches (interval-overlap pruning is lossless by construction;
    the correctness proof is the oracle on the read path).

    The overlap test runs IN SPARK over the parquet sidecar — one tiny
    job whose single collected row carries the total file count plus
    only the SURVIVING file names, so the driver payload is bounded by
    the candidates (the point of pruning), never the table's file
    census."""
    _require_sidecar(spark, path, "_ZONEMAP")
    sm = _read_sidecar(spark, path, "_ZONEMAP")
    have = set(sm.columns)
    cond = F.lit(True)
    for col, (lo, hi) in predicates.items():
        if f"lo_{col}" not in have:
            raise ValueError(f"column {col!r} not in zonemap")
        # an all-NULL file (lo IS NULL) can't match a range
        c = F.col(f"lo_{col}").isNotNull()
        if hi is not None:
            c = c & (F.col(f"lo_{col}") <= F.lit(hi))
        if lo is not None:
            c = c & (F.col(f"hi_{col}") >= F.lit(lo))
        cond = cond & c
    row = sm.agg(
        F.count(F.lit(1)).alias("total"),
        F.sort_array(
            F.collect_list(F.when(cond, F.col("__file")))
        ).alias("files"),
    ).collect()[0]
    return {"files": list(row["files"]), "total": row["total"]}


def write_bloom_index(
    spark,
    path: str,
    bloom_cols: List[str],
    bits: int = 8192,
    hashes: int = 5,
    schema_ddl: Optional[str] = None,
) -> dict:
    """Build a FILE-LEVEL Bloom-filter sidecar (``<path>/_BLOOM``) over an
    EXISTING parquet directory — the EQUALITY-predicate complement of
    :func:`write_zonemap`: min/max ranges prune range predicates on
    clustered columns, but an equality probe on a column the layout was
    NOT sorted by (the classic "point lookup by id on a time-partitioned
    table") overlaps every file's range.  A per-file Bloom filter
    answers "can this file contain value v?" with no false negatives,
    so pruning stays lossless; false positives only cost extra reads
    (rate ~ (1 - e^(-hashes * n / bits))^hashes).  This is what
    Delta/Iceberg/Hudi keep as optional per-file bloom metadata, for
    plain parquet directories.

    Position function (the md5-twin recipe, python-replayable in
    :func:`bloom_candidate_files`): position_j(v) = first 60 md5 bits
    of ``"j:" + str(v)`` mod ``bits``, j in [0, hashes).

    The census is DISTRIBUTED (``input_file_name`` + explode of the
    ``hashes`` positions, distinct, per-file bit-fold — each file
    contributes at most ``bits`` positions regardless of row count),
    and the sidecar itself is written EXECUTOR-SIDE as parquet shards
    under ``<path>/_BLOOM`` — nothing data- or file-count-proportional
    ever lands on the driver, so the build scales to 100 TB file
    counts.  The filter is stored EXPLODED: one row per NONZERO 64-bit
    word ``(__file, __col, __w, __word)``, folded JVM-side with
    ``bit_or``.  A probe needs only its ``hashes`` positions' words, so
    candidate resolution filters ``__w IN (...)`` — pushed down to the
    parquet scan — and reads O(hashes) words per file however large
    ``bits`` auto-sizes (a dense per-file word array would make the
    resolution scan grow with ``bits``).  A tiny ``_BLOOM_META.json``
    (bits/hashes/columns — O(1)) rides alongside.

    The sidecar also carries the COMPLETE file census (one
    column-NULL row per file): a column's per-file filters omit files
    with zero non-null values for that column, so the candidate
    universe must not be derived from any single column's keys — a
    file all-NULL in one indexed column can still match an equality
    probe on another (lossless-pruning contract).

    ``schema_ddl``: the table's schema, when the caller knows it (it
    just wrote it) — skips the footer-inference job of the census scan.

    Returns a bounded summary dict ``{"bits", "hashes", "bloom_cols",
    "files", "sidecar"}``; use :func:`bloom_manifest` (O(files) driver
    memory, introspection only) for the full manifest.
    """
    if not bloom_cols:
        raise ValueError("bloom_cols must be non-empty")
    files = (
        spark.read.schema(schema_ddl).parquet(path)
        if schema_ddl
        else spark.read.parquet(path)
    ).withColumn("__file", F.input_file_name())
    sidecar = _sidecar_path(path, "_BLOOM")
    _bloom_census(files, bloom_cols, bits, hashes).write.mode(
        "overwrite"
    ).parquet(sidecar)
    meta = {"bits": bits, "hashes": hashes, "bloom_cols": list(bloom_cols)}
    _fs_write_json(spark, path, "_BLOOM_META.json", meta)
    # census rows (__col NULL) = distinct input_file_name over path =
    # its non-hidden files; count them with one FS listing instead of
    # a job over the sidecar
    return {**meta, "files": _count_data_files(spark, path),
            "sidecar": sidecar}


def _bloom_positions(value, j_count: int, bits: int) -> list:
    import hashlib

    return [
        int(hashlib.md5(f"{j}:{value}".encode()).hexdigest()[:15], 16) % bits
        for j in range(j_count)
    ]


def bloom_manifest(spark, path: str) -> dict:
    """The Bloom index as a dict ``{"bits", "hashes", "files": [...],
    "columns": {col: {file: base64-bitmap}}}``, the word arrays turned
    back into LSB-first base64 bitmaps.

    INTROSPECTION/TEST tool only — collects one row per (file, column)
    onto the driver, which is exactly what the pruning path avoids.
    """
    import base64
    import struct

    _require_sidecar(spark, path, "_BLOOM")
    meta = _fs_read_json(spark, path, "_BLOOM_META.json")
    bits = meta["bits"]
    nbytes = (bits + 7) // 8
    rows = _read_sidecar(spark, path, "_BLOOM").collect()
    words: dict = {}
    files = []
    for r in rows:
        if r["__col"] is None:
            files.append(r["__file"])
            continue
        words.setdefault(r["__col"], {}).setdefault(r["__file"], {})[
            r["__w"]
        ] = r["__word"]
    columns: dict = {c: {} for c in meta["bloom_cols"]}
    for col, per_file in words.items():
        for fname, sparse in per_file.items():
            buf = bytearray(nbytes)
            for w, word in sparse.items():
                chunk = struct.pack("<q", word)
                buf[w * 8: w * 8 + len(chunk)] = chunk
            columns[col][fname] = base64.b64encode(
                bytes(buf[:nbytes])
            ).decode()
    return {
        "bits": bits,
        "hashes": meta["hashes"],
        "files": sorted(files),
        "columns": columns,
    }


def _open_bloom(spark, path: str) -> tuple:
    """The Bloom sidecar's indexed columns, known files and census
    builder for :func:`_append_sidecar`, under the sidecar's own
    ``_BLOOM_META.json`` parameters."""
    meta = _fs_read_json(spark, path, "_BLOOM_META.json")
    cols = meta["bloom_cols"]
    known = (
        _read_sidecar(spark, path, "_BLOOM")
        .where("__col IS NULL")
        .select("__file")
    )
    return cols, known, lambda new: _bloom_census(
        new, cols, meta["bits"], meta["hashes"]
    )


def append_bloom(
    spark, path: str, new_files: List[str], count_appended: bool = True,
    schema_ddl: Optional[str] = None,
    batch: Optional[DataFrame] = None,
) -> dict:
    """Incrementally extend an existing Bloom sidecar with filters for
    ``new_files`` — :func:`append_zonemap`'s equality-index sibling:
    the appender that just wrote a batch indexes exactly those files
    under the SIDECAR'S OWN (bits, hashes, columns) from
    ``_BLOOM_META.json``, so probe positions stay compatible with the
    existing filters.  Per-file Bloom filters are independent, which
    is what makes the index mergeable by construction.

    Idempotent (already-censused files are anti-joined away
    executor-side) and executor-side end to end.  Returns
    ``{"files_appended": n, "sidecar": ...}``.  ``schema_ddl`` and
    ``batch`` work as in :func:`append_zonemap`.
    """
    return _append_sidecar(
        spark, path, "_BLOOM", _open_bloom, new_files,
        count_appended, schema_ddl, batch,
    )


def bloom_candidate_files(spark, path: str, equals: dict) -> dict:
    """Resolve equality predicates (``{col: value}``, ANDed) against
    the Bloom sidecar: a file survives iff, for every predicate, ALL
    ``hashes`` positions of the value are set in that file's filter.
    No false negatives (every position of every present value was set
    by the census), so pruning is lossless; the read path re-applies
    the exact predicate anyway.  Returns ``{"files": [...], "total":
    n}``.

    The membership test runs IN SPARK over the parquet sidecar: the
    probe's positions (a handful of ints, computed driver-side) become
    per-word bitmask conditions behind a ``__w IN (...)`` filter that
    PUSHES DOWN to the sidecar scan — so resolution reads O(hashes)
    words per file however large ``bits`` is — and one tiny job
    collects a single row carrying the total file count plus only the
    SURVIVING file names (driver payload bounded by the candidates,
    never the file census)."""
    if not equals:
        raise ValueError("equals must name at least one (column, value)")
    _require_sidecar(spark, path, "_BLOOM")
    meta = _fs_read_json(spark, path, "_BLOOM_META.json")
    bits, hashes = meta["bits"], meta["hashes"]
    known = set(meta["bloom_cols"])
    for col in equals:
        if col not in known:
            raise ValueError(f"column {col!r} not in bloom index")
    sm = _read_sidecar(spark, path, "_BLOOM")
    # per probed column: the distinct words its positions land in,
    # each with the required bitmask.  A file survives iff EVERY
    # required (col, word) row exists with all required bits set —
    # a missing row means those bits are 0, so the file fails that
    # predicate.  A file absent from the probed column's filters
    # entirely (all-NULL there) can never satisfy col = value —
    # pruning it is lossless for THIS predicate only; census rows
    # (col NULL) contribute 0 hits and keep every file in the
    # universe.
    indicators = []
    scan_cond = F.col("__col").isNull()
    required = 0
    for col, value in equals.items():
        masks: dict = {}
        for p in set(_bloom_positions(value, hashes, bits)):
            masks[p // 64] = masks.get(p // 64, 0) | (1 << (p % 64))
        required += len(masks)
        scan_cond = scan_cond | (
            (F.col("__col") == col)
            & F.col("__w").isin(sorted(masks))
        )
        for w, mask in sorted(masks.items()):
            signed = mask - (1 << 64) if mask >= (1 << 63) else mask
            indicators.append(
                F.when(
                    (F.col("__col") == col)
                    & (F.col("__w") == w)
                    & (
                        F.col("__word").bitwiseAND(F.lit(signed))
                        == F.lit(signed)
                    ),
                    1,
                ).otherwise(0)
            )
    npass = indicators[0]
    for ind in indicators[1:]:
        npass = npass + ind
    row = (
        sm.where(scan_cond)
        .groupBy("__file")
        .agg(F.sum(npass).alias("__np"))
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("__np") == required, F.col("__file")
                    )
                )
            ).alias("files"),
        )
        .collect()[0]
    )
    return {"files": list(row["files"]), "total": row["total"]}


def indexed_candidate_files(
    spark, path: str, ranges: Optional[dict] = None,
    equals: Optional[dict] = None,
) -> dict:
    """Resolve range predicates against the ``_ZONEMAP`` sidecar AND
    equality predicates against the ``_BLOOM`` sidecar and INTERSECT
    the candidate sets — a file survives only if no index can rule it out.  Both
    prunings are individually lossless, so the intersection is too.
    Either index may be absent if its predicate kind is unused.
    Returns ``{"files": [...], "total": n}``."""
    if not ranges and not equals:
        raise ValueError("need at least one of ranges / equals")
    files = None
    total = 0
    if ranges:
        z = zonemap_candidate_files(spark, path, ranges)
        files, total = set(z["files"]), z["total"]
    if equals:
        b = bloom_candidate_files(spark, path, equals)
        files = set(b["files"]) if files is None else files & set(b["files"])
        total = max(total, b["total"])
    return {"files": sorted(files), "total": total}


def read_indexed(
    spark, path: str, ranges: Optional[dict] = None,
    equals: Optional[dict] = None, candidates: Optional[dict] = None,
    schema_ddl: Optional[str] = None,
) -> DataFrame:
    """Scan only the files the sidecar indexes admit, then apply every
    predicate exactly (superset pruning — results identical to a full
    scan).  The one read path over a directory laid out with
    :func:`write_zonemap` (+ optionally Z-order) and/or
    :func:`write_bloom_index`: ``ranges`` (``{col: (lo, hi)}``) prune
    through the zonemap, ``equals`` (``{col: value}``) through the
    Bloom sidecar.  An empty candidate set returns an empty DataFrame
    with the table's schema.  ``candidates`` accepts an
    :func:`indexed_candidate_files`, :func:`zonemap_candidate_files` or
    :func:`bloom_candidate_files` result for the SAME predicates, so
    callers that already resolved don't pay the resolution jobs twice.
    ``schema_ddl``: the table's schema when the caller knows it — skips
    the footer-inference job of the candidate scan and of the
    empty-result frame."""
    cand = candidates or indexed_candidate_files(spark, path, ranges, equals)
    if schema_ddl:
        out = (
            spark.read.schema(schema_ddl).parquet(*cand["files"])
            if cand["files"]
            else spark.createDataFrame([], schema_ddl)
        )
    else:
        # the full-table frame exists only for its schema on the
        # empty-candidates path; building it lazily keeps its inference
        # job off the hit path
        out = (
            spark.read.parquet(*cand["files"])
            if cand["files"]
            else spark.read.parquet(path).limit(0)
        )
    for col, (lo, hi) in (ranges or {}).items():
        if lo is not None:
            out = out.filter(F.col(col) >= lo)
        if hi is not None:
            out = out.filter(F.col(col) <= hi)
    for col, value in (equals or {}).items():
        out = out.filter(F.col(col) == value)
    return out
