#!/usr/bin/env python3
"""Decompose streaming_ingest_vector_index's bench wall (VERDICT r12
item 3): the entry is the single most expensive bench entry (13.7 s at
sf0.1) yet its data is tiny (2,667 feed rows), so the cost must be
FIXED overhead — guard/staging jobs, the 3-trigger structured-streaming
floor, per-trigger join/exchange latency, and the final consistency
jobs.  This harness times each stage separately and also runs a
BATCH-EQUIVALENT of the same per-trigger work (the same 3 groups
applied sequentially without readStream) so the streaming floor itself
falls out as ``t_stream - t_batch``.

Usage::

    python tools/svi_decompose.py [sf_dir]

Prints one JSON line with the stage breakdown.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def main() -> int:
    from bdq_spark.session import get_spark

    spark = get_spark()
    import bdq_spark.entry_queries as eq

    # warm the JVM + staged feed so the measured run is steady-state
    t0 = time.monotonic()
    eq.streaming_ingest_vector_index(spark, SF_DIR).count()
    warm = time.monotonic() - t0

    out = {"sf_dir": SF_DIR, "warmup_total_s": round(warm, 2)}

    # ---- stage 1: the guard count -------------------------------------
    t0 = time.monotonic()
    n = eq.load_table(spark, SF_DIR, "embeddings").count()
    out["guard_count_s"] = round(time.monotonic() - t0, 2)
    out["emb_rows"] = n

    # ---- steady-state full entry (feed already staged) ----------------
    t0 = time.monotonic()
    df = eq.streaming_ingest_vector_index(spark, SF_DIR)
    out["entry_total_s"] = round(time.monotonic() - t0, 2)
    t0 = time.monotonic()
    out["survivors"] = df.count()
    out["collect_s"] = round(time.monotonic() - t0, 2)

    # ---- batch equivalent: same groups, same per-trigger work, no
    # readStream — isolates the structured-streaming floor -------------
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from bdq_spark.operators.similarity import (
        cosine_similarity,
        lsh_bucket_vectors_md5,
    )

    geo_planes, geo_tables, geo_dim, geo_thresh = 5, 2, 64, 0.9
    feed_dir = eq._svi_feed(spark, SF_DIR)

    def _buckets(df):
        return lsh_bucket_vectors_md5(
            df, "embedding", "vec_id", geo_planes, geo_dim,
            num_tables=geo_tables,
        ).select("id", "vec", "bucket")

    index_dir = tempfile.mkdtemp(prefix="svi_decomp_idx_")
    cos = cosine_similarity(F.col("va"), F.col("vb"))
    per_batch = []
    t_batch0 = time.monotonic()
    try:
        for g in range(3):
            bdf = spark.read.schema(
                "vec_id bigint, embedding array<float>"
            ).parquet(os.path.join(feed_dir, f"g{g}"))
            tb0 = time.monotonic()
            bb = _buckets(bdf).localCheckpoint(eager=True)
            t_ckpt = time.monotonic() - tb0
            pairs = (
                bb.alias("l")
                .join(bb.alias("r"), "bucket")
                .filter(F.col("l.id") < F.col("r.id"))
                .select(
                    F.col("l.vec").alias("va"),
                    F.col("r.vec").alias("vb"),
                    F.col("r.id").alias("id"),
                )
                .filter(F.round(cos, 6) >= geo_thresh)
                .select("id")
                .distinct()
            )
            kept = bb.join(pairs, "id", "left_anti")
            first = not os.path.exists(os.path.join(index_dir, "_SUCCESS"))
            if not first:
                idx = spark.read.parquet(index_dir)
                hits = (
                    kept.alias("q")
                    .join(idx.alias("c"), "bucket")
                    .filter(F.col("q.id") != F.col("c.id"))
                    .select(
                        F.col("q.vec").alias("va"),
                        F.col("c.vec").alias("vb"),
                        F.col("q.id").alias("id"),
                    )
                    .filter(F.round(cos, 6) >= geo_thresh)
                    .select("id")
                    .distinct()
                )
                kept = kept.join(hits, "id", "left_anti")
            tw0 = time.monotonic()
            kept.write.mode("append").parquet(index_dir)
            per_batch.append(
                {
                    "bucket_ckpt_s": round(t_ckpt, 2),
                    "dedup_write_s": round(time.monotonic() - tw0, 2),
                }
            )
        t_batch = time.monotonic() - t_batch0
        tf0 = time.monotonic()
        idx = spark.read.parquet(index_dir)
        survivors = idx.select(F.col("id").alias("vec_id")).distinct()
        n_rows, n_surv = idx.count(), survivors.count()
        survivors.localCheckpoint(eager=True)
        t_final = time.monotonic() - tf0
    finally:
        shutil.rmtree(index_dir, ignore_errors=True)

    out["batch_equiv_s"] = round(t_batch, 2)
    out["per_batch"] = per_batch
    out["final_checks_s"] = round(t_final, 2)
    out["streaming_floor_s"] = round(
        out["entry_total_s"] - out["guard_count_s"] - t_batch - t_final, 2
    )
    out["idx_rows"] = n_rows
    out["idx_survivors"] = n_surv
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
