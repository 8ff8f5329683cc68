#!/usr/bin/env python3
"""Scale-curve harness for the heavy dedup-family queries.

The per-round bench holds data size fixed (sf0.1) — it can't observe
whether an operator's cost curve is actually ~linear, which is the load-
bearing claim behind every "scales to 100 TB by construction" argument
(banded joins, bucket caps, islands windows).  This harness MEASURES the
curve: it synthesizes 1x / 3x / 10x versions of the sf0.1 documents
table, times each query end-to-end at every size (noop sink, same
materialization as bench.py), and fits the scaling exponent
``t ~ rows^e`` by least squares over the log-log points.

Corpus synthesis keeps duplicate DENSITY constant as size grows —
matching how real corpora scale (a 10x corpus does not have 10x the
near-dup rate per document): copy ``i`` Caesar-shifts every letter of
``text`` by ``i`` places, preserving word lengths, shingle structure and
intra-copy duplicate structure while making cross-copy text unrelated;
``doc_id`` is offset per copy so ids stay unique.  Only measurement uses
these synthetic corpora — oracle correctness is judged at sf0.01 on the
driver's own testdata as usual.

CAVEAT (measured in r13): the embeddings synthesis's constant-density
property degrades at LOW cosine thresholds — rolled copies retain
lag-autocorrelation mass, so the population of pairs above ~0.3 grows
super-linearly with the factor (measured 9.2M pairs at x100 -> 53.6M
at x300 for threshold 0.3; the 0.95-style near-dup regime is
unaffected in the factors swept).  For low-threshold curves read the
exponent against the OUTPUT pair count before attributing it to the
operator: at x300 the lsh path's per-output-pair cost FELL (5.5 ->
4.4 us/pair) while the curve's wall exponent read 1.4 — output-bound,
not compute-bound.

Usage::

    python tools/scale_curve.py                  # default heavy set
    python tools/scale_curve.py near_dup_jaccard # subset

Writes ``BENCH_SCALE.json`` at the repo root and prints one summary JSON
line per query: ``{"query", "rows": {...}, "sec": {...}, "exponent"}``.
An exponent ≲ 1.3 is the pass bar (linear with a shuffle-log factor);
anything above names a scale problem the design arguments missed.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# Default decade: 1x/3x/10x off sf0.1.  VERDICT r9 item 5 asked for the
# NEXT decade (sf1.0-based): run with SPARK_GRAFT_SCALE_FACTORS=10,30,100
# — factor 10 of sf0.1 IS sf1.0 row count, so 10/30/100 is exactly a
# 1x/3x/10x sweep off sf1.0.  Results merge per-factor into
# BENCH_SCALE.json (union of points, exponent refit over all of them,
# plus exponent_last_decade over the top decade alone).
FACTORS = [
    int(f)
    for f in os.environ.get("SPARK_GRAFT_SCALE_FACTORS", "1,3,10").split(",")
]
DEFAULT_QUERIES = [
    "near_dup_jaccard",
    "minhash_lsh_near_dup",
    "documents_deduped",
    "duplicate_spans_documents",
    "corpus_prepare_neardup",
]
ALPHA = "abcdefghijklmnopqrstuvwxyz"

# which base table a query's cost scales over; everything else reads
# ``documents`` (the default corpus-heavy set)
QUERY_TABLE = {
    "pagerank_part_supplier": "lineitem",
    "near_dup_triangles": "documents",
    "knn_embeddings": "embeddings",
    "knn_ivf_quantized": "embeddings",
    "knn_lsh_embeddings": "embeddings",
    "knn_multiprobe_embeddings": "embeddings",
    "knn_rerank_embeddings": "embeddings",
    "embedding_near_dup_pairs": "embeddings",
    "embedding_dedup_clusters": "embeddings",
    "embedding_near_dup_pairs_lsh": "embeddings",
    "embedding_near_dup_pairs_lsh_t1": "embeddings",
    "embedding_dedup_pairs_only": "embeddings",
    "embedding_kmeans_quantized": "embeddings",
    "orders_zorder_layout": "orders",
    "orders_hll_custkey": "orders",
    "orders_incremental_matview": "orders",
    "bloom_pruned_scan": "orders",
    "indexed_append_scan_orders": "orders",
    "token_countmin_topk": "documents",
    "events_kmv_setops": "events",
    "streaming_hll_distinct": "events",
    "customer_scd2_history": "customer",
    "events_funnel_conversion": "events",
    "orders_sampled_quantiles": "orders",
    "join_size_estimate_cms": "orders",
    "orders_hll_rollup": "orders",
    "asof_click_purchase": "events",
    "events_user_sessions": "events",
    "events_dedup_watermark": "events",
    "range_join_price_tiers": "orders",
    "doc_contamination": "documents",
    "doc_gopher_quality": "documents",
    "multimodal_mp3_stream_stats": "documents",
    "knn_quantized_embeddings": "embeddings",
    "events_running_zscore": "events",
    "stateful_sessionize": "events",
    "docs_kcore_graph": "documents",
}


def _embedding_near_dup_pairs_lsh(spark, sf_dir):
    """Scale-only twin of the ``embedding_near_dup_pairs`` entry with the
    operator's 100 TB path FORCED ON (``mode="lsh"``) instead of letting
    ``mode="auto"`` pick exact at these row counts.  The registered entry
    keeps exact mode because its DuckDB oracle replays all pairs; at real
    scale ``auto`` cuts over to this banded path at
    ``EMBEDDING_PAIRS_EXACT_MAX_ROWS``, so THIS curve — not the registry
    entry's by-design-quadratic exact curve — is the one that answers
    the 100 TB question."""
    from bdq_spark.operators.dedup import embedding_cosine_pairs
    from bdq_spark.sources import load_table

    return embedding_cosine_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.3, mode="lsh"
    )


def _embedding_near_dup_pairs_lsh_t1(spark, sf_dir):
    """Single-table control for the r12 multi-table default: same
    adaptive plane geometry, ``num_tables=1`` — isolates the OR-table
    cost factor from corpus growth in the lsh curve."""
    from bdq_spark.operators.dedup import embedding_cosine_pairs
    from bdq_spark.sources import load_table

    return embedding_cosine_pairs(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.3, mode="lsh", num_tables=1,
    )


def _embedding_dedup_pairs_only(spark, sf_dir):
    """The PAIR PHASE of ``embedding_dedup_clusters`` in isolation
    (same auto-mode call, same 0.4 threshold, no CC) — the VERDICT r11
    watch-item decomposition: is the clusters entry's x100 growth
    pair-volume-bound (expected) or a re-emerging CC partition
    pathology?"""
    from bdq_spark.operators.dedup import embedding_cosine_pairs
    from bdq_spark.sources import load_table

    return embedding_cosine_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4
    )


# scale-only callables measured alongside registry entries but kept OUT
# of the driver registry (they exist to measure a mode the oracle twin
# can't use, not to claim new query surface)
EXTRA_QUERIES = {
    "embedding_near_dup_pairs_lsh": _embedding_near_dup_pairs_lsh,
    "embedding_near_dup_pairs_lsh_t1": _embedding_near_dup_pairs_lsh_t1,
    "embedding_dedup_pairs_only": _embedding_dedup_pairs_only,
}


# multipliers coprime to 26: with shift b in [0, 26) this spans 12*26 =
# 312 distinct affine letter permutations x -> a*x + b (mod 26), so
# copies stay pairwise-unrelated far beyond the 26 plain Caesar shifts
# (at factor >= 27 copies i and i-26 would otherwise be EXACT duplicate
# text under different doc_ids, inflating the near-dup density the
# constant-density synthesis promises to hold fixed)
_AFFINE_A = [1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25]


def _affine_alphabet(i: int) -> str:
    """Permuted alphabet for copy ``i``: an affine cipher a*x + b mod 26
    with a = _AFFINE_A[i // 26], b = i % 26.  Copies 0..25 reproduce the
    original Caesar shifts exactly (a=1), so factor-<=26 staged dirs
    cached by earlier rounds remain byte-compatible."""
    a = _AFFINE_A[(i // 26) % len(_AFFINE_A)]
    b = i % 26
    return "".join(ALPHA[(a * x + b) % 26] for x in range(26))


def _stage_documents(spark, factor: int, out: str) -> None:
    from pyspark.sql import functions as F

    from bdq_spark.sources import load_table

    docs = load_table(spark, BASE_SF_DIR, "documents")
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    copies = []
    for i in range(factor):
        shifted = _affine_alphabet(i)
        c = docs.select(
            (F.col("doc_id") + i * n).alias("doc_id"),
            F.translate(
                F.translate(F.col("text"), ALPHA, shifted),
                ALPHA.upper(),
                shifted.upper(),
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        copies.append(c)
    scaled = copies[0]
    for c in copies[1:]:
        scaled = scaled.unionByName(c)
    scaled.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))


def _stage_lineitem(spark, factor: int, out: str) -> None:
    """``factor`` disconnected copies of the part—supplier incidence
    graph: copy ``i`` offsets ``l_partkey``/``l_suppkey`` by 100k·i, so
    nodes AND edges grow ×factor while per-copy degree structure is
    preserved (the graph analogue of constant duplicate density; the
    100k spacing keeps every copy's part ids < 1e7, disjoint from the
    supplier id space the pagerank entry shifts to 1e7+)."""
    from pyspark.sql import functions as F

    from bdq_spark.sources import load_table

    li = load_table(spark, BASE_SF_DIR, "lineitem")
    copies = []
    for i in range(factor):
        copies.append(
            li.withColumn(
                "l_partkey", F.col("l_partkey") + F.lit(i * 100_000)
            ).withColumn(
                "l_suppkey", F.col("l_suppkey") + F.lit(i * 100_000)
            )
        )
    scaled = copies[0]
    for c in copies[1:]:
        scaled = scaled.unionByName(c)
    scaled.write.mode("overwrite").parquet(os.path.join(out, "lineitem.parquet"))


def _stage_embeddings(spark, factor: int, out: str) -> None:
    """``factor`` copies of the embeddings table with ids offset and
    each copy's vectors ROLLED by ``i % dim`` components — norms and
    coordinate distributions are preserved while cross-copy directions
    decorrelate, so per-query neighbor structure stays constant-density
    as the corpus grows (the ANN analogue of the Caesar-shift corpus).
    Beyond one full roll cycle (``i >= dim``, reached at factor > 64 on
    the 64-dim testdata) a per-cycle deterministic ±1 SIGN MASK is
    applied element-wise — copies ``i`` and ``i - dim`` would otherwise
    be exact duplicates under different ids.  Sign flips preserve norms
    exactly and decorrelate directions; the mask is the bit pattern of
    ``(i // dim) * golden-ratio-odd-constant``, identity for the first
    cycle so factor-<=64 staged dirs cached by earlier rounds remain
    byte-compatible."""
    from pyspark.sql import functions as F

    from bdq_spark.sources import load_table

    emb = load_table(spark, BASE_SF_DIR, "embeddings")
    n = emb.agg(F.max("vec_id")).first()[0] + 1
    dim = emb.select(F.size("embedding").alias("d")).first()["d"]
    copies = []
    for i in range(factor):
        r = i % dim
        rolled = (
            F.col("embedding")
            if r == 0
            else F.concat(
                F.slice(F.col("embedding"), r + 1, dim - r),
                F.slice(F.col("embedding"), 1, r),
            )
        )
        cycle = i // dim
        if cycle:
            bits = cycle * 0x9E3779B97F4A7C15
            mask = [1.0 - 2.0 * ((bits >> (k % 63)) & 1) for k in range(dim)]
            # mask lits cast to the element type so the staged column
            # stays array<float> (a double-typed product would silently
            # widen the schema vs the real testdata)
            rolled = F.zip_with(
                rolled,
                F.array(*[F.lit(m).cast("float") for m in mask]),
                lambda x, s: x * s,
            )
        copies.append(
            emb.select(
                (F.col("vec_id") + i * n).alias("vec_id"),
                rolled.alias("embedding"),
                *[c for c in emb.columns if c not in ("vec_id", "embedding")],
            )
        )
    scaled = copies[0]
    for c in copies[1:]:
        scaled = scaled.unionByName(c)
    scaled.write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet")
    )


def _stage_orders(spark, factor: int, out: str) -> None:
    """``factor`` copies of orders with keys offset and dates shifted by
    ``i`` days within the observed range — the date/price distributions
    (what the Z-order keying buckets over) stay constant-shape while
    rows grow ×factor."""
    from pyspark.sql import functions as F

    from bdq_spark.sources import load_table

    o = load_table(spark, BASE_SF_DIR, "orders")
    n = o.agg(F.max("o_orderkey")).first()[0] + 1
    copies = []
    for i in range(factor):
        copies.append(
            o.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * n))
            .withColumn(
                "o_orderdate",
                F.col("o_orderdate") + F.make_interval(days=F.lit(i % 7)),
            )
        )
    scaled = copies[0]
    for c in copies[1:]:
        scaled = scaled.unionByName(c)
    scaled.write.mode("overwrite").parquet(os.path.join(out, "orders.parquet"))


def _stage_events(spark, factor: int, out: str) -> None:
    """``factor`` copies of events with event ids AND user ids offset
    per copy — the distinct-user population grows ×factor (the honest
    scaling for distinct-count sketches: a bigger corpus has more
    users, not the same users repeated), while per-user event structure
    is preserved.  ``load_table`` normalizes the ns-timestamp quirk
    before the copy is written."""
    from pyspark.sql import functions as F

    from bdq_spark.sources import load_table

    ev = load_table(spark, BASE_SF_DIR, "events")
    ne = ev.agg(F.max("event_id")).first()[0] + 1
    nu = ev.agg(F.max("user_id")).first()[0] + 1
    copies = []
    for i in range(factor):
        copies.append(
            ev.withColumn("event_id", F.col("event_id") + F.lit(i * ne))
            .withColumn("user_id", F.col("user_id") + F.lit(i * nu))
        )
    scaled = copies[0]
    for c in copies[1:]:
        scaled = scaled.unionByName(c)
    scaled.write.mode("overwrite").parquet(os.path.join(out, "events.parquet"))


def _stage_customer(spark, factor: int, out: str) -> None:
    """``factor`` copies of customer with keys offset — the SCD2 feed
    synthesizes per-key histories from the key modulus, so key-offset
    copies grow the number of tracked keys (and the feed) ×factor with
    per-key history depth constant."""
    from pyspark.sql import functions as F

    from bdq_spark.sources import load_table

    c = load_table(spark, BASE_SF_DIR, "customer")
    n = c.agg(F.max("c_custkey")).first()[0] + 1
    # offset by a multiple of 10 so c_custkey % 10 group structure
    # (what the feed synthesis keys on) is preserved per copy
    step = ((n // 10) + 1) * 10
    copies = [
        c.withColumn("c_custkey", F.col("c_custkey") + F.lit(i * step))
        for i in range(factor)
    ]
    scaled = copies[0]
    for cp in copies[1:]:
        scaled = scaled.unionByName(cp)
    scaled.write.mode("overwrite").parquet(
        os.path.join(out, "customer.parquet")
    )


_STAGERS = {
    "documents": _stage_documents,
    "lineitem": _stage_lineitem,
    "embeddings": _stage_embeddings,
    "orders": _stage_orders,
    "events": _stage_events,
    "customer": _stage_customer,
}


def _scaled_dir(spark, factor: int, table: str = "documents") -> str:
    """Stage a ``factor``x copy of ``table`` under /tmp (marker-cached
    per table, reused across runs of this tool on the same machine)."""
    import tempfile

    tag = os.path.basename(BASE_SF_DIR.rstrip("/"))
    out = os.path.join(tempfile.gettempdir(), f"bdq_scale_{tag}_x{factor}")
    # legacy marker name for documents so pre-existing staged dirs reuse
    marker = os.path.join(
        out, "_STAGED" if table == "documents" else f"_STAGED_{table}"
    )
    if os.path.exists(marker):
        return out
    _STAGERS[table](spark, factor, out)
    with open(marker, "w") as fh:
        fh.write(f"{BASE_SF_DIR}:{factor}")
    return out


def main() -> int:
    only = sys.argv[1:] or DEFAULT_QUERIES
    reps = max(1, int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "2")))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("bdq_spark-scale-curve")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    queries = {**entrymod.queries(), **EXTRA_QUERIES}
    unknown = [q for q in only if q not in queries]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    path = os.path.join(REPO, "BENCH_SCALE.json")
    prior = {}
    if os.path.exists(path):
        try:
            prior = json.load(open(path)).get("queries", {})
        except (ValueError, OSError):
            pass

    def _fit(rows: dict, secs: dict) -> float:
        keys = sorted(rows, key=int)
        xs = [math.log(rows[k]) for k in keys]
        ys = [math.log(secs[k]) for k in keys]
        mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
        den = sum((x - mx) ** 2 for x in xs)
        if den == 0:
            return 0.0
        return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den

    results = {}
    for name in only:
        table = QUERY_TABLE.get(name, "documents")
        dirs = {f: _scaled_dir(spark, f, table) for f in FACTORS}
        rows = {
            f: spark.read.parquet(
                os.path.join(d, f"{table}.parquet")
            ).count()
            for f, d in dirs.items()
        }
        fn = queries[name]
        secs = {}
        for f in FACTORS:
            best = None
            for _ in range(reps):
                start = time.perf_counter()
                fn(spark, dirs[f]).write.mode("overwrite").format("noop").save()
                dt = time.perf_counter() - start
                best = dt if best is None else min(best, dt)
                spark.catalog.clearCache()
                for jrdd in list(
                    spark.sparkContext._jsc.getPersistentRDDs().values()
                ):
                    jrdd.unpersist()
                spark.sparkContext._jvm.System.gc()
            secs[f] = round(best, 3)
        # union this run's points with any prior snapshot for the query
        # (a 10/30/100 sweep composes with the original 1/3/10 one) and
        # refit over all of them; exponent_last_decade isolates the top
        # decade — the "does the curve hold another 10x" question
        all_rows = {
            **prior.get(name, {}).get("rows", {}),
            **{str(f): rows[f] for f in FACTORS},
        }
        all_secs = {
            **prior.get(name, {}).get("sec", {}),
            **{str(f): secs[f] for f in FACTORS},
        }
        rec = {
            "rows": {k: all_rows[k] for k in sorted(all_rows, key=int)},
            "sec": {k: all_secs[k] for k in sorted(all_secs, key=int)},
            "exponent": round(_fit(all_rows, all_secs), 3),
        }
        max_r = max(int(v) for v in rec["rows"].values())
        top = {
            k: v for k, v in rec["rows"].items() if v * 10 > max_r
        }
        if len(top) >= 2 and len(top) < len(rec["rows"]):
            rec["exponent_last_decade"] = round(
                _fit(top, {k: rec["sec"][k] for k in top}), 3
            )
        results[name] = rec
        print(json.dumps({"query": name, **rec}))

    # host-state stamp (same yardstick as bench.py): BENCH_SCALE merges
    # points across runs, so the stamp describes the LATEST sweep only —
    # enough to tell a real curve change from host drift, which the r10
    # minhash x100 re-measurements showed swinging +-25% run to run
    from bench import _machine_state

    out = {
        "base_sf_dir": BASE_SF_DIR,
        "factors": FACTORS,
        "reps": reps,
        "cpus": int(cpus),
        "machine_latest_sweep": {
            "queries": sorted(results),
            "state": _machine_state(),
        },
        "queries": {**prior, **results},
    }
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"wrote BENCH_SCALE.json ({len(out['queries'])} queries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
