"""Round-scoped window policy declaration (VERDICT r9 item 3; bench
A/B rule added per VERDICT r10 item 2).

The r9 verdict's hard rule: any entry whose operator code changed
in-round must take a driver-window slot THAT round, before staleness
rotation.  This file is the declaration side of the invariant;
``tests/test_plan_regressions.py::test_changed_modules_gated_in_current_window``
is the enforcement side.  Ground truth of WHAT changed comes from
``git diff --name-only <last round-boundary commit>`` (so a module
edit can never silently skip the policy); the builder declares here
WHICH entries gate each changed module, and the test asserts every
one of those entries holds a ``_DRIVER_PRIORITY`` slot.

The r10 verdict added a second rule after the CC fuse's 2x bench-scale
cost shipped behind an x100-only A/B: any TOUCHED module whose gating
entries include a top-20-by-wall bench entry must also record a
same-box focused ``SPARK_GRAFT_BENCH_ONLY`` A/B (old round-boundary
rev in a worktree vs HEAD, machine-stamped) in ``BENCH_AB_r{N}.json``
before the round closes.
``tests/test_plan_regressions.py::test_hot_module_changes_carry_bench_ab``
enforces it.

Update this file every round, alongside the ``_DRIVER_PRIORITY``
rotation in ``bdq_spark/entry_queries.py``.
"""

# module path (repo-relative) -> the queries() entries that gate the
# change end-to-end through the driver's value-hash compare.  Every
# bdq_spark/ module that changed since the last round boundary MUST
# appear here (or in EXEMPT below with a reason) and every listed
# entry must be in the current _DRIVER_PRIORITY window.
#
# ROUND 14 (optimization round 2): every change below is an
# OPTIMIZATION — declared queries must compute byte-identical results
# (the gating entries' value hashes are exactly that check); see
# OPTIMIZATION_r14.md for the before/after evidence.
#
# Private-session change (after round 14): every hand-scheduled loop
# that used to flip the shared session's conf (AQE off, pinned shuffle
# width, dynamic partition overwrite) now plans on a private
# ``cloneSession()`` (bdq_spark/session.py), frames crossing by
# logical-plan rebind.  Plans and job counts are unchanged, results
# identical; the gating entries below value-hash every moved loop, and
# BENCH_AB_private_session.json holds the same-box A/B.
TOUCHED = {
    # the private-session helper and the logical-plan rebind
    "bdq_spark/session.py": [
        "embedding_dedup_clusters",
        "near_dup_kcore",
        "pagerank_part_supplier",
        "bpe_train_merges",
        "streaming_interval_join",
    ],
    # the BPE merge loop runs on an AQE-off private session
    "bdq_spark/operators/tokenizer.py": [
        "bpe_train_merges",
        "doc_bpe_packing",
        "corpus_training_pipeline",
    ],
    # Optimization: the CC broadcast-regime loop counts its convergence
    # flag only at geometrically spaced rounds (1, 2, 4, 8, then every
    # +4) instead of every round — the skipped counts are serial
    # driver-bound jobs; overshoot rounds past the fixpoint are no-op
    # min-aggregates, so labels are provably identical
    # (embedding_dedup_clusters 50 -> 43 construct jobs).  kcore is
    # comment-only (the geometric schedule was measured there and
    # rejected; rejection documented in-code).  Gated by the CC
    # broadcast-regime entries.  (private-session change: the CC,
    # pagerank and kcore loops run on private sessions, the
    # graph_session option is gone — gated by all three families.)
    "bdq_spark/operators/components.py": [
        "embedding_dedup_clusters",
        "documents_deduped",
        "near_dup_clusters",
        "corpus_prepare_neardup",
        "pagerank_part_supplier",
        "near_dup_kcore",
        "docs_kcore_graph",
    ],
    # Optimization: explicit-schema reads everywhere the caller knows
    # the table schema (append_zonemap/append_bloom/write_bloom_index/
    # read_indexed grow an optional schema_ddl; write_zonemap's census
    # read-back reuses df.schema; read_bloom/read_indexed build the
    # empty-result frame lazily) — each removes a parquet
    # footer-inference job per call (guide §1.2).  Pruning results are
    # byte-identical; the gating entries exercise every changed
    # function end to end.
    "bdq_spark/sources/sinks.py": [
        "streaming_ingest_dedup_index",
        "zonemap_pruned_scan",
        "bloom_pruned_scan",
        "indexed_scan_orders",
    ],
    # Optimization: the two streaming-ingest entries state their
    # corpus/index schemas at every read (per-trigger probe reads, the
    # final census count, the sidecar-pruned probes) — no trigger pays
    # the footer-inference job (dedup index 57 -> 44 construct jobs,
    # vector index 31 -> 28).
    # (second r14 change: persisted_vector_index_probe stages per-ROW
    # L2 norms below its bucket join — same cosine_from_norms pattern
    # as the dedup.py/ivf.py entries below.)
    # (private-session change: streaming_interval_join starts its
    # stream on a private session with 8 shuffle partitions instead of
    # setting and restoring the caller's conf.)
    "bdq_spark/entry_queries.py": [
        "streaming_interval_join",
        "streaming_ingest_dedup_index",
        "streaming_ingest_vector_index",
        "multimodal_mjpeg_pixel_stats",
        "multimodal_rle8_pixel_stats",
        "multimodal_video_frames",
        "persisted_vector_index_probe",
    ],
    # Optimization: the three heavyweight decode operators project to
    # exactly (media_id, content) BEFORE their mapInPandas (the Python
    # boundary is opaque to column pruning — mime/meta were computed
    # and shipped for nothing, guide §4.1); the three entries that feed
    # them spread the id-only scan across the session's cores before
    # synthesizing payloads (_spread_narrow_scan — a 1-split parquet
    # table serialized the whole decode into one task; identity at
    # scale).
    "bdq_spark/operators/multimodal.py": [
        "multimodal_mjpeg_pixel_stats",
        "multimodal_rle8_pixel_stats",
        "multimodal_video_frames",
    ],
    # Optimization: running_counter's batch path folds hash-bucketed
    # key groups in one pandas groupby pass (the same r13 bucketing
    # running_zscore/sessionize got) instead of one applyInPandas call
    # per key; count/max are order-free and the float total's ulp-level
    # accumulation order was never deterministic under the per-key
    # path (post-shuffle row order) — declared consumers round it over
    # exact fixed-point inputs.
    "bdq_spark/streaming/stateful.py": [
        "stateful_running_counter",
    ],
    # Optimization: minhash_signatures stages the shared base hash in
    # its own projection — inlined, the md5/conv (or pmod(xxhash64))
    # tree re-evaluated 64x per shingle (measured 23.0 -> 8.3 s on a 2M
    # row hashed projection; subexpression elimination provably does
    # not fire across the 64 affine columns).  Identical values; sf0.1
    # walls flat (A/B) because shingle volume doesn't dominate there.
    # ALSO (second r14 change): embedding_cosine_pairs and its md5 twin
    # stage per-ROW L2 norms below the verify joins (per candidate PAIR
    # only the dot product remains — cosine_from_norms keeps the exact
    # multiplication/guard order so values are bit-identical), and the
    # md5 twin's candidate dedup runs on an explicit-width keyed
    # repartition so AQE's byte-based coalescing can't serialize the
    # interpreted-HOF verify into 1-2 tasks (guide §2.2/§4).
    "bdq_spark/operators/dedup.py": [
        "incremental_minhash_md5",
        "minhash_md5_near_dup",
        "minhash_lsh_near_dup",
        "incremental_minhash_near_dup",
        "near_dup_jaccard",
        "near_dup_clusters",
        "embedding_near_dup_pairs",
        "embedding_near_dup_pairs_multitable",
        "embedding_dedup_clusters",
    ],
    # Optimization: knn_ivf_quantized stages per-ROW L2 norms on both
    # sides of the cell join (cells in the assignment projection,
    # probes in the probe-explode projection) and scores candidates
    # with cosine_from_norms — per candidate pair only the dot product
    # remains, same arithmetic order, values bit-identical (the float
    # knn_ivf already had this; guide §4.2 evaluate-once).
    # (private-session change: the probe-side norm is staged before
    # the cell explode, once per query row instead of once per probed
    # cell — same expression, values bit-identical.)
    "bdq_spark/operators/ivf.py": [
        "knn_ivf_quantized",
        "knn_ivf_embeddings",
    ],
}

# modules whose in-round change has no relational queries() surface —
# each needs a reason a reviewer can check
EXEMPT = {
    "bdq_spark/plans/pipeline.py": (
        "only the overwrite_partitions V1 write branch changed (dynamic "
        "overwrite on a private session); no queries() entry writes a "
        "managed table, so tests/test_pipeline.py::"
        "test_overwrite_partitions_leaves_session_conf_untouched gates it"
    ),
}

# TOUCHED modules whose gating entries intersect the top-20-by-wall
# bench set this round -> the BENCH_AB_r{N}.json artifact that records
# their same-box focused A/B.  The enforcement test recomputes the
# top-20 from BENCH_DETAIL.json and fails if an intersecting module is
# missing here or the artifact doesn't cover the intersecting entries.
BENCH_AB = {
    # r14 (optimization round 2): focused same-box A/Bs vs the r13
    # boundary (65cf836).  The private-session change's modules point
    # at its own A/B against its parent commit.
    "bdq_spark/operators/components.py": "BENCH_AB_private_session.json",
    "bdq_spark/operators/tokenizer.py": "BENCH_AB_private_session.json",
    "bdq_spark/session.py": "BENCH_AB_private_session.json",
    "bdq_spark/sources/sinks.py": "BENCH_AB_r14.json",
    "bdq_spark/entry_queries.py": "BENCH_AB_r14.json",
    "bdq_spark/operators/dedup.py": "BENCH_AB_r14.json",
    "bdq_spark/operators/ivf.py": "BENCH_AB_private_session.json",
}
