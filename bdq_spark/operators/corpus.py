"""Corpus-preparation operators for LLM training pipelines.

The steps between "cleaned documents" and "training batches": splitting
long documents into attention-window-sized chunks, building token
vocabularies, and fixing a deterministic global training order.  All are
single-shuffle (or shuffle-free) compositions of built-in expressions —
no UDFs, nothing driver-side.

Scale shapes:

- :func:`chunk_documents` is a per-row explode — embarrassingly
  parallel, output proportional to total token count.  The token
  arrays live only inside one projection (never shuffled); only the
  final chunk strings cross stage boundaries.
- :func:`token_vocabulary` is explode → groupBy(token) → top-k.  The
  count aggregate is partially combined map-side, so the shuffle
  carries one row per distinct token per task, not per occurrence;
  the top-k is a ``TakeOrderedAndProject`` (no global sort).
- :func:`with_training_order` only ATTACHES a deterministic sort key
  (md5 of seed + ids — stable across engines, runs, and partitioning).
  The caller materializes the order with ``orderBy`` at write time,
  which Spark executes as a range-partitioned distributed sort; a
  global ``row_number`` position would funnel every row through one
  partition and is deliberately not offered.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bdq_spark.operators._checkpoint import data_checkpoint

__all__ = [
    "chunk_documents",
    "prepare_corpus",
    "token_vocabulary",
    "training_order_key",
    "with_training_order",
 "vocabulary_stats",]


def prepare_corpus(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    quality_threshold: float = 0.5,
    eval_fraction: float = 0.2,
    contamination_n: int = 3,
    contamination_threshold: float = 0.8,
    max_tokens: int = 512,
    overlap: int = 0,
    split_salt: str = "",
    pipeline_name: str = "corpus_prepare",
    near_dup_threshold: Optional[float] = None,
    near_dup_n: int = 3,
) -> DataFrame:
    """End-to-end training-corpus preparation, orchestrated as a
    :class:`~bdq_spark.plans.SparkPipeline` dependency graph:

    1. **quality gate** — keep documents with
       :func:`~bdq_spark.functions.text.quality_score` >=
       ``quality_threshold`` (codegen expressions; the score is rounded
       to 6 decimals so the threshold compares identically across
       engines);
    2. **exact dedup** — one keeper (min id) per distinct normalized
       content, via the md5-fingerprint hash-agg + left-semi join;
    2b. **near-dup dedup** (optional, ``near_dup_threshold`` set) —
       ``near_dup_n``-gram Jaccard pairs at the threshold
       (prefix-filtered inverted-index join), promoted to clusters by
       min-label connected components; one min-id keeper survives per
       cluster.  Runs AFTER exact dedup on purpose: identical copies
       are already collapsed, so the pair join never sees the
       intrinsically-quadratic identical-cluster shape;
    3. **decontamination** — hash-split ``1 - eval_fraction`` /
       ``eval_fraction`` into train/eval on the engine-portable md5 key,
       then drop train documents whose distinct-``contamination_n``-gram
       overlap with the eval shingle set reaches
       ``contamination_threshold`` (one linear join against the
       collapsed eval shingle set — no pairwise candidates);
    4. **chunking** — ``max_tokens``-token attention windows with
       ``overlap`` carried tokens over the surviving corpus.

    Returns the chunk relation ``(id_column, chunk_idx, chunk_text,
    n_chunk_tokens)`` of the cleaned TRAIN corpus.  Every stage is a
    narrow or partial-agg plan (the only shuffles: fingerprint hash-agg,
    shingle dedup agg, contamination join), so the funnel scales with
    cluster width; the near-dup step's Jaccard pairs and components
    finish on the driver only when their input fits the session's
    broadcast threshold.  Inter-step dataflow uses temp views prefixed
    ``{pipeline_name}_``; use distinct names for concurrent preparations
    in one session.

    The deduped corpus (and the near-dup survivors) is eagerly
    checkpointed with serialized MEMORY_AND_DISK blocks at the point
    where the plan fans out — without that the quality+dedup subtree
    re-reads the source for EVERY downstream branch (contamination
    probe, eval shingle set, final anti-join: 6 source scans in the
    physical plan), which at 100 TB means six full corpus passes
    instead of one compute plus stored reads.  The blocks hold only the
    surviving ``(id, text)`` pairs, spill to disk, and are released with
    the returned frame: nothing enters the session's cache, so a later
    call is never served from an earlier one's.
    """
    from bdq_spark.functions.text import quality_score
    from bdq_spark.operators.contamination import contamination_check
    from bdq_spark.operators.dedup import fingerprint_dedup
    from bdq_spark.operators.splits import hash_split
    from bdq_spark.plans import SparkPipeline

    spark = df.sparkSession
    v_quality = f"{pipeline_name}_quality"
    v_deduped = f"{pipeline_name}_deduped"
    v_neardup = f"{pipeline_name}_neardup"
    v_clean = f"{pipeline_name}_clean"
    v_chunks = f"{pipeline_name}_chunks"

    ppn = SparkPipeline(pipeline_name, spark=spark)

    @ppn.step_spark_temp_view(outputs=[v_quality])
    def quality_gate(step):
        return df.select(id_column, text_column).filter(
            quality_score(F.col(text_column)) >= quality_threshold
        )

    @ppn.step_spark_temp_view(depends_on=[quality_gate], outputs=[v_deduped])
    def exact_dedup(step):
        docs = spark.table(v_quality)
        keepers = fingerprint_dedup(
            docs, text_column=text_column, id_column=id_column
        ).select(F.col("keeper_id").alias(id_column))
        # eager checkpoint BEFORE the downstream fan-out: the three
        # consumers (contamination probe, eval shingles, anti-join)
        # can be scheduled concurrently, and a lazily-populated
        # parent gets computed once per concurrent stage instead of
        # once; the blocks go with the frame, no cache outlives it
        return data_checkpoint(docs.join(keepers, id_column, "left_semi"))

    decon_upstream, decon_source = exact_dedup, v_deduped
    if near_dup_threshold is not None:

        @ppn.step_spark_temp_view(depends_on=[exact_dedup], outputs=[v_neardup])
        def near_dedup(step):
            from bdq_spark.operators import (
                apply_dedup_clusters,
                connected_components,
            )
            from bdq_spark.operators.dedup import ngram_jaccard_pairs

            docs = spark.table(v_deduped)
            pairs = ngram_jaccard_pairs(
                docs,
                text_column=text_column,
                id_column=id_column,
                n=near_dup_n,
                threshold=near_dup_threshold,
            )
            clusters = connected_components(pairs)
            # same fan-out rule as exact_dedup: the decontamination
            # step references this view several times (train/eval
            # split, shingle probe, anti-join), and a bare temp view
            # would re-run the ENTIRE jaccard + connected-components
            # pipeline per reference
            return data_checkpoint(
                apply_dedup_clusters(docs, clusters, id_column=id_column)
            )

        decon_upstream, decon_source = near_dedup, v_neardup

    @ppn.step_spark_temp_view(depends_on=[decon_upstream], outputs=[v_clean])
    def decontaminate(step):
        docs = spark.table(decon_source)
        split = hash_split(
            docs,
            {"train": 1.0 - eval_fraction, "test": eval_fraction},
            [id_column],
            salt=split_salt,
        )
        train = split.filter(F.col("split") == "train").drop("split")
        eval_docs = split.filter(F.col("split") == "test").drop("split")
        # decontaminate TRAIN against the eval shingle set: eval is the
        # shingle source ("train" arg), the corpus is probed per-doc
        report = contamination_check(
            eval_docs,
            train,
            text_column=text_column,
            id_column=id_column,
            n=contamination_n,
            threshold=contamination_threshold,
        )
        bad = report.filter(F.col("contaminated")).select(id_column)
        return train.join(bad, id_column, "left_anti")

    @ppn.step_spark_temp_view(depends_on=[decontaminate], outputs=[v_chunks])
    def chunk(step):
        return chunk_documents(
            spark.table(v_clean),
            text_column=text_column,
            id_column=id_column,
            max_tokens=max_tokens,
            overlap=overlap,
        )

    ppn(max_concurrent_steps=2)
    return spark.table(v_chunks)


def chunk_documents(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    max_tokens: int = 512,
    overlap: int = 0,
) -> DataFrame:
    """Split documents into <= ``max_tokens``-token chunks on whitespace
    token boundaries, with ``overlap`` tokens carried between adjacent
    chunks (context continuity for training windows).

    Output: ``(id_column, chunk_idx, chunk_text, n_chunk_tokens)`` —
    ``chunk_idx`` 0-based; empty/whitespace-only documents produce no
    rows (nothing to train on).  Chunk starts advance by
    ``max_tokens - overlap``; the last chunk may be short but a chunk
    is never emitted if it would start at-or-past the end of a
    document, so no chunk is a pure suffix-repeat of the previous one.
    """
    if max_tokens <= 0:
        raise ValueError("max_tokens must be > 0")
    if not 0 <= overlap < max_tokens:
        raise ValueError("overlap must be in [0, max_tokens)")
    stride = max_tokens - overlap

    toks = F.filter(
        F.split(F.col(text_column), r"\s+"), lambda t: t != ""
    )
    # ceil((n - overlap) / stride) chunks; each chunk c covers tokens
    # [c*stride, c*stride + max_tokens)
    n_chunks = F.ceil(
        (F.col("__n") - F.lit(overlap)) / F.lit(stride)
    ).cast("int")
    return (
        df.select(
            F.col(id_column), toks.alias("__toks"), F.size(toks).alias("__n")
        )
        .filter(F.col("__n") > 0)
        .select(
            id_column,
            "__toks",
            "__n",
            F.posexplode(
                F.sequence(F.lit(0), F.greatest(n_chunks, F.lit(1)) - 1)
            ).alias("chunk_idx", "__c"),
        )
        .select(
            id_column,
            F.col("chunk_idx"),
            F.array_join(
                F.slice(
                    F.col("__toks"),
                    F.col("__c") * stride + 1,
                    max_tokens,
                ),
                " ",
            ).alias("chunk_text"),
            F.least(
                F.lit(max_tokens), F.col("__n") - F.col("__c") * stride
            ).cast("int").alias("n_chunk_tokens"),
        )
    )


def token_vocabulary(
    df: DataFrame,
    text_column: str = "text",
    top_k: Optional[int] = None,
    lowercase: bool = True,
    id_column: Optional[str] = None,
) -> DataFrame:
    """Corpus token vocabulary: ``(token, n_occurrences, n_docs)``
    ordered by frequency — the counting pass behind BPE/vocab training.

    ``top_k`` keeps only the most frequent tokens (ties broken by token
    string for determinism) via ``TakeOrderedAndProject`` — no global
    sort materializes.  One explode + one partially-combined aggregate.
    ``id_column`` identifies documents for the ``n_docs`` count; when
    absent a synthetic per-row id stands in (the count is id-value
    independent).
    """
    text = F.col(text_column)
    if lowercase:
        text = F.lower(text)
    toks = F.filter(F.split(text, r"\s+"), lambda t: t != "")
    doc = (
        F.col(id_column) if id_column else F.monotonically_increasing_id()
    )
    base = df.select(doc.alias("__doc"), toks.alias("__t"))
    exploded = base.select("__doc", F.explode("__t").alias("token"))
    vocab = exploded.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.count_distinct(F.col("__doc")).alias("n_docs"),
    )
    ordered = vocab.orderBy(F.col("n_occurrences").desc(), F.col("token"))
    if top_k is not None:
        return ordered.limit(top_k)
    return ordered


def training_order_key(
    id_columns: List[str], seed: str = "", salt_prefix: str = "order"
) -> Column:
    """Deterministic pseudo-random sort key: md5 of the seed + id
    rendering.  Same engine-portable recipe as
    :func:`bdq_spark.operators.splits.hash_bucket_column` (md5 exists in
    Spark AND DuckDB, so oracles can reproduce the exact order).
    Changing ``seed`` reshuffles the corpus for a new epoch.
    """
    rendered = F.concat_ws(
        "",
        F.lit(salt_prefix),
        F.lit(seed),
        *[F.coalesce(F.col(c).cast("string"), F.lit("<null>")) for c in id_columns],
    )
    return F.md5(rendered)


def with_training_order(
    df: DataFrame, id_columns: List[str], seed: str = ""
) -> DataFrame:
    """Attach ``__train_order`` (deterministic shuffle key) to ``df``.

    The caller finalizes with ``.orderBy("__train_order")`` at WRITE
    time — a distributed range-partitioned sort.  No global row index is
    produced here: a ``row_number()`` over the whole corpus would
    single-partition the window and is exactly the 100 TB scale-killer
    this helper exists to avoid.
    """
    for c in id_columns:
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in DataFrame")
    return df.withColumn("__train_order", training_order_key(id_columns, seed))


def vocabulary_stats(
    df: DataFrame,
    text_column: str = "text",
    top_k: int = 100,
) -> DataFrame:
    """One-row corpus vocabulary health report: total tokens, distinct
    types, type/token ratio, hapax fraction (types occurring once — the
    long-tail mass, which explodes on OCR noise and drops on
    boilerplate), and the token-mass share of the ``top_k`` most
    frequent types (head concentration — near 1.0 means templated
    text).  The standard Zipf sanity check before tokenizer training.

    Cost: one token-count aggregate (partial-combinable), a 1-row stats
    aggregate over the vocabulary, and a TakeOrdered top-k for the head
    mass — nothing proportional to the corpus reaches the driver.
    """
    from bdq_spark.functions.text import word_tokens

    vocab = (
        df.select(F.explode(word_tokens(F.col(text_column))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)  # feeds totals AND the top-k
    )
    totals = vocab.agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).alias("n_hapax"),
    )
    head = (
        vocab.orderBy(F.col("cnt").desc(), "t")
        .limit(top_k)
        .agg(F.sum("cnt").alias("head_mass"))
    )
    return totals.crossJoin(F.broadcast(head)).select(
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        F.round(F.col("n_types") / F.col("n_tokens"), 6).alias(
            "type_token_ratio"
        ),
        F.round(F.col("n_hapax") / F.col("n_types"), 6).alias("hapax_frac"),
        F.round(F.col("head_mass") / F.col("n_tokens"), 6).alias(
            f"top{top_k}_mass"
        ),
    )
