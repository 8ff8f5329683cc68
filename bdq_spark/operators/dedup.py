"""Deduplication operators for LLM training-data pipelines.

Extension mandate (BASELINE.json north_star): exact dedup, MinHash+LSH,
SimHash, n-gram Jaccard — each expressed relationally (explode → shuffle
on shingle/band → join) so Catalyst distributes them.  The one driver
finish: prefix-filtered n-gram Jaccard over a shingle relation under the
session's broadcast threshold replays the same relational steps in numpy
(:func:`_driver_prefix_pairs`), because at that size per-job fixed cost,
not rows, decides its wall.

Scale design (100 TB):

- Exact dedup is one hash-aggregate on a 16-byte fingerprint — the
  cheapest possible shuffle key.
- N-gram Jaccard never materializes the O(n²) pair space: pairs are
  generated per shared shingle (inverted-index join), optionally after
  dropping ultra-frequent "stop shingles" which both de-skews the
  shuffle and removes useless candidates (boilerplate).
- MinHash-LSH reduces pair generation to equality joins on (band,
  band-signature) — the standard sub-quadratic near-dup path; signature
  computation is one explode + one groupBy (element-wise min), all
  built-ins.
- SimHash packs a document into one 64-bit long; banding finds
  candidates within a Hamming bound by pigeonhole.
- Embedding cosine near-dup is a distributed block-matrix product:
  groups (whole corpus in exact mode, multi-probe LSH buckets at scale)
  are hash-split into bounded sub-blocks and every block pair is one
  executor-side BLAS GEMM task — per-task memory is capped, hot buckets
  split instead of going quadratic, and nothing data-proportional ever
  reaches the driver.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from bdq_spark.operators._checkpoint import data_checkpoint
from bdq_spark.session import collect_for_driver, driver_row_cap

from bdq_spark.functions.text import doc_fingerprint, word_tokens

__all__ = [
    "DEFAULT_MAX_SHINGLE_DOC_FREQ",
    "exact_dedup",
    "fingerprint_dedup",
    "incremental_fingerprint_dedup",
    "paragraph_dedup",
    "duplicate_spans",
    "levenshtein_rescore",
    "shingle",
    "positional_shingles",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "minhash_lsh_candidates",
    "minhash_band_index",
    "incremental_minhash_near_dup",
    "simhash",
    "simhash_pairs",
    "embedding_cosine_pairs",
    "embedding_cosine_pairs_md5",
    "LSH_DEFAULT_TABLES",
]


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame,
    key_columns: List[str],
    tiebreaker_columns: Optional[List[str]] = None,
) -> DataFrame:
    """Keep exactly one row per key (deterministic winner via tiebreakers).

    Without tiebreakers this is ``dropDuplicates(key_columns)`` (arbitrary
    winner, cheapest); with tiebreakers the winner is the row with the
    smallest tiebreaker tuple — one window shuffle, reproducible output.
    """
    if not tiebreaker_columns:
        return df.dropDuplicates(key_columns)
    w = Window.partitionBy(*key_columns).orderBy(
        *[F.col(c).asc() for c in tiebreaker_columns]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def fingerprint_dedup(
    df: DataFrame, text_column: str = "text", id_column: str = "doc_id"
) -> DataFrame:
    """Exact content dedup on the md5 fingerprint of normalized text.

    Returns one row per distinct content: ``fingerprint, keeper_id (min
    id), dup_count``.  The aggregate is partial-combinable, so the
    shuffle carries one row per distinct fingerprint per mapper.
    """
    return (
        df.select(
            doc_fingerprint(F.col(text_column)).alias("fingerprint"),
            F.col(id_column).alias("__id"),
        )
        .groupBy("fingerprint")
        .agg(
            F.min("__id").alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def incremental_fingerprint_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    corpus_fingerprint_column: str | None = None,
) -> DataFrame:
    """Dedup a NEW ingest batch against an existing corpus: keep only
    batch rows whose content fingerprint (a) does not already exist in
    the corpus and (b) is first-in-batch (min id) among batch-internal
    duplicates.

    This is the continuously-ingesting pipeline's dedup shape — the
    corpus is never re-deduped, only probed.  Cost: the corpus side
    reduces to distinct fingerprints (partial-combinable, one row per
    distinct content per mapper) before a LEFT ANTI join; the batch —
    typically orders of magnitude smaller than the corpus — is the only
    side carrying full rows through a shuffle.  Deterministic keeper
    choice (min id) makes reruns idempotent.

    ``corpus_fingerprint_column`` names a PRE-COMPUTED fingerprint
    column on the corpus (written at ingest time).  Without it, every
    probe re-reads the corpus's full ``text_column`` and re-hashes it —
    fine once, ruinous per-trigger at 100 TB; with it, the probe is a
    column-pruned scan of a 16-byte column (parquet reads nothing
    else), which is the production shape for a continuously-maintained
    corpus.  The batch side always hashes fresh (it is the new data).

    Returns the surviving batch rows with their original columns.
    """
    fp = doc_fingerprint(F.col(text_column))
    corpus_fps = corpus.select(
        (
            F.col(corpus_fingerprint_column)
            if corpus_fingerprint_column
            else fp
        ).alias("__fp")
    ).distinct()
    keeper = (
        batch.withColumn("__fp", fp)
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("__fp").orderBy(F.col(id_column))
            ),
        )
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )
    return keeper.join(corpus_fps, "__fp", "left_anti").drop("__fp").select(
        *batch.columns
    )


def paragraph_dedup(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    separator: str = r"\n+",
    join_with: str = "\n",
) -> DataFrame:
    """Corpus-wide paragraph-level dedup (the C4 / RefinedWeb line-level
    pass): every paragraph that already appeared earlier in the corpus —
    in ANY document — is removed; the first occurrence (minimum
    ``(doc_id, position)``) survives.  This kills cross-document
    boilerplate (license headers, navigation chrome, repeated intros)
    that document-level dedup can't touch.

    Output, one row per document with at least one non-empty paragraph:
    ``(id_column, n_paragraphs, n_kept, clean_text, n_removed)``.
    Documents whose every paragraph was seen before come out with
    ``clean_text = ''`` (callers decide whether to drop empties);
    documents whose text held no non-empty paragraph at all contribute
    no output row.

    Scale shape: explode → ONE window shuffle partitioned by the
    paragraph fingerprint (md5 of trimmed lowercase — the 16-byte key is
    what the exchange hashes on) → one group-by-document reassembly
    shuffle.  Both are linear in corpus size; the duplicate-decision
    window never compares paragraphs pairwise.  Reassembly sorts the
    surviving paragraphs by original position inside the row
    (``array_sort`` of (pos, para) structs), so output text is
    deterministic regardless of aggregation order.
    """
    paras = df.select(
        F.col(id_column).alias("__id"),
        F.posexplode(F.split(F.col(text_column), separator)).alias(
            "pos", "para"
        ),
    ).filter(F.col("para") != "")
    w = Window.partitionBy(
        F.md5(F.trim(F.lower(F.col("para"))))
    ).orderBy("__id", "pos")
    ranked = paras.withColumn("rk", F.row_number().over(w))
    first = F.col("rk") == 1
    return (
        ranked.groupBy(F.col("__id").alias(id_column))
        .agg(
            F.count(F.lit(1)).alias("n_paragraphs"),
            F.sum(F.when(first, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(first, F.struct("pos", "para"))
                        )
                    ),
                    lambda s: s["para"],
                ),
                join_with,
            ).alias("clean_text"),
        )
        .withColumn(
            "n_removed", (F.col("n_paragraphs") - F.col("n_kept")).cast("long")
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (inverted-index formulation)
# ---------------------------------------------------------------------------

def shingle(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """Distinct word-level n-gram shingles per document: (id, shingle).

    ``distinct=False`` skips the trailing per-document dedup (one
    exchange + hash-agg over the exploded shingle stream) for consumers
    whose downstream aggregation is multiplicity-insensitive — the
    MinHash signature min is the canonical case.  Set-semantics callers
    (Jaccard sizes/intersections) must keep the default.

    Words come from :func:`word_tokens` (lowercased alphanumeric);
    shingles are the space-joined sliding windows of ``n`` words.
    Documents with fewer than ``n`` words contribute their full token
    string as a single shingle, so short docs still participate.

    Implementation: ``posexplode`` + windowed ``lead`` — measured ~2×
    faster than the ``transform(slice(...))`` higher-order formulation
    (window + concat stay in whole-stage codegen; per-shingle array
    slicing does not), and the window's hash-partition by doc id is the
    same exchange the trailing ``distinct`` needs.  ``concat_ws`` skips
    NULL leads, which makes the short-doc row (all tokens joined) fall
    out of the same expression.

    The input is repartitioned BY ID before tokenization: document
    tables often scan as few large file-splits (one ~50 MB parquet =
    1-2 tasks), which would serialize the regex tokenize + explode on
    2 cores; hashing up front both restores full parallelism and
    satisfies the window's clustering, so the exchange moves from the
    (large) exploded token stream to the (compact) raw documents —
    strictly less data shuffled.
    """
    toks = df.repartition(F.col(id_column)).select(
        F.col(id_column).alias("id"),
        F.posexplode(word_tokens(F.col(text_column))).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    leads = [F.lead("tok", j).over(w) for j in range(1, n)]
    doc_len = F.count(F.lit(1)).over(Window.partitionBy("id"))
    full = leads[-1].isNotNull() if leads else F.lit(True)
    keep = full | ((doc_len < n) & (F.col("pos") == 0))
    out = (
        toks.withColumn("shingle", F.concat_ws(" ", F.col("tok"), *leads))
        .withColumn("__keep", keep)
        .filter(F.col("__keep"))
        .select("id", "shingle")
        .filter(F.col("shingle") != "")
    )
    return out.distinct() if distinct else out


def positional_shingles(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Every word n-gram with its 0-based start token position:
    ``(id, pos, shingle, n_tokens)`` — NOT distinct (span reporting
    needs each occurrence).  Same tokenization, windowed-lead build and
    short-doc rule as :func:`shingle`: documents with fewer than ``n``
    words contribute their full token string at position 0.
    """
    toks = df.repartition(F.col(id_column)).select(
        F.col(id_column).alias("id"),
        F.posexplode(word_tokens(F.col(text_column))).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    leads = [F.lead("tok", j).over(w) for j in range(1, n)]
    doc_len = F.count(F.lit(1)).over(Window.partitionBy("id"))
    full = leads[-1].isNotNull() if leads else F.lit(True)
    keep = full | ((doc_len < n) & (F.col("pos") == 0))
    return (
        toks.withColumn("n_tokens", doc_len)
        .withColumn("shingle", F.concat_ws(" ", F.col("tok"), *leads))
        .withColumn("__keep", keep)
        .filter(F.col("__keep"))
        .filter(F.col("shingle") != "")
        .select("id", "pos", "shingle", "n_tokens")
    )


def _jaccard_for_pairs(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact n-gram Jaccard restricted to the given (id_a, id_b) pairs.

    ``sh`` must be a set: a duplicate ``(id, shingle)`` row counts twice
    in ``inter`` and can push a score above 1.  :func:`shingle` gives a
    set, and :func:`ngram_jaccard_pairs` deduplicates its hashed
    relation.

    Cost is proportional to |pairs| × doc size, not to the full corpus
    pair space — this is the verify stage of candidates-then-verify.
    The shingle set is semi-join-pruned to documents that appear in a
    pair BEFORE the intersection join: the candidate set is tiny next to
    the corpus, so this turns two corpus-sized shuffles into
    candidate-sized ones.
    """
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    pair_ids = (
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sh = sh.join(pair_ids, "id", "left_semi")
    a_sh = sh.select(F.col("id").alias("id_a"), "shingle")
    b_sh = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        pairs.join(a_sh, "id_a")
        .join(b_sh, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_shingles").alias("size_b"))
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", _rounded_jaccard())
    )


def _rounded_jaccard() -> Column:
    """``jaccard`` from ``inter``, ``size_a`` and ``size_b``, rounded to
    6 decimals by Spark on either Jaccard path."""
    jac = F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter"))
    return F.round(F.coalesce(jac, F.lit(0.0)), 6).alias("jaccard")


# Candidate-generation skew guard (see :func:`ngram_jaccard_pairs`): a
# shingle shared by more documents than this stops generating candidate
# pairs.  1,000 bounds the worst per-shingle pair fan-out to ~500k
# 16-byte rows (manageable in one shuffle partition) while sitting far
# above the document frequency of any content-bearing 3-gram — only
# corpus-wide boilerplate (license headers, templated footers) crosses
# it, and identical-boilerplate documents are exact-dedup's job
# (:func:`fingerprint_dedup`), not the near-dup join's.
DEFAULT_MAX_SHINGLE_DOC_FREQ = 1000


def _md5_base_hash(col: Column) -> Column:
    """First 60 bits of the md5 hex digest as a non-negative bigint —
    the engine-portable base hash behind every ``hash_fn="md5"`` path.
    The DuckDB oracles reproduce it as
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``; this helper is the ONE
    Spark-side copy of that contract (15 hex chars = 60 bits, always
    positive, so ``conv``'s unsigned parse and the cast are exact)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _prefix_candidates(
    sh: DataFrame,
    threshold: float,
    max_shingle_doc_freq: Optional[int] = None,
) -> DataFrame:
    """Candidate ``(id_a, id_b)`` pairs from a hashed ``(id, shingle)``
    relation via prefix + positional + length filtering (see
    :func:`ngram_jaccard_pairs` for the theory).  ``max_shingle_doc_freq``
    drops over-frequent shingles from the INDEX (after prefix positions
    are assigned over the full ordering, so surviving positions stay
    valid) — candidates only, never the exact-scoring shingle set.

    The pruning bounds are computed at ``threshold - 1e-6`` (strictly
    looser): the final filter keeps ``round(jaccard, 6) >= threshold``,
    which admits true J down to ``threshold - 5e-7``, so bounds derived
    from the exact threshold could prune a pair the rounded filter (and
    the SQL oracles, which round identically) would keep.

    The built index is lazily ``localCheckpoint``-ed: the self-join
    below reads it twice (a/b sides), and without the checkpoint each
    side would re-run the freq-join + row_number window from the source.
    """
    threshold = max(threshold - 1e-6, 0.0)
    # global order = (document frequency asc, key): rare shingles
    # first makes the indexed prefix maximally selective
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_cnt"))
    ordered = sh.join(freq, "shingle").withColumn(
        "__pos",
        F.row_number().over(
            Window.partitionBy("id").orderBy("df_cnt", "shingle")
        ),
    )
    doc_size = F.count(F.lit(1)).over(Window.partitionBy("id"))
    # |d| - ceil(t*|d|) + 1, with an epsilon so float error can only
    # LENGTHEN the prefix (lossless direction), never shorten it
    prefix_len = (
        F.floor((1 - F.lit(threshold)) * doc_size + F.lit(1e-9)) + 1
    )
    index = (
        ordered.withColumn("__size", doc_size)
        .withColumn("__prefix_len", prefix_len)
        .filter(F.col("__pos") <= F.col("__prefix_len"))
    )
    if max_shingle_doc_freq is not None:
        # the skew guard: positions/sizes were computed over the FULL
        # per-doc ordering above, so dropping hot index entries here
        # cannot invalidate the positional filter — it only removes
        # candidate-generating keys
        index = index.filter(F.col("df_cnt") <= max_shingle_doc_freq)
    index = data_checkpoint(
        index.select("id", "shingle", "__pos", "__size"), eager=False
    )
    a = index.alias("a")
    b = index.alias("b")
    size_a, size_b = F.col("a.__size"), F.col("b.__size")
    # positional filter (PPJoin, Xiao et al. WWW'08): at a prefix
    # match on positions (pa, pb) under a COMMON global order, the
    # overlap can't exceed 1 + min(remaining suffix of each side);
    # J >= t needs overlap >= ceil(t/(1+t) * (|A|+|B|)) (epsilon in
    # the lossless direction: never round the requirement up past
    # the exact value).  Plus the length filter t*|B| <= |A| <= |B|/t.
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (size_a + size_b)
        - F.lit(1e-9)
    )
    ubound = (
        F.lit(1)
        + F.least(size_a - F.col("a.__pos"), size_b - F.col("b.__pos"))
    )
    return (
        a.join(b, "shingle")
        .filter(
            (F.col("a.id") < F.col("b.id"))
            & (F.lit(threshold) * size_b <= size_a)
            & (F.lit(threshold) * size_a <= size_b)
            & (ubound >= alpha)
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _run_offsets(counts: np.ndarray) -> np.ndarray:
    """0..n-1 within each run of ``np.repeat(..., counts)``."""
    return np.arange(counts.sum()) - np.repeat(np.cumsum(counts) - counts, counts)


def _driver_prefix_pairs(
    sh: DataFrame, threshold: float, max_shingle_doc_freq: Optional[int]
) -> Optional[DataFrame]:
    """:func:`_prefix_candidates` + :func:`_jaccard_for_pairs` finished
    on the driver: ``(id_a, id_b, inter, size_a, size_b)`` as a
    ``LocalRelation``, or ``None`` when
    :func:`~bdq_spark.session.collect_for_driver` declines the
    checkpointed ``(id, shingle)`` set, or when the prefix self-join or
    the intersection expansion would exceed its row cap.

    The steps are the distributed ones over the same rows: document
    frequency, the per-id ``(df_cnt, shingle)`` position, the prefix
    cut, the doc-frequency cap, the self-join on shingle under the id,
    length and positional filters (same float expressions, same order),
    distinct candidates, then ``inter`` as the size of the ``(id,
    shingle)`` join."""
    table = collect_for_driver(sh, ("id", "shingle"))
    if table is None:
        return None
    cap = driver_row_cap(sh.sparkSession, sh._jdf.schema().defaultSize())
    ids, doc = np.unique(
        table.column("id").to_numpy(zero_copy_only=False), return_inverse=True
    )
    # dense shingle codes in hash order, with their document frequency
    _, key, freq = np.unique(
        table.column("shingle").to_numpy(), return_inverse=True, return_counts=True
    )
    df_cnt = freq[key]
    size = np.bincount(doc, minlength=len(ids))
    order = np.lexsort((key, df_cnt, doc))
    pos = np.empty(len(doc), np.int64)
    pos[order] = _run_offsets(size) + 1

    t = max(threshold - 1e-6, 0.0)
    keep = pos <= np.floor((1 - t) * size[doc] + 1e-9).astype(np.int64) + 1
    if max_shingle_doc_freq is not None:
        keep &= df_cnt <= max_shingle_doc_freq
    index = np.flatnonzero(keep)
    index = index[np.argsort(key[index], kind="stable")]
    _, group = np.unique(key[index], return_counts=True)
    if int((group * (group - 1) // 2).sum()) > cap:
        return None
    # every row pair within a shingle group, each pair once
    later = np.repeat(group, group) - _run_offsets(group) - 1
    first = np.repeat(np.arange(len(index)), later)
    x, y = index[first], index[first + 1 + _run_offsets(later)]
    a = np.where(doc[x] < doc[y], x, y)
    b = np.where(doc[x] < doc[y], y, x)
    sa, sb = size[doc[a]], size[doc[b]]
    alpha = np.ceil(t / (1.0 + t) * (sa + sb) - 1e-9)
    ok = (
        (doc[a] < doc[b])
        & (t * sb <= sa)
        & (t * sa <= sb)
        & (1 + np.minimum(sa - pos[a], sb - pos[b]) >= alpha)
    )
    cand = np.unique(doc[a][ok] * len(ids) + doc[b][ok])
    ca, cb = cand // len(ids), cand % len(ids)

    # inter: each of a candidate's a-side shingles probes the b side's
    # (id, shingle) cells, sorted so each id's cells are one run
    if int(size[ca].sum()) > cap:
        return None
    cell = np.sort(doc * len(freq) + key)
    start = np.cumsum(size) - size
    pair = np.repeat(np.arange(len(cand)), size[ca])
    own = np.repeat(start[ca], size[ca]) + _run_offsets(size[ca])
    probe = cb[pair] * len(freq) + cell[own] % len(freq)
    hit = np.minimum(np.searchsorted(cell, probe), len(cell) - 1)
    inter = np.bincount(pair[cell[hit] == probe], minlength=len(cand))

    id_field = sh.schema["id"]
    id_arrow = table.schema.field("id").type
    schema = StructType(
        [
            StructField("id_a", id_field.dataType, id_field.nullable),
            StructField("id_b", id_field.dataType, id_field.nullable),
        ]
        + [StructField(c, LongType(), False) for c in ("inter", "size_a", "size_b")]
    )
    out = pa.table({
        "id_a": pa.array(ids[ca], id_arrow),
        "id_b": pa.array(ids[cb], id_arrow),
        "inter": inter,
        "size_a": size[ca],
        "size_b": size[cb],
    })
    return sh.sparkSession.createDataFrame(out, schema)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_doc_freq: "int | str | None" = "auto",
) -> DataFrame:
    """Document pairs with n-gram Jaccard similarity >= ``threshold``.

    Inverted-index join scored exactly:
    ``J = |A∩B| / (|A| + |B| - |A∩B|)``.  Output:
    ``id_a, id_b, jaccard`` with ``id_a < id_b``.

    Two lossless prunings keep the pair space sub-quadratic at 100 TB:

    - **Prefix filtering** (Bayardo et al., "Scaling Up All Pairs
      Similarity Search", WWW'07): under any global shingle order, two
      docs with J >= t MUST share a shingle within each one's first
      ``|d| - ceil(t*|d|) + 1`` shingles.  Only that prefix (rarest
      shingles first, so the index hits the least-shared keys) enters
      the candidate join — at t=0.8 that's ~20% of the index and a
      ~25x smaller pair blow-up; survivors are re-scored exactly, so
      the result set is identical.
    - **Length filter**: J >= t requires ``t*|B| <= |A|``; size-
      incompatible candidates drop before exact scoring.

    Shingles are carried as ``xxhash64`` longs through the joins (8-byte
    shuffle keys instead of ~25-byte strings; a counting collision needs
    two distinct shingles of the SAME document pair colliding in 2^64 —
    negligible).

    ``max_shingle_doc_freq`` is the skew guard: shingles appearing in
    more than N documents stop generating CANDIDATES (exact scoring
    always uses the full shingle set, so reported ``jaccard`` values are
    true Jaccard).  Prefix filtering alone cannot bound this — a short
    document's prefix is its entire shingle set, so one corpus-wide
    boilerplate line (a license header in 1M docs) would emit 10^12
    pairs into a single shuffle partition.  The default ``"auto"``
    applies :data:`DEFAULT_MAX_SHINGLE_DOC_FREQ` (1,000); pass an int to
    tune, or ``None`` to disable (exhaustive recall — a pair is missed
    only when EVERY candidate-generating shingle it shares is over-cap,
    i.e. pure-boilerplate near-dups, whose identical-copy core belongs
    to exact dedup anyway; same capped-recall contract as
    ``max_bucket_size`` in :func:`minhash_lsh_candidates`).

    Small inputs finish on the driver: when the checkpointed ``(id,
    shingle)`` set fits the session's ``autoBroadcastJoinThreshold``
    (row width from the schema's ``defaultSize``), it is collected once
    and the candidate, verify and intersection steps run in numpy
    (:func:`_driver_prefix_pairs`); the rounding and threshold filter
    stay Spark expressions over the returned ``LocalRelation``.  The
    prefix self-join and the intersection expansion must fit the same
    row cap.  Null ids, an id type whose order numpy does not share
    (:func:`~bdq_spark.session.collect_for_driver`) or a larger input
    take the distributed joins; both paths return the same rows.
    """
    if max_shingle_doc_freq == "auto":
        max_shingle_doc_freq = DEFAULT_MAX_SHINGLE_DOC_FREQ
    # the set _jaccard_for_pairs needs, deduplicated over the 8-byte hash
    # (shingle()'s hash(id) window partitioning already satisfies it)
    sh = (
        shingle(df, text_column, id_column, n, distinct=False)
        .select("id", F.xxhash64("shingle").alias("shingle"))
        .distinct()
    )
    # eager: the plan references sh from parallel stages (index build,
    # semi-join prune, intersection, sizes) — a lazily-populated cache
    # gets the shingle subtree recomputed per stage before any copy
    # lands (measured 27 s vs 6 s first-run at sf0.1).  localCheckpoint
    # rather than cache so the blocks are released by the context
    # cleaner when the frame goes out of scope — an unpersist-less
    # cache would accumulate across invocations in a long session.
    sh = data_checkpoint(sh)

    local = _driver_prefix_pairs(sh, threshold, max_shingle_doc_freq)
    if local is not None:
        scored = local.select("id_a", "id_b", _rounded_jaccard())
    else:
        cand = _prefix_candidates(sh, threshold, max_shingle_doc_freq)
        scored = _jaccard_for_pairs(cand, sh)
    return scored.filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

#: modulus of the MinHash affine family; 2^31-1 keeps ``a * h + b`` under
#: 2^62, safe under ANSI overflow checks in any int64 engine
_MINHASH_PRIME = 2_147_483_647


def _minhash_coefficients(num_hashes: int) -> List[Tuple[int, int]]:
    """The ``(a_i, b_i)`` of the MinHash family ``h_i(x) = (a_i x + b_i)
    mod p``, each drawn independently from the first 60 bits of
    ``md5(f"bdq_minhash:{i}:a")`` (resp. ``:b``), with ``a_i`` in
    ``[1, p)``.  Coefficients in arithmetic progression (``a_i``, ``b_i``
    linear in ``i``) make ``h_i(x) = u(x) + i v(x) mod p``: the minima
    then move together, and a pair at Jaccard 0.92 agreed on 7 of 64
    positions instead of the ~59 the banding recall assumes.  The one
    source of the coefficients for the operator and the SQL replays."""
    import hashlib

    def draw(i: int, part: str) -> int:
        digest = hashlib.md5(f"bdq_minhash:{i}:{part}".encode()).hexdigest()
        return int(digest[:15], 16)

    p = _MINHASH_PRIME
    return [
        (1 + draw(i, "a") % (p - 1), draw(i, "b") % p)
        for i in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    shingles: Optional[DataFrame] = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-document MinHash signature: (id, sig array<bigint>[num_hashes]).

    ``hash_i(shingle) = affine_i(base_hash(shingle))``; the signature is
    the element-wise min over the document's shingles — computed as one
    explode + one groupBy with ``num_hashes`` partial-min aggregates
    (single shuffle, map-side combined).

    ``shingles`` (an ``(id, shingle)`` DataFrame, e.g. a cached
    :func:`shingle` result) skips re-shingling when the caller already
    has one — :func:`minhash_lsh_candidates` shares its verify-stage
    shingle set this way.

    ``hash_fn`` selects the base string hash: ``"xxhash64"`` (default —
    the fast JVM-codegen production path) or ``"md5"`` (first 60 bits of
    the md5 hex digest — ~2x slower but reproducible in any engine with
    an md5 function, which is what lets a DuckDB oracle value-check the
    whole signature/banding pipeline).  Same LSH guarantees either way.
    """
    # textbook affine family: h_i(x) = (a_i * h(x) + b_i) mod p over ONE
    # base string hash — 64 long multiply-adds per shingle instead of 64
    # string hashes (~4x cheaper signature computation, same guarantees)
    p = _MINHASH_PRIME
    coef = _minhash_coefficients(num_hashes)
    if shingles is not None:
        sh = shingles
    else:
        # the signature is a min over shingles, so duplicate shingles
        # cannot change it — skip shingle()'s trailing distinct (one
        # exchange + hash-agg over the exploded shingle stream) when the
        # shingle set is private to this signature computation
        sh = shingle(df, text_column, id_column, n, distinct=False)
    if hash_fn == "md5":
        base = _md5_base_hash(F.col("shingle"))
    elif hash_fn == "xxhash64":
        base = F.xxhash64("shingle")
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5': {hash_fn!r}")
    # one selectExpr (a single py4j round trip) instead of num_hashes
    # Python-assembled pmod trees — the per-column construction measured
    # ~0.6 s of driver time per call at 64 hashes.
    # The base hash is STAGED in its own projection (a subtree shared by
    # 64 expressions is evaluated 64 times): inlining it into the 64 affine
    # columns re-evaluated the md5/conv tree 64x PER SHINGLE — measured
    # 23.0 s vs 8.3 s for the staged shape on a 2M-row hashed
    # projection (subexpression elimination provably did NOT fire; the
    # optimizer keeps the two projections apart because a non-cheap
    # expression consumed 64x is excluded from CollapseProject).
    # Same values bit-for-bit — the affine family reads one shared base.
    hashed = sh.select("id", F.pmod(base, F.lit(p)).alias("__base")).selectExpr(
        "id",
        *[
            f"pmod(__base * {a}L + {b}L, {p}) as h{i}"
            for i, (a, b) in enumerate(coef)
        ],
    )
    agg = hashed.groupBy("id").agg(
        *[F.expr(f"min(h{i})").alias(f"m{i}") for i in range(num_hashes)]
    )
    return agg.select(
        "id",
        F.expr(
            "array(" + ",".join(f"m{i}" for i in range(num_hashes)) + ")"
        ).alias("sig"),
    )


def _cap_hot_buckets(
    df: DataFrame, key_columns: List[str], max_bucket_size: int
) -> DataFrame:
    """Drop rows whose join-key bucket holds more than ``max_bucket_size``
    members — the shared skew guard of every LSH candidate join (a
    mass-duplicate cluster collides on the same key in every band, so an
    uncapped self-join is quadratic in the cluster).  One occupancy
    window over the key columns; the downstream equi-join on the same
    keys reuses its hash partitioning."""
    occupancy = Window.partitionBy(*key_columns)
    return (
        df.withColumn("__occ", F.count(F.lit(1)).over(occupancy))
        .filter(F.col("__occ") <= max_bucket_size)
        .drop("__occ")
    )


def _band_keys(sig: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """Explode signatures into the LSH band relation
    ``(id, band, band_key)`` — ``band_key`` is the 64-bit hash of that
    band's signature slice.  Shared by the self-join candidate search
    and the persisted incremental index (identical keys on both sides
    is what makes a stored index probe-able by later batches)."""
    return sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.array_join(
                            F.transform(
                                F.slice(
                                    F.col("sig"),
                                    b * rows_per_band + 1,
                                    rows_per_band,
                                ),
                                lambda v: v.cast("string"),
                            ),
                            ",",
                        )
                    ).alias("band_key"),
                ),
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.band_key")


def minhash_band_index(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: Optional[int] = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The persistable MinHash LSH index of a corpus:
    ``(id, band, band_key)`` — write it to parquet (ideally bucketed by
    ``band_key``) once, then probe every ingest batch against it with
    :func:`incremental_minhash_near_dup` without ever touching corpus
    text again.  Appending a batch's own index rows keeps it current;
    parameters (n, num_hashes, bands) must match between build and
    probe, as the keys are parameter-dependent.

    ``max_bucket_size`` drops corpus-hot buckets at BUILD time (the
    right place: once, instead of per probing batch) — a key shared by
    more than that many corpus documents stops producing candidates, so
    mass-duplicate boilerplate can't make every future batch probe
    quadratic."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    sig = minhash_signatures(
        df, text_column, id_column, n, num_hashes, hash_fn=hash_fn
    )
    banded = _band_keys(sig, bands, num_hashes // bands)
    if max_bucket_size is not None:
        banded = _cap_hot_buckets(banded, ["band", "band_key"], max_bucket_size)
    return banded


def incremental_minhash_near_dup(
    corpus_index: DataFrame,
    batch: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: Optional[int] = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate CANDIDATES for a new ingest batch: batch docs vs
    the persisted corpus index (:func:`minhash_band_index`) plus
    batch-internal pairs — the continuously-ingesting analogue of
    :func:`minhash_lsh_candidates`, linear in the batch size.

    Output: ``(id_a, id_b, match_side)`` where ``id_a`` is always the
    batch document; ``match_side`` is ``'corpus'`` (id_b from the
    index) or ``'batch'`` (id_b a batch sibling, ``id_a < id_b``).
    Exact verification is the caller's choice — the index carries no
    text, so re-scoring corpus matches means joining doc ids back to
    stored text (only for the candidate survivors, the whole point of
    candidates-first).

    Scale shape: the batch is banded on the fly (16 rows per batch
    doc); the corpus join is an equi-join on ``(band, band_key)`` that
    never scans corpus text, and with the index bucketed by band_key it
    is shuffle-free on the corpus side.  ``max_bucket_size`` caps hot
    batch buckets exactly as in :func:`minhash_lsh_candidates`; corpus-
    side hot keys should be capped at index-build time instead (drop
    them once, not per batch)."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    sig = minhash_signatures(
        batch, text_column, id_column, n, num_hashes, hash_fn=hash_fn
    )
    banded = data_checkpoint(
        _band_keys(sig, bands, num_hashes // bands), eager=False
    )

    if max_bucket_size is not None:
        banded = _cap_hot_buckets(banded, ["band", "band_key"], max_bucket_size)

    corpus = corpus_index.select(
        F.col("id").alias("__cid"), "band", "band_key"
    )
    # id_a != id_b: on an at-least-once replay (micro-batch retried
    # AFTER its own index rows were appended) every batch doc matches
    # itself in the index; without this filter the documented streaming
    # dedup pattern would drop the entire retried batch.  Re-appended
    # SIBLING rows can still cross-match on replay — pipelines needing
    # exactly-once semantics should append index rows only after the
    # output commit, or make the append idempotent (overwrite by batch
    # id partition).
    vs_corpus = (
        banded.join(corpus, ["band", "band_key"])
        .filter(F.col("id") != F.col("__cid"))
        .select(
            F.col("id").alias("id_a"),
            F.col("__cid").alias("id_b"),
            F.lit("corpus").alias("match_side"),
        )
        .distinct()
    )
    lhs = banded.alias("l")
    rhs = banded.alias("r")
    vs_batch = (
        lhs.join(rhs, ["band", "band_key"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.lit("batch").alias("match_side"),
        )
        .distinct()
    )
    return vs_corpus.unionByName(vs_batch)


def minhash_lsh_candidates(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    verify_threshold: Optional[float] = None,
    max_bucket_size: Optional[int] = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash LSH banding.

    The signature splits into ``bands`` bands of ``num_hashes // bands``
    rows; documents colliding in any band become a candidate pair.
    Output: ``id_a, id_b, est_jaccard`` (fraction of equal signature
    positions).  With ``verify_threshold`` set, candidates are re-scored
    with the exact n-gram Jaccard and filtered — the standard
    candidates-then-verify pipeline, where the expensive exact scoring
    touches only the LSH survivors.

    ``max_bucket_size`` (scale knob, same contract as
    :func:`simhash_pairs`) drops ``(band, band_key)`` buckets occupied by
    more than that many documents before the self-join.  A mass-duplicate
    cluster of size ``m`` collides in *every* band, so without the cap the
    band join emits ``bands * m^2 / 2`` rows — quadratic in the cluster,
    the one skew shape LSH itself cannot bound.  Capped buckets are
    skipped whole (their members still pair through any band where they
    land in a small-enough bucket); the intrinsically-quadratic pair
    output of an identical-copy cluster is better produced by exact
    fingerprint dedup (:func:`dedup_exact`) than by LSH.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands

    # with verify on, the shingle set is needed twice (signatures + exact
    # re-score) — compute it once and share the materialized copy.  The
    # materialization is EAGER: the downstream plan references sh up to
    # 4x and sig 3x, and a lazily-populated copy whose references sit in
    # PARALLEL stages of one job gets recomputed per stage before any
    # copy lands — measured 2-4x wall-time swings on the full query vs
    # a stable ~7 s eager.  localCheckpoint (not cache) so the blocks
    # self-release via the context cleaner instead of accumulating in
    # the cache manager across invocations.
    sh = None
    if verify_threshold is not None:
        sh = data_checkpoint(shingle(df, text_column, id_column, n))
    sig = data_checkpoint(
        minhash_signatures(
            df, text_column, id_column, n, num_hashes, shingles=sh,
            hash_fn=hash_fn,
        )
    )

    banded = _band_keys(sig, bands, rows_per_band)

    if max_bucket_size is not None:
        banded = _cap_hot_buckets(banded, ["band", "band_key"], max_bucket_size)

    lhs = banded.alias("l")
    rhs = banded.alias("r")
    cands = (
        lhs.join(rhs, ["band", "band_key"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )

    sa = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(float(num_hashes))
    )
    out = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(est, 6).alias("est_jaccard"))
    )

    if verify_threshold is not None:
        # exact-verify ONLY the LSH survivors — |candidates| × doc-size
        # work, instead of re-scoring the whole corpus pair space.  The
        # candidate relation is read twice below (verify input + join
        # back); eager-materialize it so the banded self-join runs once.
        out = out.localCheckpoint(eager=True)
        out = _jaccard_for_pairs(out.select("id_a", "id_b"), sh).join(
            out, ["id_a", "id_b"]
        ).select("id_a", "id_b", "est_jaccard", "jaccard").filter(
            F.col("jaccard") >= verify_threshold
        )
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document: (id, simhash bigint).

    Token hashes vote per bit position (+1 if set, -1 if clear); the
    fingerprint sets each bit where the vote is positive.  Implemented
    with explode + 64 conditional-sum aggregates — one shuffle, no UDF.

    ``hash_fn``: ``"xxhash64"`` (default, full 64 voting bits) or
    ``"md5"`` (first 60 bits of the md5 hex digest — engine-portable so
    a DuckDB oracle can value-check the fingerprints; the top 4 bits
    then always vote clear, leaving a 60-bit effective fingerprint).
    """
    if hash_fn == "md5":
        token_hash = _md5_base_hash(F.col("tok"))
    elif hash_fn == "xxhash64":
        token_hash = F.xxhash64("tok")
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5': {hash_fn!r}")
    # repartition by id before tokenize for the same file-split
    # parallelism reason as :func:`shingle`; the groupBy then needs no
    # further exchange
    toks = (
        df.repartition(F.col(id_column))
        .select(
            F.col(id_column).alias("id"),
            F.explode(word_tokens(F.col(text_column))).alias("tok"),
        )
        .withColumn("h", token_hash)
    )
    # SQL-string construction (one py4j round trip per aggregate /
    # one for the fingerprint) — the per-bit Python assembly crossed
    # py4j ~800 times and measured as pure driver time; identical
    # expressions, identical results
    votes = toks.groupBy("id").agg(
        *[
            F.expr(
                f"sum(case when (shiftright(h, {i}) & 1) = 1 "
                "then 1 else -1 end)"
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    fingerprint_sql = " ^ ".join(
        f"shiftleft(case when b{i} > 0 then 1L else 0L end, {i})"
        for i in range(64)
    )
    return votes.select("id", F.expr(fingerprint_sql).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    max_hamming: int = 3,
    num_blocks: Optional[int] = None,
    max_bucket_size: Optional[int] = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Candidate pairs with SimHash Hamming distance <= ``max_hamming``.

    Combination banding (the Manku/Jain/Sarma WWW'07 table design,
    re-expressed as one exploded equality join): the 64-bit fingerprint
    is split into ``b = num_blocks`` blocks and every combination of
    ``t = b - max_hamming`` blocks becomes one 64-bit join key
    (``xxhash64`` of the combo id + block values).  Pigeonhole: a pair
    within Hamming distance ``h`` has at most ``h`` dirty blocks, so at
    least ``t`` clean ones — some ``t``-combination is clean on both
    sides and they collide on that key.  The join stays a set of
    equality joins (no O(n²) scan), and because keys now span
    ``t x block-width ~ 30+`` bits instead of 16, bucket occupancy stays
    ~1 even at billions of documents — the round-1 4x16-bit design
    capped at 65,536 buckets per band, which goes quadratic as the
    corpus grows past millions.

    ``num_blocks`` defaults to ``min(16, max_hamming + 3)`` — replication
    ``C(b, t) = C(h+3, 3)`` keys/doc (20 at h=3) buys the wide keys.
    ``max_bucket_size`` (scale knob, default off) drops join keys shared
    by more than that many documents — the equality-join analogue of
    stop-shingle removal.  Mass-duplicate clusters (whose pair output is
    intrinsically quadratic) get skipped rather than detonating the
    shuffle; their members still pair through their other, less-crowded
    keys when any exist.  Output: ``id_a, id_b, hamming``.
    """
    from itertools import combinations

    h = max_hamming
    if not 0 <= h < 64:
        raise ValueError(f"max_hamming must be in [0, 64): {h}")
    b = num_blocks if num_blocks is not None else min(16, h + 3)
    if b <= h:
        raise ValueError(
            f"num_blocks ({b}) must exceed max_hamming ({h}) for the "
            "pigeonhole guarantee"
        )
    b = min(b, 64)
    t = b - h

    # split 64 bits into b near-even blocks
    widths = [64 // b + (1 if i < 64 % b else 0) for i in range(b)]
    offsets = [sum(widths[:i]) for i in range(b)]

    def block_sql(i: int) -> str:
        mask = (1 << widths[i]) - 1
        return f"shiftright(simhash, {offsets[i]}) & {mask}"

    # referenced by the key explode and both join sides — materialize
    # once; localCheckpoint blocks self-release when the frame is GC'd
    sig = data_checkpoint(
        simhash(df, text_column, id_column, hash_fn=hash_fn)
    )
    combos = list(combinations(range(b), t))
    # combo keys as one SQL array literal — same xxhash64 expressions,
    # one py4j call instead of ~10 per combination
    key_exprs = ",".join(
        f"named_struct('combo', {ci}, 'key', xxhash64({ci}, "
        + ", ".join(block_sql(i) for i in combo)
        + "))"
        for ci, combo in enumerate(combos)
    )
    keys = sig.select(
        "id",
        "simhash",
        F.explode(F.expr(f"array({key_exprs})")).alias("c"),
    ).select("id", "simhash", "c.combo", "c.key")

    if max_bucket_size is not None:
        keys = _cap_hot_buckets(keys, ["combo", "key"], max_bucket_size)

    lhs = keys.alias("l")
    rhs = keys.alias("r")
    hamming = F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
    return (
        lhs.join(rhs, ["combo", "key"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)  # before distinct: smaller shuffle
        .distinct()
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

# rows per hash sub-block of a cosine comparison group: one GEMM task
# holds at most ~2x this many vectors however large the group is
_COSINE_BLOCK_ROWS = 16384


def _blocked_cosine_candidates(
    assigned: DataFrame,
    threshold: float,
    margin: float,
    id_type: str,
) -> DataFrame:
    """Candidate ``(id_a, id_b)`` pairs with float64-GEMM cosine >=
    ``threshold - margin``, computed entirely on executors.

    Input is ``(id, vec, grp)``; only same-``grp`` pairs are considered.
    Each group is sub-blocked into ``nb = ceil(group_size /
    _COSINE_BLOCK_ROWS)`` hash blocks and every unordered block pair
    ``(i, j)`` becomes one ``applyInPandas`` task holding at most ~2x
    ``_COSINE_BLOCK_ROWS`` vectors — the classic distributed
    block-matrix product.  A vector is shuffled
    ``nb`` times (the replication cost of exact all-pairs), per-task
    memory is bounded regardless of group size, and a hot group (skewed
    LSH bucket) simply gets a larger ``nb`` instead of one quadratic
    task.  The GEMM itself runs in row strips so the similarity matrix
    never materializes beyond ``strip x _COSINE_BLOCK_ROWS`` doubles.
    """
    import numpy as np
    import pandas as pd

    sizes = assigned.groupBy("grp").agg(F.count(F.lit(1)).alias("__n"))
    nb = F.greatest(
        F.lit(1), F.ceil(F.col("__n") / F.lit(_COSINE_BLOCK_ROWS))
    ).cast("int")
    a = (
        assigned.join(sizes, "grp")
        .withColumn("__nb", nb)
        .withColumn(
            "__sub",
            F.pmod(F.xxhash64(F.col("id"), F.lit(1017)), F.col("__nb")).cast(
                "int"
            ),
        )
        .withColumn("__o", F.explode(F.sequence(F.lit(0), F.col("__nb") - 1)))
        .withColumn("__bi", F.least("__sub", "__o"))
        .withColumn("__bj", F.greatest("__sub", "__o"))
        .select("grp", "__bi", "__bj", "__sub", "id", "vec")
    )

    strip = 512  # rows per GEMM strip: 512 x _COSINE_BLOCK_ROWS x 8 B ~ 64 MB

    def _norm_matrix(series) -> "np.ndarray":
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in series])
        if m.ndim == 1:  # empty side
            m = m.reshape(0, 0)
        n = np.linalg.norm(m, axis=1)
        n[n == 0] = 1.0
        return m / n[:, None]

    def gemm(pdf: "pd.DataFrame") -> "pd.DataFrame":
        cut = threshold - margin
        bi = int(pdf["__bi"].iat[0])
        bj = int(pdf["__bj"].iat[0])
        out_a, out_b = [], []
        if bi == bj:
            ids = pdf["id"].to_numpy()
            m = _norm_matrix(pdf["vec"])
            for s in range(0, len(ids), strip):
                e = min(s + strip, len(ids))
                sims = m[s:e] @ m.T
                ii, jj = np.where(sims >= cut)
                keep = (ii + s) < jj  # strict upper triangle, no self-pairs
                out_a.append(ids[ii[keep] + s])
                out_b.append(ids[jj[keep]])
        else:
            left = pdf[pdf["__sub"] == bi]
            right = pdf[pdf["__sub"] == bj]
            lids = left["id"].to_numpy()
            rids = right["id"].to_numpy()
            lm = _norm_matrix(left["vec"])
            rm = _norm_matrix(right["vec"])
            if lm.size and rm.size:
                for s in range(0, len(lids), strip):
                    e = min(s + strip, len(lids))
                    sims = lm[s:e] @ rm.T
                    ii, jj = np.where(sims >= cut)
                    out_a.append(lids[ii + s])
                    out_b.append(rids[jj])
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": []})
        ia = np.concatenate(out_a)
        ib = np.concatenate(out_b)
        lo = np.where(ia < ib, ia, ib)
        hi = np.where(ia < ib, ib, ia)
        return pd.DataFrame({"id_a": lo, "id_b": hi})

    return a.groupBy("grp", "__bi", "__bj").applyInPandas(
        gemm, schema=f"id_a {id_type}, id_b {id_type}"
    )


# auto-mode cutover: corpora up to this many rows use the exact
# all-pairs path, larger ones the LSH path.  Single source of truth —
# callers that self-guard against accidentally running exact mode past
# the cutover (entry_queries.embedding_near_dup_pairs) import THIS
# constant so the guard can't drift from the operator contract.
EMBEDDING_PAIRS_EXACT_MAX_ROWS = 200_000


#: adaptive-LSH bucket occupancy target, in ASSIGNMENTS per bucket
#: (rows x n_probe / 2^planes): small enough that the within-bucket
#: GEMM cost (~n x occupancy) stays linear-in-n from the first
#: post-cutover decade, large enough that near neighbors keep sharing
#: buckets at near-dup thresholds (the 0.95-cosine default)
LSH_TARGET_BUCKET_ROWS = 512

#: OR-tables the adaptive-geometry lsh path uses by default: the
#: adaptive plane sizing (linear cost) splits more true neighbors as
#: the corpus grows, pinning single-table recall near 0.80 at the
#: 0.95-cosine default — too low for production dedup.  T independent
#: tables OR-ed before the exact verify lift recall to 1 - (1 - r)^T
#: (measured >= 0.95 at T=2 on the planted-twin fixture,
#: tests/test_text_dedup.py) at T x candidate cost — still linear.
#: Passing an explicit ``num_planes`` pins the LEGACY single-table
#: geometry unless ``num_tables`` is also explicit.
LSH_DEFAULT_TABLES = 2


def _adaptive_planes(n_rows: int, n_probe: int, floor: int = 8) -> int:
    """Smallest plane count >= ``floor`` that keeps expected PER-TABLE
    bucket occupancy (``n_rows * n_probe / 2^planes``) at or under
    :data:`LSH_TARGET_BUCKET_ROWS` — doubling the corpus adds one
    plane, so the candidate GEMM stays O(n x occupancy) = linear.
    Capped at :data:`~bdq_spark.operators.similarity.LSH_MAX_PLANES`
    (int64 bucket namespace, ADVICE r11) — unreachable below ~10^19
    rows, but the id arithmetic must never be able to wrap."""
    from bdq_spark.operators.similarity import LSH_MAX_PLANES

    planes = floor
    while (n_rows * n_probe) >> planes > LSH_TARGET_BUCKET_ROWS:
        planes += 1
        if planes >= LSH_MAX_PLANES:
            return LSH_MAX_PLANES
    return planes


def embedding_cosine_pairs(
    df: DataFrame,
    vector_column: str = "embedding",
    id_column: str = "vec_id",
    threshold: float = 0.95,
    mode: str = "auto",
    num_planes: Optional[int] = None,
    n_probe: int = 3,
    dim: Optional[int] = None,
    num_tables: Optional[int] = None,
) -> DataFrame:
    """Pairs of rows whose embedding cosine similarity >= ``threshold``.

    Three-phase, fully distributed (nothing data-proportional ever
    touches the driver):

    1. **Assign** each vector to comparison groups.  ``mode="exact"``
       puts everything in one group (every pair is considered);
       ``mode="lsh"`` — the 100 TB path — assigns each vector to its
       ``n_probe`` nearest random-hyperplane sign buckets
       (:func:`~bdq_spark.operators.similarity.lsh_probe_buckets`), so
       only bucket-sharing pairs are compared (recall < 1, rising with
       ``n_probe`` / falling with ``num_planes``).  ``mode="auto"``
       counts the corpus and picks exact up to
       :data:`EMBEDDING_PAIRS_EXACT_MAX_ROWS`, lsh
       beyond.  ``num_planes=None`` (the default) sizes the plane
       count ADAPTIVELY from the corpus count so bucket occupancy
       stays ~``LSH_TARGET_BUCKET_ROWS`` assignments however large the
       corpus: with a FIXED plane count the bucket population grows
       linearly and the within-bucket GEMM quadratically — measured as
       a last-decade exponent of 1.94 on the x30->x100 sweep (8.7 s ->
       89.9 s) before this sizing.  Constant occupancy makes the
       candidate phase O(n x occupancy) — linear.  The recall trade is
       controlled by OR-ED MULTI-TABLE LSH: with adaptive geometry the
       corpus is bucketed against ``num_tables`` INDEPENDENT hyperplane
       draws (default :data:`LSH_DEFAULT_TABLES`), candidates unioned
       before the exact verify — a pair split by one table's planes is
       recovered by another, recall ``1 - (1 - r)^T`` at ``T``x
       candidate cost, still linear (measured >= 0.95 on planted
       ~0.995-cosine twins at T=2 vs 0.80 single-table).  Passing an
       explicit ``num_planes`` without ``num_tables`` pins the legacy
       single-table geometry; pass both to control the trade directly.
    2. **Candidates:** per group, a sub-blocked executor-side BLAS GEMM
       (:func:`_blocked_cosine_candidates`) emits pairs above
       ``threshold - margin``.  Per-task memory is capped at ~2x
       ``_COSINE_BLOCK_ROWS`` vectors however large the group is, and
       hot LSH buckets are split instead of becoming one quadratic task.
    3. **Verify (exact, deterministic):** survivors re-join their
       vectors and are re-scored with the sequential double-precision
       :func:`~bdq_spark.operators.similarity.cosine_similarity`
       expression, so the reported value is bit-reproducible (BLAS
       summation order is not) and the threshold cut is exact.

    Works with any orderable id type (long, string, ...); pairs are
    oriented ``id_a < id_b`` in the id's natural order.
    """
    if mode not in ("auto", "exact", "lsh"):
        raise ValueError(f"unknown mode: {mode!r} (auto|exact|lsh)")

    from bdq_spark.operators.similarity import lsh_probe_buckets

    base = df.select(
        F.col(id_column).alias("id"), F.col(vector_column).alias("vec")
    )
    id_type = base.schema["id"].dataType.simpleString()

    n_rows = None
    if mode == "auto":
        n_rows = base.count()
        mode = "exact" if n_rows <= EMBEDDING_PAIRS_EXACT_MAX_ROWS else "lsh"

    if mode == "exact":
        assigned = base.withColumn("grp", F.lit(0))
    else:
        if num_planes is None:
            # adaptive plane count: hold PER-TABLE bucket occupancy at
            # ~LSH_TARGET_BUCKET_ROWS assignments (see docstring).
            # The count is one cheap job and only runs on the lsh
            # path, whose candidate phase dwarfs it.
            if n_rows is None:
                n_rows = base.count()
            planes = _adaptive_planes(n_rows, n_probe)
            tables = LSH_DEFAULT_TABLES if num_tables is None else num_tables
        else:
            planes = num_planes
            # explicit planes without explicit tables = the legacy
            # pinned single-table geometry (recall-floor tests and
            # historical callers depend on it)
            tables = 1 if num_tables is None else num_tables
        assigned = lsh_probe_buckets(
            base, "vec", "id", num_planes=planes, n_probe=n_probe, dim=dim,
            num_tables=tables,
        ).withColumnRenamed("bucket", "grp")

    margin = 1e-6
    cand = _blocked_cosine_candidates(assigned, threshold, margin, id_type)
    if mode == "lsh":
        # the same pair can surface from several shared probe buckets
        cand = cand.dropDuplicates(["id_a", "id_b"])
    return _verify_pairs(cand, base, threshold)


def _verify_pairs(
    cand: DataFrame, base: DataFrame, threshold: float
) -> DataFrame:
    """Exact verify of candidate pairs ``(id_a, id_b)`` against the
    ``(id, vec)`` frame ``base``: ``id_a, id_b, cosine`` with the
    sequential double-precision ``round(cosine, 6) >= threshold``.

    Norms are staged once per ROW below the two vector joins (the
    :func:`~bdq_spark.operators.similarity.knn_bruteforce` trick), so
    per candidate PAIR only the dot product
    remains; ``cosine_from_norms`` keeps ``cosine_similarity``'s exact
    multiplication/guard order, so values are bit-identical."""
    from bdq_spark.operators.similarity import cosine_from_norms, l2_norm

    va = base.select(
        F.col("id").alias("id_a"), F.col("vec").alias("va"),
        l2_norm(F.col("vec")).alias("__na"),
    )
    vb = base.select(
        F.col("id").alias("id_b"), F.col("vec").alias("vb"),
        l2_norm(F.col("vec")).alias("__nb"),
    )
    cos = cosine_from_norms(
        F.col("va"), F.col("vb"), F.col("__na"), F.col("__nb")
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_cosine_pairs_md5(
    df: DataFrame,
    vector_column: str = "embedding",
    id_column: str = "vec_id",
    threshold: float = 0.9,
    num_planes: int = 6,
    num_tables: int = 2,
    dim: Optional[int] = None,
    scale: int = 10000,
    seed: str = "bdq_lshq",
) -> DataFrame:
    """OR-ed multi-table LSH near-dup pairs, engine-portable — the md5
    twin of :func:`embedding_cosine_pairs`'s lsh mode (same pattern as
    the md5 minhash/simhash/knn twins: the production path keeps the
    fast float primitives, the twin makes every CANDIDATE decision
    exact int64 arithmetic so any engine with md5 recomputes the same
    pair set for value-level verification).

    Vectors are bucketed ONCE over all ``num_tables`` tables by
    :func:`~bdq_spark.operators.similarity.lsh_bucket_vectors_md5`,
    each table against its independent integer hyperplane draw
    (:func:`~bdq_spark.operators.similarity._table_seed` — seeds are
    public strings, so the oracle replays ALL ``num_tables`` tables),
    with table-namespaced bucket ids; one self-join on the bucket gives
    the same-bucket pairs from ANY table, which are deduped and
    re-scored with the sequential double-precision ``round(cosine, 6)``
    on the original float vectors — the OR-table recall lift
    ``1 - (1 - r)^T`` with an exact, deterministic verify cut.

    Pure codegen expressions throughout (``aggregate(zip_with(...))``
    dots), no UDFs.  Scale shape matches the float path: a bucket
    equi-join (never all-pairs), candidate volume ``T`` x linear at
    constant occupancy.  Output: ``id_a, id_b, cosine`` with
    ``id_a < id_b``.
    """
    from bdq_spark.operators.similarity import lsh_bucket_vectors_md5

    base = df.select(
        F.col(id_column).alias("id"), F.col(vector_column).alias("vec")
    )
    bt = lsh_bucket_vectors_md5(
        base, "vec", "id", num_planes, dim, scale, seed, num_tables
    ).select("id", "bucket")
    cand = (
        bt.alias("l")
        .join(bt.alias("r"), "bucket")
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
    )
    # the same pair surfaces from several tables — dedup ON an
    # explicit-width keyed repartition (width set by row work, not bytes):
    # the candidate relation is a few MB but each row costs an
    # INTERPRETED 64-dim HOF dot downstream, so AQE's byte-based
    # coalescing packed the whole verify into 1-2 tasks.  A
    # user-specified repartition is exempt from AQE coalescing, and the
    # dropDuplicates reuses its hash partitioning (no extra exchange) —
    # the verify then runs at session width.
    width = df.sparkSession.sparkContext.defaultParallelism
    cand = cand.repartition(width, "id_a", "id_b").dropDuplicates()
    return _verify_pairs(cand, base, threshold)


def duplicate_spans(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    n: int = 8,
    min_dup_docs: int = 2,
    min_span_tokens: int = 0,
    hash_join_keys: bool = True,
) -> DataFrame:
    """WHICH token spans of each document are duplicated elsewhere in
    the corpus — repeated-passage detection at shingle granularity (the
    practical form of Lee et al. 2022's exact-substring dedup: every
    duplicated run of >= ``n`` tokens is covered by duplicated
    ``n``-grams, and merging adjacent hits recovers the maximal span).
    Doc-level near-dup finds whole documents; THIS finds the quoted
    paragraph, the shared license block, the copy-pasted passage inside
    otherwise-unique documents — span-masking targets instead of
    drop/keep decisions.

    A positional ``n``-gram is a hit when the same shingle occurs in
    >= ``min_dup_docs`` DISTINCT documents; overlapping/adjacent hit
    positions merge per document (gaps-and-islands).  Output, one row
    per maximal span: ``(id_column, span_start, span_end,
    span_n_tokens, max_dup_docs)`` — inclusive 0-based token indices
    and the widest cross-document spread among the span's shingles.

    Scale shape: the duplicated-shingle set is a partial-combinable
    count over per-doc-distinct shingles (boilerplate-heavy corpora
    collapse hard), the hit join is linear in corpus shingles with
    optional ``xxhash64`` 8-byte keys, and the islands window touches
    only HIT positions.  Mirrors :func:`contamination_spans`'s plan —
    the cross-set variant of the same report.
    """
    pos_sh = positional_shingles(df, text_column, id_column, n=n)
    key = (lambda c: F.xxhash64(c)) if hash_join_keys else (lambda c: c)
    dup_set = (
        shingle(df, text_column, id_column, n=n)
        .select(key(F.col("shingle")).alias("__k"))
        .groupBy("__k")
        .agg(F.count(F.lit(1)).alias("__n_docs"))
        .filter(F.col("__n_docs") >= min_dup_docs)
    )
    hits = (
        pos_sh.select(
            "id", "pos", "n_tokens", key(F.col("shingle")).alias("__k")
        )
        .join(dup_set, "__k")
        .select("id", "pos", "n_tokens", "__n_docs")
    )
    w = Window.partitionBy("id").orderBy("pos")
    prev = F.lag("pos").over(w)
    new_island = (prev.isNull() | (F.col("pos") > prev + n)).cast("int")
    island = F.sum(new_island).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    span_end = F.least(
        F.max("pos") + F.lit(n - 1), F.max("n_tokens") - F.lit(1)
    ).cast("long")
    return (
        hits.withColumn("__isl", island)
        .groupBy(F.col("id").alias(id_column), F.col("__isl"))
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            span_end.alias("span_end"),
            F.max("__n_docs").cast("long").alias("max_dup_docs"),
        )
        .withColumn(
            "span_n_tokens", F.col("span_end") - F.col("span_start") + 1
        )
        .filter(F.col("span_n_tokens") >= F.lit(min_span_tokens))
        .select(
            id_column, "span_start", "span_end", "span_n_tokens",
            "max_dup_docs",
        )
    )


def levenshtein_rescore(
    pairs: DataFrame,
    docs: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_distance: Optional[int] = None,
) -> DataFrame:
    """Re-score candidate near-dup pairs with character-level edit
    distance — the second-opinion verifier: Jaccard/MinHash measure
    SET overlap of shingles (order- and position-blind), Levenshtein
    measures the actual edit cost, so reordered-but-same-vocabulary
    pairs score high on Jaccard and low here.

    Appends ``edit_distance`` and ``edit_similarity``
    (``1 - distance / max(len_a, len_b)``, rounded to 6 dp; empty-both
    pairs score 1.0) to the pair relation.  ``max_distance`` engages
    Spark's bounded-DP early exit (distance reported as -1 beyond the
    bound, similarity NULL) — essential when candidate texts are long,
    since full Levenshtein is O(len_a x len_b) per pair.

    Scale shape: two hash joins of the (post-LSH, small) pair relation
    against the corpus text — the quadratic DP runs ONLY on surviving
    candidates, never corpus-wide.  Pure codegen (``F.levenshtein``),
    and engine-portable: DuckDB's ``levenshtein`` returns identical
    distances, which the driver entry value-hash-checks.
    """
    a = docs.select(
        F.col(id_column).alias(id_a), F.col(text_column).alias("__ta")
    )
    b = docs.select(
        F.col(id_column).alias(id_b), F.col(text_column).alias("__tb")
    )
    joined = pairs.join(a, id_a).join(b, id_b)
    if max_distance is not None:
        dist = F.levenshtein("__ta", "__tb", max_distance)
    else:
        dist = F.levenshtein("__ta", "__tb")
    longest = F.greatest(F.length("__ta"), F.length("__tb"))
    joined = joined.withColumn("edit_distance", dist).withColumn(
        "edit_similarity",
        F.when(F.col("edit_distance") < 0, F.lit(None).cast("double"))
        .when(longest == 0, F.lit(1.0))
        .otherwise(F.round(1.0 - F.col("edit_distance") / longest, 6)),
    )
    return joined.drop("__ta", "__tb")
