"""Distributed BPE tokenizer training — learn a byte-pair-encoding
merge table from a document corpus as DataFrame jobs, finished on the
driver when the word-frequency table fits the session's broadcast
threshold.

The reference library has no tokenizer surface at all; this implements
the training-data-pipeline capability (learn a subword vocabulary from
the corpus you just cleaned/deduped) in the shape every production BPE
trainer uses (Sennrich et al., "Neural Machine Translation of Rare
Words with Subword Units", ACL 2016):

1. collapse the corpus to a WORD-FREQUENCY table — at 100 TB the
   distinct-word vocabulary is millions of rows, i.e. orders of
   magnitude smaller than the corpus, and it is the only thing the
   iterations ever touch (the corpus text is scanned exactly once);
2. iterate: count adjacent symbol pairs weighted by word frequency,
   pick the most frequent pair, merge it inside every word's symbol
   sequence; repeat ``n_merges`` times.

Scale mechanics of the distributed loop, per iteration:

- one shuffle (pair-count partial agg over the vocabulary table) + a
  ``TakeOrderedAndProject`` argmax — the only driver materialization is
  a bounded window of top pairs per iteration;
- the merge rewrite is a left-fold (``F.aggregate``) over each word's
  symbol array — whole-stage-codegen expressions, no Python UDF;
- a lazy ``localCheckpoint`` per iteration truncates the lineage
  (otherwise the plan nests one fold per merge and analysis time
  explodes — the classic iterative-lineage failure mode, same cure as
  ``operators/components.py``).

Small vocabularies: when the checkpointed ``(word, freq)`` table fits
``autoBroadcastJoinThreshold`` (row width from the schema's
``defaultSize``), it is collected once and the merges run as sequential
BPE on the driver (:func:`_driver_bpe`); each of the loop's jobs costs
more fixed scheduling time than the whole merge step at that size.

Determinism: ties in pair frequency break by (left, right) lexicographic
order, so the learned merge table is a pure function of the corpus —
pinned by a pytest golden test against an independent pure-Python BPE
reference implementation (``tests/test_tokenizer.py``), on both paths.
"""

from __future__ import annotations

import heapq
from typing import List, Optional, Tuple

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

from bdq_spark.functions.text import word_tokens
from bdq_spark.session import collect_for_driver, private_session, rebind

__all__ = [
    "word_frequencies",
    "train_bpe",
    "bpe_segment_corpus",
    "bpe_symbol_table",
    "bpe_encode_corpus",
]


def word_frequencies(
    df: DataFrame, text_column: str = "text"
) -> DataFrame:
    """Collapse a corpus to its word-frequency table ``(word, freq)``.

    Words come from :func:`word_tokens` (lowercased alphanumeric runs).
    This is the one pass over the full corpus text; everything after it
    in BPE training works on this compact relation.
    """
    return (
        df.select(F.explode(word_tokens(F.col(text_column))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


#: most merges one job of the distributed loop applies (:func:`_select_safe_batch`)
_MAX_MERGE_BATCH = 16


def _adjacent_pairs(syms: Column) -> Column:
    """Array of (left, right) structs for each adjacent symbol pair."""
    return F.transform(
        F.slice(syms, 1, F.greatest(F.size(syms) - 1, F.lit(0))),
        lambda s, i: F.struct(
            s.alias("left"), F.element_at(syms, i + 2).alias("right")
        ),
    )


def _merge_pairs_multi(syms: Column, rules: List[tuple]) -> Column:
    """One left-fold applying a BATCH of symbol-disjoint merge rules
    ``[(left, right, merged), ...]`` simultaneously.  Because the rules
    share no symbols (and no rule's merged token is another's operand),
    at most one rule can match at any position and the simultaneous
    pass provably equals applying the rules sequentially — see
    :func:`_select_safe_batch` for the selection proof obligations.
    """

    def step(acc: Column, s: Column) -> Column:
        out = None
        for left, right, merged in rules:
            cond = (
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(left))
                & (s == F.lit(right))
            )
            repl = F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            )
            out = F.when(cond, repl) if out is None else out.when(cond, repl)
        append = F.concat(acc, F.array(s))
        return out.otherwise(append) if out is not None else append

    return F.aggregate(syms, F.array().cast("array<string>"), step)


def _select_safe_batch(rows: List, complete: bool, cap: int) -> List[tuple]:
    """Longest PREFIX of the ``(pair_count desc, left, right)``-sorted
    pair list that sequential BPE is guaranteed to merge in exactly this
    order — so one batched fold replaces up to ``cap`` argmax jobs with
    an identical result (the standard parallel-BPE trick, stated with
    its exact safety conditions rather than applied heuristically).

    A candidate extends the batch only if:

    1. **prefix** — batches never skip a pair: a skipped pair would be
       the true argmax of a later step;
    2. **symbol-disjoint** — its ``{left, right, merged}`` intersects no
       earlier selection's: then earlier batch merges can neither
       destroy nor create occurrences of the candidate, so its count —
       and the single-fold simultaneity — are exact;
    3. **no created pair can outrank it** — merging ``(L, R)`` only
       creates pairs ``(x, LR)`` (from an old ``(x, L)`` adjacency) and
       ``(LR, y)`` (from ``(R, y)``), each with count bounded by its
       source pair's.  So the candidate stays the argmax of its step iff
       every existing pair with ``right == L_j`` or ``left == R_j`` (for
       any earlier selection j) counts STRICTLY below the candidate —
       ties are rejected because a created pair could win the
       lexicographic tie-break;
    4. **coverage** — the collected window must provably contain every
       pair counting ≥ the candidate (``complete`` list, or a tail row
       below it); otherwise danger could hide past the window.
    """
    batch: List[tuple] = []
    used: set = set()
    sel_left: set = set()
    sel_right: set = set()
    for idx, row in enumerate(rows):
        left, right, cnt = row["left"], row["right"], row["pair_count"]
        if batch:
            if (
                left in used
                or right in used
                or (left + right) in used
            ):
                break
            if not complete and rows[-1]["pair_count"] >= cnt:
                break
            danger = False
            for j, other in enumerate(rows):
                if other["pair_count"] < cnt:
                    break
                if j == idx:
                    continue
                if other["right"] in sel_left or other["left"] in sel_right:
                    danger = True
                    break
            if danger:
                break
        batch.append((left, right, cnt))
        used.update((left, right, left + right))
        sel_left.add(left)
        sel_right.add(right)
        if len(batch) >= cap:
            break
    return batch


def _merge_syms(syms: List[str], left: str, right: str) -> List[str]:
    """One rule of :func:`_merge_pairs_multi`'s left-fold, over a Python
    symbol list: ``aaa`` with ``(a, a)`` gives ``[aa, a]``."""
    out: List[str] = []
    for s in syms:
        if out and out[-1] == left and s == right:
            out[-1] = left + right
        else:
            out.append(s)
    return out


def _sequential_bpe(
    syms: List[List[str]], freq: List[int], n_merges: int, min_pair_count: int
) -> List[tuple]:
    """Sequential BPE over ``syms`` (merged in place), each word weighted
    by its ``freq``; returns the merge table.

    Pair counts are kept incrementally: a pair -> words index means a
    merge rescans only the words holding the merged pair, and a heap of
    ``(-count, (left, right))`` entries, pushed for each pair a merge
    touched and skipped once stale, yields the argmax with the
    distributed loop's tie-break.  A pair exists while some word holds
    it, whatever its count, as in the distributed ``groupBy``."""
    counts: dict = {}
    holders: dict = {}
    for i, s in enumerate(syms):
        for p in zip(s, s[1:]):
            counts[p] = counts.get(p, 0) + freq[i]
            holders.setdefault(p, set()).add(i)
    heap = [(-c, p) for p, c in counts.items()]
    heapq.heapify(heap)
    merges: List[tuple] = []
    while len(merges) < n_merges:
        while heap and counts.get(heap[0][1]) != -heap[0][0]:
            heapq.heappop(heap)
        if not heap or -heap[0][0] < min_pair_count:
            break
        cnt, (left, right) = -heap[0][0], heap[0][1]
        merges.append((len(merges), left, right, left + right, cnt))
        touched = set()
        for i in holders[(left, right)].copy():
            old = list(zip(syms[i], syms[i][1:]))
            syms[i] = _merge_syms(syms[i], left, right)
            new = list(zip(syms[i], syms[i][1:]))
            for p in old:
                counts[p] -= freq[i]
            for p in new:
                counts[p] = counts.get(p, 0) + freq[i]
            gone, born = set(old), set(new)
            for p in gone - born:
                holders[p].discard(i)
            for p in born - gone:
                holders.setdefault(p, set()).add(i)
            touched |= gone | born
        for p in touched:
            if holders.get(p):
                heapq.heappush(heap, (-counts[p], p))
            else:
                holders.pop(p, None)
                del counts[p]
    return merges


def _driver_bpe(
    words: DataFrame, n_merges: int, min_pair_count: int
) -> Optional[Tuple[List[tuple], DataFrame]]:
    """:func:`train_bpe`'s merge loop as sequential BPE on the driver,
    or ``None`` when the checkpointed ``(word, freq)`` table has a
    non-string word or a non-integral ``freq``, or when
    :func:`~bdq_spark.session.collect_for_driver` declines it.

    Symbols are Spark's ``split(word, '')``: the word's code points, and
    ``[""]`` for the empty word.  The merges are
    :func:`_sequential_bpe`; the vocabulary returns as a
    ``LocalRelation`` with the distributed loop's schema."""
    fields = words.schema
    if not isinstance(fields["word"].dataType, StringType) or not isinstance(
        fields["freq"].dataType, (ByteType, ShortType, IntegerType, LongType)
    ):
        return None
    table = collect_for_driver(words.select("word", "freq"), ("word",))
    if table is None:
        return None
    syms = [list(w) or [w] for w in table.column("word").to_pylist()]
    merges = _sequential_bpe(syms, table.column("freq").to_pylist(), n_merges, min_pair_count)
    vocab = pa.table({
        "word": table.column("word"),
        "freq": table.column("freq"),
        "syms": pa.array(syms, pa.list_(pa.string())),
    })
    if merges:  # the distributed loop's fold output is nullable
        fields = StructType(fields.fields[:2] + [StructField("syms", ArrayType(StringType()))])
    return merges, words.sparkSession.createDataFrame(vocab, fields)


def train_bpe(
    df: DataFrame,
    text_column: str = "text",
    n_merges: int = 50,
    min_pair_count: int = 2,
    word_freq: Optional[DataFrame] = None,
) -> Tuple[List[tuple], DataFrame]:
    """Learn a BPE merge table from a corpus.

    Returns ``(merges, vocab)``:

    - ``merges`` — list of ``(rank, left, right, merged, pair_count)``
      tuples in learned order (driver-side, bounded by ``n_merges``);
    - ``vocab`` — DataFrame ``(word, freq, syms)`` holding the final
      subword segmentation of every corpus word.  This doubles as the
      ENCODING dictionary: tokenizing a corpus with the trained model is
      a broadcast/shuffle join of its words against this table (see
      :func:`bpe_segment_corpus`) — no per-document merge replay.

    Training stops early when no pair reaches ``min_pair_count``.
    Initial symbols are the word's characters (GPT-2 style, no
    end-of-word marker — merges never cross word boundaries because
    words are separate rows).

    When the checkpointed ``(word, freq)`` table fits the session's
    ``autoBroadcastJoinThreshold`` (row width from the schema's
    ``defaultSize``), it is collected once and the merges run as
    sequential BPE on the driver (:func:`_driver_bpe`); ``vocab`` is
    then a ``LocalRelation``.  A larger table, a null word or ``freq``,
    or a non-integral ``freq`` takes the distributed loop.  Both paths
    give the same ``merges`` and ``vocab``.
    """
    spark = df.sparkSession
    words = word_freq if word_freq is not None else word_frequencies(
        df, text_column
    )
    # split("", "") yields one element per character
    words = words.select(
        "word", "freq", F.split(F.col("word"), "").alias("syms")
    ).localCheckpoint(eager=True)
    local = _driver_bpe(words, n_merges, min_pair_count)
    if local is not None:
        return local
    # right-size the iteration parallelism to the VOCABULARY, not the
    # corpus: the loop runs ~n_merges jobs over this table, and a tiny
    # vocab spread over the session's full shuffle-partition count pays
    # 30x the task-scheduling overhead for no work.  ~50k words per
    # partition keeps tasks meaningful at any scale (10M-word corpus ->
    # 200 partitions; test-scale -> 1-2).  The coalesce is a narrow wrap
    # over the checkpoint blocks — no second checkpoint job; every loop
    # query replans the (trivial) coalesce from the local blocks.
    n_part = max(1, min(
        spark.sparkContext.defaultParallelism, (words.count() + 49_999) // 50_000
    ))
    if n_part < words.rdd.getNumPartitions():
        words = words.coalesce(n_part)

    merges: List[tuple] = []
    # the collected pair-list window: big enough that real batches never
    # hit the coverage guard, still a bounded driver materialization
    window = 16 * _MAX_MERGE_BATCH
    # AQE off for the ITERATION LOOP only, in a private session (the
    # caller's session keeps its conf): every loop query is one
    # pair-count shuffle over the vocabulary table whose partitioning
    # the coalesce above already right-sized, so AQE's only effect is
    # materializing that shuffle as an extra scheduled query-stage job
    # per round — and the rounds are a SERIAL driver-bound chain, so
    # each extra job is pure wall time at any scale (measured at sf0.1:
    # 42 -> 22 jobs, 19.4 -> 9.1 s same-box for 30 merges; merge table
    # bit-identical — AQE never changes results, only stage planning).
    words = rebind(
        words, private_session(spark, {"spark.sql.adaptive.enabled": "false"})
    )
    while len(merges) < n_merges:
        pair_counts = (
            words.select(
                "freq",
                F.explode(_adjacent_pairs(F.col("syms"))).alias("p"),
            )
            .groupBy("p.left", "p.right")
            .agg(F.sum("freq").alias("pair_count"))
            .filter(F.col("pair_count") >= min_pair_count)
        )
        # bounded top-window collect; ties break lexicographically
        # for determinism.  _select_safe_batch then takes the
        # longest prefix sequential BPE would provably merge in this
        # exact order, so one fold applies up to _MAX_MERGE_BATCH merges —
        # ~batch× fewer jobs, bit-identical merge table (equivalence
        # pinned in tests/test_tokenizer.py against the Sennrich
        # reference).
        top = pair_counts.orderBy(
            F.col("pair_count").desc(), "left", "right"
        ).limit(window).collect()
        if not top:
            break
        batch = _select_safe_batch(
            top,
            complete=len(top) < window,
            cap=min(_MAX_MERGE_BATCH, n_merges - len(merges)),
        )
        rules = []
        for left, right, cnt in batch:
            merges.append((len(merges), left, right, left + right, cnt))
            rules.append((left, right, left + right))
        # LAZY checkpoint: next iteration's collect is the action
        # that materializes it — one job per BATCH, lineage flat
        words = words.withColumn(
            "syms", _merge_pairs_multi(F.col("syms"), rules)
        ).localCheckpoint(eager=False)

    # make sure the final fold is materialized before returning
    # (callers may unpersist upstream blocks); cheap if the loop
    # already did it
    words.count()
    return merges, rebind(words, spark)


def bpe_segment_corpus(
    df: DataFrame,
    vocab: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
) -> DataFrame:
    """Tokenize a corpus with a trained BPE model.

    ``vocab`` is the ``(word, freq, syms)`` table from :func:`train_bpe`.
    Returns ``(id, n_words, n_tokens)`` per document: the corpus is
    exploded to words and joined against the segmentation dictionary —
    the join is broadcast when the vocabulary is small enough (Catalyst
    /AQE decide), otherwise a shuffle hash join on the compact word key.
    Words absent from the vocabulary (inference on new data) fall back
    to character segmentation, BPE's standard unknown-word behavior.
    """
    doc_words = df.select(
        F.col(id_column).alias("id"),
        F.explode(word_tokens(F.col(text_column))).alias("word"),
    )
    seg = doc_words.join(
        vocab.select("word", "syms"), "word", "left"
    ).select(
        "id",
        F.coalesce(
            F.size("syms"), F.length("word")  # char fallback for OOV
        ).alias("n_toks"),
    )
    return seg.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
    )


def bpe_symbol_table(vocab: DataFrame) -> DataFrame:
    """Deterministic ``(symbol, token_id)`` table for a trained model.

    Covers the final segmentation symbols PLUS the full training
    ALPHABET (every character of every vocab word): a base character
    that was merged away in every final segmentation must still encode
    — the char-fallback path for out-of-vocabulary words reaches for
    it, and dropping it would inflate unk counts for letters the model
    definitely saw.

    The inventory is BOUNDED by construction — at most ``|alphabet| +
    n_merges`` rows (every merge mints one new symbol) — so the
    id-assigning global window is a window over a few hundred rows, not
    a scale concern; ids are dense longs ordered by symbol, a pure
    function of the vocabulary.
    """
    from pyspark.sql import Window

    syms = (
        vocab.select(F.explode("syms").alias("symbol"))
        .unionByName(
            vocab.select(
                F.explode(F.split(F.col("word"), "")).alias("symbol")
            )
        )
        .distinct()
    )
    w = Window.partitionBy().orderBy("symbol")
    return syms.withColumn(
        "token_id", (F.row_number().over(w) - 1).cast("long")
    )


def bpe_encode_corpus(
    df: DataFrame,
    vocab: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
) -> DataFrame:
    """Encode a corpus to REAL token-id sequences with a trained model.

    Returns ``(id, token_ids array<bigint>, n_tokens)`` per document —
    the tensor-ready shape a training pipeline feeds to sequence packing
    and batch assembly (vs :func:`bpe_segment_corpus`, which stops at
    counts).

    Documents whose text yields NO word tokens encode as an EMPTY
    sequence (``n_tokens = 0``) rather than disappearing — downstream
    coverage contracts (packing: one row per input document) depend on
    every id surviving.

    Plan shape (all linear, no per-document merge replay):

    1. the corpus's DISTINCT words join the segmentation dictionary
       (broadcast when small); OOV words fall back to character
       segmentation, and characters unseen at training time encode as
       ``-1`` (unk) — never dropped, so decode failures are countable;
    2. each word's symbols join the bounded
       :func:`bpe_symbol_table` and regroup to an ordered id array —
       work proportional to the distinct-word vocabulary, not the
       corpus;
    3. documents explode to positioned words, join the per-word id
       arrays on the compact word key, and reassemble via an in-row
       ``array_sort`` + ``flatten`` — one shuffle keyed by the doc id.
    """
    symtab = bpe_symbol_table(vocab)
    corpus_words = df.select(
        F.col(id_column).alias("id"),
        F.posexplode(word_tokens(F.col(text_column))).alias("wpos", "word"),
    )
    distinct_words = corpus_words.select("word").distinct()
    word_syms = distinct_words.join(
        vocab.select("word", "syms"), "word", "left"
    ).select(
        "word",
        # char fallback for OOV — BPE's standard unknown-word behavior
        F.coalesce("syms", F.split(F.col("word"), "")).alias("syms"),
    )
    word_ids = (
        word_syms.select(
            "word", F.posexplode("syms").alias("spos", "symbol")
        )
        .join(F.broadcast(symtab), "symbol", "left")
        .groupBy("word")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("spos"),
                        F.coalesce(F.col("token_id"), F.lit(-1)).alias(
                            "token_id"
                        ),
                    )
                )
            ).alias("ps")
        )
        .select(
            "word",
            F.transform(F.col("ps"), lambda s: s.token_id).alias("wt"),
        )
    )
    encoded = (
        corpus_words.join(word_ids, "word")
        .groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("wpos"), F.col("wt")))
            ).alias("pw")
        )
        .select(
            "id",
            F.flatten(
                F.transform(F.col("pw"), lambda s: s.wt)
            ).alias("token_ids"),
        )
        .withColumn("n_tokens", F.size("token_ids").cast("long"))
    )
    # token-less documents never reach the explode — re-attach them as
    # empty sequences so every input id survives
    empty = (
        df.select(F.col(id_column).alias("id"))
        .distinct()
        .join(encoded.select("id"), "id", "left_anti")
        .select(
            "id",
            F.array().cast("array<bigint>").alias("token_ids"),
            F.lit(0).cast("long").alias("n_tokens"),
        )
    )
    return encoded.unionByName(empty)
