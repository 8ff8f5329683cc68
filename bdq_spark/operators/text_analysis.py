"""Document profiling operators (DataFrame-level text analysis).

Extension mandate (BASELINE.json north_star): language-ID, quality
scoring, token counting, fingerprinting over a ``documents`` table.
Everything is a single narrow projection over the scan — no shuffle, no
UDF — so profiling 100 TB of text is one pass at I/O speed, and Catalyst
prunes to just the text column (check ``ReadSchema`` in ``.explain``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bdq_spark.functions import text as TXT

__all__ = [
    "profile_documents",
    "filter_by_quality",
    "repetition_stats",
    "unigram_logprob_score",
    "gopher_quality",
    "compression_ratio",
    "bigram_logprob_score",
    "trigram_backoff_score",
    "top_terms",
]

#: Gopher rule constants (Rae et al. 2021, "Scaling Language Models:
#: Methods, Analysis & Insights from Training Gopher", §A1.1)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def unigram_logprob_score(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    add-one-smoothed unigram LM — the cheap LM-quality proxy (the CCNet
    recipe scores with a KenLM 5-gram; the unigram variant is the same
    shape with corpus-derivable statistics): repetitive/templated text
    scores HIGH (common tokens), lorem-ipsum-like noise scores LOW.
    Output: ``(id_column, n_tokens, lm_score)``; empty docs emit no row.

    Determinism across engines (the value-hash contract): per-token
    ``ln`` results are rounded to 9 decimals and summed as exact
    DECIMALs (double addition is order-sensitive under partial
    aggregation; decimal addition is not), then the exact sum divides
    by the token count in double and rounds to 6.

    Scale shape: one token-count aggregate (partial-combined), the
    2-column scalar totals broadcast back, one shuffle join of the
    occurrence relation against the vocabulary (both keyed by token),
    one per-doc aggregate.  Nothing driver-side; vocabulary size is the
    only wide state and it lives distributed.
    """
    toks = df.select(
        F.col(id_column).alias("id"),
        F.explode(TXT.word_tokens(F.col(text_column))).alias("token"),
    )
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    totals = vocab.agg(
        F.sum("cnt").alias("__total"), F.count(F.lit(1)).alias("__v")
    )
    logp = (
        F.round(
            F.log((F.col("cnt") + F.lit(1.0)) / (F.col("__total") + F.col("__v"))),
            9,
        )
        .cast("decimal(14,9)")
        .alias("logp")
    )
    lp = vocab.crossJoin(F.broadcast(totals)).select("token", logp)
    return (
        toks.join(lp, "token")
        .groupBy(F.col("id").alias(id_column))
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum("logp").cast("double") / F.count(F.lit(1)), 6
            ).alias("lm_score"),
        )
    )


def profile_documents(df: DataFrame, text_column: str = "text") -> DataFrame:
    """Append the standard text-statistics columns.

    Adds ``n_chars_computed, n_tokens, punct_cnt, punct_pct, stop_ratio,
    lang_pred, quality, fingerprint`` — all built-in expressions evaluated
    in one projection.
    """
    c = F.col(text_column)
    return df.select(
        "*",
        TXT.char_count(c).alias("n_chars_computed"),
        TXT.token_count(c).alias("n_tokens"),
        TXT.punct_count(c).alias("punct_cnt"),
        F.round(TXT.punct_ratio(c), 6).alias("punct_pct"),
        F.round(TXT.stopword_ratio(c), 6).alias("stop_ratio"),
        TXT.language_id(c).alias("lang_pred"),
        TXT.quality_score(c).alias("quality"),
        TXT.doc_fingerprint(c).alias("fingerprint"),
    )


def gopher_quality(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """The Gopher document-quality rule set (Rae et al. 2021 §A1.1),
    adapted to the library's canonical tokenization
    (:func:`~bdq_spark.functions.text.word_tokens`):

    - word count in ``[min_words, max_words]``;
    - mean word length in ``[3, 10]``;
    - symbol-to-word ratio (``#`` and ``...`` occurrences) <= 0.1;
    - < 90% of lines start with a bullet (``•``, ``-``, ``*``);
    - < 30% of lines end with an ellipsis (``...`` or ``…``);
    - >= 80% of words contain at least one alphabetic character;
    - at least 2 distinct Gopher stop words present
      (:data:`GOPHER_STOPWORDS`).

    Output: one row per document with every signal (ratios rounded to
    6 dp so the values are float-order stable across engines) plus the
    combined ``passes_gopher`` flag.  Pure codegen expressions over the
    scan — zero shuffles, zero UDFs; at 100 TB this is one projection
    pass, and Catalyst prunes the read to (id, text).
    """
    col = F.col(text_column)
    words = TXT.word_tokens(col)
    n_words = F.size(words)
    n_words_safe = F.greatest(n_words, F.lit(1))
    mean_word_len = F.round(
        F.aggregate(
            words, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
        )
        / n_words_safe,
        6,
    )
    frac_alpha = F.round(
        F.size(F.filter(words, lambda w: w.rlike("[a-z]"))) / n_words_safe, 6
    )
    n_stop = F.size(
        F.array_intersect(words, F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]))
    )
    n_hash = F.length(col) - F.length(F.replace(col, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(col) - F.length(F.replace(col, F.lit("..."), F.lit("")))
    ) / 3
    symbol_ratio = F.round((n_hash + n_ellipsis) / n_words_safe, 6)
    lines = F.split(col, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet = F.round(
        F.size(
            F.filter(
                lines,
                lambda l: F.substring(F.ltrim(l), 1, 1).isin("•", "-", "*"),
            )
        )
        / n_lines,
        6,
    )
    ellipsis_end = F.round(
        F.size(
            F.filter(
                lines,
                lambda l: F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…"),
            )
        )
        / n_lines,
        6,
    )
    out = df.select(
        F.col(id_column),
        n_words.cast("long").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha_words"),
        n_stop.cast("long").alias("n_stopwords"),
        symbol_ratio.alias("symbol_word_ratio"),
        bullet.alias("frac_bullet_lines"),
        ellipsis_end.alias("frac_ellipsis_lines"),
    )
    return out.withColumn(
        "passes_gopher",
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= 3)
        & (F.col("mean_word_len") <= 10)
        & (F.col("symbol_word_ratio") <= 0.1)
        & (F.col("frac_bullet_lines") < 0.9)
        & (F.col("frac_ellipsis_lines") < 0.3)
        & (F.col("frac_alpha_words") >= 0.8)
        & (F.col("n_stopwords") >= 2),
    )


def filter_by_quality(
    df: DataFrame, min_quality: float = 0.5, text_column: str = "text"
) -> DataFrame:
    """Keep documents whose heuristic quality score >= ``min_quality``.

    The score is computed inline (not materialized), so the filter sits
    directly on the scan and benefits from whole-stage codegen.
    """
    return df.filter(TXT.quality_score(F.col(text_column)) >= min_quality)


def repetition_stats(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """Per-document word n-gram repetition signals (Gopher-rules style,
    Rae et al. 2021 §A1.1 adapted to word streams): the occupancy of the
    single most frequent n-gram and the distinct-gram ratio.  High top
    occupancy / low distinct ratio flag boilerplate and degenerate
    repetition that per-doc length/punctuation stats miss.

    Output, one row per document with >= 1 full n-gram window (shorter
    docs drop out): ``(id_column, n_grams, top_gram_count,
    top_gram_frac, distinct_gram_ratio)``.

    Scale shape: ONE shuffle.  The lead-window n-gram build hash-
    partitions by doc id; both downstream aggregations — per (id, gram)
    counts, then the per-id max/sum/distinct — group on supersets of
    that clustering, so Catalyst inserts no further exchange, and the
    gram counting still partial-aggregates map-side.
    """
    from pyspark.sql import Window

    from bdq_spark.functions.text import word_tokens

    if n < 1:
        raise ValueError("n must be >= 1")
    toks = df.repartition(F.col(id_column)).select(
        F.col(id_column).alias("id"),
        F.posexplode(word_tokens(F.col(text_column))).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    leads = [F.lead("tok", j).over(w) for j in range(1, n)]
    full = leads[-1].isNotNull() if leads else F.lit(True)
    grams = (
        toks.withColumn("gram", F.concat_ws(" ", F.col("tok"), *leads))
        .withColumn("__full", full)
        .filter(F.col("__full") & (F.col("gram") != ""))
        .select("id", "gram")
    )
    counts = grams.groupBy("id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.groupBy(F.col("id").alias(id_column)).agg(
        F.sum("cnt").alias("n_grams"),
        F.max("cnt").alias("top_gram_count"),
        F.round(F.max("cnt") / F.sum("cnt"), 6).alias("top_gram_frac"),
        F.round(F.count(F.lit(1)) / F.sum("cnt"), 6).alias("distinct_gram_ratio"),
    )


def compression_ratio(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio (compressed bytes / raw
    UTF-8 bytes) — the RedPajama-style redundancy signal: highly
    repetitive or templated text compresses far below normal prose, and
    random/binary junk barely compresses at all, so both tails flag
    low-quality documents that token-level stats miss.

    This is one of the few operators where Python is genuinely required
    (no DEFLATE in Spark's expression library), so it runs as
    Arrow-batched ``mapInPandas`` — per-batch vectorized transfer, never
    row-at-a-time serialization.  Output: ``(id_column, raw_bytes,
    compressed_bytes, compression_ratio)``; NULL text yields NULL
    signals, empty text a NULL ratio.  Deterministic for a fixed zlib
    level (and pinned against direct zlib in the unit test).
    """
    import pandas as pd

    id_type = dict(
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    )[id_column]
    out_schema = (
        f"{id_column} {id_type}, raw_bytes long, compressed_bytes long"
    )

    def _sizes(batches):
        import zlib

        for pdf in batches:
            enc = pdf[text_column].map(
                lambda t: t.encode("utf-8") if t is not None else None
            )
            yield pd.DataFrame(
                {
                    id_column: pdf[id_column],
                    "raw_bytes": enc.map(
                        lambda b: len(b) if b is not None else None
                    ),
                    "compressed_bytes": enc.map(
                        lambda b: len(zlib.compress(b, level)) if b else None
                    ),
                }
            )

    sized = df.select(id_column, text_column).mapInPandas(_sizes, out_schema)
    return sized.select(
        id_column,
        "raw_bytes",
        "compressed_bytes",
        F.round(
            F.col("compressed_bytes") / F.nullif(F.col("raw_bytes"), F.lit(0)),
            6,
        ).alias("compression_ratio"),
    )


def bigram_logprob_score(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
) -> DataFrame:
    """Per-document mean bigram conditional log-probability under the
    corpus's own add-one-smoothed bigram LM — one order up from
    :func:`unigram_logprob_score` toward the KenLM-style CCNet scorer:
    ``mean over i of ln((c(w_{i-1} w_i) + 1) / (c(w_{i-1}) + V))``.
    Word-order-scrambled or spliced text now scores LOW even when its
    unigram profile is normal — the signal unigrams can't see.

    Output: ``(id_column, n_bigrams, lm2_score)``; documents with fewer
    than 2 tokens emit no row.  Same engine-determinism contract as the
    unigram scorer: per-bigram ``ln`` rounded to 9 dp and summed as
    exact decimals, final mean rounded to 6.

    Scale shape: bigram and unigram counts are partial-combinable
    aggregates over the exploded token stream; the scalar V broadcasts;
    the scoring join is keyed by the bigram (one shuffle) and the
    per-doc aggregate reuses the doc-id clustering.
    """
    from pyspark.sql import Window

    # both shared relations are lazily checkpointed: toks feeds the
    # bigram build AND the unigram counts, bigrams feeds the bigram
    # counts AND the scoring join — without the checkpoints the
    # tokenize/window subtrees execute once per consumer (verified:
    # 24 exchanges in the plan vs 10 after)
    toks = df.repartition(F.col(id_column)).select(
        F.col(id_column).alias("id"),
        F.posexplode(TXT.word_tokens(F.col(text_column))).alias("pos", "w1"),
    ).localCheckpoint(eager=False)
    w = Window.partitionBy("id").orderBy("pos")
    bigrams = (
        toks.withColumn("w2", F.lead("w1").over(w))
        .filter(F.col("w2").isNotNull())
        .select("id", "w1", "w2")
        .localCheckpoint(eager=False)
    )
    big_counts = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c2")
    )
    uni_counts = toks.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    v = uni_counts.agg(F.count(F.lit(1)).alias("__v"))
    lp = (
        big_counts.join(uni_counts, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "w1",
            "w2",
            F.round(
                F.log(
                    (F.col("c2") + F.lit(1.0))
                    / (F.col("c1") + F.col("__v"))
                ),
                9,
            )
            .cast("decimal(14,9)")
            .alias("logp"),
        )
    )
    return (
        bigrams.join(lp, ["w1", "w2"])
        .groupBy(F.col("id").alias(id_column))
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum("logp").cast("double") / F.count(F.lit(1)), 6
            ).alias("lm2_score"),
        )
    )


def _positioned_tokens(df: DataFrame, text_column: str, id_column: str):
    """(id, pos, w1) token stream clustered by document."""
    return df.repartition(F.col(id_column)).select(
        F.col(id_column).alias("id"),
        F.posexplode(TXT.word_tokens(F.col(text_column))).alias("pos", "w1"),
    )


def trigram_backoff_score(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    train: DataFrame = None,
    alpha: float = 0.4,
) -> DataFrame:
    """Per-document mean trigram log-score under a STUPID-BACKOFF LM
    (Brants et al., "Large Language Models in Machine Translation",
    EMNLP 2007 — the count-based backoff designed for distributed
    training), completing the unigram → bigram → trigram CCNet-style
    quality stack:

    ``S(w3|w1 w2) = c3/c2(w1 w2)`` when the trigram was seen in the
    training corpus; else ``alpha * c2(w2 w3)/c1(w2)`` when the bigram
    was; else ``alpha^2 * (c1(w3)+1)/(N+V)`` (add-one unigram floor, so
    out-of-vocabulary words score finitely instead of ``ln 0``).

    ``train`` is the corpus the counts come from (default: ``df``
    itself — in which case every scored trigram is seen and the score
    degenerates to the pure trigram ratio; pass a held-out/reference
    slice to make the backoff levels fire, the CCNet deployment shape).

    Output: ``(id_column, n_trigrams, lm3_score)``; documents with
    fewer than 3 tokens emit no row.  Engine-determinism contract as
    the lower orders: per-trigram ``ln`` rounded to 9 dp, summed as
    exact decimals, mean rounded to 6.

    Scale shape: all five count relations (c3, c2, c1, and the 1-row
    N/V scalars) are partial-combinable aggregates over the train
    token stream; the scoring side pays one shuffle join per backoff
    level, each keyed by the compact n-gram, all linear in the scored
    corpus; the scalars broadcast.
    """
    from pyspark.sql import Window

    toks = _positioned_tokens(df, text_column, id_column).localCheckpoint(
        eager=False
    )
    train_toks = (
        toks
        if train is None
        else _positioned_tokens(train, text_column, id_column)
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("id").orderBy("pos")

    def ngrams(t, n_words):
        out = t.withColumn("w2", F.lead("w1").over(w))
        if n_words == 3:
            out = out.withColumn("w3", F.lead("w1", 2).over(w))
        cols = ["id", "w1", "w2"] + (["w3"] if n_words == 3 else [])
        last = cols[-1]
        return out.filter(F.col(last).isNotNull()).select(*cols)

    # c1 and c2 each feed TWO scoring joins (context + backoff level);
    # eager-materialize so the tokenize/window/agg subtree runs once —
    # a lazy copy referenced from the parallel broadcast stages of one
    # job would recompute the whole subtree once per stage
    c1 = train_toks.groupBy("w1").agg(
        F.count(F.lit(1)).alias("c1")
    ).localCheckpoint(eager=True)
    c2 = ngrams(train_toks, 2).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c2")
    ).localCheckpoint(eager=True)
    c3 = ngrams(train_toks, 3).groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("c3")
    )
    nv = train_toks.agg(
        F.count(F.lit(1)).alias("__n"),
        F.count_distinct(F.col("w1")).alias("__v"),
    )

    scored = (
        ngrams(toks, 3)
        .join(c3, ["w1", "w2", "w3"], "left")
        .join(
            c2.select(
                F.col("w1"), F.col("w2"), F.col("c2").alias("c2_ctx")
            ),
            ["w1", "w2"],
            "left",
        )
        .join(
            c2.select(
                F.col("w1").alias("w2"),
                F.col("w2").alias("w3"),
                F.col("c2").alias("c2_bk"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(
            c1.select(F.col("w1").alias("w2"), F.col("c1").alias("c1_w2")),
            ["w2"],
            "left",
        )
        .join(
            c1.select(F.col("w1").alias("w3"), F.col("c1").alias("c1_w3")),
            ["w3"],
            "left",
        )
        .crossJoin(F.broadcast(nv))
    )
    a = F.lit(alpha)
    s = (
        F.when(
            F.col("c3").isNotNull(), F.col("c3") / F.col("c2_ctx")
        )
        .when(
            F.col("c2_bk").isNotNull(),
            a * F.col("c2_bk") / F.col("c1_w2"),
        )
        .otherwise(
            a * a * (F.coalesce(F.col("c1_w3"), F.lit(0)) + F.lit(1))
            / (F.col("__n") + F.col("__v"))
        )
    )
    return (
        scored.select(
            "id", F.round(F.log(s), 9).cast("decimal(14,9)").alias("logp")
        )
        .groupBy(F.col("id").alias(id_column))
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.round(
                F.sum("logp").cast("double") / F.count(F.lit(1)), 6
            ).alias("lm3_score"),
        )
    )


def top_terms(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by TF-IDF
    (``tf * ln((N+1)/(df+1))``) — the corpus-exploration staple that
    surfaces what a document is ABOUT while boilerplate terms (high
    document frequency) are discounted to zero.

    Output: ``(id_column, term, score, rank)``, ranked by (score desc,
    term asc) for determinism; scores rounded to 6 dp.

    Scale shape: term frequencies are one partial-combinable aggregate;
    document frequencies aggregate the (already per-doc-distinct) tf
    relation; the scalar N broadcasts; the final top-k is a window over
    each document's OWN terms (clustered by the tf shuffle — no extra
    exchange).  The tf relation feeds two consumers and is lazily
    checkpointed.
    """
    from pyspark.sql import Window

    from bdq_spark.functions.text import word_tokens

    tf = (
        df.select(
            F.col(id_column).alias("id"),
            F.explode(word_tokens(F.col(text_column))).alias("term"),
        )
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "id",
            "term",
            F.round(
                F.col("tf")
                * F.log((F.col("__n") + 1.0) / (F.col("df") + 1.0)),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("id").alias(id_column), "term", "score", "rank")
    )
