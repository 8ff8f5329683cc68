"""Corpus-preparation operator tests: chunking, vocabulary, training order."""

import pytest
from pyspark.sql import functions as F

from bdq_spark.operators.corpus import (
    chunk_documents,
    token_vocabulary,
    training_order_key,
    with_training_order,
)


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "one two three four five six seven eight nine ten"),
        (2, "alpha beta"),
        (3, ""),
        (4, "   "),
        (5, "repeat repeat repeat repeat"),
    ]
    return spark.createDataFrame(rows, "doc_id:long, text:string")


def test_chunk_documents_exact_windows(spark, docs):
    out = chunk_documents(docs, max_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: 10 tokens, stride 3 -> chunks start at 0,3,6 (9 covers to 12)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    assert [r.chunk_text for r in c1] == [
        "one two three four",
        "four five six seven",
        "seven eight nine ten",
    ]
    assert [r.n_chunk_tokens for r in c1] == [4, 4, 4]
    assert [r.chunk_idx for r in c1] == [0, 1, 2]
    # short doc: single (short) chunk
    assert [r.chunk_text for r in by_doc[2]] == ["alpha beta"]
    assert by_doc[2][0].n_chunk_tokens == 2
    # empty / whitespace-only docs emit nothing
    assert 3 not in by_doc and 4 not in by_doc


def test_chunk_documents_no_overlap_covers_all_tokens(spark, docs):
    out = chunk_documents(docs, max_tokens=3, overlap=0).collect()
    ten = sorted(
        (r for r in out if r.doc_id == 1), key=lambda r: r.chunk_idx
    )
    # 10 tokens / 3 -> 4 chunks, last short
    assert [r.n_chunk_tokens for r in ten] == [3, 3, 3, 1]
    reassembled = " ".join(r.chunk_text for r in ten)
    assert reassembled == "one two three four five six seven eight nine ten"


def test_chunk_documents_validation(spark, docs):
    with pytest.raises(ValueError, match="max_tokens"):
        chunk_documents(docs, max_tokens=0)
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, max_tokens=4, overlap=4)


def test_token_vocabulary_counts_and_topk(spark, docs):
    vocab = {
        r.token: (r.n_occurrences, r.n_docs)
        for r in token_vocabulary(docs, id_column="doc_id").collect()
    }
    assert vocab["repeat"] == (4, 1)  # 4 occurrences, 1 doc
    assert vocab["one"] == (1, 1)
    assert len(vocab) == 13  # 10 + 2 + 1 distinct words

    top2 = token_vocabulary(docs, top_k=2, id_column="doc_id").collect()
    assert top2[0].token == "repeat"
    # tie at n=1 broken by token string: 'alpha' is the lexicographic min
    assert top2[1].token == "alpha"


def test_training_order_deterministic_and_seed_sensitive(spark, docs):
    a = {
        r.doc_id: r["__train_order"]
        for r in with_training_order(docs, ["doc_id"], "s1")
        .select("doc_id", F.col("__train_order"))
        .collect()
    }
    b = {
        r.doc_id: r["__train_order"]
        for r in with_training_order(docs, ["doc_id"], "s1")
        .select("doc_id", F.col("__train_order"))
        .collect()
    }
    c = {
        r.doc_id: r["__train_order"]
        for r in with_training_order(docs, ["doc_id"], "s2")
        .select("doc_id", F.col("__train_order"))
        .collect()
    }
    assert a == b          # run-to-run deterministic
    assert a != c          # new seed -> new epoch order
    assert len(set(a.values())) == len(a)  # keys unique in practice

    with pytest.raises(ValueError, match="not in DataFrame"):
        with_training_order(docs, ["nope"])


def test_training_order_matches_hashlib(spark):
    """The key is plain md5 of 'order'+seed+id — verifiable outside
    Spark, which is what makes it engine-portable for oracles."""
    import hashlib

    df = spark.createDataFrame([(7,)], "doc_id:long")
    got = df.select(training_order_key(["doc_id"], "e1").alias("k")).first().k
    assert got == hashlib.md5(b"ordere17").hexdigest()


def _split_bucket(doc_id: int) -> int:
    """Python mirror of hash_split's md5 bucket (chr(31)-joined key)."""
    import hashlib

    h = hashlib.md5((chr(31) + str(doc_id)).encode()).hexdigest()
    return int(h[:8], 16) % 1_000_000


def test_prepare_corpus_funnel(spark):
    """End-to-end funnel on docs with known outcomes: the junk doc is
    quality-dropped, the exact-duplicate pair keeps one id, the train
    doc whose trigrams all appear in an eval doc is decontaminated, and
    survivors come back chunked."""
    from bdq_spark.operators.corpus import prepare_corpus

    train_ids = [i for i in range(1, 100) if _split_bucket(i) < 800_000]
    eval_ids = [i for i in range(1, 100) if _split_bucket(i) >= 800_000]
    t_keep, t_dup_a, t_dup_b, t_dirty, t_junk = train_ids[:5]
    e1 = eval_ids[0]

    good = "the and is in it was for on with as sun moon star light river"
    dup = "a quick brown fox jumps over the lazy dog and it was not far"
    leaked = "winter is coming to the old town and the gates are closed now"
    rows = [
        (t_keep, good),
        (t_dup_a, dup),
        (t_dup_b, dup),          # exact duplicate -> min id kept
        (t_dirty, leaked),       # trigrams subset of e1 -> contaminated
        (t_junk, "!!!! ???? ####"),  # punctuation junk -> quality-dropped
        (e1, leaked + " extra words beyond the train document"),
    ]
    docs = spark.createDataFrame(rows, "doc_id:long, text:string")

    chunks = prepare_corpus(
        docs, max_tokens=8, overlap=2, pipeline_name="cp_test"
    )
    got = chunks.collect()
    surviving = {r["doc_id"] for r in got}

    assert surviving == {t_keep, min(t_dup_a, t_dup_b)}
    assert all(r["n_chunk_tokens"] <= 8 for r in got)
    # 15-token docs at window 8 / stride 6 -> chunks at offsets 0, 6, 12
    assert sorted(r["chunk_idx"] for r in got if r["doc_id"] == t_keep) == [0, 1, 2]
    first = next(r for r in got if r["doc_id"] == t_keep and r["chunk_idx"] == 0)
    assert first["chunk_text"] == "the and is in it was for on"


def test_prepare_corpus_leaves_no_cached_relation(spark):
    """The deduped corpus and the near-dup survivors are checkpointed,
    not cached: after a call the session's CacheManager is empty, so a
    later call with the same quality -> dedup prefix is computed again
    rather than served from this one's cache."""
    from bdq_spark.operators.corpus import prepare_corpus

    docs = spark.createDataFrame(
        [
            (1, "a quick brown fox jumps over the lazy dog and it was not far"),
            (2, "a quick brown fox jumps over the lazy dog and it was not far"),
            (3, "a quick brown fox jumps over the lazy dog and it was not near"),
            (4, "the and is in it was for on with as sun moon star light river"),
        ],
        "doc_id:long, text:string",
    )
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    for near_dup in (None, 0.7):
        prepare_corpus(
            docs,
            max_tokens=8,
            pipeline_name="cp_nocache",
            near_dup_threshold=near_dup,
        ).collect()
        assert cache.isEmpty()


def test_vocabulary_stats(spark):
    from bdq_spark.operators.corpus import vocabulary_stats

    df = spark.createDataFrame(
        [(0, "a a a b b c"), (1, "a d")], "doc_id long, text string"
    )
    r = vocabulary_stats(df, top_k=2).collect()[0]
    # tokens: a=4 b=2 c=1 d=1 -> 8 tokens, 4 types, 2 hapax
    assert r.n_tokens == 8 and r.n_types == 4
    assert r.type_token_ratio == pytest.approx(0.5)
    assert r.hapax_frac == pytest.approx(0.5)
    # top-2 mass = (4 + 2) / 8
    assert r.top2_mass == pytest.approx(0.75)


def test_corpus_training_pipeline_invariants(spark):
    """The capstone composition (prepare -> train tokenizer -> encode ->
    pack) holds its invariants end to end: every surviving chunk is
    packed exactly once, no non-oversize pack exceeds the budget, and
    the packed budgets are the real encoder counts."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["corpus_training_pipeline"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "pipeline produced no packed chunks"
    # exactly-once coverage: (doc_id, chunk_idx) unique AND complete —
    # every chunk the prepare funnel emits must be packed (token-less
    # chunks encode as empty sequences, never drop)
    keys = [(r.doc_id, r.chunk_idx) for r in rows]
    assert len(keys) == len(set(keys))
    from bdq_spark.operators.corpus import prepare_corpus
    from bdq_spark.sources import load_table

    expected = prepare_corpus(
        load_table(spark, "/root/testdata/sf0.001", "documents").select(
            "doc_id", "text"
        ),
        quality_threshold=0.5,
        eval_fraction=0.2,
        contamination_n=3,
        contamination_threshold=0.8,
        max_tokens=64,
        overlap=8,
        pipeline_name="corpus_train_pipe_ref",
    ).select("doc_id", "chunk_idx").collect()
    assert sorted(keys) == sorted((r.doc_id, r.chunk_idx) for r in expected)
    # budget respected for every non-oversize pack
    fills = {}
    for r in rows:
        assert r.n_tokens > 0
        if not r.oversize:
            fills[r.pack_id] = fills.get(r.pack_id, 0) + r.n_tokens
        else:
            assert r.n_tokens > 2048
    assert fills and all(v <= 2048 for v in fills.values())
