"""Empty-input and degenerate-input sweep across operators."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id:long, text:string")


def test_diff_of_empties(spark):
    from bdq_spark.operators import compare_dataframes

    e = spark.createDataFrame([], "k:int, v:string")
    res = compare_dataframes(e, e, ["k"])
    assert (
        res["added_count"], res["removed_count"],
        res["changed_count"], res["not_changed_count"],
    ) == (0, 0, 0, 0)
    assert res["added"].count() == 0


def test_latest_records_empty(spark):
    from bdq_spark.operators import (
        get_latest_records,
        get_latest_records_with_pk_confict_detection_flag,
    )

    e = spark.createDataFrame([], "k:int, ts:timestamp, v:string")
    assert get_latest_records(e, ["k"], ["ts"]).count() == 0
    out = get_latest_records_with_pk_confict_detection_flag(e, ["k"], ["ts"])
    assert out.count() == 0
    assert out.columns == ["k", "ts", "v", "__has_pk_conflict"]


def test_fk_integrity_empty_sides(spark):
    from bdq_spark.operators import fact_dim_broken_relationship

    fact = spark.createDataFrame([(1,), (2,)], "fk:int")
    dim = spark.createDataFrame([], "pk:int")
    # empty dim: every fact key is broken
    broken = fact_dim_broken_relationship(fact, ["fk"], dim, ["pk"], 0)
    assert broken.count() == 2
    # empty fact: nothing broken
    e = spark.createDataFrame([], "fk:int")
    assert fact_dim_broken_relationship(e, ["fk"], dim, ["pk"], 2).count() == 0


def test_pk_validate_empty(spark):
    from bdq_spark.operators import validate_primary_key_candidate

    e = spark.createDataFrame([], "k:int")
    res = validate_primary_key_candidate(e, ["k"])
    assert res["record_count"] == 0
    assert res["failed_records"] == 0


def test_dedup_family_empty(spark, empty_docs):
    from bdq_spark.operators.dedup import (
        fingerprint_dedup,
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
        simhash_pairs,
    )

    assert fingerprint_dedup(empty_docs).count() == 0
    assert ngram_jaccard_pairs(empty_docs).count() == 0
    assert minhash_lsh_candidates(empty_docs, verify_threshold=0.5).count() == 0
    assert simhash_pairs(empty_docs).count() == 0


def test_similarity_empty_queries(spark):
    from bdq_spark.operators.similarity import knn_bruteforce

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id:long, embedding:array<float>"
    )
    no_queries = spark.createDataFrame([], "query_id:long, embedding:array<float>")
    assert knn_bruteforce(corpus, no_queries, k=3).count() == 0


def test_lsh_bucket_empty_raises_cleanly(spark):
    from bdq_spark.operators.similarity import lsh_bucket_vectors

    empty = spark.createDataFrame([], "vec_id:long, embedding:array<float>")
    with pytest.raises(ValueError, match="empty"):
        lsh_bucket_vectors(empty)  # dim inference needs >= 1 row
    # explicit dim works on empty input
    assert lsh_bucket_vectors(empty, dim=4).count() == 0


def test_text_functions_degenerate_inputs(spark):
    from bdq_spark.functions.text import (
        doc_fingerprint,
        language_id,
        quality_score,
        token_count,
    )

    df = spark.createDataFrame(
        [(None,), ("",), ("   ",), ("\t\n",), ("a",)], "t:string"
    )
    rows = df.select(
        token_count("t").alias("n"),
        quality_score("t").alias("q"),
        language_id("t").alias("l"),
        doc_fingerprint("t").alias("f"),
    ).collect()
    # NULL text: expressions yield NULLs, never crash
    assert rows[0].n is None and rows[0].q is None
    # blank variants: zero tokens, zero quality
    for r in rows[1:4]:
        assert r.n == 0 and r.q == 0.0
    assert rows[4].n == 1


def test_multimodal_null_payloads(spark):
    from bdq_spark.operators.multimodal import attach_media_metadata, decode_images

    df = spark.createDataFrame([(1, None)], "media_id:long, content:binary")
    media = attach_media_metadata(df, id_column="media_id")
    got = decode_images(media).collect()
    assert len(got) == 1 and not got[0].decode_ok


def test_window_helpers_empty(spark):
    from bdq_spark.streaming import session_window_agg, tumbling_window_agg

    e = spark.createDataFrame([], "ts:timestamp, v:int")
    assert tumbling_window_agg(e, "ts", "1 day", [F.count(F.lit(1)).alias("n")]).count() == 0
    assert session_window_agg(e, "ts", "1 hour", [F.count(F.lit(1)).alias("n")]).count() == 0
