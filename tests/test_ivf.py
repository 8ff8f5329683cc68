"""IVF ANN tests — determinism, recall vs brute force, probe scaling."""

import pytest
from pyspark.sql import functions as F

from bdq_spark.operators.ivf import (
    assign_ivf_cells,
    knn_ivf,
    knn_ivf_quantized,
    load_ivf_index,
    save_ivf_index,
    train_ivf_centroids,
)
from bdq_spark.operators.similarity import knn_bruteforce, knn_lsh, knn_lsh_md5


@pytest.fixture()
def embeddings(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")


def test_centroids_deterministic(spark, embeddings):
    import numpy as np

    c1 = train_ivf_centroids(embeddings, n_clusters=8)
    c2 = train_ivf_centroids(embeddings, n_clusters=8)
    assert np.array_equal(c1, c2)
    assert c1.shape == (8, 64)
    # centroids are unit-norm (cosine geometry)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_assignment_covers_corpus(spark, embeddings):
    cents = train_ivf_centroids(embeddings, n_clusters=8)
    cells = assign_ivf_cells(embeddings, cents)
    assert cells.count() == embeddings.count()  # n_probe=1: one cell each
    spread = cells.groupBy("cluster").count().count()
    assert spread >= 4  # vectors actually distribute over cells

    probed = assign_ivf_cells(embeddings.limit(10), cents, n_probe=3)
    assert probed.count() == 30  # one row per probe


def test_knn_ivf_recall_and_self_match(spark, embeddings):
    queries = embeddings.limit(5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = knn_bruteforce(embeddings, queries, k=5)
    approx = knn_ivf(embeddings, queries, k=5, n_clusters=8, n_probe=2)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    # a vector always lands in its own best cell -> self-match guaranteed
    assert all((q, q) in a for q in [r.query_id for r in queries.collect()])
    recall = len(e & a) / len(e)
    assert recall >= 0.4, f"IVF recall too low: {recall}"


def test_ivf_index_persistence(spark, embeddings, tmp_path):
    import numpy as np

    cents = train_ivf_centroids(embeddings, n_clusters=8)
    path = str(tmp_path / "ivf_index")
    save_ivf_index(spark, cents, path)
    loaded = load_ivf_index(spark, path)
    assert np.allclose(cents, loaded)

    queries = embeddings.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    fresh = knn_ivf(embeddings, queries, k=5, n_clusters=8, n_probe=2)
    reused = knn_ivf(embeddings, queries, k=5, n_probe=2, centroids=loaded)
    assert sorted(map(tuple, fresh.collect())) == sorted(
        map(tuple, reused.collect())
    )

    with pytest.raises(ValueError, match="empty IVF index"):
        empty = str(tmp_path / "empty_index")
        spark.createDataFrame(
            [], "cluster int, centroid array<double>"
        ).write.parquet(empty)
        load_ivf_index(spark, empty)


# Each approximate KNN operator at a geometry whose probes cover the
# whole corpus: IVF with n_probe == n_clusters, LSH with one plane and
# both of its sign buckets probed.
_FULL_PROBE = {
    "knn_ivf": lambda emb, q: knn_ivf(emb, q, k=5, n_clusters=4, n_probe=4),
    "knn_ivf_quantized": lambda emb, q: knn_ivf_quantized(
        emb, q, k=5, n_clusters=4, n_probe=4, iters=1
    ),
    "knn_lsh": lambda emb, q: knn_lsh(emb, q, k=5, num_planes=1, n_probe=2),
    "knn_lsh_md5": lambda emb, q: knn_lsh_md5(
        emb, q, k=5, num_planes=1, n_probe=2
    ),
}


@pytest.mark.parametrize("op", sorted(_FULL_PROBE) + ["knn_ivf-string_ids"])
def test_knn_full_probe_equals_bruteforce(spark, embeddings, op):
    """A probe set that covers the corpus makes the candidate set the
    whole corpus, so the operator must reproduce exact brute force row
    for row — the witness that bucketing/probing only FILTERS and never
    perturbs scoring or ranking.  One case carries string ids, whose
    type the cell assignment must keep."""
    op, _, ids = op.partition("-")
    if ids == "string_ids":
        embeddings = embeddings.withColumn(
            "vec_id", F.concat(F.lit("v"), F.col("vec_id").cast("string"))
        )
        small = F.col("vec_id").isin("v0", "v1", "v2")
    else:
        small = F.col("vec_id") < 3
    queries = embeddings.filter(small).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(map(tuple, _FULL_PROBE[op](embeddings, queries).collect()))
    bf = sorted(
        map(tuple, knn_bruteforce(embeddings, queries, k=5).collect())
    )
    assert got == bf


# Every candidate a query meets, k unbounded: multi-probe and multi-cell
# geometries; the IVF operators have no tables to OR.
_ALL_CANDIDATES = {
    "knn_ivf": lambda emb, q, t: knn_ivf(
        emb, q, k=10**9, n_clusters=8, n_probe=3
    ),
    "knn_ivf_quantized": lambda emb, q, t: knn_ivf_quantized(
        emb, q, k=10**9, n_clusters=8, n_probe=3, iters=2
    ),
    "knn_lsh": lambda emb, q, t: knn_lsh(
        emb, q, k=10**9, num_planes=6, n_probe=4, num_tables=t
    ),
    "knn_lsh_md5": lambda emb, q, t: knn_lsh_md5(
        emb, q, k=10**9, num_planes=6, n_probe=4, num_tables=t
    ),
}


@pytest.mark.parametrize(
    "op,num_tables",
    [
        ("knn_ivf", 1),
        ("knn_ivf_quantized", 1),
        ("knn_lsh", 1),
        ("knn_lsh", 2),
        ("knn_lsh_md5", 1),
        ("knn_lsh_md5", 2),
    ],
)
def test_knn_candidates_have_no_duplicates(spark, embeddings, op, num_tables):
    """The dedup rule of the shared ranking step: within one LSH table or
    IVF index a corpus vector has one key and a query's probes are
    distinct keys, so a pair meets at most once and no dedup runs; with
    OR-ed tables the same pair meets once per table and the dedup must
    remove the repeats.  Either way a neighbor is ranked once."""
    queries = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = _ALL_CANDIDATES[op](embeddings, queries, num_tables)
    total = out.count()
    distinct = out.select("query_id", "neighbor_id").distinct().count()
    assert total == distinct > 5  # more than the self-matches


def test_knn_ivf_quantized_deterministic(spark, distributed):
    from bdq_spark.session import rebind

    emb = spark.read.parquet(
        "/root/testdata/sf0.01/embeddings.parquet"
    ).repartition(13)
    # the coarse quantizer fitted on the driver and by distributed
    # rounds (a frame of the broadcasts-off session) gives the same
    # neighbors
    results = []
    for corpus in (emb, rebind(emb, distributed)):
        queries = corpus.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        results += [
            sorted(map(tuple, knn_ivf_quantized(corpus, queries, k=7).collect()))
            for _ in range(2)
        ]
    assert all(r == results[0] for r in results) and len(results[0]) == 4 * 7
