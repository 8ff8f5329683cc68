"""IVF (inverted-file) approximate nearest-neighbor search.

The second scale path for vector search next to
:mod:`bdq_spark.operators.similarity`'s hyperplane LSH: a k-means coarse
quantizer partitions the corpus into ``n_clusters`` cells; a query
probes only its ``n_probe`` nearest cells and ranks those candidates
exactly.  This is the FAISS IVF-Flat layout expressed relationally:

- **train** — deterministic Lloyd's k-means on a driver-side sample
  (sample chosen by hash order, centroids seeded from the first k
  samples → same data, same index, no RNG);
- **assign** — one Arrow-batched numpy matmul per partition (no UDF
  rows, no shuffle);
- **search** — queries join corpus cells on ``cluster`` (a plain
  equi-join that prunes ~``n_clusters / n_probe`` of the corpus), then
  exact cosine + per-query top-k window.

At 100 TB the assignment runs in the scan, the join shuffles only cell
ids, and recall/cost trades off via ``n_probe`` — the standard IVF
contract.
"""

from __future__ import annotations

from typing import Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bdq_spark.operators.similarity import _rank_candidates

__all__ = [
    "train_ivf_centroids",
    "assign_ivf_cells",
    "knn_ivf",
    "knn_ivf_quantized",
    "save_ivf_index",
    "load_ivf_index",
]


def _l2_normalize(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    return mat / norms[:, None]


def train_ivf_centroids(
    df: DataFrame,
    vector_column: str = "embedding",
    id_column: str = "vec_id",
    n_clusters: int = 16,
    sample_size: int = 4096,
    n_iter: int = 10,
) -> np.ndarray:
    """Deterministic k-means centroids (L2-normalized, cosine geometry).

    The training sample is the first ``sample_size`` rows in
    ``xxhash64(id)`` order — a pseudo-random but reproducible subset —
    and initial centroids are its first ``n_clusters`` rows, so training
    involves no RNG at all.
    """
    sample_rows = (
        df.select(F.col(id_column).alias("id"), F.col(vector_column).alias("vec"))
        .orderBy(F.xxhash64("id"))
        .limit(sample_size)
        .toPandas()
    )
    if len(sample_rows) < n_clusters:
        raise ValueError(
            f"need >= {n_clusters} sample vectors, got {len(sample_rows)}"
        )
    sample = _l2_normalize(
        np.asarray([np.asarray(v, dtype=np.float64) for v in sample_rows["vec"]])
    )
    centroids = sample[:n_clusters].copy()
    for _ in range(n_iter):
        # cosine assignment == dot product on normalized vectors
        assign = np.argmax(sample @ centroids.T, axis=1)
        for c in range(n_clusters):
            members = sample[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
        centroids = _l2_normalize(centroids)
    return centroids


def assign_ivf_cells(
    df: DataFrame,
    centroids: np.ndarray,
    vector_column: str = "embedding",
    id_column: str = "vec_id",
    n_probe: int = 1,
) -> DataFrame:
    """Attach the ``n_probe`` nearest cell ids to every vector.

    Output: (id, vec, cluster) with one row per probed cell — corpus
    sides use ``n_probe=1`` (each vector lives in one cell); query sides
    use ``n_probe>1`` to widen recall.
    """
    sc = df.sparkSession.sparkContext
    b_cent = sc.broadcast(np.asarray(centroids, dtype=np.float64))
    probes = n_probe

    base = df.select(
        F.col(id_column).alias("id"), F.col(vector_column).alias("vec")
    )

    def assign(batches):
        cents = b_cent.value
        for pdf in batches:
            block = _l2_normalize(
                np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf["vec"]]
                ).reshape(len(pdf), cents.shape[1])
            )
            sims = block @ cents.T
            top = np.argsort(-sims, axis=1)[:, :probes]
            ids, vecs, cells = [], [], []
            for row_i in range(len(pdf)):
                for c in top[row_i]:
                    ids.append(pdf["id"].iloc[row_i])
                    vecs.append(pdf["vec"].iloc[row_i])
                    cells.append(int(c))
            yield pd.DataFrame({"id": ids, "vec": vecs, "cluster": cells})

    types = dict(base.dtypes)
    return base.mapInPandas(
        assign, schema=f"id {types['id']}, vec {types['vec']}, cluster int"
    )


def save_ivf_index(spark, centroids: np.ndarray, path: str) -> None:
    """Persist trained centroids as a tiny parquet so later sessions (or
    repeated KNN queries) skip k-means entirely.

    One row per cell: ``(cluster int, centroid array<double>)``.  The
    index is a few KB even at 100 TB corpus scale (centroid count is an
    index parameter, not a data-volume function), so readers can always
    broadcast it.
    """
    rows = [
        (int(i), [float(x) for x in c]) for i, c in enumerate(np.asarray(centroids))
    ]
    df = spark.createDataFrame(rows, "cluster int, centroid array<double>")
    df.coalesce(1).write.mode("overwrite").parquet(path)


def load_ivf_index(spark, path: str) -> np.ndarray:
    """Read centroids saved by :func:`save_ivf_index` back into the
    ``(n_clusters, dim)`` ndarray that :func:`assign_ivf_cells` /
    :func:`knn_ivf` consume."""
    rows = spark.read.parquet(path).orderBy("cluster").collect()
    if not rows:
        raise ValueError(f"empty IVF index at {path}")
    return np.asarray([r["centroid"] for r in rows], dtype=np.float64)


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    centroids: Optional[np.ndarray] = None,
) -> DataFrame:
    """Approximate top-k via IVF probe search; exact ranking in-cell.

    Output: ``query_id, neighbor_id, rank, cosine``.  Recall rises with
    ``n_probe`` (== ``n_clusters`` gives exact brute force).
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, corpus_vec, corpus_id, n_clusters=n_clusters
        )

    cells = assign_ivf_cells(corpus, centroids, corpus_vec, corpus_id, n_probe=1)
    probes = assign_ivf_cells(queries, centroids, query_vec, query_id, n_probe=n_probe)
    return _rank_candidates(cells, probes, "cluster", k, dedup=False)


def knn_ivf_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 8,
    n_probe: int = 2,
    iters: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    scale: int = 10000,
    dim: Optional[int] = None,
) -> DataFrame:
    """Engine-portable IVF ANN whose every routing decision is exact
    int64 arithmetic — the oracle twin of :func:`knn_ivf`, completing
    the md5/quantized-twin pattern across the whole ANN family
    (LSH/multi-probe/int8-quantized/IVF): the coarse quantizer is
    :func:`bdq_spark.operators.clustering.kmeans_fit_quantized` (exact
    Lloyd — seeds, floor-mean updates, tie-breaks all replayable), cell
    assignment and the ``n_probe`` nearest-centroid probe order are
    integer argmins with ``(d2, j)`` tie-breaks, and candidate ranking
    is the usual ``round(cosine, 6)`` on the ORIGINAL float vectors
    with a deterministic ``(cosine DESC, neighbor_id ASC)`` tiebreak.
    A DuckDB oracle can therefore replay the APPROXIMATE pipeline
    end to end — training, routing, probing, ranking — not just an
    exact fallback.

    Same 100 TB shape as :func:`knn_ivf`: corpus scanned once, cell
    assignment a zero-shuffle projection over the centroid literal,
    query side broadcast into the cell join.
    Output: ``query_id, neighbor_id, rank, cosine``.
    """
    from bdq_spark.operators.clustering import (
        _assign_frame,
        _dists_sql,
        _q_expr,
        kmeans_fit_quantized,
    )

    centroids = kmeans_fit_quantized(
        corpus, corpus_vec, corpus_id, k=n_clusters, iters=iters,
        scale=scale, dim=dim,
    )
    n_probe = max(1, min(n_probe, n_clusters))

    # quantize in the SAME projection that carries (id, vec): the
    # previous corpus.join(quantized, "id") re-attached a column the
    # scan already had — one whole Exchange + join per side for a
    # projection's worth of work (ids are unique by
    # the operator's contract, so row multiplicity is unchanged)
    cells = _assign_frame(
        corpus.select(
            F.col(corpus_id).alias("id"),
            F.col(corpus_vec).alias("vec"),
            _q_expr(corpus_vec, scale).alias("q"),
        ),
        centroids,
        ["id", "vec"],
    )

    # probe order: the n_probe nearest centroids by exact (d2, j) —
    # array_sort on (d2, j) structs is deterministic in any engine.
    # The distance array is staged so the sort reads a materialized
    # column, and the struct fields are named explicitly (named_struct)
    # to match the (d, j) ordering contract.
    probe_cells_sql = (
        "slice(transform(array_sort(transform(__d, "
        "(d, j) -> named_struct('d', d, 'j', j))), s -> s.j), "
        f"1, {n_probe})"
    )
    probes = (
        queries.select(
            F.col(query_id).alias("id"),
            F.col(query_vec).alias("vec"),
            _q_expr(query_vec, scale).alias("q"),
        )
        .select("id", "vec", F.expr(_dists_sql("q", centroids)).alias("__d"))
        .select("id", "vec", F.expr(probe_cells_sql).alias("cluster"))
    )
    return _rank_candidates(cells, probes, "cluster", k, dedup=False)
