"""kmeans_quantized: exactness, edge cases, and a pure-Python replay."""

import random

import pytest
from pyspark.sql import functions as F

from bdq_spark.operators.clustering import kmeans_quantized


def _py_kmeans(vecs, k, iters, scale=10000):
    """Independent plain-Python replay of the operator's contract:
    smallest-id seeds, exact int distances with (d2, j) tie-break,
    floor-mean updates, empty clusters keep their centroid."""
    q = {
        i: [round(x * scale) for x in v] for i, v in vecs.items()
    }
    seeds = sorted(q)[:k]
    cents = [list(q[i]) for i in seeds]

    def assign():
        out = {}
        for i, v in q.items():
            best = min(
                (sum((a - b) * (a - b) for a, b in zip(v, c)), j)
                for j, c in enumerate(cents)
            )
            out[i] = (best[1], best[0])
        return out

    for _ in range(iters):
        a = assign()
        for j in range(k):
            members = [q[i] for i, (cj, _) in a.items() if cj == j]
            if members:
                cnt = len(members)
                cents[j] = [
                    sum(col) // cnt for col in zip(*members)
                ]
    return assign()


def test_kmeans_matches_python_replay(spark, distributed):
    rng = random.Random(11)
    vecs = {
        i: [rng.uniform(-1, 1) for _ in range(6)] for i in range(40)
    }
    want = _py_kmeans(vecs, k=4, iters=3)
    # the driver finish (input under the broadcast threshold) and the
    # distributed rounds (broadcasts off) must both replay exactly
    for session in (spark, distributed):
        df = session.createDataFrame(
            [(i, v) for i, v in vecs.items()], "vec_id:long, embedding:array<double>"
        )
        got = {
            r.vec_id: (r.cluster, r.dist2)
            for r in kmeans_quantized(df, k=4, iters=3, dim=6).collect()
        }
        assert got == want


def test_kmeans_separable_clusters(spark):
    # two tight blobs far apart: every point lands with its blob's seed
    blob_a = [(i, [0.9 + 0.001 * i, 0.9]) for i in range(5)]
    blob_b = [(i + 5, [-0.9 - 0.001 * i, -0.9]) for i in range(5)]
    df = spark.createDataFrame(
        blob_a + blob_b, "vec_id:long, embedding:array<double>"
    )
    # seeds are ids 0 and 1 — BOTH in blob A; after an update the
    # centroids still separate because cluster 1 captures ids 1..4+
    got = {r.vec_id: r.cluster
           for r in kmeans_quantized(df, k=2, iters=4, dim=2).collect()}
    a_clusters = {got[i] for i, _ in blob_a}
    b_clusters = {got[i + 0] for i, _ in blob_b}
    assert len(a_clusters) == 1 and len(b_clusters) == 1
    assert a_clusters != b_clusters


def test_kmeans_empty_cluster_keeps_centroid(spark, distributed):
    # duplicate seed vectors: cluster 1 loses every argmin tie (ties
    # break to the smaller index), so it EMPTIES in round 1 and must
    # keep its seed centroid — which then wins the [1,1] blob back in
    # round 2 after cluster 0's floor-mean drifts to the middle.  The
    # retained-centroid rule is what makes that recovery possible.
    rows = [(0, [1.0, 1.0]), (1, [1.0, 1.0]), (2, [0.5, 0.5]),
            (3, [-1.0, -1.0])]
    for session in (spark, distributed):
        df = session.createDataFrame(rows, "vec_id:long, embedding:array<double>")
        got = {r.vec_id: (r.cluster, r.dist2)
               for r in kmeans_quantized(df, k=2, iters=2, dim=2).collect()}
        assert got == _py_kmeans(dict(rows), k=2, iters=2)
        assert got[0] == (1, 0) and got[1] == (1, 0)  # recovered members
        assert got[3][0] == 0


def test_kmeans_driver_fit_declines_what_numpy_cannot_replay():
    """The driver finish hands back to the distributed rounds (returns
    None) on null vector elements, vectors whose length is not ``dim``,
    and values whose int64 distances or sums could overflow; it raises
    the distributed fit's error when there are fewer than k rows.  Null
    ids and vectors never reach it (``tests/test_driver_finish.py``)."""
    import pyarrow as pa

    from bdq_spark.operators.clustering import _fit_on_driver

    def table(ids, qs):
        return pa.table({
            "id": pa.array(ids, pa.int64()),
            "q": pa.array(qs, pa.list_(pa.int64())),
        })

    ok = table([2, 0, 1], [[5, 5], [0, 0], [1, 1]])
    # seeds are ids 0 and 1; id 2 joins cluster 1; floor means
    assert _fit_on_driver(ok, k=2, iters=1, dim=2) == [[0, 0], [3, 3]]
    assert _fit_on_driver(table([0, 1], [[0, 0], [1, None]]), 1, 1, 2) is None
    assert _fit_on_driver(table([0, 1], [[0, 0], [1]]), 1, 1, 2) is None
    # dim * (2 * max|q|)**2 must stay below 2**63
    assert _fit_on_driver(table([0, 1], [[0, 0], [2**30, 0]]), 1, 1, 2) is None
    assert _fit_on_driver(table([0, 1], [[0, 0], [2**29, 0]]), 1, 1, 2) == [[2**28, 0]]
    with pytest.raises(ValueError, match="at least k"):
        _fit_on_driver(table([0], [[0, 0]]), k=2, iters=1, dim=2)


def test_kmeans_deterministic_across_runs(spark):
    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id:long, embedding:array<double>")
    df = df.repartition(7)  # partial-agg order must not matter
    one = sorted(map(tuple, kmeans_quantized(df, k=3, iters=2, dim=4).collect()))
    two = sorted(map(tuple, kmeans_quantized(df, k=3, iters=2, dim=4).collect()))
    assert one == two


def test_kmeans_validates_inputs(spark):
    df = spark.createDataFrame(
        [(0, [0.1, 0.2])], "vec_id:long, embedding:array<double>"
    )
    with pytest.raises(ValueError, match="at least k"):
        kmeans_quantized(df, k=2, iters=1, dim=2)
    with pytest.raises(ValueError, match="k must be"):
        kmeans_quantized(df, k=0, iters=1, dim=2)


def test_kmeans_assignment_plan_has_no_shuffle(spark):
    """The 100 TB claim the module docstring makes: the FINAL
    assignment (a fixed centroid literal) is a pure projection — its
    plan must contain no Exchange at all."""
    import re

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)],
        "vec_id:long, embedding:array<double>",
    )
    out = kmeans_quantized(df, k=2, iters=0, dim=2)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert not re.search(r"\(\d+\) Exchange\b", plan), plan
