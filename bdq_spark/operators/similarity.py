"""Vector similarity search over an ``array<float>`` embedding column.

Extension mandate (BASELINE.json north_star): approximate-nearest-
neighbor search — brute-force cosine top-k as the exact baseline, and a
random-hyperplane LSH bucketing as the scale path.

Scale design (100 TB / billions of vectors):

- The query side is assumed small (broadcast); the corpus streams
  through one scan.  Brute force is a broadcast-nested-loop with a
  codegen'd dot product and a per-query top-k window — exact, one pass.
- The LSH path hashes corpus vectors into 2^num_planes sign buckets
  (deterministic pseudo-random hyperplanes derived from xxhash64, no
  stored model) and probes only matching buckets — the candidate scan
  shrinks by ~2^planes at some recall cost; multi-probe widens recall.
- No UDFs anywhere: dot products use ``aggregate(zip_with(...))`` which
  whole-stage-codegens; a Pandas-UDF variant was measured slower at this
  vector width (64 floats) due to Arrow serialization overhead.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

__all__ = [
    "dot_product",
    "l2_norm",
    "cosine_similarity",
    "cosine_from_norms",
    "knn_bruteforce",
    "lsh_bucket_vectors",
    "lsh_probe_buckets",
    "knn_lsh",
    "lsh_bucket_vectors_md5",
    "knn_lsh_md5",
    "diagonal_metric_score",
    "rerank_topk",
    "quantize_embedding",
    "dequantize_embedding",
]


def dot_product(a: Column, b: Column) -> Column:
    """Sequential (deterministic) dot product in DOUBLE precision.

    The per-element cast matters: ``zip_with(a, b, x*y)`` on float arrays
    multiplies in FLOAT (then widens), losing one ulp vs engines that
    widen first — enough to flip a 6-decimal rounding.
    """
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity; 0 when either vector has zero norm."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot_product(a, b) / denom)


def cosine_from_norms(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """:func:`cosine_similarity` with the norms already computed — the
    form every KNN join uses so per-ROW norms (materialized below the
    join) leave only the dot product as per-PAIR work.  Keeps the exact
    multiplication/guard order of :func:`cosine_similarity`, so results
    are bit-identical — the single maintained copy of that contract.
    """
    denom = norm_a * norm_b
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot_product(a, b) / denom)


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for every query vector.

    Broadcasts the query set and streams the corpus once; ranking is a
    per-query window with a deterministic (cosine DESC, corpus id ASC)
    tiebreak.  Output: ``query_id, neighbor_id, rank, cosine``.

    L2 norms are computed per ROW below the join (the join is a
    projection-collapse barrier), so per-PAIR work is a single dot
    product — without this, every (query, corpus) pair re-evaluates
    both norm aggregates, and any expression-defined vector column
    (e.g. a :func:`dequantize_embedding` of stored int8) would be
    re-evaluated 3-4x per pair instead of once per corpus row.  Same
    arithmetic order as :func:`cosine_similarity`, so results are
    bit-identical.
    """
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("qv"),
        l2_norm(F.col(query_vec)).alias("__qn"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("cv"),
        l2_norm(F.col(corpus_vec)).alias("__cn"),
    )
    cos = cosine_from_norms(
        F.col("qv"), F.col("cv"), F.col("__qn"), F.col("__cn")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(cos, 6).alias("cosine"),
    )
    return _topk(scored, k)


def _topk(scored: DataFrame, k: int, score: str = "cosine") -> DataFrame:
    """The ranking step of every KNN operator: per query, the ``k`` best
    ``(query_id, neighbor_id, <score>)`` rows by ``<score>`` DESC with a
    deterministic ``neighbor_id`` ASC tiebreak.  Output:
    ``query_id, neighbor_id, rank, <score>``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", score)
    )


def _rank_candidates(
    corpus_side: DataFrame,
    query_side: DataFrame,
    on: str,
    k: int,
    dedup: bool,
) -> DataFrame:
    """Exact cosine top-k over the (query, corpus) pairs that share a
    value of ``on`` — the candidate join every approximate KNN operator
    ends in.  Both sides are ``(id, vec, <on>)`` frames; a query side
    whose ``on`` is an array (its probe set) is exploded into one row
    per probe.  The query side is broadcast.

    L2 norms are staged per ROW below the join, and on the query side
    before the probe explode, so per candidate pair only the dot product
    remains (see :func:`knn_bruteforce`).  ``dedup`` drops repeated
    pairs before scoring.  Only OR-ed multi-table LSH needs it: within
    one LSH table or one IVF index a corpus vector has exactly one key
    and a query's probe keys are distinct, so a pair meets at most once.
    Output: ``query_id, neighbor_id, rank, cosine``.
    """

    def normed(side: DataFrame) -> DataFrame:
        side = side.select(
            "id", "vec", on, l2_norm(F.col("vec")).alias("__n")
        )
        if isinstance(side.schema[on].dataType, ArrayType):
            side = side.withColumn(on, F.explode(on))
        return side

    candidates = (
        normed(corpus_side).alias("c")
        .join(
            F.broadcast(normed(query_side).alias("q")),
            F.col(f"c.{on}") == F.col(f"q.{on}"),
        )
        .select(
            F.col("q.id").alias("query_id"),
            F.col("c.id").alias("neighbor_id"),
            F.col("q.vec").alias("qv"),
            F.col("c.vec").alias("cv"),
            F.col("q.__n").alias("__qn"),
            F.col("c.__n").alias("__cn"),
        )
    )
    if dedup:
        candidates = candidates.dropDuplicates(["query_id", "neighbor_id"])
    cos = cosine_from_norms(
        F.col("qv"), F.col("cv"), F.col("__qn"), F.col("__cn")
    )
    return _topk(
        candidates.select(
            "query_id", "neighbor_id", F.round(cos, 6).alias("cosine")
        ),
        k,
    )


def _infer_dim(df: DataFrame, column: str) -> int:
    """Length of the first vector of ``column`` (one tiny job) — the
    default of every ``dim=None`` parameter; production pipelines pass
    ``dim`` explicitly."""
    first = df.select(F.size(F.col(column)).alias("d")).first()
    if first is None:
        raise ValueError("cannot infer dim from an empty DataFrame")
    return first["d"]


def _hyperplanes(num_planes: int, dim: int, seed: str = "bdq_lsh"):
    """Deterministic pseudo-random hyperplanes as a numpy matrix.

    Components derive from sha256(seed, plane, j) scaled to [-1, 1] —
    reproducible across sessions, platforms and library versions with no
    stored model, so bucketing a new batch of vectors tomorrow lands in
    the same buckets as today's.  ``seed`` gives OR-ed multi-table LSH
    its independent plane sets (:func:`_table_seed`); the default keeps
    every pre-existing single-table bucketing bit-identical.
    """
    import hashlib

    import numpy as np

    planes = np.empty((num_planes, dim), dtype=np.float64)
    for p in range(num_planes):
        for j in range(dim):
            digest = hashlib.sha256(f"{seed}:{p}:{j}".encode()).digest()
            v = int.from_bytes(digest[:8], "big") % 20_001
            planes[p, j] = (v - 10_000) / 10_000.0
    return planes


def _table_seed(seed: str, table: int) -> str:
    """Seed of OR-table ``table``: table 0 keeps the bare seed (so
    ``num_tables=1`` reproduces every historical bucket bit-for-bit);
    tables 1+ append a suffix, giving independent hyperplane draws."""
    return seed if table == 0 else f"{seed}:t{table}"


#: hard ceiling on LSH plane count: buckets are int64 and multi-table
#: ids are namespaced as ``(table << num_planes) | bucket``, so planes
#: plus table bits must stay under 63.  56 planes already means 2^56
#: buckets — no real corpus gets near it; the cap exists so the int64
#: bucket id can NEVER wrap (ADVICE r11: int32 buckets wrapped past 31
#: planes), leaving 7 bits ≡ 128 OR-tables of namespace.
LSH_MAX_PLANES = 56


def _check_lsh_geometry(num_planes: int, num_tables: int) -> None:
    if num_planes > LSH_MAX_PLANES:
        raise ValueError(
            f"num_planes={num_planes} exceeds LSH_MAX_PLANES="
            f"{LSH_MAX_PLANES} (int64 bucket-id namespace)"
        )
    if not (1 <= num_tables <= 128):
        raise ValueError(f"num_tables must be in [1, 128], got {num_tables}")


def lsh_bucket_vectors(
    df: DataFrame,
    vector_column: str = "embedding",
    id_column: str = "vec_id",
    num_planes: int = 8,
    dim: Optional[int] = None,
    num_tables: int = 1,
    seed: str = "bdq_lsh",
) -> DataFrame:
    """Random-hyperplane LSH: (id, vec, bucket bigint).

    Sign patterns are computed with one Arrow-batched numpy matmul per
    partition (``block @ planes.T``) — measured far faster than
    per-plane interpreted ``aggregate`` expressions, and signs (not
    values) are what's kept, so BLAS summation-order wobble can only
    matter for dot products within ~1e-12 of zero.

    ``num_tables > 1`` is OR-ed multi-table LSH: each vector gets one
    row PER TABLE, bucketed against that table's independent hyperplane
    draw (:func:`_table_seed`), with ids namespaced
    ``(table << num_planes) | bucket`` so tables can never cross-match.
    A pair missed by one table's split is recovered by another —
    recall ``1 - (1 - r)^T`` at ``T`` times the candidate cost, still
    linear in the corpus.  Buckets are int64 (int32 wrapped past 31
    planes — ADVICE r11) and plane count is capped at
    :data:`LSH_MAX_PLANES` so the namespace can't overflow.

    ``dim`` defaults to the length of the first vector (one tiny job);
    pass it explicitly in production pipelines.
    """
    return lsh_probe_buckets(
        df, vector_column, id_column, num_planes, 1, dim, num_tables, seed
    )


def lsh_probe_buckets(
    df: DataFrame,
    vector_column: str = "embedding",
    id_column: str = "vec_id",
    num_planes: int = 8,
    n_probe: int = 1,
    dim: Optional[int] = None,
    num_tables: int = 1,
    seed: str = "bdq_lsh",
) -> DataFrame:
    """Multi-probe bucket expansion: up to ``n_probe`` rows per vector
    PER TABLE.

    Standard multi-probe LSH (Lv et al., VLDB'07 — query-directed probing,
    restricted to single-bit perturbations): the first probe is the exact
    sign bucket; subsequent probes flip one sign bit each, in ascending
    order of the hyperplane margin ``|v . h_p|``.  A small margin means the
    vector sits near that hyperplane, so the flipped bucket is the most
    likely home of a missed true neighbor.  ``n_probe`` is clamped to
    ``num_planes + 1`` (exact bucket + one flip per plane).

    ``num_tables > 1`` repeats the whole probe set against independent
    hyperplane draws with namespaced int64 bucket ids (see
    :func:`lsh_bucket_vectors`) — the OR-ed multi-table recall lift,
    ``1 - (1 - r)^T``.

    Probing the query side N ways costs N broadcast-hash lookups instead
    of re-bucketing the corpus N times — the corpus keeps exactly one row
    per vector per table, which is what makes this the scale-path recall
    knob.
    """
    import numpy as np
    import pandas as pd

    _check_lsh_geometry(num_planes, num_tables)
    if dim is None:
        dim = _infer_dim(df, vector_column)

    n_probe = max(1, min(n_probe, num_planes + 1))
    all_planes = [
        _hyperplanes(num_planes, dim, _table_seed(seed, t))
        for t in range(num_tables)
    ]
    weights = (1 << np.arange(num_planes)).astype(np.int64)

    base = df.select(
        F.col(id_column).alias("id"), F.col(vector_column).alias("vec")
    )

    def probe(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            block = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["vec"]]
            ).reshape(len(pdf), dim)
            per_table = []
            for t, planes in enumerate(all_planes):
                margins = block @ planes.T
                signs = margins >= 0
                exact = (signs @ weights).astype(np.int64) | (
                    np.int64(t) << np.int64(num_planes)
                )
                all_buckets = [exact]
                if n_probe > 1:
                    # ascending |margin|: nearest hyperplanes flipped first
                    order = np.argsort(np.abs(margins), axis=1)
                    all_buckets += [
                        np.bitwise_xor(exact, weights[order[:, p]])
                        for p in range(n_probe - 1)
                    ]
                per_table.append(np.concatenate(all_buckets))
            out = pd.DataFrame(
                {
                    "id": np.tile(
                        pdf["id"].to_numpy(), n_probe * num_tables
                    ),
                    "vec": list(pdf["vec"]) * (n_probe * num_tables),
                    "bucket": np.concatenate(per_table),
                }
            )
            yield out

    id_type = base.schema["id"].dataType.simpleString()
    vec_type = dict(base.dtypes)["vec"]
    return base.mapInPandas(
        probe, schema=f"id {id_type}, vec {vec_type}, bucket bigint"
    )


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 8,
    n_probe: int = 1,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    dim: Optional[int] = None,
    num_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: exact ranking within matching LSH buckets.

    Recall < 1.0 by construction (a true neighbor can land in a different
    bucket); raise recall by lowering ``num_planes``, raising
    ``n_probe`` (multi-probe: each extra probe checks the query's
    next-nearest sign bucket, see :func:`lsh_probe_buckets`), or
    raising ``num_tables`` (OR-ed independent plane sets: recall
    ``1 - (1 - r)^T`` at ``T``x candidate cost — the production recall
    control that doesn't coarsen the buckets).
    Output: ``query_id, neighbor_id, rank, cosine``.
    """
    if dim is None:
        dim = _infer_dim(corpus, corpus_vec)
    cb = lsh_bucket_vectors(
        corpus, corpus_vec, corpus_id, num_planes, dim,
        num_tables=num_tables,
    )
    qb = lsh_probe_buckets(
        queries, query_vec, query_id, num_planes, n_probe, dim,
        num_tables=num_tables,
    )
    return _rank_candidates(cb, qb, "bucket", k, dedup=num_tables > 1)


def _md5_planes_int(num_planes: int, dim: int, seed: str = "bdq_lshq"):
    """INTEGER hyperplane components in [-10000, 10000] derived from
    md5 — the engine-portable twin of :func:`_hyperplanes`.  Any engine
    with an md5 function recomputes the exact same integers:
    ``(int(md5(f"{seed}:{p}:{j}").hexdigest()[:15], 16) % 20001) - 10000``
    (DuckDB: ``(('0x' || substr(md5(s), 1, 15))::BIGINT % 20001) -
    10000`` — the same first-60-bits recipe as the md5 minhash twin)."""
    import hashlib

    return [
        [
            (
                int(
                    hashlib.md5(f"{seed}:{p}:{j}".encode()).hexdigest()[:15],
                    16,
                )
                % 20001
            )
            - 10000
            for j in range(dim)
        ]
        for p in range(num_planes)
    ]


def lsh_bucket_vectors_md5(
    df: DataFrame,
    vector_column: str = "embedding",
    id_column: str = "vec_id",
    num_planes: int = 6,
    dim: Optional[int] = None,
    scale: int = 10000,
    seed: str = "bdq_lshq",
    num_tables: int = 1,
) -> DataFrame:
    """Integer-exact LSH bucketing — the engine-portable twin of
    :func:`lsh_bucket_vectors`.  Quantizes each component to
    ``round(x * scale)`` int64 and signs the dot against
    :func:`_md5_planes_int` INTEGER hyperplanes, entirely in codegen
    expressions (``aggregate(zip_with(...))``), so the bucket of every
    vector is reproducible by any engine with md5 + int64 arithmetic
    regardless of summation order.  Output columns: ``id, vec, bucket,
    margins`` (``margins`` are the exact per-plane int64 dots — the
    multi-probe flip order derives from them).

    ``num_tables > 1`` is OR-ed multi-table LSH, as in the float twin:
    one row per vector PER TABLE, bucketed against that table's md5
    plane set (:func:`_table_seed` — public strings, so an oracle
    replays every table), with ids namespaced
    ``(table << num_planes) | bucket``."""
    _check_lsh_geometry(num_planes, num_tables)
    if dim is None:
        dim = _infer_dim(df, vector_column)
    out = None
    for t in range(num_tables):
        planes = _md5_planes_int(num_planes, dim, _table_seed(seed, t))
        # The margins expression is built as ONE SQL string (a 2D plane
        # literal + one transform/aggregate chain) instead of num_planes
        # separately Python-assembled aggregate trees: per-element F.lit
        # construction crossed py4j ~2 x planes x dim times and measured
        # ~0.7 s of DRIVER time per call at 5x64 before a single task
        # ran.  Same arithmetic, same plan shape.
        rows = ",".join(
            "array(" + ",".join(f"{int(c)}L" for c in row) + ")"
            for row in planes
        )
        margins_sql = (
            f"transform(array({rows}), row -> aggregate("
            f"zip_with(`{vector_column}`, row, "
            f"(x, hv) -> cast(round(cast(x as double) * {int(scale)}) "
            "as bigint) * hv), 0L, (acc, t) -> acc + t))"
        )
        # margins staged in their own projection: ``bucket`` below reads
        # the materialized column, so each plane's dot product is
        # evaluated once per row (the single-projection form re-evaluated
        # every aggregate twice — once for margins, once for the bucket
        # terms — and CollapseProject keeps multi-referenced non-trivial
        # aliases staged, as the formatted physical plan shows)
        staged = df.select(
            F.col(id_column).alias("id"),
            F.col(vector_column).alias("vec"),
            F.expr(margins_sql).alias("margins"),
        )
        bucket_sql = " + ".join(
            ([f"{t << num_planes}L"] if t else [])
            + [
                f"(case when margins[{p}] >= 0 then {1 << p}L else 0L end)"
                for p in range(num_planes)
            ]
        )
        bt = staged.select(
            "id", "vec", F.expr(bucket_sql).alias("bucket"), "margins"
        )
        out = bt if out is None else out.unionByName(bt)
    return out


def knn_lsh_md5(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 6,
    n_probe: int = 1,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    dim: Optional[int] = None,
    scale: int = 10000,
    seed: str = "bdq_lshq",
    num_tables: int = 1,
) -> DataFrame:
    """Engine-portable LSH ANN whose every BUCKET decision is exact
    int64 arithmetic — the oracle twin of :func:`knn_lsh` (same pattern
    as the md5 minhash/simhash twins: the production path keeps the
    fast primitive, the twin makes the whole pipeline recomputable by
    any engine for value-level verification).

    Vectors are quantized to ``round(x * scale)`` int64 components and
    hashed against :func:`_md5_planes_int` INTEGER hyperplanes, so sign
    margins — and therefore buckets, probe order (ascending
    ``(|margin|, plane)``) and the candidate set — are bit-identical in
    Spark and the DuckDB oracle; float summation order never flips a
    sign.  Candidate scoring then ranks by the usual
    ``round(cosine, 6)`` on the ORIGINAL float vectors with a
    deterministic ``(cosine DESC, neighbor_id ASC)`` tiebreak.

    Pure codegen expressions (``aggregate(zip_with(...))`` dots,
    ``transform``/``array_sort`` probe flips) — no UDFs; corpus scanned
    once, query side broadcast, same 100 TB shape as :func:`knn_lsh`.
    Output: ``query_id, neighbor_id, rank, cosine``.
    """
    if dim is None:
        dim = _infer_dim(corpus, corpus_vec)
    n_probe = max(1, min(n_probe, num_planes + 1))

    # query probes: exact bucket first, then single-bit flips in
    # ascending (|margin|, plane) order — margins are exact ints, so
    # the flip order is deterministic and engine-portable.  Flips only
    # touch bits below num_planes, so the multi-table namespace offset
    # survives every probe.
    probes_expr = (
        "concat(array(bucket), transform("
        "  slice(array_sort(transform(margins,"
        "        (m, p) -> struct(abs(m) as am, p as p))),"
        f"       1, {n_probe - 1}),"
        "  s -> bucket ^ shiftleft(cast(1 as bigint), s.p)))"
    )
    cb = lsh_bucket_vectors_md5(
        corpus, corpus_vec, corpus_id, num_planes, dim, scale, seed,
        num_tables,
    )
    qb = lsh_bucket_vectors_md5(
        queries, query_vec, query_id, num_planes, dim, scale, seed,
        num_tables,
    ).select("id", "vec", F.expr(probes_expr).alias("bucket"))
    return _rank_candidates(cb, qb, "bucket", k, dedup=num_tables > 1)


def diagonal_metric_score(
    a: Column, b: Column, period: int = 7
) -> Column:
    """The built-in DETERMINISTIC re-rank scorer: cosine under a fixed
    diagonal metric ``w_j = 1 + (j mod period) / 10`` — the stand-in
    for a cross-encoder's learned interaction that any engine can
    recompute exactly (the weights are small exact rationals; every
    multiply/add is sequential double precision, same contract as
    :func:`dot_product`).  DuckDB replay:
    ``list_sum(list_transform(list_zip? ...))`` — see the
    ``knn_rerank_embeddings`` oracle for the exact SQL shape
    (indexed-lambda ``(x, i) ->`` with 1-based ``i``; weight
    ``1 + ((i-1) % period)/10.0``).

    Deliberately NOT monotone in plain cosine, so re-ranking actually
    reorders the retrieve stage's candidates — which is the point of a
    second-stage scorer."""
    idx = F.sequence(F.lit(0), F.size(a) - 1)
    w = F.transform(
        idx, lambda j: F.lit(1.0) + (j % period).cast("double") / F.lit(10.0)
    )
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    wdot = F.aggregate(
        F.zip_with(prod, w, lambda p, ww: p * ww),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    sq_a = F.zip_with(a, a, lambda x, y: x.cast("double") * y.cast("double"))
    sq_b = F.zip_with(b, b, lambda x, y: x.cast("double") * y.cast("double"))
    na = F.sqrt(
        F.aggregate(
            F.zip_with(sq_a, w, lambda p, ww: p * ww),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.zip_with(sq_b, w, lambda p, ww: p * ww),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    denom = na * nb
    return F.when(denom == 0, F.lit(0.0)).otherwise(wdot / denom)


def rerank_topk(
    candidates: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    scorer=None,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """Second-stage RE-RANK over retrieve-stage candidates — the hook
    that completes the 100 TB retrieve → filter → re-rank pattern
    (mirrors :func:`~bdq_spark.operators.dedup.levenshtein_rescore`,
    the Jaccard path's second opinion): an ANN stage
    (:func:`knn_lsh`, :func:`knn_lsh_md5`,
    :func:`~bdq_spark.operators.ivf.knn_ivf`) retrieves a WIDE
    candidate set cheaply; this stage scores only those candidates
    with an expensive/learned scorer and keeps the top ``k``.

    ``candidates`` needs columns ``(query_id, neighbor_id)`` (extra
    columns are dropped).  ``scorer`` is the plug:

    - ``None`` (default) — :func:`diagonal_metric_score`, a
      deterministic engine-portable stand-in for a learned
      cross-encoder, so the whole pipeline stays value-hashable;
    - a Python callable ``(qv: pd.Series, cv: pd.Series) ->
      1-D scores`` — run ARROW-BATCHED via ``mapInPandas`` (the real
      cross-encoder slot: a model forward pass over vector pairs;
      batches arrive as object Series of array values).  UDF cost is
      paid per CANDIDATE, never per corpus row — the economics that
      make a heavy scorer affordable at scale.

    Scale shape: candidate-sized joins back to the two vector sides
    (query side broadcast — it is query-scale), scoring linear in
    candidates, one per-query top-k window.  Output:
    ``query_id, neighbor_id, rank, score``.
    """
    # dedup the candidate pairs (ADVICE r12): all in-repo retrievers
    # emit distinct (query_id, neighbor_id), but an external caller
    # passing a non-deduped relation would otherwise get the same
    # neighbor scored twice, eating two row_number ranks in the top-k;
    # cheap at candidate scale (one candidate-sized exchange)
    cand = candidates.select("query_id", "neighbor_id").dropDuplicates(
        ["query_id", "neighbor_id"]
    )
    cv = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("cv"),
    )
    qv = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("qv")
    )
    joined = cand.join(cv, "neighbor_id").join(F.broadcast(qv), "query_id")

    if scorer is None:
        scored = joined.select(
            "query_id",
            "neighbor_id",
            F.round(
                diagonal_metric_score(F.col("qv"), F.col("cv")), 6
            ).alias("score"),
        )
    else:
        import pandas as pd

        id_types = dict(joined.dtypes)

        def apply_scorer(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                s = scorer(pdf["qv"], pdf["cv"])
                yield pd.DataFrame(
                    {
                        "query_id": pdf["query_id"],
                        "neighbor_id": pdf["neighbor_id"],
                        "score": pd.Series(s, index=pdf.index).astype(
                            "float64"
                        ),
                    }
                )

        scored = joined.mapInPandas(
            apply_scorer,
            schema=(
                f"query_id {id_types['query_id']}, "
                f"neighbor_id {id_types['neighbor_id']}, score double"
            ),
        )

    return _topk(scored, k, score="score")


# ---------------------------------------------------------------------------
# int8 quantization (storage path)
# ---------------------------------------------------------------------------

def quantize_embedding(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization as a pure expression:
    ``struct(q: array<tinyint>, scale: double)`` with
    ``q[i] = round_half_away(x[i] / scale * 127)``, ``scale = max(|x|)``.

    At 100 TB this is the storage play: embeddings shrink 4x (plus
    better parquet encoding), decode is a narrow ``transform``, and the
    whole codec stays in whole-stage codegen — no UDF, no Arrow hop.
    Max dequantization error per element is ``scale/254`` (half a
    quantization step).  Zero vectors get scale 1.0 so they round-trip
    exactly.

    Rounding is spelled out as ``sign(v) * floor(|v| + 0.5)`` instead of
    an engine ``round`` call: every step (divide, multiply, abs, add,
    floor) is an exact IEEE-754 operation, so any engine reproduces the
    identical int8 codes — which is what lets a DuckDB oracle value-hash
    the quantized KNN end to end.
    """
    scale = F.aggregate(
        vec,
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x)),
    )
    safe = F.when(scale == 0, F.lit(1.0)).otherwise(scale)

    def _q(x):
        v = x / safe * 127
        return (F.signum(v) * F.floor(F.abs(v) + F.lit(0.5))).cast("tinyint")

    q = F.transform(vec, _q)
    return F.struct(q.alias("q"), safe.alias("scale"))


def dequantize_embedding(qstruct: Column) -> Column:
    """Inverse of :func:`quantize_embedding`: ``array<double>``."""
    scale = qstruct.getField("scale")
    return F.transform(
        qstruct.getField("q"),
        lambda v: v.cast("double") * scale / F.lit(127.0),
    )
