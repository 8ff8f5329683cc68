"""Graph analytics over a pair/edge relation: connected components
(near-duplicate PAIRS -> duplicate CLUSTERS with a canonical keeper),
PageRank (float + exact-bigint quantized twin), degree-orientation
triangle counting, and k-core decomposition (rounds-synchronous peel).
The headline use is dedup execution:

Algorithm: iterative min-label propagation.  Every node starts labeled
with its own id; each round, every node adopts the minimum label among
itself and its neighbors; at fixpoint each component is labeled by its
minimum member id.  Rounds needed = the graph diameter, which for
near-dup clusters (dense blobs of mutually-similar docs, diameter 2-3)
means 2-4 rounds — the regime where this simple scheme beats the
alternating large-star/small-star construction (Kiveris et al., "CC in
MapReduce and Beyond", SoCC'14) that wins on pathological long chains.

Scale mechanics, per round:

- one shuffle: edges join labels on src exchange-free (both sides are
  hash-partitioned on the join key at setup), then the min-aggregate
  per dst is the round's one exchange, and the merge with the current
  label joins co-partitioned sides again;
- a LAZY ``localCheckpoint`` after every round — without checkpointing
  the plan DOUBLES per iteration and the job dies of lineage, the
  classic Spark iterative-algorithm failure mode;
- early termination via a changed-label count, which doubles as the
  action that materializes the round's checkpoint blocks — exactly one
  job per round.

A pair relation that fits the session's broadcast threshold
(``spark.sql.autoBroadcastJoinThreshold``) skips the per-round jobs:
it is already small enough to ship through the driver whole, so it is
collected once through Arrow and the SAME synchronous min-label rounds
run on the driver in numpy (same fixpoint, same round count, same
``max_iterations`` raise).  The labels come back as a ``LocalRelation``
with exact size statistics, so the dedup anti-join downstream plans a
broadcast.  Above the threshold, the rounds run distributed as above.
"""

from __future__ import annotations

from typing import Any, Callable, Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from bdq_spark.operators._checkpoint import data_checkpoint
from bdq_spark.session import collect_for_driver, private_session, rebind

__all__ = ["connected_components", "apply_dedup_clusters", "pagerank", "pagerank_quantized", "triangle_counts", "kcore"]


# node-table size under which PageRank and kcore broadcast the rank/
# deletion relation into their per-round joins (2 longs/row -> ~32 MB
# at the bound) instead of shuffling both sides; connected components
# finishes at most half as many pairs on the driver.  Near-dup graphs
# are proportional to the DUPLICATE population, so they sit far below
# this in practice, while a genuinely huge graph takes the
# CO-PARTITIONED shuffle path: every static relation is hash-partitioned
# by its join key once at setup, the iterated relation keeps that
# partitioning through its per-round checkpoint, and each round's only
# exchange is the keyed aggregate — the edge relation is never
# re-shuffled.
GRAPH_BROADCAST_MAX_NODES = 2_000_000


def _maybe_broadcast(df: DataFrame, n_nodes: int) -> DataFrame:
    """Up to ``GRAPH_BROADCAST_MAX_NODES`` nodes: broadcast.  Above
    it: SHUFFLE_HASH build hint — on the co-partitioned path both join
    sides are already hash-partitioned, so the hint's only effect is
    join STRATEGY: the node-sized side becomes a per-partition hash
    build and the edge side STREAMS, instead of the default sort-merge
    join re-sorting the full edge relation every round (at x100 scale
    those per-round sorts ran the 16 GiB measurement heap out of
    execution memory)."""
    if n_nodes <= GRAPH_BROADCAST_MAX_NODES:
        return F.broadcast(df)
    return df.hint("shuffle_hash")


# conf of the private session (:func:`bdq_spark.session.private_session`)
# that the co-partitioned shuffle path of the iterative graph operators
# plans in.  ``localCheckpoint`` preserves a relation's
# ``outputPartitioning`` through the resulting ``LogicalRDD`` — but only
# when the captured physical plan is concrete: under AQE the captured
# root is an ``AdaptiveSparkPlanExec``, which reports unknown
# partitioning until execution commits a final plan, so every
# checkpointed side loses its co-partitioning and every per-round join
# re-shuffles the full edge relation (measured: the x100 pagerank graph,
# just past the broadcast cutover, paid 153 s vs 20 s at x30).  Without
# AQE plans are static, checkpoints keep their ``HashPartitioning``, and
# EnsureRequirements elides the per-round exchanges.  The trade — no
# runtime skew splitting during the rounds — is the standard one for
# co-partitioned iterative graph execution (a skewed key cannot be split
# without breaking co-location anyway); map-side partial aggregation
# still absorbs hot destination keys.  The caller's session keeps AQE:
# inputs cross into the clone and results cross back by ``rebind``.
_AQE_OFF = {"spark.sql.adaptive.enabled": "false"}


# per-partition row target for the ITERATION-LOOP shuffles of the
# CC rounds and the kcore peel: aggregates whose input row count is
# KNOWN (counted at setup), so the loop pins exactly ceil(n_rows / this)
# shuffle partitions — scale-adaptive by data, not a constant for
# either local mode or a cluster
_ROUND_ROWS_PER_PARTITION = 50_000


def _shuffle_partitions(spark) -> int:
    """The session's shuffle partition count as an int, falling back to
    ``defaultParallelism`` when the conf is non-numeric — platforms with
    AQE auto-optimized shuffle report ``spark.sql.shuffle.partitions``
    as the string ``"auto"``, and ``int("auto")`` would fail the whole
    graph operator at first use."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def _round_loop_confs(spark, n_rows: int) -> dict:
    """Conf of the private session the CC round loop and the small-graph
    kcore peel run in: AQE off and the shuffle width pinned to the data,
    ``ceil(n_rows / _ROUND_ROWS_PER_PARTITION)`` capped at the session's
    count.  Every loop query is one aggregate whose input row count is
    KNOWN (counted at setup), so AQE's only per-round contribution was
    re-deriving that width as an extra scheduled query-stage job, and
    the rounds are a serial driver-bound chain (measured at sf0.1: CC
    4 -> 2 jobs and ~0.5 -> ~0.25 s per round; results bit-identical).
    With AQE off, a checkpoint planned here keeps its partitioning."""
    n_part = max(
        1, min(_shuffle_partitions(spark), -(-n_rows // _ROUND_ROWS_PER_PARTITION))
    )
    return {**_AQE_OFF, "spark.sql.shuffle.partitions": str(n_part)}


def _keyed_checkpoint(df: DataFrame, key: str) -> DataFrame:
    """Hash-partition ``df`` by ``key`` into the session's shuffle
    partition count and checkpoint it — in an ``_AQE_OFF`` session the
    checkpoint keeps the partitioning, so downstream equi-joins and
    aggregates on ``key`` (with the same partition count, which
    ENSURE_REQUIREMENTS defaults to) insert no exchange.

    Storage level: SERIALIZED (:func:`data_checkpoint`) even for the
    node-scale relations routed here, deliberately diverging from
    ``_checkpoint.py``'s keep-node-scale-deserialized default.  Callers:
    the CC labels of every graph above the driver cap (the driver finish
    takes the rest), and the PageRank nodes and kcore adjacency past the
    ``GRAPH_BROADCAST_MAX_NODES`` cutover.  There "node-scale" grows
    with the graph, so the ~4x deserialized object overhead is exactly
    the storage-memory pressure the serialized level exists to cap; the
    per-round deserialize of a 2-long-row relation is noise next to the
    round's edge-scan join it feeds."""
    spark = df.sparkSession
    return data_checkpoint(df.repartition(_shuffle_partitions(spark), key))


# de-pin coalesce target: ~4 MiB of serialized 16-byte edge rows per
# partition — small enough that a single peeled round never waits on
# one straggler partition, large enough that a sub-million-row graph
# collapses to a handful of tasks
_EDGE_ROWS_PER_PARTITION = 262_144


def _depin_small_edges(e: DataFrame) -> DataFrame:
    """PageRank's fused setup shuffles the edge relation ONCE at the
    session shuffle partition count, necessarily before any count
    exists (pre-counting would re-materialize the edge-scale input —
    the second edge materialization the x100 sweep removed).  When the
    count — one cheap job over the just-written checkpoint blocks —
    then shows a graph that CANNOT cross the node cutover
    (``n_nodes <= 2 * n_edges <= GRAPH_BROADCAST_MAX_NODES``), the
    captured hash(src) partitioning
    will never be reused (the rounds broadcast the node side), so a
    tiny relation pinned at the shuffle partition count pays that many
    near-empty tasks in every per-round job — the bench cliff measured
    on CC's old setup (embedding_dedup_clusters 5.6 s -> 12.1 s at
    sf0.1).  Re-checkpoint coalesced to the data's
    natural width; a cutover-capable graph keeps its keyed pin
    untouched."""
    n_edges = e.count()
    n_cur = e.rdd.getNumPartitions()
    want = max(1, min(n_cur, -(-n_edges // _EDGE_ROWS_PER_PARTITION)))
    if want < n_cur and 2 * n_edges <= GRAPH_BROADCAST_MAX_NODES:
        return data_checkpoint(e.coalesce(want))
    return e


def _not_converged(max_iterations: int) -> RuntimeError:
    return RuntimeError(
        f"connected_components did not converge in {max_iterations} "
        "rounds (graph diameter exceeds the bound)"
    )


def _components_on_driver(
    directed: DataFrame, max_iterations: int
) -> Optional[DataFrame]:
    """The distributed loop's rounds finished on the driver, or ``None``
    when :func:`~bdq_spark.session.collect_for_driver` declines the
    checkpointed ``(a, b)`` pair relation, when it could exceed
    ``GRAPH_BROADCAST_MAX_NODES`` nodes, or when its two id types differ.

    Ids are coded by ``np.unique`` (sorted, so code order is id order)
    and each round is the distributed round's min-aggregate over both
    edge directions, ``np.minimum.at`` — synchronous, no pointer
    jumping — so the fixpoint, the round it is reached in and the
    ``max_iterations`` raise are those of the distributed loop."""
    fa, fb = directed.schema.fields
    if fa.dataType != fb.dataType:
        return None
    table = collect_for_driver(
        directed, ("a", "b"), max_rows=GRAPH_BROADCAST_MAX_NODES // 2
    )
    if table is None:
        return None
    ids, codes = np.unique(
        np.concatenate(
            [table.column(c).to_numpy(zero_copy_only=False) for c in ("a", "b")]
        ),
        return_inverse=True,
    )
    a, b = codes[: table.num_rows], codes[table.num_rows :]
    labels = np.arange(len(ids))
    for _ in range(max_iterations):
        new = labels.copy()
        np.minimum.at(new, b, labels[a])
        np.minimum.at(new, a, labels[b])
        if np.array_equal(new, labels):
            break
        labels = new
    else:
        raise _not_converged(max_iterations)
    # the loop's schema: its label and keeper expressions are nullable
    # exactly when the ids are
    nullable = fa.nullable or fb.nullable
    schema = StructType([
        StructField("id", fa.dataType, nullable),
        StructField("cluster_id", fa.dataType, nullable),
        StructField("is_keeper", BooleanType(), nullable),
    ])
    out = pa.table({
        "id": ids,
        "cluster_id": ids[labels],
        "is_keeper": labels == np.arange(len(ids)),
    })
    return directed.sparkSession.createDataFrame(out, schema)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Label every node appearing in ``pairs`` with its component's
    minimum member id.

    Output: ``(id, cluster_id, is_keeper)`` — one row per distinct node;
    ``is_keeper`` marks the minimum-id member, giving a deterministic
    survivor per duplicate cluster.  Raises if ``max_iterations`` rounds
    don't reach the fixpoint (pathologically long chains — raise the
    bound or pre-split the graph).

    When the pair relation fits the session's broadcast threshold and
    ``2 * n_pairs <= GRAPH_BROADCAST_MAX_NODES``, it is collected once
    and the rounds run on the driver (:func:`_components_on_driver`);
    the result is a ``LocalRelation`` with exact size statistics.
    Otherwise the rounds run distributed, CO-PARTITIONED: the
    symmetrized edges are hash-partitioned by source and the labels by
    id once at setup, planned on a private session with AQE off so the
    checkpoints keep their partitioning (:func:`_round_loop_confs`).
    The shuffle width is pinned from the pair count,
    ``min(session width, ceil(2 * n_pairs / _ROUND_ROWS_PER_PARTITION))``,
    so a small graph is not spread over near-empty tasks and a large one
    gets the session's width.  The per-round label relation inherits
    hash(id) through its lazy checkpoint (the merge join's left side),
    and each round costs exactly one exchange — the min-aggregate; the
    edge relation is shuffled once at setup, never per round.  Values
    are exact integers on either path, so the result is identical; the
    caller's conf is never touched.
    """
    # checkpoint the INPUT first: the union below reads the pair relation
    # twice (both edge directions), and the upstream pair producers
    # (LSH banding, Jaccard verify) are the expensive part of the whole
    # clustering query — without this they would execute twice
    spark = pairs.sparkSession
    directed = data_checkpoint(
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    )
    local = _components_on_driver(directed, max_iterations)
    if local is not None:
        return local
    # one cheap job over the checkpoint blocks just materialized: it
    # sizes the loop's shuffle width before the symmetrize shuffle runs
    n_pairs = directed.count()
    loop = private_session(spark, _round_loop_confs(spark, 2 * n_pairs))
    d = rebind(directed, loop)
    # ONE symmetrize-dedup shuffle, captured with hash(a): the
    # per-partition dropDuplicates rides the repartition exchange
    # (hash(a) satisfies the (a, b) clustering)
    edges = data_checkpoint(
        d.union(d.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .repartition(_shuffle_partitions(loop), "a")
        .dropDuplicates()
    )
    # the initial label is added AFTER the checkpoint: a checkpoint of
    # ``(id, id AS comp)`` records only the first of its two equal
    # partitionings, hash(comp), and the first round re-shuffles the
    # labels on both of its joins
    labels = _keyed_checkpoint(
        edges.select(F.col("a").alias("id")).distinct(), "id"
    ).withColumn("comp", F.col("id"))
    # (A Shiloach-Vishkin pointer-jumping round was measured and
    # REJECTED in r13: on the diameter-17 cosine-0.4 graph it cut rounds
    # 17 -> 11 but cost a self-join per round, net slower.  One jump per
    # round only shortcuts one chase level.)
    for _ in range(max_iterations):
        # the neighbor-min agg exchanges only the (partial-aggregated)
        # contributions, and the label merge join is exchange-free on
        # the co-partitioned sides
        neighbor_min = (
            edges.join(labels.hint("shuffle_hash"), edges.a == labels.id)
            .groupBy(F.col("b").alias("id"))
            .agg(F.min("comp").alias("__n_comp"))
        )
        # LAZY checkpoint: the changed-count below is the round's one
        # and only action — it materializes and stores the checkpoint
        # blocks as a side effect (an eager checkpoint + separate count
        # was two full jobs)
        new_labels = labels.join(
            neighbor_min.hint("shuffle_hash"), "id", "left"
        ).select(
            "id",
            F.least(
                F.col("comp"),
                F.coalesce(F.col("__n_comp"), F.col("comp")),
            ).alias("comp"),
            (F.col("__n_comp") < F.col("comp")).alias("__changed"),
        ).localCheckpoint(eager=False)
        changed = new_labels.filter(F.col("__changed")).count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            return rebind(
                labels.select(
                    "id",
                    F.col("comp").alias("cluster_id"),
                    (F.col("id") == F.col("comp")).alias("is_keeper"),
                ),
                spark,
            )
    raise _not_converged(max_iterations)


def apply_dedup_clusters(
    df: DataFrame,
    clusters: DataFrame,
    id_column: str = "doc_id",
) -> DataFrame:
    """Execute the dedup decision: drop every non-keeper cluster member
    from ``df``; rows never seen in a pair (the vast majority of a real
    corpus) pass through untouched.

    One LEFT ANTI join against the (small) non-keeper id set — the
    cluster relation is proportional to the DUPLICATE population, not
    the corpus, so this is broadcast-sized in practice.
    """
    non_keepers = clusters.filter(~F.col("is_keeper")).select(
        F.col("id").alias(id_column)
    )
    return df.join(non_keepers, id_column, "left_anti")


def _power_iteration(
    edges: DataFrame,
    src: str,
    dst: str,
    iterations: int,
    rank: str,
    zero: Column,
    init: Callable[[int], Column],
    weight: Column,
    update: Callable[[int, Any], Column],
) -> DataFrame:
    """The power iteration shared by :func:`pagerank` and
    :func:`pagerank_quantized` (scale mechanics in :func:`pagerank`'s
    docstring).  ``rank`` names the rank column and ``zero`` is its typed
    zero; ``init(n_nodes)`` is the starting rank, ``weight`` a source's
    per-edge share of its rank, and ``update(n_nodes, dangling)`` the next
    rank from the summed in-contribution ``c`` (null for a node with no
    in-edges) and the round's dangling mass.

    Setup: ONE edge shuffle for the whole query, planned without AQE so
    the checkpoint keeps its hash(src) partitioning (same shuffle count
    as a plain distinct; small graphs get de-pinned right after), then
    the node set.  Under the node cutover the rounds run on the caller's
    session; past it in an AQE-off private session over id-keyed nodes,
    so the rounds' checkpoints keep their partitioning (the
    co-partitioned path), with the result rebound to the caller."""
    spark = edges.sparkSession
    e = rebind(
        data_checkpoint(
            rebind(
                edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")),
                private_session(spark, _AQE_OFF),
            )
            .repartition(_shuffle_partitions(spark), "src")
            .dropDuplicates()
        ),
        spark,
    )
    e = _depin_small_edges(e)
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn(rank, zero)

    def _run(e: DataFrame, nodes: DataFrame) -> DataFrame:
        # node-scale static: out-degree per source (exchange-free over
        # the src-partitioned edges).  The degree is joined onto the
        # rank relation ONCE here and CARRIED through the iterations —
        # the per-round ranks ⋈ deg join (a broadcast build job per
        # round under the broadcast regime, a merge/hash join per round
        # past the cutover) becomes a filter+project on the carried
        # column (2 joins + 2 broadcasts per round -> 1 + 1).
        # Dangling detection is a COUNT comparison (a source
        # with out-edges has a deg row; n_deg < n_nodes iff some node
        # has no out-edges) instead of materializing an anti-join
        # node set — and the per-round dangling mass, when needed at
        # all, is a filter on the carried deg (IS NULL), not a join.
        deg = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .select(F.col("src").alias("id"), "deg")
            .localCheckpoint(eager=True)
        )
        has_dangling = deg.count() < n_nodes
        ranks = nodes.join(_maybe_broadcast(deg, n_nodes), "id", "left").select(
            "id", "deg", init(n_nodes).alias(rank)
        )
        for _ in range(iterations):
            dangling = (
                ranks.filter(F.col("deg").isNull())
                .agg(F.coalesce(F.sum(rank), zero))
                .first()[0]
                if has_dangling
                else 0
            )
            # per-source weight, node-scale (deg-null rows excluded:
            # zero-outdegree nodes contribute through the dangling term)
            rdeg = ranks.filter(F.col("deg").isNotNull()).select(
                "id", weight.alias("w")
            )
            contrib = (
                e.join(_maybe_broadcast(rdeg, n_nodes), e["src"] == rdeg["id"])
                .groupBy("dst")
                .agg(F.sum(F.col("w")).alias("c"))
            )
            ranks = (
                ranks.join(
                    _maybe_broadcast(contrib, n_nodes),
                    ranks["id"] == contrib["dst"],
                    "left",
                )
                .select("id", "deg", update(n_nodes, dangling).alias(rank))
                .localCheckpoint(eager=False)
            )
        # every round is PLANNED here (localCheckpoint builds its RDD at
        # call time, lazy only in materialization), so the whole loop's
        # plans are captured in the session ``e`` and ``nodes`` belong to
        return ranks.select("id", rank)

    if n_nodes <= GRAPH_BROADCAST_MAX_NODES:
        return _run(e, nodes)
    loop = private_session(spark, _AQE_OFF)
    return rebind(
        _run(rebind(e, loop), _keyed_checkpoint(rebind(nodes, loop), "id")),
        spark,
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank power iteration over an edge relation —
    the standard importance measure for entity graphs a data pipeline
    derives (co-purchase, citation, link graphs), complementing
    :func:`connected_components` on the graph-analytics surface.

    Returns ``(id, rank)`` for every node appearing as a source or
    destination.  Per Page et al. (1999):

    ``r_{k+1}(v) = (1-d)/N + d * (sum_{u->v} r_k(u)/outdeg(u)
    + dangling_mass_k / N)``

    where dangling (out-degree-0) nodes donate their mass uniformly.
    Fixed ``iterations`` (vs convergence-tested) keeps the result a
    pure function of the input — required for the value-hash oracle,
    and the standard choice for bounded-latency batch ranking.

    Scale mechanics: the edge relation is materialized EXACTLY ONCE —
    one shuffle that hash-partitions it by source (per-partition dedup
    rides the same exchange: hash(src) satisfies the (src, dst)
    distinct clustering) into a SERIALIZED checkpoint planned without
    AQE so it keeps its partitioning.  The per-edge
    ``rank/outdeg`` weight is NOT pre-joined onto the edges (an
    edge-scale second materialization, measured 59 s of the x100 wall):
    the out-degree is joined onto the rank relation ONCE at setup and
    CARRIED through the iterations, so each round derives the weight
    NODE-scale with a filter+project (no join) and streams the edges
    against that — per iteration the only work is one shuffle (the
    per-destination partial-agg sum) plus — only when dangling nodes
    exist at all — a 1-row mass aggregate over the deg-null rank rows.
    A LAZY ``localCheckpoint`` per iteration keeps the plan flat (same iterative-lineage cure as
    :func:`connected_components`).  When the node table is small
    (``<= GRAPH_BROADCAST_MAX_NODES``), the weight and update joins run as
    BROADCAST hash joins; a huge graph takes the CO-PARTITIONED path —
    node tables hash-partitioned by id at setup, the rank relation
    inheriting hash(id) through its per-round lazy checkpoint, and the
    node-sized join sides built as SHUFFLE_HASH maps so the edge side
    streams without per-round sorts.
    """

    def _update(n_nodes: int, dangling: float) -> Column:
        return F.lit((1.0 - damping) / n_nodes) + F.lit(damping) * (
            F.coalesce(F.col("c"), F.lit(0.0)) + F.lit(dangling / n_nodes)
        )

    return _power_iteration(
        edges, src, dst, iterations, "rank", F.lit(0.0),
        init=lambda n_nodes: F.lit(1.0 / n_nodes),
        weight=F.col("rank") / F.col("deg"),
        update=_update,
    )


def pagerank_quantized(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    scale: int = 10**12,
) -> DataFrame:
    """Engine-portable PageRank twin: the same power iteration as
    :func:`pagerank` carried out entirely in EXACT bigint arithmetic —
    ranks scaled by ``scale``, every division an explicit floor — so
    the result is bit-identical across engines and value-hash-checkable
    (float PageRank is not: partial-agg summation order perturbs the
    low bits, and over thousands of nodes some value always lands on a
    rounding boundary).  Same role as the md5 twins of the xxhash64
    MinHash/SimHash paths.

    Quantization: each node's rank differs from the float iteration by
    at most ``iterations / scale`` — at the default scale, 3e-12 —
    so ordering is preserved for any real rank gap.  Damping is fixed
    at the standard 85/100 (integer percent keeps the update exact).

    Update rule (all integer ops)::

        base  = (15 * (scale // N)) // 100
        r'(v) = base + (85 * (sum_{u->v} r(u) // deg(u)
                              + dangling // N)) // 100

    Scale mechanics: identical to :func:`pagerank` — one shuffle per
    iteration under the node-count broadcast bound, broadcast 1-row
    dangling scalar, lazy localCheckpoint; above the bound, the same
    co-partitioned setup (edges by source, nodes/ranks by id, planned
    without AQE) keeps the rounds at one exchange with the edge
    relation shuffled once at setup.
    """

    def _update(n_nodes: int, dangling: int) -> Column:
        base = (15 * (scale // n_nodes)) // 100
        return F.expr(
            f"CAST({base} + (85 * (coalesce(c, 0) + {dangling // n_nodes}))"
            " div 100 AS BIGINT)"
        )

    # `div` is Spark's EXACT integer division — floor() of the double
    # quotient can misround for large operands.  The weight is computed
    # once per NODE; the per-edge contribution is identical to dividing
    # per edge, so the recurrence is unchanged.
    return _power_iteration(
        edges, src, dst, iterations, "rank_q", F.lit(0).cast("bigint"),
        init=lambda n_nodes: F.lit(scale // n_nodes).cast("bigint"),
        weight=F.expr("rank_q div deg"),
        update=_update,
    )


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an undirected edge relation — the
    clustering-structure primitive (community cores, spam/link-farm
    signals) next to :func:`connected_components` and :func:`pagerank`.

    Algorithm: degree-based edge ORIENTATION (Suri & Vassilvitskii,
    "Counting Triangles and the Curse of the Last Reducer", WWW'11) —
    orient every undirected edge from its lower-(degree, id) endpoint
    to the higher one, which makes the graph acyclic and bounds every
    out-degree by O(sqrt(m)); then one self-join of the oriented edges
    on the source enumerates wedges, and one join back against the
    oriented edge set closes them.  Each triangle is found exactly
    once, so the per-node counts (each triangle credits its three
    vertices) are exact and orientation-independent.

    Scale shape: two shuffles (wedge join + closing join) after the
    degree aggregation; the orientation is precisely what prevents the
    one-hot-vertex wedge explosion a naive join pays on skewed degree
    distributions.  Output: ``(id, n_triangles)`` for EVERY vertex in
    the edge set (zeros included — a deterministic relation).
    """
    und = data_checkpoint(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    verts = und.select(F.col("a").alias("id")).union(
        und.select(F.col("b").alias("id"))
    )
    # deg is referenced three times, but its duplicate subtrees share
    # one exchange via ReuseExchange (canonically identical aggregates)
    # and the remaining recompute is a cheap agg over the edge
    # checkpoint — a lazy localCheckpoint here was measured and
    # REJECTED in r13 (+2 scheduled jobs, construct wall up ~1 s: the
    # persist materialization costs more than the agg it saves)
    deg = verts.groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
    # total order: (degree, id) packed into one sortable key
    keyed = (
        und.join(deg.withColumnRenamed("id", "a"), "a")
        .withColumnRenamed("deg", "deg_a")
        .join(
            deg.withColumnRenamed("id", "b").withColumnRenamed(
                "deg", "deg_b"
            ),
            "b",
        )
    )
    # lexicographic STRUCT comparison, not a packed integer key: packing
    # deg * 2^32 + id silently stops being a total order once ids reach
    # 2^32 (realistic at fleet scale), and a non-total orientation can
    # create cycles that double-count or miss triangles
    ka = F.struct(F.col("deg_a").alias("d"), F.col("a").alias("i"))
    kb = F.struct(F.col("deg_b").alias("d"), F.col("b").alias("i"))
    oriented = data_checkpoint(
        keyed.select(
            F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(ka < kb, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    e1 = oriented.select(F.col("u"), F.col("v").alias("w1"))
    e2 = oriented.select(F.col("u"), F.col("v").alias("w2"))
    wedges = e1.join(e2, "u").filter(F.col("w1") < F.col("w2"))
    # close the wedge: the (w1, w2) oriented edge may run either way
    closer = oriented.select(
        F.least("u", "v").alias("w1"), F.greatest("u", "v").alias("w2")
    )
    tris = wedges.join(closer, ["w1", "w2"])
    # credit all three corners via ONE explode: the pre-r13 union of
    # three selects referenced tris three times, and a DataFrame
    # referenced N times is planned as N independent subtrees — the
    # wedge enumeration join (the expensive O(m^1.5) step the
    # orientation exists to bound) ran three times per query.
    # explode(array(u, w1, w2)) is multiset-identical to the union
    # (3 rows per triangle either way) and plans the join once.
    credit = (
        tris.select(
            F.explode(F.array("u", "w1", "w2")).alias("id")
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.select("id")
        .join(credit, "id", "left")
        .select(
            "id",
            F.coalesce("n_triangles", F.lit(0))
            .cast("bigint")
            .alias("n_triangles"),
        )
    )


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 20,
) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman 1983; the
    Matula-Beck peel, rounds-synchronous): repeatedly delete every node
    of degree < k until none remains; the survivors with their final
    degrees are the k-core.  Completes the graph family next to
    connected components, PageRank and triangle counting — cores are
    the standard dense-subgraph screen (community seeds, spam/bot
    rings, near-dup cluster cores).

    Input is an UNDIRECTED edge list (one row per edge, either
    orientation); it is symmetrized and de-duplicated here.  Returns
    ``(id, degree)`` for k-core members — deterministic (set
    semantics; no tie-breaking needed because the peel removes ALL
    sub-k nodes each round, which is order-independent).

    Raises ``RuntimeError`` if the peel has not converged within
    ``max_rounds`` — that makes a FIXED-round SQL replay a sound
    oracle: if the entry returns at all, running the oracle for
    ``max_rounds`` rounds computes the same fixed point (extra rounds
    past convergence are no-ops).

    Scale shape, two regimes split on the symmetrized edge count
    compared against ``GRAPH_BROADCAST_MAX_NODES`` — a deliberately
    CONSERVATIVE node-regime test, not a repurposing of the bound:
    every node of the symmetrized relation contributes at least one
    source row, so ``n_nodes <= n_edges_sym``, and an edge count at or
    under the node bound PROVES the node set is under it too (the
    converse regime can only start later than a true node count would,
    which costs nothing: the zero-exchange machinery's fixed costs —
    serialized round checkpoints, per-round broadcast builds — measured
    ~+1 s on bench-scale graphs while saving nothing, so erring toward
    the simple peel is the right direction).  The same inequality
    bounds the small path's unconditional ``F.broadcast(bad)``: the
    sub-k node set is at most ``n_nodes <= n_edges_sym <=
    GRAPH_BROADCAST_MAX_NODES`` rows of one long (~16 MB), within
    Spark's broadcast comfort zone by construction:

    - ``<= GRAPH_BROADCAST_MAX_NODES`` edges: each round is one degree
      aggregation plus two BROADCAST anti-joins against the (shrinking)
      sub-k node set, lazy checkpoint per round, AQE off and the
      shuffle width pinned to the data (:func:`_round_loop_confs`).
    - above it: the adjacency is hash-partitioned by source ONCE
      (planned without AQE, so every per-round checkpoint keeps the
      partitioning), after which the peel rounds are
      EXCHANGE-FREE: the degree aggregation and the source-side
      anti-join are co-partitioned on ``src`` (SHUFFLE_HASH build on
      the bad set, so the adjacency streams unsorted), and the
      destination-side deletions are exactly the MIRRORS of the
      source-side deletions (the relation is symmetric) — a set bounded
      by ``k * n_bad`` rows (every deleted node has degree < k),
      broadcast into an anti-join on the full edge pair instead of
      re-shuffling the adjacency by destination.  A round whose
      deletion set exceeds the broadcast bound falls back to the
      shuffled destination anti-join and re-establishes the source
      partitioning for the next round.

    Rounds are bounded by the graph's degeneracy ordering depth
    (log-ish for tree-like regions), not by node count; the peeled set
    is counted each round (the count doubles as the convergence check).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    spark = edges.sparkSession
    fwd = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    )
    # the input pair producer (often an expensive near-dup query) runs
    # HERE, under the session's normal AQE setting
    cur = data_checkpoint(
        fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    n_edges = cur.count()

    # each peel returns the final (src, degree) relation, or None when
    # max_rounds rounds did not converge
    def _degrees_if_converged(cur: DataFrame) -> DataFrame | None:
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
        return deg if deg.where(F.col("degree") < k).isEmpty() else None

    def _peel_broadcast(cur: DataFrame) -> DataFrame | None:
        # (geometric convergence checks were measured here and REJECTED
        # in r14: a kcore overshoot round costs broadcast-build jobs that
        # outweigh the one count job a skipped check saves —
        # docs_kcore_graph read 33 -> 42 construct jobs with the
        # doubling schedule.)
        for _ in range(max_rounds):
            deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
            # LAZY checkpoint + count as the round's single action (the
            # count materializes the blocks; an eager checkpoint + a
            # separate isEmpty was two jobs), and the previous round's
            # lazily-checkpointed cur materializes inside the same job
            # (the peel is a serial job chain, so every job saved is
            # wall time at any scale)
            bad = deg.where(F.col("degree") < k).select(
                "src"
            ).localCheckpoint(eager=False)
            if bad.count() == 0:
                return deg
            # (Sharing ONE broadcast build between the two anti-joins —
            # identical aliased children so ReuseExchange canonicalizes
            # them — was measured in r14 and REJECTED: the final plan
            # does show ReusedExchange, but the localCheckpoint
            # construction still submits two broadcast-build jobs at
            # runtime, so the round's job count is unchanged and the
            # rename is simpler.)
            cur = (
                cur.join(F.broadcast(bad), "src", "left_anti")
                .join(
                    F.broadcast(bad.withColumnRenamed("src", "dst")),
                    "dst",
                    "left_anti",
                )
                .localCheckpoint(eager=False)
            )
        return _degrees_if_converged(cur)

    def _peel_copartitioned(cur: DataFrame) -> DataFrame | None:
        for _ in range(max_rounds):
            deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
            bad = deg.where(F.col("degree") < k).select(
                "src"
            ).localCheckpoint(eager=True)
            n_bad = bad.count()
            if n_bad == 0:
                return deg
            # shuffle-hash build on the bad set: co-partitioned on src,
            # so the adjacency streams (no per-round sort of the edges)
            survivors = cur.join(
                bad.hint("shuffle_hash"), "src", "left_anti"
            )
            if k * n_bad <= GRAPH_BROADCAST_MAX_NODES:
                # deleted rows' mirrors = the rows whose DESTINATION is
                # bad; <= k * n_bad rows, so broadcast beats re-keying
                # the adjacency
                mirrored = (
                    cur.join(bad, "src", "left_semi")
                    .select(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    )
                )
                cur = data_checkpoint(
                    survivors.join(
                        F.broadcast(mirrored), ["src", "dst"], "left_anti"
                    )
                )
            else:
                cur = _keyed_checkpoint(
                    survivors.join(
                        bad.withColumnRenamed("src", "dst").hint(
                            "shuffle_hash"
                        ),
                        "dst",
                        "left_anti",
                    ),
                    "src",
                )
        # one final check: the last filter round may have converged
        return _degrees_if_converged(cur)

    if n_edges <= GRAPH_BROADCAST_MAX_NODES:
        # same round-loop conf as the CC loop: every peel
        # round's only shuffle is the degree aggregate over n_edges
        # known rows, and the anti-joins are explicit broadcasts, so AQE
        # had no join strategy left to improve here.  NOTE on the pin vs
        # the shrinking peel (ADVICE r13): the width is derived once
        # from the INITIAL n_edges while cur only shrinks, so late
        # rounds run wider than their data — but this regime is entered
        # only when n_edges <= GRAPH_BROADCAST_MAX_NODES, which caps the
        # over-partitioning at ceil(bound / 50k) tasks (a handful);
        # re-deriving would cost the very count jobs this loop removes.
        loop = private_session(spark, _round_loop_confs(spark, n_edges))
        deg = _peel_broadcast(rebind(cur, loop))
    else:
        loop = private_session(spark, _AQE_OFF)
        deg = _peel_copartitioned(_keyed_checkpoint(rebind(cur, loop), "src"))
    if deg is None:
        raise RuntimeError(
            f"kcore: peel did not converge within {max_rounds} rounds"
        )
    return rebind(deg.select(F.col("src").alias("id"), "degree"), spark)
