"""Connected-components tests: golden graphs and a union-find
property check on random edge lists."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from conftest import on_driver

from bdq_spark.operators import connected_components


def _collect(df):
    return {r.id: (r.cluster_id, r.is_keeper) for r in df.collect()}


def test_chain_triangle_and_disjoint(spark):
    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),      # chain -> component 1
            (10, 11), (11, 12), (10, 12),  # triangle -> component 10
            (20, 21),                     # pair -> component 20
        ],
        "id_a long, id_b long",
    )
    out = _collect(connected_components(pairs))
    assert {k: v[0] for k, v in out.items()} == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }
    keepers = {k for k, v in out.items() if v[1]}
    assert keepers == {1, 10, 20}


def test_convergence_bound_raises(spark, distributed):
    # a 6-node path needs more than 1 round — on the driver finish and
    # on the distributed loop alike
    for session in (spark, distributed):
        pairs = session.createDataFrame(
            [(i, i + 1) for i in range(6)], "id_a long, id_b long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(pairs, max_iterations=1)
        # and converges with a sane bound
        out = connected_components(pairs)
        assert on_driver(out) == (session is spark)
        assert {v[0] for v in _collect(out).values()} == {0}


def test_convergence_raise_boundary_both_paths(spark, distributed):
    """The ``max_iterations`` raise fires at the same bound on the
    driver finish and on the distributed loop (frames of
    ``distributed``, broadcasts off): an 8-node path needs 7
    propagation rounds plus one no-change round, so ``max_iterations=7``
    raises and 8 converges.  The kcore peel is pinned the same way."""
    from bdq_spark.operators.components import kcore

    for session in (spark, distributed):
        path8 = session.createDataFrame(
            [(i, i + 1) for i in range(7)], "id_a long, id_b long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(path8, max_iterations=7)
        out8 = connected_components(path8, max_iterations=8)
        assert on_driver(out8) == (session is spark)
        assert {v[0] for v in _collect(out8).values()} == {0}
    # kcore boundary: a 3-level pendant path peels in exactly 3 rounds —
    # max_rounds=4 converges, max_rounds=2 raises
    edges = [(i, i % 6 + 1) for i in range(1, 7)] + [
        (1, 10), (10, 11), (11, 12)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.id, r.degree) for r in kcore(df, k=2, max_rounds=4).collect()}
    assert got == {(i, 2) for i in range(1, 7)}
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore(df, k=2, max_rounds=2).collect()


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for x in list(parent):
        root = find(x)
        comp[x] = root
    # normalize root to the min id of each component
    mins = {}
    for x, r in comp.items():
        mins[r] = min(mins.get(r, x), x)
    return {x: mins[r] for x, r in comp.items()}


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_matches_union_find(spark, distributed, edges):
    for session in (spark, distributed):
        pairs = session.createDataFrame(edges, "id_a long, id_b long")
        got = {r.id: r.cluster_id for r in connected_components(pairs).collect()}
        assert got == _union_find(edges)


def test_driver_finish_keeps_types_and_schema(spark, distributed):
    """The driver finish returns the distributed loop's schema: string
    ids stay strings, an empty pair set gives an empty frame, and the
    nullability matches."""
    cases = [
        ([("a", "b"), ("c", "b"), ("x", "y")], "id_a string, id_b string"),
        ([(1, 2), (2, 3)], "id_a int, id_b int"),
        ([], "id_a long, id_b long"),
    ]
    for rows, schema in cases:
        local = connected_components(spark.createDataFrame(rows, schema))
        planned = connected_components(distributed.createDataFrame(rows, schema))
        assert on_driver(local) and not on_driver(planned)
        assert local.schema == planned.schema
        assert sorted(local.collect()) == sorted(planned.collect())
    strings = _collect(connected_components(spark.createDataFrame(*cases[0])))
    assert strings == {
        "a": ("a", True), "b": ("a", False), "c": ("a", False),
        "x": ("x", True), "y": ("x", False),
    }
    # non-null ids from a range stay non-nullable
    from pyspark.sql import functions as F

    ranged = spark.range(3).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    planned = distributed.range(3).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    local, planned = connected_components(ranged), connected_components(planned)
    assert on_driver(local) and not on_driver(planned)
    assert local.schema == planned.schema
    assert not any(f.nullable for f in local.schema.fields)
    assert sorted(local.collect()) == sorted(planned.collect())


def test_apply_dedup_clusters_end_to_end(spark):
    from pyspark.sql import functions as F

    from bdq_spark.operators import apply_dedup_clusters
    from bdq_spark.operators.dedup import ngram_jaccard_pairs
    from bdq_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    clusters = connected_components(pairs)
    kept = apply_dedup_clusters(docs, clusters)

    n_docs = docs.count()
    n_non_keepers = clusters.filter(~F.col("is_keeper")).count()
    assert clusters.count() > 0  # planted near-dups exist even at sf0.001
    assert kept.count() == n_docs - n_non_keepers
    # every cluster still has exactly its keeper present
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    for r in clusters.collect():
        assert (r.id in kept_ids) == r.is_keeper


def _ref_pagerank(edges, iterations=3, d=0.85):
    """Independent dict-based power iteration (Page et al.), dangling
    mass redistributed uniformly."""
    edges = sorted(set(edges))
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    out = {}
    for u, _ in edges:
        out[u] = out.get(u, 0) + 1
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        dangling = sum(r[v] for v in nodes if v not in out)
        contrib = {v: 0.0 for v in nodes}
        for u, v in edges:
            contrib[v] += r[u] / out[u]
        r = {
            v: (1 - d) / n + d * (contrib[v] + dangling / n)
            for v in nodes
        }
    return r


def test_pagerank_matches_reference(spark):
    from bdq_spark.operators.components import pagerank

    # directed graph WITH a dangling node (4 has no out-edges) and an
    # authority hub (everything points at 3)
    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (5, 3), (5, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.rank for r in pagerank(df, iterations=4).collect()}
    ref = _ref_pagerank(edges, iterations=4)
    assert set(got) == set(ref)
    for v in ref:
        assert abs(got[v] - ref[v]) < 1e-12, v
    # rank mass is conserved (teleport + dangling redistribution)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # ordering agrees with the reference (3 feeds everything to 4, so
    # the dangling sink 4 actually tops the in-degree hub 3)
    assert max(got, key=got.get) == max(ref, key=ref.get)


def test_pagerank_symmetric_graph_uniform(spark):
    from bdq_spark.operators.components import pagerank

    # a symmetric cycle is regular: PageRank must be exactly uniform
    cyc = [(i, (i + 1) % 5) for i in range(5)]
    cyc += [(v, u) for u, v in cyc]
    df = spark.createDataFrame(cyc, "src long, dst long")
    got = [r.rank for r in pagerank(df, iterations=6).collect()]
    assert all(abs(v - 0.2) < 1e-12 for v in got)


def test_pagerank_quantized_tracks_float(spark):
    from bdq_spark.operators.components import pagerank, pagerank_quantized

    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (5, 3), (5, 1), (4, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    S = 10**12
    q = {r.id: r.rank_q for r in
         pagerank_quantized(df, iterations=4, scale=S).collect()}
    f = {r.id: r.rank for r in pagerank(df, iterations=4).collect()}
    assert set(q) == set(f)
    for v in f:
        # quantization error is bounded by ~iterations+1 units of 1/S
        assert abs(q[v] / S - f[v]) < 6 / S, v
    # integer determinism: a second run is bit-identical
    q2 = {r.id: r.rank_q for r in
          pagerank_quantized(df, iterations=4, scale=S).collect()}
    assert q == q2


def _ref_triangles(edges):
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({v for e in und for v in e})
    adj = {v: set() for v in nodes}
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    count = {v: 0 for v in nodes}
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            if b not in adj[a]:
                continue
            for c in nodes:
                if c > b and c in adj[a] and c in adj[b]:
                    count[a] += 1
                    count[b] += 1
                    count[c] += 1
    return count


def test_triangle_counts_goldens(spark):
    from bdq_spark.operators.components import triangle_counts

    # K4: 4 triangles, every vertex in 3; plus a dangling chain (0)
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
          (4, 5), (5, 6)]
    df = spark.createDataFrame(k4, "src long, dst long")
    got = {r.id: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0, 6: 0}
    # duplicate + reversed + self-loop edges are normalized away
    noisy = k4 + [(2, 1), (1, 1), (3, 2)]
    got2 = {r.id: r.n_triangles
            for r in triangle_counts(
                spark.createDataFrame(noisy, "src long, dst long")
            ).collect()}
    assert got2 == got


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=1,
        max_size=50,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_triangle_counts_match_bruteforce(spark, edges):
    from bdq_spark.operators.components import triangle_counts

    und = [e for e in edges if e[0] != e[1]]
    if not und:
        return
    df = spark.createDataFrame(und, "src long, dst long")
    got = {r.id: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == _ref_triangles(und)


def test_triangle_counts_huge_ids(spark):
    """Orientation must stay a total order for ids beyond 2^32 — a
    packed deg*2^32+id key silently breaks there."""
    from bdq_spark.operators.components import triangle_counts

    big = 1 << 40
    k4 = [(big + 1, big + 2), (big + 1, 3), (big + 1, big + 4),
          (big + 2, 3), (big + 2, big + 4), (3, big + 4)]
    df = spark.createDataFrame(k4, "src long, dst long")
    got = {r.id: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == {big + 1: 3, big + 2: 3, 3: 3, big + 4: 3}


# ---------------------------------------------------------------------------
# kcore — iterative peeling
# ---------------------------------------------------------------------------


def test_kcore_cycle_plus_tree_cascade(spark):
    """A 6-cycle with a 3-level path hanging off node 1: the path peels
    one level per round (a real cascade), the cycle is the 2-core."""
    from bdq_spark.operators.components import kcore

    edges = [(i, i % 6 + 1) for i in range(1, 7)]  # cycle 1..6
    edges += [(1, 10), (10, 11), (11, 12)]  # path needing 3 peel rounds
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.id, r.degree) for r in kcore(df, k=2).collect()}
    assert got == {(i, 2) for i in range(1, 7)}


def test_kcore_python_reference(spark):
    """Random sparse graph vs a plain-Python peel."""
    import random

    from bdq_spark.operators.components import kcore

    rng = random.Random(11)
    edges = {(rng.randrange(40), rng.randrange(40)) for _ in range(90)}
    edges = [(a, b) for a, b in edges if a != b]
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    k = 3
    cur = {n: set(v) for n, v in adj.items()}
    while True:
        bad = [n for n, v in cur.items() if len(v) < k]
        if not bad:
            break
        for n in bad:
            for m in cur[n]:
                if m in cur:
                    cur[m].discard(n)
            del cur[n]
    want = {(n, len(v)) for n, v in cur.items()}
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.id, r.degree) for r in kcore(df, k=3).collect()}
    assert got == want


def test_kcore_raises_on_nonconvergence_and_bad_k(spark):
    import pytest as _p

    from bdq_spark.operators.components import kcore

    # a 50-node path peels from both ends: 25 rounds > max_rounds=3
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "src long, dst long"
    )
    with _p.raises(RuntimeError, match="did not converge"):
        kcore(path, k=2, max_rounds=3).collect()
    with _p.raises(ValueError):
        kcore(path, k=0)


# ---------------------------------------------------------------------------
# co-partitioned shuffle path (graphs past the broadcast cutover)
# ---------------------------------------------------------------------------


def _rand_graph(seed, n_nodes=60, n_edges=140):
    import random

    rng = random.Random(seed)
    return list(
        {
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        }
    )


def test_shuffle_path_parity_all_ops(spark, monkeypatch):
    """``GRAPH_BROADCAST_MAX_NODES = 0`` forces the co-partitioned shuffle
    path of PageRank and kcore; results must match the broadcast path
    exactly (exact-integer ops) or to float round-off (pagerank).  CC's
    two paths, the driver finish and the distributed loop (broadcasts
    off), must agree too, and the AQE conf must be restored afterward."""
    from bdq_spark.operators import components
    from bdq_spark.operators.components import (
        connected_components,
        kcore,
        pagerank,
        pagerank_quantized,
    )

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    edges = [(a, b) for a, b in _rand_graph(7) if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    pairs = df.toDF("id_a", "id_b")

    # two CC paths: the driver finish (input under the broadcast
    # threshold) and the distributed loop (broadcasts off)
    from bdq_spark.session import private_session

    no_broadcast = private_session(
        spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    )
    cc_d = connected_components(pairs)
    cc_l = connected_components(no_broadcast.createDataFrame(edges, "id_a long, id_b long"))
    assert on_driver(cc_d) and not on_driver(cc_l)
    cc_d, cc_l = (
        {(r.id, r.cluster_id, r.is_keeper) for r in cc.collect()}
        for cc in (cc_d, cc_l)
    )
    assert cc_l == cc_d

    prq_b = {
        (r.id, r.rank_q) for r in pagerank_quantized(df).collect()
    }
    pr_b = {r.id: r.rank for r in pagerank(df).collect()}
    kc_b = {(r.id, r.degree) for r in kcore(df, k=3).collect()}

    monkeypatch.setattr(components, "GRAPH_BROADCAST_MAX_NODES", 0)

    prq_s = {
        (r.id, r.rank_q) for r in pagerank_quantized(df).collect()
    }
    assert prq_s == prq_b

    pr_s = {r.id: r.rank for r in pagerank(df).collect()}
    assert set(pr_s) == set(pr_b)
    assert all(abs(pr_s[i] - pr_b[i]) < 1e-9 for i in pr_b)

    # kcore's broadcast-mirror round vs the shuffled-fallback round
    kc_s = {(r.id, r.degree) for r in kcore(df, k=3).collect()}
    assert kc_s == kc_b

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_keyed_checkpoint_elides_round_exchanges(spark):
    """The mechanism the shuffle path rests on: in an AQE-off private
    session a ``_keyed_checkpoint``-ed relation keeps its
    HashPartitioning through the LogicalRDD, so the pagerank round shape
    (edge join on src -> per-dst sum -> rank-update join on id) plans
    with exactly ONE exchange — the aggregate.  If a Spark upgrade stops
    preserving partitioning through localCheckpoint, this fails
    loudly."""
    from pyspark.sql import functions as F

    from bdq_spark.operators.components import _AQE_OFF, _keyed_checkpoint
    from bdq_spark.session import private_session, rebind

    loop = private_session(
        spark, {**_AQE_OFF, "spark.sql.autoBroadcastJoinThreshold": "-1"}
    )
    assert loop.conf.get("spark.sql.adaptive.enabled") == "false"
    e = spark.range(2000).select(
        (F.col("id") % 97).alias("src"), (F.col("id") % 89).alias("dst")
    )
    r = spark.range(97).select(F.col("id"), F.lit(1.0).alias("rank"))
    ep = _keyed_checkpoint(rebind(e, loop), "src")
    rp = _keyed_checkpoint(rebind(r, loop), "id")
    contrib = (
        ep.join(rp, ep.src == rp.id)
        .groupBy("dst")
        .agg(F.sum("rank").alias("c"))
    )
    nodes = rp.select("id")
    ranks = nodes.join(
        contrib, nodes.id == contrib.dst, "left"
    ).select("id", F.coalesce("c", F.lit(0.0)).alias("rank"))
    plan = ranks._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"


def test_loop_round_plans_one_exchange_at_data_width(distributed, monkeypatch):
    """Above the driver cap CC runs one co-partitioned loop: every
    round's plan has exactly one exchange (the neighbor-min aggregate)
    and no broadcast, and the labels are checkpointed at
    ``min(session width, ceil(2 * n_pairs / 50_000))`` partitions."""
    from pyspark.sql import functions as F

    from bdq_spark.plans.plan_lint import checkpoint_partitions

    n_pairs = 30_000
    pairs = distributed.range(n_pairs).select(
        (F.col("id") * 2).alias("id_a"), (F.col("id") * 2 + 1).alias("id_b")
    )
    plans = []
    checkpoint = type(pairs).localCheckpoint

    def spy(self, *args, **kwargs):
        if "__changed" in self.columns:
            plans.append(self._jdf.queryExecution().executedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(type(pairs), "localCheckpoint", spy)
    cc = connected_components(pairs)
    assert not on_driver(cc) and cc.count() == 2 * n_pairs
    assert plans
    for plan in plans:
        assert plan.count("Exchange") == 1, plan
        assert "BroadcastExchange" not in plan, plan
    width = int(distributed.conf.get("spark.sql.shuffle.partitions"))
    assert checkpoint_partitions(cc) == min(width, -(-2 * n_pairs // 50_000))


def test_aqe_disabled_restores_on_exception(spark, monkeypatch):
    """A graph operator that raises inside its AQE-off loop (here a
    convergence bound past the cutover: a 6-node path needs >1 round)
    leaves the caller's session with AQE on."""
    import pytest as _p

    from bdq_spark.operators import components, connected_components

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    monkeypatch.setattr(components, "GRAPH_BROADCAST_MAX_NODES", 0)
    with _p.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iterations=1)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_loops_leave_caller_session_conf_untouched(
    spark, distributed, monkeypatch
):
    """The hand-scheduled loops (CC, kcore on both regimes, BPE) plan
    on a private session: a thread polling the CALLER's session while
    they run never sees AQE off or a pinned shuffle width, and a frame
    planned on the caller mid-loop is still adaptive — what a parallel
    ``SparkPipeline`` step on the same session sees.  Results come back
    as frames of the caller's session.  The caller has broadcasts off,
    so CC runs its planned loop rather than the driver finish."""
    import threading

    from bdq_spark.operators import components
    from bdq_spark.operators.components import kcore
    from bdq_spark.operators.tokenizer import train_bpe

    spark = distributed
    aqe_key = "spark.sql.adaptive.enabled"
    width_key = "spark.sql.shuffle.partitions"
    expected = (spark.conf.get(aqe_key), spark.conf.get(width_key))
    assert expected[0] == "true"
    seen, adaptive = set(), set()
    stop = threading.Event()

    def poll():
        probe = spark.range(100).groupBy("id").count()
        while not stop.is_set():
            seen.add((spark.conf.get(aqe_key), spark.conf.get(width_key)))
            plan = probe._jdf.queryExecution().executedPlan().toString()
            adaptive.add(plan.startswith("AdaptiveSparkPlan"))

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)] + [(20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    edges = pairs.selectExpr("id_a as src", "id_b as dst").unionByName(
        spark.createDataFrame([(0, 2), (1, 3)], "src long, dst long")
    )
    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat with the hat") for i in range(20)],
        "doc_id long, text string",
    )
    poller = threading.Thread(target=poll, daemon=True)
    poller.start()
    try:
        outs = [connected_components(pairs), kcore(edges, k=2)]
        with monkeypatch.context() as m:
            m.setattr(components, "GRAPH_BROADCAST_MAX_NODES", 0)
            outs.append(kcore(edges, k=2))
        outs.append(train_bpe(docs, n_merges=8)[1])
    finally:
        stop.set()
        poller.join(timeout=60)
    assert not poller.is_alive()
    assert seen == {expected}, seen
    assert adaptive == {True}
    assert all(o.sparkSession is spark for o in outs)
    assert not on_driver(outs[0])
    # results compose with caller-session frames
    names = spark.createDataFrame([(1, "a"), (20, "b")], "id long, nm string")
    assert outs[0].join(names, "id").count() == 2


def test_concurrent_pipeline_step_stays_adaptive(distributed):
    """Two steps of one ``SparkPipeline`` run at once on the same
    session.  One runs connected components on pairs above the
    broadcast threshold (the session has broadcasts off), so the
    private-session loop runs; every frame the other step plans
    meanwhile is still adaptive."""
    import threading
    import time

    from bdq_spark.plans import SparkPipeline

    spark = distributed
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)] + [(20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    started, done = threading.Event(), threading.Event()
    got: dict = {}
    ppn = SparkPipeline("session_isolation", spark=spark)

    @ppn.step_python()
    def graph(step):
        started.set()
        try:
            got["cc"] = connected_components(pairs)
            return got["cc"].count()
        finally:
            done.set()

    @ppn.step_python()
    def probe(step):
        assert started.wait(30)
        plans = []
        while True:
            df = spark.range(100).groupBy("id").count()
            plans.append(
                df._jdf.queryExecution().executedPlan()
                .getClass().getSimpleName()
            )
            if done.is_set():
                break
            time.sleep(0.02)
        return {"n": len(plans), "kinds": set(plans)}

    t0 = time.monotonic()
    ppn()
    assert time.monotonic() - t0 < 10
    assert not on_driver(got["cc"]) and graph.result == [12]
    assert probe.result[0]["n"] > 1
    assert probe.result[0]["kinds"] == {"AdaptiveSparkPlanExec"}


def test_cluster_relation_keeps_size_statistics(spark):
    """A relation crossing into a loop's private session and back keeps
    its size statistics, so the dedup anti-join against a small cluster
    relation still plans as a broadcast.  A rebind through ``toRdd``
    reports ``sizeInBytes = Long.MaxValue`` and plans a sort-merge
    join."""
    from bdq_spark.operators import apply_dedup_clusters
    from bdq_spark.operators.components import _AQE_OFF
    from bdq_spark.session import private_session, rebind

    docs = spark.range(1000).withColumnRenamed("id", "doc_id")
    # a local relation: its size statistic is exact
    clusters = spark.sql(
        "SELECT * FROM VALUES (1L, 1L, true), (2L, 1L, false), "
        "(3L, 1L, false), (10L, 10L, true), (11L, 10L, false) "
        "AS t(id, cluster_id, is_keeper)"
    )
    crossed = rebind(rebind(clusters, private_session(spark, _AQE_OFF)), spark)

    def size(df):
        return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()

    assert size(crossed) == size(clusters) < 10_000
    kept = apply_dedup_clusters(docs, crossed)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert kept.count() == 997

    # the real connected_components output of a small graph carries
    # exact size statistics too, so the anti-join broadcasts it
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    labels = connected_components(pairs)
    assert size(labels) < 10_000
    kept = apply_dedup_clusters(docs, labels)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert kept.count() == 997


def test_data_checkpoint_stores_serialized_blocks(spark):
    """Pin the second-decade fix's mechanism: data_checkpoint persists
    with a SERIALIZED level (deserialized=False), unlike the default
    localCheckpoint (MEMORY_AND_DISK_DESER)."""
    from pyspark.sql import functions as F

    from bdq_spark.operators._checkpoint import data_checkpoint

    df = data_checkpoint(
        spark.range(10_000).select(
            F.col("id").alias("src"), (F.col("id") % 97).alias("dst")
        )
    )
    assert df.count() == 10_000
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    levels = {
        (i.storageLevel().useMemory(), i.storageLevel().deserialized())
        for i in infos
        if i.numCachedPartitions() > 0
    }
    # at least one live cached RDD is memory+serialized (ours); the
    # default-deserialized level may coexist from other fixtures
    assert (True, False) in levels, levels


def test_shuffle_partitions_auto_fallback(spark):
    """ADVICE r10: platforms with AQE auto-optimized shuffle report
    spark.sql.shuffle.partitions as the string 'auto' — the graph
    operators must fall back to defaultParallelism, not ValueError."""
    from bdq_spark.operators.components import _shuffle_partitions

    assert _shuffle_partitions(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )

    # OSS Spark validates the conf as an int at set-time, so the
    # non-numeric value can't be injected through a real session —
    # stub the read the way the managed platform would report it
    class _Conf:
        def get(self, key):
            return "auto"

    class _Stub:
        conf = _Conf()
        sparkContext = spark.sparkContext

    assert (
        _shuffle_partitions(_Stub())
        == spark.sparkContext.defaultParallelism
    )


def test_small_graph_checkpoints_not_pinned_wide(spark, distributed):
    """VERDICT r10 item 1: a graph that cannot cross the broadcast
    cutover must NOT have its checkpoints pinned at the session shuffle
    partition count — the r10 fused setup did, scheduling 32 near-empty
    tasks in every per-round job (embedding_dedup_clusters 5.6 s ->
    12.1 s at sf0.1).  Pin the fix through the same lens the audit now
    records: max LogicalRDD partition count of the result plan.  CC
    runs on ``distributed`` so it takes its planned loop."""
    from bdq_spark.operators import connected_components, pagerank
    from bdq_spark.operators.components import pagerank_quantized
    from bdq_spark.plans.plan_lint import checkpoint_partitions

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert n_part >= 2, "test needs >1 shuffle partition to detect a pin"
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], "id_a long, id_b long"
    )
    cc = connected_components(distributed.createDataFrame(pairs.collect()))
    assert not on_driver(cc)
    assert cc.count() == 40
    assert 0 < checkpoint_partitions(cc) < n_part

    edges = pairs.selectExpr("id_a as src", "id_b as dst")
    pr = pagerank(edges, iterations=2)
    assert pr.count() == 40
    assert checkpoint_partitions(pr) < n_part
    prq = pagerank_quantized(edges, iterations=2)
    assert prq.count() == 40
    assert checkpoint_partitions(prq) < n_part


def test_depin_small_edges_keeps_cutover_capable_graphs(spark, monkeypatch):
    """_depin_small_edges must only coalesce when the graph PROVABLY
    cannot cross the node cutover; a cutover-capable edge relation keeps
    its keyed pin (partitioning reuse is the whole point there)."""
    from pyspark.sql import functions as F

    from bdq_spark.operators import components
    from bdq_spark.operators.components import (
        _AQE_OFF,
        _depin_small_edges,
        _keyed_checkpoint,
    )
    from bdq_spark.session import private_session, rebind

    e = _keyed_checkpoint(
        rebind(
            spark.range(2_000).select(
                F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
            ),
            private_session(spark, _AQE_OFF),
        ),
        "src",
    )
    n_before = e.rdd.getNumPartitions()
    # tiny vs its cutover: coalesced below the pin
    assert _depin_small_edges(e).rdd.getNumPartitions() < n_before
    # cutover-capable (2 * 2000 > 1000): pin kept, same object
    monkeypatch.setattr(components, "GRAPH_BROADCAST_MAX_NODES", 1_000)
    assert _depin_small_edges(e) is e
