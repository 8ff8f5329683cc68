"""Property-based tests (hypothesis) — cross-checking operators against
independent pure-Python references on randomized inputs."""

import hashlib
import json
from datetime import datetime, timezone

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from conftest import on_driver

from bdq_spark.functions import NULL_STR_REPR, surrogate_key_hash, surrogate_key_string
from bdq_spark.schema import dict_compare

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

text_values = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
        max_size=24,
    ),
)


@given(
    rows=st.lists(
        st.tuples(st.integers(-(2**31), 2**31 - 1), text_values, text_values),
        min_size=1,
        max_size=8,
    ),
    rtrim=st.booleans(),
    upper=st.booleans(),
)
@settings(**SETTINGS)
def test_surrogate_key_matches_python_reference(spark, rows, rtrim, upper):
    """The 160-bit surrogate hash must equal a from-scratch Python
    implementation of the contract for arbitrary inputs."""
    df = spark.createDataFrame(rows, "a:long, b:string, c:string")
    got = df.select(
        surrogate_key_string(["a", "b", "c"], rtrim=rtrim, upper=upper).alias("s"),
        surrogate_key_hash(["a", "b", "c"], rtrim=rtrim).alias("h"),
    ).collect()

    def render(v, do_upper):
        if v is None:
            return NULL_STR_REPR
        s = str(v)
        if do_upper:
            s = s.upper()
        if rtrim:
            s = s.rstrip(" ")  # Spark rtrim strips SPACES only, not \r\n\t
        return s

    for (a, b, c), row in zip(rows, got):
        # string rendering: [x, y, z] via Spark's array->string cast
        parts_u = [render(a, upper), render(b, upper), render(c, upper)]
        assert row.s == "[" + ", ".join(parts_u) + "]"
        # hash contract: sha224 of the upper=True rendering, first 40 hex
        parts_h = [render(a, True), render(b, True), render(c, True)]
        expected = hashlib.sha224(
            ("[" + ", ".join(parts_h) + "]").encode("utf-8")
        ).hexdigest()[:40]
        assert bytes(row.h).hex() == expected


@given(
    d1=st.dictionaries(st.text(max_size=6), st.integers(0, 5), max_size=6),
    d2=st.dictionaries(st.text(max_size=6), st.integers(0, 5), max_size=6),
)
@settings(max_examples=50, deadline=None)
def test_dict_compare_properties(d1, d2):
    res = dict_compare(d1, d2)
    # partition property: every key of either dict lands in exactly one bucket
    buckets = [
        set(res["added"]),
        set(res["removed"]),
        set(res["changed"]),
        set(res["not_changed"]),
    ]
    all_keys = set(d1) | set(d2)
    assert set().union(*buckets) == all_keys
    for i, x in enumerate(buckets):
        for y in buckets[i + 1:]:
            assert not (x & y)
    # direction quirk: added comes from d1, removed from d2
    assert res["added"] == set(d1) - set(d2)
    assert res["removed"] == set(d2) - set(d1)
    # symmetry: swapping inputs swaps added/removed and before/after
    rev = dict_compare(d2, d1)
    assert rev["added"] == res["removed"]
    assert {k: (v["after"], v["before"]) for k, v in rev["changed"].items()} == {
        k: (v["before"], v["after"]) for k, v in res["changed"].items()
    }


def _python_jaccard(texts, n, threshold):
    """Pure-Python word n-gram set Jaccard: ``{(i, j): J}`` for every
    pair ``i < j`` that shares a shingle and whose ``J`` rounded to 6
    decimals reaches ``threshold``.  Words are lowercased alphanumeric
    runs; a document of fewer than ``n`` words is one shingle."""

    def shingles(text):
        words = [w for w in "".join(
            ch if ch.isalnum() else " " for ch in text.lower()
        ).split() if w]
        if len(words) < n:
            return {" ".join(words)} if words else set()
        return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}

    sets = [shingles(t) for t in texts]
    out = {}
    for i, a in enumerate(sets):
        for j in range(i + 1, len(sets)):
            inter = len(a & sets[j])
            if inter:
                jaccard = inter / (len(a) + len(sets[j]) - inter)
                if round(jaccard, 6) >= threshold:
                    out[(i, j)] = jaccard
    return out


def _assert_matches_python_jaccard(pairs, texts, n, threshold):
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    expected = _python_jaccard(texts, n, threshold)
    assert got.keys() == expected.keys()
    assert all(abs(got[p] - expected[p]) < 1e-6 for p in got)


@given(
    docs=st.lists(
        st.text(alphabet="ab cd", min_size=0, max_size=40), min_size=2, max_size=6
    )
)
@settings(**SETTINGS)
def test_jaccard_matches_python_reference(spark, docs):
    from bdq_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id:long, text:string")
    pairs = ngram_jaccard_pairs(df, n=2, threshold=0.0)
    _assert_matches_python_jaccard(pairs, docs, n=2, threshold=0.0)


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"]),
            min_size=0,
            max_size=8,
        ),
        min_size=2,
        max_size=7,
    ),
    threshold=st.sampled_from([0.2, 0.35, 0.5, 0.65, 0.8, 0.95]),
)
# one shingle each, and J exactly at the threshold (2 of 4 shingles)
@example(docs=[["alpha"], ["alpha"]], threshold=0.2)
@example(docs=[["alpha", "beta", "gamma", "delta"], ["alpha", "beta", "gamma", "eps"]],
         threshold=0.5)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_prefix_filter_lossless(spark, distributed, docs, threshold):
    """Prefix + positional + length filtering must be LOSSLESS: both
    paths of the filtered candidate pipeline — the numpy replay on the
    driver (``spark``) and the distributed joins (``distributed``,
    broadcasts off) — return exactly the pure-Python set-Jaccard pairs
    for arbitrary corpora and thresholds.  A tiny shared vocabulary
    maximizes shingle overlap, stressing the epsilon bounds in the
    prefix-length and PPJoin-alpha arithmetic (the hand-reasoned 1e-9
    terms this test pins down)."""
    from bdq_spark.operators.dedup import ngram_jaccard_pairs

    texts = [" ".join(words) for words in docs]
    for session in (spark, distributed):
        df = session.createDataFrame(
            list(enumerate(texts)), "doc_id:long, text:string"
        )
        pairs = ngram_jaccard_pairs(
            df, n=2, threshold=threshold, max_shingle_doc_freq=None
        )
        assert on_driver(pairs) == (session is spark)
        _assert_matches_python_jaccard(pairs, texts, n=2, threshold=threshold)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 3), st.integers(-5, 5)),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_latest_records_matches_python_reference(spark, rows):
    from bdq_spark.operators import get_latest_records

    df = spark.createDataFrame(rows, "k:int, v:int, x:int")
    got = {
        (r.k): (r.v, r.x)
        for r in get_latest_records(df, ["k"], ["v", "x"]).collect()
    }
    expected = {}
    for k, v, x in rows:
        if k not in expected or (v, x) > expected[k]:
            expected[k] = (v, x)
    assert got == expected


@given(
    values=st.lists(st.integers(-100, 100), min_size=1, max_size=40),
    bound=st.integers(-50, 50),
)
@settings(**SETTINGS)
def test_check_rules_counts_match_python(spark, values, bound):
    from bdq_spark.operators.rules import Rule, check_rules

    df = spark.createDataFrame([(v,) for v in values], "v:int")
    res = check_rules(df, [Rule("le_bound", f"v <= {bound}")])
    expected_bad = sum(1 for v in values if not (v <= bound))
    assert res["record_count"] == len(values)
    assert res["violations"]["le_bound"] == expected_bad
    assert res["failed_records"] == expected_bad


def test_statestore_json_roundtrip_property():
    from bdq_spark.plans.statestore import PersistedStateStoreBase as P

    @given(
        st.recursive(
            st.one_of(
                st.none(),
                st.booleans(),
                st.integers(-(2**53), 2**53),
                st.text(max_size=12),
                st.datetimes(
                    min_value=datetime(1970, 1, 1), max_value=datetime(2100, 1, 1)
                ),
            ),
            lambda inner: st.one_of(
                st.lists(inner, max_size=4),
                st.dictionaries(st.text(max_size=6), inner, max_size=4),
            ),
            max_leaves=12,
        )
    )
    @settings(max_examples=60, deadline=None)
    def roundtrip(obj):
        assert P._from_json(P._to_json(obj)) == obj

    roundtrip()


@given(
    rows1=st.lists(
        st.tuples(st.integers(0, 6), st.one_of(st.none(), st.integers(0, 3)),
                  st.one_of(st.none(), st.sampled_from("abc"))),
        max_size=10, unique_by=lambda r: r[0],
    ),
    rows2=st.lists(
        st.tuples(st.integers(0, 6), st.one_of(st.none(), st.integers(0, 3)),
                  st.one_of(st.none(), st.sampled_from("abc"))),
        max_size=10, unique_by=lambda r: r[0],
    ),
)
@settings(**SETTINGS)
def test_compare_dataframes_matches_python_reference(spark, rows1, rows2):
    from bdq_spark.operators import compare_dataframes

    ddl = "k:int, v:int, w:string"
    df1 = spark.createDataFrame(rows1, ddl)
    df2 = spark.createDataFrame(rows2, ddl)
    res = compare_dataframes(df1, df2, ["k"])

    m1 = {r[0]: (r[1], r[2]) for r in rows1}
    m2 = {r[0]: (r[1], r[2]) for r in rows2}
    exp_added = set(m2) - set(m1)
    exp_removed = set(m1) - set(m2)
    shared = set(m1) & set(m2)
    exp_changed = {k for k in shared if m1[k] != m2[k]}
    exp_not_changed = shared - exp_changed

    assert res["added_count"] == len(exp_added)
    assert res["removed_count"] == len(exp_removed)
    assert res["changed_count"] == len(exp_changed)
    assert res["not_changed_count"] == len(exp_not_changed)
    assert {r.k for r in res["added"].collect()} == exp_added
    assert {r.k for r in res["removed"].collect()} == exp_removed
    changed_rows = {r.k: r.changed for r in res["changed"].collect()}
    assert set(changed_rows) == exp_changed
    for k, cmap in changed_rows.items():
        expected_cols = {c for c, (a, b) in zip(
            ("v", "w"), zip(m1[k], m2[k])) if a != b}
        assert set(cmap.keys()) == expected_cols
        for c in cmap:
            before, after = cmap[c].before, cmap[c].after
            i = 0 if c == "v" else 1
            assert before == (None if m1[k][i] is None else str(m1[k][i]))
            assert after == (None if m2[k][i] is None else str(m2[k][i]))


@given(
    docs=st.lists(st.text(alphabet="xy z", min_size=0, max_size=30),
                  min_size=1, max_size=5)
)
@settings(**SETTINGS)
def test_minhash_signature_invariants(spark, docs):
    from bdq_spark.operators.dedup import minhash_signatures

    rows = [(i, t) for i, t in enumerate(docs)] + [(100 + i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id:long, text:string")
    sigs = {r.id: tuple(r.sig) for r in minhash_signatures(df, num_hashes=16).collect()}
    for i, t in enumerate(docs):
        has_words = any(w for w in t.replace("z", " ").split())
        if i in sigs:
            # identical text => identical signature, regardless of id
            assert sigs[i] == sigs[100 + i]
            assert len(sigs[i]) == 16


@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)),  # (key, time)
        min_size=1, max_size=20,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(0, 999)),
        min_size=0, max_size=20,
    ),
    direction=st.sampled_from(["backward", "forward"]),
)
@settings(**SETTINGS)
def test_asof_join_matches_python_reference(spark, left, right, direction):
    """asof_join == a brute-force per-row scan for arbitrary key/time
    multisets, both directions, including ties and empty right sides.
    Ties on (key, time) in the right side resolve to SOME tied row's
    payload, so compare matched times, not payloads."""
    from bdq_spark.operators import asof_join

    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "lid long, k long, t long"
    )
    rdf = spark.createDataFrame(
        [(k, t, v) for (k, t, v) in right], "k long, rt long, v long"
    )
    got = {
        r.lid: r.rt
        for r in asof_join(
            ldf, rdf, on=["k"], left_time="t", right_time="rt",
            direction=direction,
        ).collect()
    }

    for i, (k, t) in enumerate(left):
        if direction == "backward":
            cand = [rt for (rk, rt, _) in right if rk == k and rt <= t]
            want = max(cand) if cand else None
        else:
            cand = [rt for (rk, rt, _) in right if rk == k and rt >= t]
            want = min(cand) if cand else None
        assert got[i] == want, (i, k, t, direction)


@given(
    points=st.lists(st.integers(-50, 50), min_size=1, max_size=25),
    intervals=st.lists(
        st.tuples(st.integers(-50, 50), st.integers(-20, 20)),  # (lo, width)
        min_size=0, max_size=15,
    ),
    band_width=st.sampled_from([1.0, 7.5, 40.0]),
)
@settings(**SETTINGS)
def test_range_join_matches_python_reference(spark, points, intervals, band_width):
    """Banded range_join == brute-force BETWEEN for arbitrary points and
    intervals (including empty, negative-bound, and width-0 intervals)
    at several band widths."""
    from bdq_spark.operators import range_join

    pdf = spark.createDataFrame(
        [(i, float(p)) for i, p in enumerate(points)], "pid long, p double"
    )
    idf = spark.createDataFrame(
        [(j, float(lo), float(lo + w)) for j, (lo, w) in enumerate(intervals)],
        "iid long, lo double, hi double",
    )
    got = {
        (r.pid, r.iid)
        for r in range_join(
            pdf, idf, "p", "lo", "hi", band_width=band_width
        ).select("pid", "iid").collect()
    }
    want = {
        (i, j)
        for i, p in enumerate(points)
        for j, (lo, w) in enumerate(intervals)
        if w >= 0 and lo <= p <= lo + w
    }
    assert got == want


@given(
    tokens=st.lists(st.integers(0, 600), min_size=1, max_size=40),
    budget=st.sampled_from([128, 500, 601]),
    n_shards=st.sampled_from([1, 4]),
)
@settings(**SETTINGS)
def test_pack_documents_invariants(spark, tokens, budget, n_shards):
    """For arbitrary token distributions: exact coverage, no
    non-oversize pack exceeds the budget, oversize docs are isolated,
    and sharded FFD never beats the global token-sum lower bound."""
    from pyspark.sql import functions as F

    from bdq_spark.operators import pack_documents

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(tokens)], "doc_id long, n_tokens long"
    )
    out = pack_documents(df, "n_tokens", budget, "doc_id", n_shards=n_shards)
    rows = out.collect()
    assert sorted(r.doc_id for r in rows) == list(range(len(tokens)))
    by_pack = {}
    for r in rows:
        by_pack.setdefault(r.pack_id, []).append(r)
    for members in by_pack.values():
        if any(m.oversize for m in members):
            assert len(members) == 1
        else:
            assert sum(m.n_tokens for m in members) <= budget
    fits = [t for t in tokens if t <= budget]
    n_normal_packs = len(
        {r.pack_id for r in rows if not r.oversize}
    )
    if fits:
        lower = -(-sum(fits) // budget)
        assert n_normal_packs >= lower


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab \t\n"), min_size=0, max_size=60
        ),
        min_size=1,
        max_size=8,
    ),
    max_tokens=st.sampled_from([1, 3, 7]),
    overlap_frac=st.sampled_from([0.0, 0.5]),
)
@settings(**SETTINGS)
def test_chunk_documents_invariants(spark, texts, max_tokens, overlap_frac):
    """For arbitrary whitespace-y texts: every chunk respects the token
    budget, n_chunk_tokens is honest, chunk 0 starts at token 0,
    consecutive chunks overlap by exactly `overlap` tokens, and with
    overlap=0 the chunks partition the token stream exactly."""
    from bdq_spark.operators.corpus import chunk_documents

    overlap = int(max_tokens * overlap_frac)
    stride = max_tokens - overlap
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id:long, text:string")
    out = chunk_documents(df, max_tokens=max_tokens, overlap=overlap).collect()

    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, t in rows:
        toks = [w for w in t.split() if w]
        chunks = sorted(by_doc.get(i, []), key=lambda r: r.chunk_idx)
        if not toks:
            assert chunks == []
            continue
        assert chunks, f"doc {i} with {len(toks)} tokens produced no chunks"
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        for c in chunks:
            got = c.chunk_text.split()
            assert len(got) == c.n_chunk_tokens <= max_tokens
            start = c.chunk_idx * stride
            assert got == toks[start : start + max_tokens]
        # full coverage: the last chunk reaches the final token
        last = chunks[-1]
        assert last.chunk_idx * stride + last.n_chunk_tokens == len(toks)
        if overlap == 0:
            rebuilt = [w for c in chunks for w in c.chunk_text.split()]
            assert rebuilt == toks


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "  Alpha ", ""]),
            min_size=0,
            max_size=5,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**SETTINGS)
def test_paragraph_dedup_matches_python_reference(spark, docs):
    """paragraph_dedup vs a direct first-occurrence-wins simulation."""
    from bdq_spark.operators.dedup import paragraph_dedup

    rows = [(i, "\n".join(ps)) for i, ps in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in paragraph_dedup(df).collect()}

    seen = set()
    for i, (_, text) in enumerate(rows):
        paras = [p for p in __import__("re").split(r"\n+", text) if p != ""]
        kept = []
        for p in paras:
            fp = p.strip().lower()
            if fp not in seen:
                seen.add(fp)
                kept.append(p)
        if not paras:
            assert i not in got  # no non-empty paragraphs -> no row
            continue
        r = got[i]
        assert r.n_paragraphs == len(paras)
        assert r.n_kept == len(kept)
        assert r.n_removed == len(paras) - len(kept)
        assert r.clean_text == "\n".join(kept)


@given(
    base=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 100)),
        max_size=10,
        unique_by=lambda r: r[0],
    ),
    changes=st.lists(
        st.tuples(
            st.integers(0, 8),                      # key
            st.integers(0, 100),                    # value
            st.sampled_from(["I", "U", "D"]),       # op
            st.integers(0, 5),                      # version
        ),
        max_size=12,
        # two non-delete ops on the same (key, version) would have an
        # arbitrary winner (the operator only orders by version +
        # delete-wins) — allow at most one upsert and one delete per
        # (key, version)
        unique_by=lambda r: (r[0], r[3], r[2] == "D"),
    ),
)
@settings(**SETTINGS)
def test_apply_cdc_matches_python_reference(spark, base, changes):
    from bdq_spark.operators.cdc import apply_cdc

    base_df = spark.createDataFrame(
        base or [(99, 1)], "k long, v long"
    )
    if not base:
        base_df = base_df.filter("k < 0")
    ch_df = spark.createDataFrame(
        changes or [(99, 1, "U", 0)], "k long, v long, op string, ver long"
    )
    if not changes:
        ch_df = ch_df.filter("k < 0")
    got = sorted(
        (r.k, r.v)
        for r in apply_cdc(base_df, ch_df, ["k"], ["ver"]).collect()
    )

    # reference: latest change per key (max ver; delete wins ver ties)
    snap = dict(base)
    latest = {}
    for k, v, op, ver in changes:
        cur = latest.get(k)
        rank = (ver, 1 if op == "D" else 0)
        if cur is None or rank > (cur[0], 1 if cur[2] == "D" else 0):
            latest[k] = (ver, v, op)
    for k, (_ver, v, op) in latest.items():
        if op == "D":
            snap.pop(k, None)
        else:
            snap[k] = v
    assert got == sorted(snap.items())


@given(
    n_vecs=st.integers(min_value=2, max_value=24),
    dim=st.integers(min_value=2, max_value=12),
    num_planes=st.integers(min_value=1, max_value=8),
    num_tables=st.integers(min_value=1, max_value=4),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_multitable_lsh_decomposition_property(
    spark, n_vecs, dim, num_planes, num_tables, seed
):
    """Structural invariants of OR-ed multi-table bucketing, for
    arbitrary geometry (r12): (a) exactly one row per (vector, table);
    (b) every bucket id decomposes as (table << num_planes) | local
    with local < 2^num_planes and table < num_tables; (c) table 0's
    local buckets equal the single-table bucketing bit-for-bit (the
    bare-seed back-compat contract); (d) a matmul-free Python replay
    of the sha256 hyperplane recipe reproduces every bucket — the
    numpy path introduces no hash drift."""
    import numpy as np

    from bdq_spark.operators.similarity import (
        _hyperplanes,
        _table_seed,
        lsh_bucket_vectors,
    )

    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n_vecs, dim))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n_vecs)],
        "vec_id long, embedding array<double>",
    )
    rows = lsh_bucket_vectors(
        df, num_planes=num_planes, dim=dim, num_tables=num_tables
    ).collect()

    assert len(rows) == n_vecs * num_tables  # (a)
    seen = {}
    for r in rows:
        table, local = r.bucket >> num_planes, r.bucket & ((1 << num_planes) - 1)
        assert 0 <= table < num_tables and 0 <= local < (1 << num_planes)
        assert (r.id, table) not in seen  # one row per (vector, table)
        seen[(r.id, table)] = local

    single = {
        r.id: r.bucket
        for r in lsh_bucket_vectors(
            df, num_planes=num_planes, dim=dim
        ).collect()
    }
    assert {i: seen[(i, 0)] for i in single} == single  # (c)

    # (d) pure-Python sign replay of every table
    for t in range(num_tables):
        planes = _hyperplanes(num_planes, dim, _table_seed("bdq_lsh", t))
        for i in range(n_vecs):
            expect = 0
            for p in range(num_planes):
                if sum(planes[p][j] * vecs[i][j] for j in range(dim)) >= 0:
                    expect |= 1 << p
            assert seen[(i, t)] == expect
