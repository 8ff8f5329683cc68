"""Text analysis + dedup operator tests on synthetic and driver data."""

import pytest
from conftest import on_driver
from pyspark.sql import functions as F

from bdq_spark.functions.text import (
    doc_fingerprint,
    language_id,
    normalize_text,
    quality_score,
    token_count,
    word_tokens,
)
from bdq_spark.operators.dedup import (
    embedding_cosine_pairs,
    exact_dedup,
    fingerprint_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    shingle,
    simhash,
    simhash_pairs,
)
from bdq_spark.operators.text_analysis import filter_by_quality, profile_documents


#: a realistic-length document: a one-word change in it flips few
#: SimHash bits (short docs have marginal votes on every bit)
_LONG_DOC = (
    "data pipelines at scale require careful partitioning of every join "
    "and aggregation because shuffles dominate the cost of wide "
    "transformations while narrow maps stream freely through the "
    "executors and the optimizer prunes columns predicates and "
    "partitions wherever the plan allows it to do so"
)


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog and the cat"),
        (2, "The quick brown fox jumps over the lazy dog and the cat"),  # dup of 1
        (3, "the  QUICK brown   fox jumps over the lazy dog and the cat"),  # norm-dup
        (4, "The quick brown fox jumps over the lazy dog and the rat"),  # near-dup
        (5, "El perro come en la casa y el gato es un animal que vive"),
        (6, "Der Hund ist ein Tier und die Katze ist nicht ein Hund"),
        (7, "Le chat est dans les maisons et une souris est pour le chien"),
        (8, "这是一个中文文档的例子 其中包含很多汉字"),
        (9, "completely different words entirely unrelated content here"),
        (10, ""),
    ]
    return spark.createDataFrame(rows, "doc_id:long, text:string")


def test_normalize_and_tokens(spark):
    df = spark.createDataFrame([("  Hello   WORLD  x ",)], "t:string")
    got = df.select(
        normalize_text("t").alias("n"),
        token_count("t").alias("c"),
        word_tokens("t").alias("w"),
    ).first()
    assert got.n == "hello world x"
    assert got.c == 3
    assert got.w == ["hello", "world", "x"]
    empty = spark.createDataFrame([("",), ("   ",)], "t:string")
    assert [r.c for r in empty.select(token_count("t").alias("c")).collect()] == [0, 0]


def test_language_id(spark, docs):
    got = {r.doc_id: r.lang for r in docs.select(
        "doc_id", language_id("text").alias("lang")).collect()}
    assert got[1] == "en"
    assert got[5] == "es"
    assert got[6] == "de"
    assert got[7] == "fr"
    assert got[8] == "zh"


def test_language_id_on_driver_documents(spark):
    # NOTE: the driver testdata's `lang` column is synthetic noise — every
    # document is the same English-ish word salad regardless of label, so
    # label accuracy is not a meaningful target.  The operator should
    # deterministically classify them all as English.
    df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    langs = df.select(language_id("text").alias("l")).distinct().collect()
    assert {r.l for r in langs} == {"en"}


def test_quality_score_ordering(spark):
    df = spark.createDataFrame(
        [
            ("good", "This is a reasonably long document with many normal words "
                     "and the usual structure of a sentence for the reader."),
            ("junk", "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"),
            ("empty", ""),
        ],
        "name:string, text:string",
    )
    got = {r.name: r.q for r in df.select(
        "name", quality_score("text").alias("q")).collect()}
    assert got["good"] > got["junk"] > got["empty"]
    assert got["good"] > 0.5
    assert got["empty"] == 0.0


def test_profile_documents_shape(spark, docs):
    out = profile_documents(docs)
    assert set(out.columns) >= {
        "doc_id", "text", "n_chars_computed", "n_tokens", "punct_cnt",
        "punct_pct", "stop_ratio", "lang_pred", "quality", "fingerprint",
    }
    assert out.count() == 10
    assert filter_by_quality(docs, 0.4).count() < 10


def test_exact_dedup_and_fingerprint(spark, docs):
    # full-row duplicates: 1 and 2 have identical text; dedup by text
    kept = exact_dedup(docs, ["text"], tiebreaker_columns=["doc_id"])
    ids = {r.doc_id for r in kept.collect()}
    assert 1 in ids and 2 not in ids  # deterministic min-id winner

    # fingerprint dedup also collapses 3 (case/whitespace variant)
    fps = fingerprint_dedup(docs)
    by_keeper = {r.keeper_id: r.dup_count for r in fps.collect()}
    assert by_keeper[1] == 3  # docs 1, 2, 3 share a normalized fingerprint
    assert fps.count() == 8  # 10 docs -> 8 distinct contents


def test_shingles_and_jaccard_near_dup(spark, docs):
    sh = shingle(docs, n=3)
    assert sh.filter(F.col("id") == 10).count() == 0  # empty doc drops out

    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    pairset = {(r.id_a, r.id_b) for r in pairs}
    # exact dups (1,2) and normalized dup (1,3),(2,3) at J=1.0;
    # near-dup 4 (one word changed) above 0.5 against each of 1,2,3
    assert (1, 2) in pairset and (1, 3) in pairset and (2, 3) in pairset
    assert (1, 4) in pairset
    jac = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert jac[(1, 2)] == 1.0
    assert 0.5 <= jac[(1, 4)] < 1.0
    # unrelated docs never pair
    assert not any(9 in p or 5 in p for p in pairset)


def test_jaccard_boilerplate_shingle_cap(spark):
    """A corpus-wide boilerplate line must not detonate the candidate
    join: short boilerplate-dominated docs put the hot shingles inside
    their prefixes (a short doc's prefix IS most of its shingle set), so
    without the doc-freq cap the prefix join goes quadratic in the
    cluster.  With the cap, candidates stay bounded and the qualifying
    pair set is unchanged (scores are computed on the FULL shingle set,
    and sub-threshold boilerplate pairs were never results)."""
    from bdq_spark.operators.dedup import _prefix_candidates

    boiler = (
        "this software is provided as is without warranty of any kind "
        "express or implied"
    )
    # 120 short docs = boilerplate + one unique word: pairwise J ~ 0.75
    # (similar but below threshold), every boiler trigram has df=120
    rows = [(i, f"{boiler} unique{i} extra{i}") for i in range(120)]
    plant = (
        "resilient distributed datasets underpin the execution model where "
        "stages exchange shuffle files between executors and the scheduler "
        "assigns tasks by data locality preferences across the cluster "
        "while the optimizer rewrites logical plans into physical ones "
        "choosing join strategies partition counts and exchange placement "
        "based on statistics collected from previous stages of the job"
    )
    rows += [(300, plant), (301, plant.replace("scheduler", "coordinator"))]
    df = spark.createDataFrame(rows, "doc_id:long, text:string")

    # capped and default-capped runs both find exactly the planted pair
    for cap in (20, "auto"):
        got = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_pairs(
                df, threshold=0.8, max_shingle_doc_freq=cap
            ).collect()
        }
        assert got == {(300, 301)}

    # candidate-count bound, above-threshold cluster: with only ONE
    # unique word per doc the cluster's pairwise J is 0.857 >= 0.8, so
    # the uncapped join emits the full quadratic pair set (the 10^12
    # shape at corpus scale) while the cap keeps candidates bounded —
    # the same capped-recall contract as the MinHash bucket cap
    hot = spark.createDataFrame(
        [(i, f"{boiler} unique{i}") for i in range(120)]
        + [(300, plant), (301, plant.replace("scheduler", "coordinator"))],
        "doc_id:long, text:string",
    )
    sh = shingle(hot, "text", "doc_id", 3).select(
        "id", F.xxhash64("shingle").alias("shingle")
    )
    capped_n = _prefix_candidates(sh, 0.8, max_shingle_doc_freq=20).count()
    uncapped_n = _prefix_candidates(sh, 0.8, max_shingle_doc_freq=None).count()
    assert capped_n <= 10
    assert uncapped_n >= 120 * 119 // 2
    # the planted pair still surfaces under the cap (found via its own
    # rare shingles), cluster pairs are skipped whole
    capped_pairs = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            hot, threshold=0.8, max_shingle_doc_freq=20
        ).collect()
    }
    assert capped_pairs == {(300, 301)}


def _jaccard_both_paths(df, distributed, **kwargs):
    """``ngram_jaccard_pairs`` on ``df`` (small: the driver finish) and
    on ``df`` rebound to ``distributed`` (broadcasts off: the planned
    joins); both must give the same schema and rows."""
    from bdq_spark.session import rebind

    local = ngram_jaccard_pairs(df, **kwargs)
    planned = ngram_jaccard_pairs(rebind(df, distributed), **kwargs)
    assert on_driver(local) and not on_driver(planned)
    assert local.schema == planned.schema
    got = sorted(local.collect())
    assert got == sorted(planned.collect())
    return got


def test_jaccard_driver_finish_equals_distributed(spark, distributed, docs):
    """The prefix-filtered Jaccard finish on the driver returns the
    distributed path's rows: on the docs fixture, with long, int and
    string ids, and on the boilerplate corpus at each doc-frequency
    cap (20 and "auto" skip the hot cluster, None emits it whole)."""
    got = _jaccard_both_paths(docs, distributed, n=3, threshold=0.5)
    assert {(r.id_a, r.id_b) for r in got} >= {(1, 2), (1, 3), (1, 4)}
    for id_type in ("int", "string"):
        cast = docs.withColumn("doc_id", F.col("doc_id").cast(id_type))
        assert len(_jaccard_both_paths(cast, distributed, threshold=0.5)) == len(got)

    boiler = (
        "this software is provided as is without warranty of any kind "
        "express or implied"
    )
    plant = _LONG_DOC + " " + _LONG_DOC.replace("data", "record")
    hot = spark.createDataFrame(
        [(i, f"{boiler} unique{i}") for i in range(60)]
        + [(300, plant), (301, plant.replace("careful", "diligent"))],
        "doc_id:long, text:string",
    )
    for cap, n_pairs in ((20, 1), ("auto", 60 * 59 // 2 + 1), (None, 60 * 59 // 2 + 1)):
        pairs = _jaccard_both_paths(
            hot, distributed, threshold=0.8, max_shingle_doc_freq=cap
        )
        assert len(pairs) == n_pairs and (300, 301) in {(r.id_a, r.id_b) for r in pairs}


def test_jaccard_paths_agree_on_hashed_shingle_sets(spark, distributed):
    """Both Jaccard paths over hand-built hashed ``(id, shingle)`` sets
    (the relation ``ngram_jaccard_pairs`` deduplicates after hashing)
    return the same rows with every score at most 1, among them the
    dense 30-id x 12-hash set whose duplicate rows once drove a score
    to 7.25."""
    import random

    from bdq_spark.operators.dedup import (
        _driver_prefix_pairs,
        _jaccard_for_pairs,
        _prefix_candidates,
        _rounded_jaccard,
    )
    from bdq_spark.session import rebind

    # the doc-frequency cap keeps some shingles of each relation
    for n_hashes, doc_freq_cap in ((40, 8), (12, 25)):
        rng = random.Random(7)
        rows = {(rng.randrange(30), rng.randrange(n_hashes)) for _ in range(300)}
        sh = spark.createDataFrame(sorted(rows), "id long, shingle long")
        planned_sh = rebind(sh, distributed)
        for threshold, cap in ((0.2, None), (0.3, doc_freq_cap), (0.0, None)):
            local = _driver_prefix_pairs(sh, threshold, cap)
            planned = _jaccard_for_pairs(
                _prefix_candidates(planned_sh, threshold, cap), planned_sh
            )
            got = sorted(local.select("id_a", "id_b", _rounded_jaccard()).collect())
            assert got and got == sorted(planned.collect())
            assert all(r.jaccard <= 1 for r in got)


def test_jaccard_driver_finish_schedules_fewer_jobs(spark, distributed, docs):
    """Job count of the whole call plus its collect, a counter that does
    not move with host load: the driver finish schedules fewer jobs
    than the forced-distributed joins."""
    from bdq_spark.plans.plan_lint import count_jobs
    from bdq_spark.session import rebind

    with count_jobs(spark) as small:
        ngram_jaccard_pairs(docs, threshold=0.5).collect()
    with count_jobs(spark) as planned:
        ngram_jaccard_pairs(rebind(docs, distributed), threshold=0.5).collect()
    assert small["jobs"] < planned["jobs"]


def test_minhash_lsh_finds_near_dups(spark, docs):
    cands = minhash_lsh_candidates(docs, n=3, num_hashes=64, bands=16)
    got = {(r.id_a, r.id_b): r.est_jaccard for r in cands.collect()}
    assert got[(1, 2)] == 1.0  # identical docs always collide
    assert (1, 3) in got
    assert (1, 4) in got  # near-dup collides in some band w.h.p.
    assert all(not (9 in k) for k in got)  # unrelated never collides

    verified = minhash_lsh_candidates(
        docs, n=3, num_hashes=64, bands=16, verify_threshold=0.9
    )
    vp = {(r.id_a, r.id_b) for r in verified.collect()}
    assert (1, 2) in vp and (1, 4) not in vp  # exact-verify drops the near-dup


# Documents 188 and 390 of the seeded benchmark corpus
# (perfbench/inputs.py ``documents``, seed 1030176022, 400 docs): three
# substituted words apart, word 3-gram Jaccard 0.92.
_NEAR_TWIN = (
    "be gzhn of with of that the have have of and tncf qpin have to have "
    "have of have and the to nbil mdu adzpp be eyj with have with that {0} "
    "and to mfqnj fneekyb to of jtw that and ebzgnda and the of be be qpin "
    "the and tbfkfl be uomsxkm be with to and that with and with mlww yqj "
    "the and the xdjehkq nery that\n"
    "be of of of tgu and and dymdmok dropyhtk with with with fzjkcikm with "
    "with with of the be jscfkyy hwwjo tbpe that with krippbie of and of be "
    "to zqbvxv the with the qpin that and mfqnj qpin wlyhlus with be that "
    "with mfqnj and have of be the be ryiuw have be qpin klrpxq that vdwlgjm "
    "with the that have have to sufaitxs uuf the {1} have\n"
    "of qpin be that of to that of be {2} have have to ied be that to gwq "
    "adzpp the the be of ajar vdwlgjm the and ljwjdph be wogun kzwk have "
    "qpin be the vzslktu ousdzzs have rjpip of be of be have to the that "
    "and the to that wogun to to eect have to the adzpp be that be have "
    "the to jivljyt hchwdqc\n"
    "terms of use and privacy policy apply"
)


@pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
def test_minhash_signature_agreement_tracks_jaccard(spark, hash_fn):
    """The fraction of equal MinHash positions estimates Jaccard only if
    the hash functions are independent.  With coefficients in arithmetic
    progression (``h_i = u + i v mod p``) this pair agreed on 7 of 64
    positions under xxhash64 and missed every LSH band; independent
    draws put it at the expected ~59."""
    from bdq_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame(
        [
            (188, _NEAR_TWIN.format("of", "and", "of")),
            (390, _NEAR_TWIN.format("aifwqc", "mmkzg", "sdbvgwgi")),
        ],
        "doc_id long, text string",
    )
    (jaccard,) = [
        r.jaccard
        for r in ngram_jaccard_pairs(df, n=3, threshold=0.0).collect()
    ]
    assert jaccard >= 0.9
    sig = {
        r.id: r.sig
        for r in minhash_signatures(df, n=3, hash_fn=hash_fn).collect()
    }
    agree = sum(a == b for a, b in zip(sig[188], sig[390]))
    assert agree >= 48, f"{agree}/64 positions agree at Jaccard {jaccard}"


def test_simhash_pairs(spark, docs):
    sigs = {r.id: r.simhash for r in simhash(docs).collect()}
    assert sigs[1] == sigs[2]  # identical text, identical fingerprint
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(
        docs, max_hamming=6).collect()}
    assert pairs[(1, 2)] == 0
    assert all(not (9 in k or 8 in k) for k in pairs)

    long_docs = spark.createDataFrame(
        [
            (21, _LONG_DOC),
            (22, _LONG_DOC.replace("optimizer", "planner")),
            (23, _LONG_DOC),
        ],
        "doc_id:long, text:string",
    )
    lp = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(
        long_docs, max_hamming=6).collect()}
    assert lp[(21, 23)] == 0
    assert (21, 22) in lp and 0 < lp[(21, 22)] <= 6


def test_simhash_matches_python_vote(spark, docs):
    """Value check of the ``simhash_fingerprints`` and ``simhash_pairs``
    entries, which DuckDB cannot replay (it has no xxhash64).  Each
    token's hash comes from Spark's built-in ``xxhash64``, the engine
    primitive; the tokenizing, the +-1 vote per bit, the fingerprint
    packing and the Hamming pair set are recomputed here in Python."""
    import re
    from itertools import combinations

    df = docs.unionByName(spark.createDataFrame(
        [(21, _LONG_DOC), (22, _LONG_DOC.replace("optimizer", "planner"))],
        "doc_id:long, text:string",
    ))
    tokens = {
        r.doc_id: [w for w in re.split("[^a-z0-9]+", r.text.lower()) if w]
        for r in df.collect()
    }
    vocab = sorted({w for ws in tokens.values() for w in ws})
    token_hash = dict(
        spark.createDataFrame([(w,) for w in vocab], "tok string")
        .select("tok", F.xxhash64("tok"))
        .collect()
    )
    want = {}
    for doc_id, words in tokens.items():
        if not words:  # no token, no vote: the doc gets no fingerprint
            continue
        fp = 0
        for bit in range(64):
            vote = sum(1 if token_hash[w] >> bit & 1 else -1 for w in words)
            if vote > 0:
                fp |= 1 << bit
        want[doc_id] = fp - (1 << 64) if fp >> 63 else fp  # signed long
    assert {r.id: r.simhash for r in simhash(df).collect()} == want

    hamming = {
        (a, b): bin((want[a] ^ want[b]) & ((1 << 64) - 1)).count("1")
        for a, b in combinations(sorted(want), 2)
    }
    want_pairs = {k: h for k, h in hamming.items() if h <= 4}
    # the set holds exact copies and a one-word edit, and leaves pairs out
    assert 0 in want_pairs.values() and max(want_pairs.values()) > 0
    assert len(want_pairs) < len(hamming)
    got_pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(df, max_hamming=4).collect()
    }
    assert got_pairs == want_pairs


def test_simhash_pairs_validation(spark, docs):
    with pytest.raises(ValueError, match="num_blocks"):
        simhash_pairs(docs, max_hamming=4, num_blocks=4)
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_pairs(docs, max_hamming=64)


def test_simhash_pairs_hot_bucket_cap(spark):
    """A mass-duplicate cluster (one fingerprint shared by many docs)
    must not prevent finding a planted near-dup pair elsewhere when
    max_bucket_size caps hot join keys."""
    spam = "buy cheap widgets now " * 15
    rows = [(i, spam) for i in range(50)]           # hot: identical simhash
    near_dup = _LONG_DOC.replace("optimizer", "planner")
    rows += [(100, _LONG_DOC), (101, near_dup)]
    df = spark.createDataFrame(rows, "doc_id:long, text:string")

    capped = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(
        df, max_hamming=6, max_bucket_size=10).collect()}
    # the spam cluster's keys (occupancy 50) are all dropped...
    assert not any(a < 100 for a, _ in capped)
    # ...but the planted pair, whose keys have occupancy 2, survives
    assert (100, 101) in capped and 0 < capped[(100, 101)] <= 6

    # uncapped finds the full quadratic spam pair set plus the plant
    full = {(r.id_a, r.id_b) for r in simhash_pairs(
        df, max_hamming=6).collect()}
    assert (100, 101) in full
    assert sum(1 for a, b in full if a < 100 and b < 100) == 50 * 49 // 2


def test_minhash_lsh_hot_bucket_cap(spark):
    """Mass-duplicate cluster: identical docs share every band key, so an
    uncapped band self-join is quadratic in the cluster.  With the cap
    the cluster's buckets are skipped whole while a planted near-dup
    pair (bucket occupancy 2) still surfaces."""
    spam = "buy cheap widgets now from our discount warehouse today " * 5
    rows = [(i, spam) for i in range(1000)]  # hot: identical signatures
    near_dup = _LONG_DOC.replace("optimizer", "planner")
    rows += [(2000, _LONG_DOC), (2001, near_dup)]
    df = spark.createDataFrame(rows, "doc_id:long, text:string")

    capped = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(df, max_bucket_size=10).collect()
    }
    # every spam bucket has occupancy 1000 > 10 -> skipped whole
    assert not any(a < 2000 for a, _ in capped)
    # the planted near-dup pair survives through its own small buckets
    assert (2000, 2001) in capped

    # uncapped on a 30-doc slice of the cluster: full quadratic pair set
    # (1000 docs uncapped would emit ~8M join rows -- the blowup the cap
    # exists to prevent; 30 keeps the contrast assertion fast)
    small = spark.createDataFrame(
        [(i, spam) for i in range(30)] + rows[-2:],
        "doc_id:long, text:string",
    )
    full = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(small).collect()
    }
    assert (2000, 2001) in full
    assert sum(1 for a, b in full if a < 2000 and b < 2000) == 30 * 29 // 2


def test_incremental_minhash_near_dup(spark):
    """Batch-vs-persisted-index candidates: a batch doc near-duplicate
    of a corpus doc surfaces as a 'corpus' match, batch-internal dups as
    'batch' pairs, and unrelated docs stay silent."""
    from bdq_spark.operators.dedup import (
        incremental_minhash_near_dup,
        minhash_band_index,
    )

    base = (
        "spark jobs shuffle data between stages whenever a wide "
        "dependency like a join or aggregation needs rows co located "
        "by key and the optimizer decides broadcast is not possible"
    )
    other = (
        "completely unrelated subject matter involving gardens flowers "
        "bees and the gentle art of pruning fruit trees in autumn"
    )
    corpus = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id:long, text:string"
    )
    index = minhash_band_index(corpus)

    batch = spark.createDataFrame(
        [
            (100, base.replace("optimizer", "planner")),  # near-dup of 1
            (101, base.replace("optimizer", "planner")),  # dup of 100
            (102, "something entirely new about submarine navigation"),
        ],
        "doc_id:long, text:string",
    )
    got = {
        (r.id_a, r.id_b, r.match_side)
        for r in incremental_minhash_near_dup(index, batch).collect()
    }
    assert (100, 1, "corpus") in got
    assert (101, 1, "corpus") in got
    assert (100, 101, "batch") in got
    assert not any(a == 102 or b == 102 for a, b, _ in got)
    # index never saw doc 2's pairing partner: no spurious corpus match
    assert not any(b == 2 for _, b, _ in got)


def test_incremental_minhash_replay_keeps_batch(spark):
    """At-least-once replay: if a batch's own index rows were already
    appended before a retry, the retried batch must NOT match itself —
    exact self-pairs are filtered, so unique docs survive the rerun."""
    from bdq_spark.operators.dedup import (
        incremental_minhash_near_dup,
        minhash_band_index,
    )

    batch = spark.createDataFrame(
        [
            (100, "a perfectly unique document about tidal energy and "
                  "the engineering of underwater turbine farms"),
            (101, "another unique document describing the migration "
                  "patterns of arctic terns across two hemispheres"),
        ],
        "doc_id:long, text:string",
    )
    # simulate the failed-after-append retry: the index already holds
    # exactly this batch's band rows
    index = minhash_band_index(batch)
    got = incremental_minhash_near_dup(index, batch).collect()
    assert got == []  # no self-pairs -> nothing flagged -> batch kept


def test_minhash_index_parquet_roundtrip(spark, tmp_path):
    """The band index survives a parquet write/read and still probes —
    the actual deployment shape (build once, persist, probe batches)."""
    from bdq_spark.operators.dedup import (
        incremental_minhash_near_dup,
        minhash_band_index,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill and the birds sing outside"
    )
    corpus = spark.createDataFrame(
        [(1, base), (2, "unrelated text about metallurgy and forges")],
        "doc_id:long, text:string",
    )
    path = str(tmp_path / "mh_index")
    minhash_band_index(corpus).write.parquet(path)

    index = spark.read.parquet(path)
    batch = spark.createDataFrame(
        [(100, base.replace("birds", "bells"))], "doc_id:long, text:string"
    )
    got = {
        (r.id_a, r.id_b, r.match_side)
        for r in incremental_minhash_near_dup(index, batch).collect()
    }
    assert (100, 1, "corpus") in got
    assert not any(b == 2 for _, b, _ in got)


def test_minhash_index_build_time_cap(spark):
    """Corpus-side hot buckets dropped at build time: a 50-copy spam
    cluster stops matching future batches, a planted near-dup still
    does."""
    from bdq_spark.operators.dedup import (
        incremental_minhash_near_dup,
        minhash_band_index,
    )

    base = (
        "careful partitioning of joins and aggregations keeps shuffles "
        "small while broadcast joins avoid moving the large fact table"
    )
    spam = "limited offer click here now " * 6
    corpus = spark.createDataFrame(
        [(i, spam) for i in range(50)] + [(200, base)],
        "doc_id:long, text:string",
    )
    index = minhash_band_index(corpus, max_bucket_size=10)
    batch = spark.createDataFrame(
        [(300, spam), (301, base.replace("broadcast", "replicated"))],
        "doc_id:long, text:string",
    )
    got = {
        (r.id_a, r.id_b)
        for r in incremental_minhash_near_dup(index, batch).collect()
    }
    assert (301, 200) in got            # planted near-dup survives
    assert not any(a == 300 for a, _ in got)  # spam keys were dropped


def test_embedding_cosine_pairs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0]),   # ~parallel to 1
        (3, [0.0, 1.0, 0.0]),      # orthogonal
        (4, [1.0, 0.0, 0.0]),      # identical to 1
    ]
    df = spark.createDataFrame(rows, "vec_id:long, embedding:array<float>")
    pairs = {(r.id_a, r.id_b): r.cosine for r in embedding_cosine_pairs(
        df, threshold=0.95).collect()}
    assert pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs
    assert not any(3 in k for k in pairs)


def test_embedding_cosine_pairs_blocked_matches_single_block(spark, monkeypatch):
    """Forcing many sub-blocks (2 rows each) must produce exactly the
    same pairs as one block — the block grid covers every pair once."""
    import random

    from bdq_spark.operators import dedup

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    # plant near-dups across likely different hash blocks
    rows.append((100, rows[3][1]))
    rows.append((101, [v * 1.001 + 1e-4 for v in rows[17][1]]))
    df = spark.createDataFrame(rows, "vec_id:long, embedding:array<float>")

    monkeypatch.setattr(dedup, "_COSINE_BLOCK_ROWS", 1 << 20)
    one = {(r.id_a, r.id_b, r.cosine) for r in embedding_cosine_pairs(
        df, threshold=0.9, mode="exact").collect()}
    monkeypatch.setattr(dedup, "_COSINE_BLOCK_ROWS", 2)
    many = {(r.id_a, r.id_b, r.cosine) for r in embedding_cosine_pairs(
        df, threshold=0.9, mode="exact").collect()}
    assert one == many
    assert any(a == 3 and b == 100 for a, b, _ in one)
    assert any(a == 17 and b == 101 for a, b, _ in one)


def test_embedding_cosine_pairs_lsh_recall(spark):
    """LSH mode is approximate but must recover the bulk of exact
    high-threshold pairs on planted near-dup clusters (deterministic
    hyperplanes, fixed seed -> reproducible recall)."""
    import random

    rng = random.Random(11)
    rows = []
    vid = 0
    for _ in range(60):                      # 60 clusters of 3 near-dups
        center = [rng.gauss(0, 1) for _ in range(16)]
        for _ in range(3):
            rows.append(
                (vid, [v + rng.gauss(0, 0.01) for v in center])
            )
            vid += 1
    for _ in range(200):                     # background noise
        rows.append((vid, [rng.gauss(0, 1) for _ in range(16)]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id:long, embedding:array<float>")

    exact = {(r.id_a, r.id_b) for r in embedding_cosine_pairs(
        df, threshold=0.98, mode="exact").collect()}
    lsh = {(r.id_a, r.id_b) for r in embedding_cosine_pairs(
        df, threshold=0.98, mode="lsh", num_planes=8, n_probe=3).collect()}
    assert lsh <= exact                      # verify phase: no false positives
    assert len(exact) >= 100                 # planted pairs were found
    assert len(lsh) / len(exact) >= 0.6      # recall floor at n_probe=3


def test_embedding_cosine_pairs_string_ids(spark, monkeypatch):
    from bdq_spark.operators import dedup

    monkeypatch.setattr(dedup, "_COSINE_BLOCK_ROWS", 1)
    rows = [
        ("alpha", [1.0, 0.0]),
        ("beta", [1.0, 0.001]),
        ("gamma", [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "doc:string, embedding:array<float>")
    pairs = {(r.id_a, r.id_b) for r in embedding_cosine_pairs(
        df, id_column="doc", threshold=0.99, mode="exact"
    ).collect()}
    assert pairs == {("alpha", "beta")}


def test_bpe_ish_tokens(spark):
    from bdq_spark.functions.text import bpe_ish_token_count, bpe_ish_tokens

    df = spark.createDataFrame(
        [("Don't panic! It's 42.",), ("",), ("price: $19.99",)], "t:string"
    )
    rows = df.select(
        bpe_ish_tokens("t").alias("toks"), bpe_ish_token_count("t").alias("n")
    ).collect()
    assert rows[0].toks == ["don", "'t", " panic", "!", " it", "'s", " 42", "."]
    assert rows[0].n == 8
    assert rows[1].n == 0
    # BPE-ish counts punctuation/number tokens whitespace splitting merges
    assert rows[2].toks == ["price", ":", " $", "19", ".", "99"]


# ---------------------------------------------------------------------------
# repetition_stats
# ---------------------------------------------------------------------------

def test_repetition_stats_unigram_golden(spark):
    from bdq_spark.operators.text_analysis import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a a a b"),                # 4 unigrams, top 'a' x3
            (2, "x y z"),                  # all distinct
            (3, "w w w w w w w w"),        # fully degenerate
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_stats(df, n=1).collect()}
    assert out[1].n_grams == 4 and out[1].top_gram_count == 3
    assert out[1].top_gram_frac == 0.75 and out[1].distinct_gram_ratio == 0.5
    assert out[2].top_gram_frac == pytest.approx(1 / 3, abs=1e-6)
    assert out[2].distinct_gram_ratio == 1.0
    assert out[3].top_gram_frac == 1.0 and out[3].distinct_gram_ratio == 0.125


def test_repetition_stats_bigram_and_dropout(spark):
    from bdq_spark.operators.text_analysis import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "stop me stop me stop me"),  # bigrams: 5, 'stop me' x3
            (2, "hello"),                    # < n words: drops out
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(df, n=2).collect()}
    assert set(rows) == {1}
    assert rows[1].n_grams == 5 and rows[1].top_gram_count == 3
    assert rows[1].top_gram_frac == 0.6

    with pytest.raises(ValueError, match="n must be"):
        repetition_stats(df, n=0)


# ---------------------------------------------------------------------------
# incremental_fingerprint_dedup
# ---------------------------------------------------------------------------

def test_incremental_dedup_semantics(spark):
    from bdq_spark.operators.dedup import incremental_fingerprint_dedup

    corpus = spark.createDataFrame(
        [(1, "seen before"), (2, "also   SEEN  before")],  # normalizes differently
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "seen before"),          # exact corpus dup -> dropped
            (11, "Seen  BEFORE "),        # normalized corpus dup -> dropped
            (12, "brand new content"),    # new -> kept
            (13, "brand new content"),    # batch-internal dup -> min id kept
            (14, "other new content"),    # new -> kept
        ],
        "doc_id long, text string",
    )
    out = incremental_fingerprint_dedup(corpus, batch)
    assert sorted(r.doc_id for r in out.collect()) == [12, 14]
    assert out.columns == ["doc_id", "text"]

    # idempotent: re-running the surviving batch against corpus+batch
    grown = corpus.union(out)
    again = incremental_fingerprint_dedup(grown, batch)
    assert again.count() == 0


def test_incremental_dedup_stored_fingerprint_column(spark):
    """The corpus_fingerprint_column probe path (column-pruned scan of
    a pre-computed fingerprint — the per-trigger ingest shape) must
    decide exactly like the default re-hash path, including when the
    stored fingerprints were computed from differently-normalized
    source text."""
    from pyspark.sql import functions as F

    from bdq_spark.functions.text import doc_fingerprint
    from bdq_spark.operators.dedup import incremental_fingerprint_dedup

    corpus = spark.createDataFrame(
        [(1, "seen before"), (2, "also   SEEN  before")],
        "doc_id long, text string",
    ).withColumn("fingerprint", doc_fingerprint(F.col("text")))
    batch = spark.createDataFrame(
        [
            (10, "seen before"),
            (11, "Seen  BEFORE "),
            (12, "brand new content"),
            (13, "brand new content"),
            (14, "other new content"),
        ],
        "doc_id long, text string",
    )
    stored = incremental_fingerprint_dedup(
        corpus, batch, corpus_fingerprint_column="fingerprint"
    )
    rehash = incremental_fingerprint_dedup(corpus.drop("fingerprint"), batch)
    assert sorted(r.doc_id for r in stored.collect()) == [12, 14]
    assert sorted(r.doc_id for r in stored.collect()) == sorted(
        r.doc_id for r in rehash.collect()
    )
    # output carries the BATCH schema either way (the corpus's
    # fingerprint column never leaks into the survivors)
    assert stored.columns == ["doc_id", "text"]


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

def test_redact_pii_golden(spark):
    from bdq_spark.functions.text import pii_count, redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@sub.example.co.uk or call 5551234567"),
            (2, "server at 192.168.0.1 port 80; card 4111111111111111"),
            (3, "no pii here, just year 2024 and room 101"),
            (4, "a@b.io and 10.0.0.255 and 999999999"),
        ],
        "id long, text string",
    )
    out = {
        r.id: r
        for r in df.select(
            "id",
            redact_pii("text").alias("clean"),
            pii_count("text", "email").alias("n_email"),
            pii_count("text", "ipv4").alias("n_ip"),
            pii_count("text", "long_digits").alias("n_num"),
        ).collect()
    }
    assert out[1].clean == "mail me at [EMAIL] or call [LONG_DIGITS]"
    assert out[1].n_email == 1 and out[1].n_num == 1
    assert out[2].clean == "server at [IPV4] port 80; card [LONG_DIGITS]"
    assert out[3].clean == "no pii here, just year 2024 and room 101"
    assert (out[3].n_email, out[3].n_ip, out[3].n_num) == (0, 0, 0)
    assert out[4].clean == "[EMAIL] and [IPV4] and [LONG_DIGITS]"

    with pytest.raises(ValueError, match="unknown PII kind"):
        df.select(redact_pii("text", kinds=("ssn",)))


def test_unigram_logprob_score(spark):
    from bdq_spark.operators.text_analysis import unigram_logprob_score

    common = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, common) for i in range(20)]          # common-token docs
    rows.append((100, "zxqv wpfk jjqx mmvz kkrr"))   # rare-token noise doc
    rows.append((101, ""))                           # empty: no row
    df = spark.createDataFrame(rows, "doc_id:long, text:string")
    got = {r.doc_id: r for r in unigram_logprob_score(df).collect()}

    # empty doc emits nothing; everyone else scores
    assert 101 not in got and set(got) == set(range(20)) | {100}
    # docs made of corpus-common tokens outscore the rare-token doc
    assert all(got[i].lm_score > got[100].lm_score for i in range(20))
    # identical docs get identical scores; token counts are exact
    assert len({got[i].lm_score for i in range(20)}) == 1
    assert got[0].n_tokens == 12 and got[100].n_tokens == 5

    # score is a mean log-prob: strictly negative, sane magnitude
    assert -25 < got[100].lm_score < got[0].lm_score < 0


# ---------------------------------------------------------------------------
# Gopher quality rule set
# ---------------------------------------------------------------------------

def test_gopher_quality_rules(spark):
    from bdq_spark.operators.text_analysis import gopher_quality

    good = "the quick brown fox jumps to be of and that have with " * 8
    short = "too short to pass the gopher rules with that"
    bullets = "\n".join(f"- item {i} of the list to have and that be with" for i in range(10))
    ellipsis = "\n".join(f"the line {i} to be of and that have with trails off..." for i in range(10))
    symbols = ("the # tagged # text # to # be # of # and # that # have # with " * 10)
    no_stop = "lorem ipsum dolor sit amet consectetur adipiscing elit " * 10
    df = spark.createDataFrame(
        [(0, good), (1, short), (2, bullets), (3, ellipsis), (4, symbols), (5, no_stop)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in gopher_quality(df).collect()}
    assert rows[0].passes_gopher
    assert not rows[1].passes_gopher          # < 50 words
    assert rows[1].n_words < 50
    assert not rows[2].passes_gopher          # 100% bullet lines
    assert rows[2].frac_bullet_lines == 1.0
    assert not rows[3].passes_gopher          # 100% ellipsis-end lines
    assert rows[3].frac_ellipsis_lines == 1.0
    assert not rows[4].passes_gopher          # symbol ratio ~1 > 0.1
    assert rows[4].symbol_word_ratio > 0.1
    assert not rows[5].passes_gopher          # no Gopher stopwords
    assert rows[5].n_stopwords == 0


def test_gopher_quality_signal_values(spark):
    from bdq_spark.operators.text_analysis import gopher_quality

    df = spark.createDataFrame(
        [(0, "aa bbbb cc 123"), (1, "")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in gopher_quality(df).collect()}
    r = rows[0]
    assert r.n_words == 4
    assert r.mean_word_len == pytest.approx((2 + 4 + 2 + 3) / 4)
    assert r.frac_alpha_words == pytest.approx(0.75)  # "123" has no alpha
    z = rows[1]
    assert z.n_words == 0 and not z.passes_gopher


# ---------------------------------------------------------------------------
# paragraph-level dedup
# ---------------------------------------------------------------------------

def test_paragraph_dedup_first_occurrence_wins(spark):
    from bdq_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [
            (1, "intro one\nshared footer\nbody one"),
            (2, "intro two\nshared footer\nbody two"),
            (3, "shared footer"),                      # fully duplicate
            (4, "body one\nnew content"),              # dup from doc 1
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in paragraph_dedup(df).collect()}
    assert rows[1].clean_text == "intro one\nshared footer\nbody one"
    assert rows[1].n_removed == 0
    assert rows[2].clean_text == "intro two\nbody two"
    assert rows[2].n_removed == 1
    assert rows[3].clean_text == "" and rows[3].n_kept == 0
    assert rows[4].clean_text == "new content" and rows[4].n_removed == 1
    # totals: every input paragraph accounted for
    assert all(r.n_paragraphs == r.n_kept + r.n_removed for r in rows.values())


def test_paragraph_dedup_normalized_match_and_order(spark):
    from bdq_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [
            (1, "Alpha\n\n\nbeta"),             # blank runs collapse
            (2, "  ALPHA  \ngamma\nbeta"),      # ws/case-insensitive dup
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in paragraph_dedup(df).collect()}
    assert rows[1].clean_text == "Alpha\nbeta"
    # doc 2 keeps original order of survivors; dedup ignores case/trim
    assert rows[2].clean_text == "gamma"
    assert rows[2].n_removed == 2


def test_compression_ratio_matches_zlib(spark):
    import zlib

    from bdq_spark.operators.text_analysis import compression_ratio

    texts = [
        (0, "abab" * 500),                 # highly compressible
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, None),
        (3, ""),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    rows = {r.doc_id: r for r in compression_ratio(df).collect()}
    for i, t in texts:
        if t:
            b = t.encode()
            assert rows[i].raw_bytes == len(b)
            assert rows[i].compressed_bytes == len(zlib.compress(b, 6))
            assert rows[i].compression_ratio == pytest.approx(
                round(len(zlib.compress(b, 6)) / len(b), 6))
    assert rows[2].raw_bytes is None and rows[2].compression_ratio is None
    assert rows[3].raw_bytes == 0 and rows[3].compression_ratio is None
    # the repetitive doc compresses much harder than prose
    assert rows[0].compression_ratio < 0.1 < rows[1].compression_ratio


def test_duplicate_spans_planted(spark):
    from bdq_spark.operators.dedup import duplicate_spans

    shared = "the quick brown fox jumps over the lazy dog tonight"
    docs = [
        (0, f"alpha beta gamma {shared} delta epsilon"),
        (1, f"one two three four five six {shared} seven eight"),
        (2, "totally unique content with no repeats anywhere here at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r.doc_id: r for r in duplicate_spans(df, n=4).collect()}
    assert 2 not in rows                         # unique doc -> no spans
    # doc 0: shared passage starts after 3 lead words (10 shared tokens)
    assert rows[0].span_start == 3 and rows[0].span_n_tokens == 10
    # doc 1: starts after 6 lead words
    assert rows[1].span_start == 6 and rows[1].span_n_tokens == 10
    assert rows[0].max_dup_docs == 2 and rows[1].max_dup_docs == 2


def test_duplicate_spans_hash_keys_equivalent(spark):
    from bdq_spark.operators.dedup import duplicate_spans

    from bdq_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    raw = sorted(map(tuple, duplicate_spans(
        docs, n=6, hash_join_keys=False).collect()))
    hashed = sorted(map(tuple, duplicate_spans(
        docs, n=6, hash_join_keys=True).collect()))
    assert raw == hashed


def test_bigram_lm_score_order_sensitivity(spark):
    import math
    from collections import Counter

    from bdq_spark.operators.text_analysis import bigram_logprob_score

    normal = "the cat sat on the mat and the dog sat on the rug"
    scrambled = "mat the on dog sat rug the the and cat on sat the"
    df = spark.createDataFrame(
        [(0, normal), (1, scrambled), (2, "single")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in bigram_logprob_score(df).collect()}
    assert 2 not in rows                      # <2 tokens -> no row
    assert rows[0].n_bigrams == 12 and rows[1].n_bigrams == 12
    # same unigram profile, different order: the normal text's bigrams
    # repeat ("sat on", "the") so it must outscore the scramble
    assert rows[0].lm2_score > rows[1].lm2_score

    # exact reference on the tiny corpus
    toks = [t.split() for t in (normal, scrambled, "single")]
    uni = Counter(w for ts in toks for w in ts)
    big = Counter((a, b) for ts in toks for a, b in zip(ts, ts[1:]))
    V = len(uni)
    exp = sum(
        round(math.log((big[(a, b)] + 1.0) / (uni[a] + V)), 9)
        for a, b in zip(toks[0], toks[0][1:])
    ) / 12
    assert rows[0].lm2_score == pytest.approx(round(exp, 6), abs=2e-6)


def test_levenshtein_rescore(spark):
    from bdq_spark.operators.dedup import levenshtein_rescore

    docs = spark.createDataFrame(
        [(1, "kitten sat here"), (2, "sitting sat here"), (3, "")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (3, 3)], "id_a long, id_b long")
    rows = {(r.id_a, r.id_b): r for r in
            levenshtein_rescore(pairs, docs).collect()}
    r = rows[(1, 2)]
    assert r.edit_distance == 3  # kitten -> sitting
    assert r.edit_similarity == pytest.approx(round(1 - 3 / 16, 6))
    assert rows[(3, 3)].edit_similarity == 1.0  # empty-vs-empty
    capped = {(r.id_a, r.id_b): r for r in
              levenshtein_rescore(pairs, docs, max_distance=2).collect()}
    assert capped[(1, 2)].edit_distance == -1
    assert capped[(1, 2)].edit_similarity is None


def test_top_terms_tfidf(spark):
    import math

    from bdq_spark.operators.text_analysis import top_terms

    df = spark.createDataFrame(
        [
            (0, "common zebra zebra zebra common"),
            (1, "common yak yak"),
            (2, "common emu"),
        ],
        "doc_id long, text string",
    )
    rows = [(r.doc_id, r.rank, r.term, r.score)
            for r in top_terms(df, k=2).collect()]
    by_doc = {}
    for d, rk, t, s in rows:
        by_doc.setdefault(d, []).append((rk, t, s))
    # "common" appears in all 3 docs -> idf ln(4/4)=0 -> score 0; the
    # rare terms win rank 1
    assert by_doc[0][0][1] == "zebra"
    assert by_doc[1][0][1] == "yak"
    assert by_doc[2][0][1] == "emu"
    exp_zebra = round(3 * math.log(4 / 2), 6)
    assert by_doc[0][0][2] == pytest.approx(exp_zebra)
    # "common" scores exactly 0 and ranks below the rare term
    assert ("common" in [t for _, t, _ in by_doc[0]])
    assert dict((t, s) for _, t, s in by_doc[0])["common"] == 0.0


def test_trigram_backoff_score_matches_reference(spark):
    """All three backoff levels against an exact Python reference: the
    trigram level on seen contexts, the bigram level on unseen trigrams
    with seen bigrams, and the add-one unigram floor on OOV words."""
    import math
    from collections import Counter

    from bdq_spark.operators.text_analysis import trigram_backoff_score

    train_texts = [
        "the cat sat on the mat",
        "the dog sat on the rug",
        "a cat and a dog sat",
    ]
    score_texts = [
        "the cat sat on the rug",     # seen trigrams + seen-bigram backoff
        "zebra cat sat quickly now",  # OOV words -> unigram floor
    ]
    train = spark.createDataFrame(
        list(enumerate(train_texts)), "doc_id long, text string"
    )
    score = spark.createDataFrame(
        list(enumerate(score_texts)), "doc_id long, text string"
    )
    got = {r.doc_id: r for r in
           trigram_backoff_score(score, train=train).collect()}

    ttoks = [t.split() for t in train_texts]
    c1 = Counter(w for ts in ttoks for w in ts)
    c2 = Counter((a, b) for ts in ttoks for a, b in zip(ts, ts[1:]))
    c3 = Counter(
        (a, b, c) for ts in ttoks for a, b, c in zip(ts, ts[1:], ts[2:])
    )
    N, V = sum(c1.values()), len(c1)

    def ref_score(ts):
        tri = list(zip(ts, ts[1:], ts[2:]))
        tot = 0
        for a, b, c in tri:
            if (a, b, c) in c3:
                s = c3[(a, b, c)] / c2[(a, b)]
            elif (b, c) in c2:
                s = 0.4 * c2[(b, c)] / c1[b]
            else:
                s = 0.4 * 0.4 * (c1.get(c, 0) + 1) / (N + V)
            tot += round(math.log(s), 9)
        return len(tri), round(tot / len(tri), 6)

    import pytest as _pt
    for i, t in enumerate(score_texts):
        n, exp = ref_score(t.split())
        assert got[i].n_trigrams == n
        assert got[i].lm3_score == _pt.approx(exp, abs=2e-6)

    # order sensitivity one level above bigrams: a trigram-scrambled
    # text with IDENTICAL bigram multiset is indistinguishable to the
    # bigram scorer but not to the trigram scorer
    natural = "a b c d a b c d a b c d"
    # same bigrams (a b, b c, c d, d a) but trigram (d a b) contexts
    # shift frequency mass away from the training distribution
    self_train = spark.createDataFrame(
        [(0, natural)], "doc_id long, text string"
    )
    probe = spark.createDataFrame(
        [(0, "a b c d a b c d"), (1, "a b c a b c d d")],
        "doc_id long, text string",
    )
    s = {r.doc_id: r.lm3_score for r in
         trigram_backoff_score(probe, train=self_train).collect()}
    assert s[0] > s[1]


def test_staged_index_marker_invalidates_on_drift(tmp_path):
    """ADVICE r11: the staged identity folds in a DATA fingerprint
    (source parquet mtime+size) and the full BUILD-PARAMETER set, so
    regenerating the fixture in place or drifting a banding default
    without a version bump regenerates the index instead of silently
    reusing a stale one."""
    import os

    from bdq_spark.entry_queries import (
        _MINHASH_INDEX_PARAMS,
        _index_marker_content,
        _operator_defaults,
    )
    from bdq_spark.operators.dedup import minhash_band_index

    # params captured at import time match the live operator defaults —
    # a source-level default change fails HERE (bump the version or
    # accept the regenerate), a runtime monkeypatch can't fake a drift
    assert _MINHASH_INDEX_PARAMS == _operator_defaults(minhash_band_index)

    src_dir = tmp_path / "sf"
    src_dir.mkdir()
    src = src_dir / "documents.parquet"
    src.write_bytes(b"x" * 100)
    base = _index_marker_content(str(src_dir), "documents", 1, {"n": 3})
    # version drift
    assert _index_marker_content(str(src_dir), "documents", 2, {"n": 3}) != base
    # parameter drift
    assert _index_marker_content(str(src_dir), "documents", 1, {"n": 4}) != base
    # data drift: same path, different size
    src.write_bytes(b"x" * 101)
    assert _index_marker_content(str(src_dir), "documents", 1, {"n": 3}) != base
    # data drift: same size, different mtime (in-place regeneration)
    src.write_bytes(b"x" * 100)
    st = os.stat(src)
    os.utime(src, (st.st_atime, st.st_mtime + 10))
    assert _index_marker_content(str(src_dir), "documents", 1, {"n": 3}) != base


@pytest.fixture
def staging_dirs(tmp_path, monkeypatch):
    """A fake sf_dir with a documents table, and gettempdir() pointed
    into tmp_path so staged fixtures land there."""
    import tempfile

    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    (sf_dir / "documents.parquet").write_bytes(b"x" * 100)
    staging = tmp_path / "staging"
    staging.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(staging))
    return str(sf_dir), staging


def _counting_build(calls, facts, delay=0.0):
    import os
    import time

    def build(path):
        calls.append(path)
        time.sleep(delay)
        os.makedirs(path)
        with open(os.path.join(path, "part-0"), "w") as fh:
            fh.write("data")
        return facts

    return build


def test_staged_builds_once_across_threads(staging_dirs):
    """Threads staging one tag at once (more threads than cores): the
    lock lets one build while the others wait, then all of them read
    the same facts from the marker."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from bdq_spark.entry_queries import _staged

    sf_dir, _ = staging_dirs
    calls = []
    build = _counting_build(calls, {"probe": 42}, delay=0.2)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futures = [
                pool.submit(_staged, "t", sf_dir, "documents", build)
                for _ in range(16)
            ]
            results = [f.result(timeout=60) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert len(calls) == 1
    assert len(set(path for path, _ in results)) == 1
    assert all(facts == {"probe": 42} for _, facts in results)


def test_staged_failed_build_leaves_no_marker(staging_dirs):
    """A build that raises leaves no marker, so the next call rebuilds
    instead of trusting a half-written directory."""
    import os

    from bdq_spark.entry_queries import _staged

    sf_dir, staging = staging_dirs

    def broken(path):
        os.makedirs(path)
        raise RuntimeError("simulated build failure")

    with pytest.raises(RuntimeError, match="simulated"):
        _staged("t", sf_dir, "documents", broken)
    (staged_dir,) = [d for d in staging.iterdir() if d.is_dir()]
    assert not (staged_dir / "_STAGED").exists()

    calls = []
    path, facts = _staged(
        "t", sf_dir, "documents", _counting_build(calls, {"n": 1})
    )
    assert len(calls) == 1 and facts == {"n": 1}
    assert os.path.exists(os.path.join(path, "_STAGED"))


def test_staged_identity_mismatch_rebuilds(staging_dirs):
    """The same tag under another identity (a version bump, a parameter
    or source-table drift) rebuilds the directory in place; the same
    identity reuses it without calling build."""
    import os

    from bdq_spark.entry_queries import _staged

    sf_dir, _ = staging_dirs
    calls = []
    build = _counting_build(calls, {"v": 1})
    path, _ = _staged("t", sf_dir, "documents", build, version=1)
    assert _staged("t", sf_dir, "documents", build, version=1) == (
        path, {"v": 1},
    )
    assert len(calls) == 1

    stale = os.path.join(path, "stale-file")
    open(stale, "w").close()
    path2, _ = _staged("t", sf_dir, "documents", build, version=2)
    assert path2 == path and len(calls) == 2
    assert not os.path.exists(stale)  # removed before the rebuild
    _staged("t", sf_dir, "documents", build, version=2, params={"k": 1})
    assert len(calls) == 3


def test_persisted_vector_index_probe_steady_state(spark, monkeypatch):
    """The vector-side mirror of the minhash cross-run index (VERDICT
    r11 item 3): first invocation stages the multi-table LSH bucket
    index; the second must be probe-only — proven by poisoning the
    index builder (any rebuild would call it and raise).  Both
    invocations return the identical pair set, and the persisted path
    equals the in-memory two-table probe computed from scratch."""
    import bdq_spark.entry_queries as eq
    from pyspark.sql import functions as F

    sf_dir = "/root/testdata/sf0.001"
    fn = eq.QUERIES["persisted_vector_index_probe"]
    first = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert first, "probe found no pairs at sf0.001 — fixture too small?"

    def _boom(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError(
            "_build_vector_index called on the steady-state path: the "
            "persisted vector index was rebuilt instead of loaded"
        )

    monkeypatch.setattr(eq, "_build_vector_index", _boom)
    second = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert second == first
    monkeypatch.undo()

    # in-memory twin equivalence: same slices, same geometry, no disk
    from bdq_spark.operators.similarity import (
        _table_seed,
        cosine_similarity,
        lsh_bucket_vectors_md5,
    )
    from bdq_spark.sources import load_table

    geo = eq._VECTOR_INDEX_GEO
    emb = load_table(spark, sf_dir, "embeddings")

    def buckets(df):
        out = None
        for t in range(geo["num_tables"]):
            ns = F.lit(t * (1 << geo["num_planes"])).cast("long")
            bt = lsh_bucket_vectors_md5(
                df, "embedding", "vec_id", geo["num_planes"], geo["dim"],
                seed=_table_seed("bdq_lshq", t),
            ).select("id", "vec", (F.col("bucket") + ns).alias("bucket"))
            out = bt if out is None else out.unionByName(bt)
        return out

    cos = cosine_similarity(F.col("qv"), F.col("cv"))
    twin = sorted(
        map(
            tuple,
            buckets(emb.filter(F.col("vec_id") % 3 == 0)).alias("q")
            .join(
                buckets(emb.filter(F.col("vec_id") % 3 != 0)).alias("c"),
                "bucket",
            )
            .select(
                F.col("q.id").alias("id_a"),
                F.col("c.id").alias("id_b"),
                F.col("q.vec").alias("qv"),
                F.col("c.vec").alias("cv"),
            )
            .dropDuplicates(["id_a", "id_b"])
            .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
            .filter(F.col("cosine") >= geo["threshold"])
            .collect(),
        )
    )
    assert twin == first


def test_persisted_minhash_index_probe_steady_state(spark, monkeypatch):
    """Cross-run index durability (VERDICT r10 item 7): the first
    invocation stages the band index to the shared temp dir; every
    later one — including the next driver ROUND, which shares the dir
    — must be probe-only.  Proven by poisoning the index builder on
    the second call: if the steady state re-built the index from
    corpus text, the entry would raise; and both invocations must
    return the identical pair set (persisted index lossless vs the
    in-memory build)."""
    import bdq_spark.operators.dedup as dedup_mod
    from bdq_spark.entry_queries import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    fn = QUERIES["persisted_minhash_index_probe"]
    first = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert first, "probe found no pairs at sf0.001 — fixture too small?"

    def _boom(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError(
            "minhash_band_index called on the steady-state path: the "
            "persisted index was rebuilt instead of loaded"
        )

    monkeypatch.setattr(dedup_mod, "minhash_band_index", _boom)
    second = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert second == first

    # in-memory twin equivalence: the persisted probe's pair set equals
    # incremental_minhash_md5's (same slices, same parameters)
    monkeypatch.undo()
    twin = sorted(
        map(tuple, QUERIES["incremental_minhash_md5"](spark, sf_dir).collect())
    )
    assert twin == first


def test_adaptive_lsh_planes_hold_occupancy():
    """The x100 sweep measured the fixed-8-plane LSH path going
    quadratic (last-decade exponent 1.94: bucket population grows with
    the corpus, within-bucket GEMM with its square).  Pin the fix:
    plane count grows one per corpus doubling past the floor, so
    expected occupancy never exceeds the target."""
    from bdq_spark.operators.dedup import (
        LSH_TARGET_BUCKET_ROWS,
        _adaptive_planes,
    )

    assert _adaptive_planes(1_000, 3) == 8          # floor
    assert _adaptive_planes(40_000, 3) == 8         # floor still binds
    for n in (300_000, 600_000, 10_000_000, 10**9):
        p = _adaptive_planes(n, 3)
        assert (n * 3) >> p <= LSH_TARGET_BUCKET_ROWS
        assert (n * 3) >> (p - 1) > LSH_TARGET_BUCKET_ROWS  # minimal
    # one plane per doubling
    assert _adaptive_planes(2_000_000, 3) + 1 == _adaptive_planes(
        4_000_000, 3
    )


def test_adaptive_planes_capped_at_max(monkeypatch=None):
    """_adaptive_planes can never exceed LSH_MAX_PLANES (int64 bucket
    namespace, ADVICE r11: int32 buckets silently wrapped past 31
    planes — now the id is bigint and the plane count hard-capped)."""
    from bdq_spark.operators.dedup import _adaptive_planes
    from bdq_spark.operators.similarity import LSH_MAX_PLANES

    assert _adaptive_planes(2**70, 3) == LSH_MAX_PLANES
    assert _adaptive_planes(10**15, 3) <= LSH_MAX_PLANES


def test_lsh_geometry_validation():
    """num_planes past the int64-namespace cap and out-of-range
    num_tables are rejected loudly instead of wrapping bucket ids."""
    import pytest

    from bdq_spark.operators.similarity import (
        LSH_MAX_PLANES,
        _check_lsh_geometry,
    )

    _check_lsh_geometry(LSH_MAX_PLANES, 128)  # boundary OK
    with pytest.raises(ValueError, match="LSH_MAX_PLANES"):
        _check_lsh_geometry(LSH_MAX_PLANES + 1, 1)
    with pytest.raises(ValueError, match="num_tables"):
        _check_lsh_geometry(8, 0)
    with pytest.raises(ValueError, match="num_tables"):
        _check_lsh_geometry(8, 129)


def test_lsh_buckets_int64_past_31_planes(spark):
    """Past 31 planes the old int32 bucket wrapped (ADVICE r11); the
    bigint id must carry the full 2^40 namespace without collapsing
    distinct sign patterns into wrapped ids."""
    import numpy as np

    from bdq_spark.operators.similarity import lsh_bucket_vectors

    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in v])
        for i, v in enumerate(rng.normal(size=(64, 8)))
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = lsh_bucket_vectors(df, num_planes=40, dim=8).collect()
    assert dict(df.sparkSession.createDataFrame(got).dtypes)["bucket"] == (
        "bigint"
    )
    assert all(0 <= r.bucket < (1 << 40) for r in got)
    assert any(r.bucket > (1 << 31) for r in got)  # would have wrapped


def test_multitable_lsh_namespacing_and_backcompat(spark):
    """Table 0 of a multi-table bucketing reproduces the single-table
    buckets bit-for-bit (the bare-seed contract of _table_seed), and
    every table's ids live in a disjoint (table << num_planes)
    namespace so tables can never cross-match."""
    import numpy as np

    from bdq_spark.operators.similarity import (
        lsh_bucket_vectors,
        lsh_probe_buckets,
    )

    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in v])
        for i, v in enumerate(rng.normal(size=(80, 16)))
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    single = {
        r.id: r.bucket
        for r in lsh_bucket_vectors(df, num_planes=6, dim=16).collect()
    }
    multi = lsh_bucket_vectors(
        df, num_planes=6, dim=16, num_tables=3
    ).collect()
    assert len(multi) == 3 * 80  # one row per vector per table
    by_table = {}
    for r in multi:
        by_table.setdefault(r.bucket >> 6, {})[r.id] = r.bucket & 63
    assert sorted(by_table) == [0, 1, 2]
    assert by_table[0] == single  # table 0 == legacy single-table
    assert by_table[1] != by_table[0]  # independent draws differ

    probes = lsh_probe_buckets(
        df, num_planes=6, n_probe=2, dim=16, num_tables=2
    ).collect()
    assert len(probes) == 2 * 2 * 80
    # probe flips only touch bits below num_planes: namespace survives
    assert {r.bucket >> 6 for r in probes} == {0, 1}


def test_embedding_cosine_pairs_md5_or_lift(spark):
    """The md5 multi-table pairs twin: (a) subset of the exact pair
    set (verify stage is exact), (b) monotone in num_tables (pure OR),
    (c) table count actually lifts recall on correlated data."""
    import numpy as np

    from bdq_spark.operators.dedup import (
        embedding_cosine_pairs,
        embedding_cosine_pairs_md5,
    )

    rng = np.random.default_rng(5)
    base = rng.normal(size=(150, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in base[i]]) for i in range(150)]
    for i in range(60):  # planted twins, cosine ~0.99
        twin = base[i] + 0.05 * rng.normal(size=16)
        twin /= np.linalg.norm(twin)
        rows.append((1000 + i, [float(x) for x in twin]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs(
            df, threshold=0.9, mode="exact"
        ).collect()
    }
    assert exact
    sets = {}
    for t in (1, 2, 3):
        sets[t] = {
            (r.id_a, r.id_b)
            for r in embedding_cosine_pairs_md5(
                df, threshold=0.9, num_planes=6, num_tables=t, dim=16
            ).collect()
        }
        assert sets[t] <= exact  # no false positives, ever
    assert sets[1] <= sets[2] <= sets[3]  # OR-union is monotone
    assert len(sets[2]) > len(sets[1])  # the lift is real on this data


def test_knn_lsh_multitable_recall_lift(spark):
    """knn_lsh num_tables: results stay exact-ranked within the
    candidate set, and 2 tables recover at least as many true top-1
    neighbors as 1 table."""
    import numpy as np

    from bdq_spark.operators.similarity import knn_bruteforce, knn_lsh

    rng = np.random.default_rng(9)
    base = rng.normal(size=(200, 16))
    rows = [(i, [float(x) for x in base[i]]) for i in range(200)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    queries = corpus.limit(20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = {
        (r.query_id, r.neighbor_id)
        for r in knn_bruteforce(corpus, queries, k=1).collect()
    }

    def hits(t):
        got = {
            (r.query_id, r.neighbor_id)
            for r in knn_lsh(
                corpus, queries, k=1, num_planes=8, num_tables=t
            ).collect()
        }
        return len(got & truth)

    assert hits(2) >= hits(1)


def test_adaptive_lsh_recall_floor_on_planted_neighbors(spark):
    """The adaptive plane sizing trades recall for linear cost — put a
    MEASURED floor under that trade so a future occupancy-target change
    can't silently gut recall.  A seeded corpus of random unit vectors
    gets PLANTED near-duplicates (tiny perturbations, cosine ~0.995);
    the LSH path is run with the plane count the adaptive rule would
    pick for a post-cutover corpus (simulated via explicit num_planes,
    so the test stays small), and must recover >= 80% of planted pairs
    at the operator's 0.95 default threshold with the default 3-probe
    setting."""
    import numpy as np

    from bdq_spark.operators.dedup import (
        _adaptive_planes,
        embedding_cosine_pairs,
    )

    rng = np.random.default_rng(7)
    dim, n_base, n_planted = 32, 400, 120
    base_vecs = rng.normal(size=(n_base, dim))
    base_vecs /= np.linalg.norm(base_vecs, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in base_vecs[i]]) for i in range(n_base)]
    # planted twin of vector i at id 10_000 + i: cosine ~0.995
    for i in range(n_planted):
        twin = base_vecs[i] + 0.03 * rng.normal(size=dim)
        twin /= np.linalg.norm(twin)
        if float(twin @ base_vecs[i]) < 0.95:
            continue
        rows.append((10_000 + i, [float(x) for x in twin]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # ground truth: exact mode at the same threshold
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs(
            df, threshold=0.95, mode="exact"
        ).collect()
    }
    assert len(exact) >= 80, "fixture should plant enough >=0.95 pairs"

    # the plane count the adaptive rule picks for a 1M-row corpus —
    # the deep post-cutover regime this test simulates on small data
    planes = _adaptive_planes(1_000_000, 3)
    got = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs(
            df, threshold=0.95, mode="lsh", num_planes=planes
        ).collect()
    }
    assert got <= exact  # verify stage is exact: no false positives
    recall = len(got & exact) / len(exact)
    assert recall >= 0.80, f"adaptive-LSH recall {recall:.2f} < 0.80"

    # the OR-ed multi-table lift (VERDICT r11 item 1): T=2 independent
    # plane sets, candidates unioned before the exact verify — recall
    # 1-(1-r)^2, measured and PINNED at >= 0.95 where single-table
    # floors at 0.80.  This is the adaptive lsh path's default
    # (LSH_DEFAULT_TABLES), so the floor is the production contract.
    from bdq_spark.operators.dedup import LSH_DEFAULT_TABLES

    assert LSH_DEFAULT_TABLES >= 2
    got2 = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs(
            df, threshold=0.95, mode="lsh", num_planes=planes,
            num_tables=2,
        ).collect()
    }
    assert got2 <= exact  # verify stage still exact: no false positives
    assert got <= got2  # table 0 IS the single-table set: pure OR-lift
    recall2 = len(got2 & exact) / len(exact)
    assert recall2 >= 0.95, f"2-table LSH recall {recall2:.2f} < 0.95"


def test_fixed_geometry_entries_state_their_scale_bound(spark):
    """The two pinned-geometry oracle entries refuse past
    _FIXED_GEOMETRY_MAX_ROWS (the pruned_scan_orders self-bound
    pattern) instead of silently going quadratic, and the message
    names the adaptive production path."""
    import pytest as _p

    import bdq_spark.entry_queries as eq

    orig = eq._FIXED_GEOMETRY_MAX_ROWS
    eq._FIXED_GEOMETRY_MAX_ROWS = 10  # sf0.001 has more rows than this
    try:
        with _p.raises(ValueError, match="embedding_cosine_pairs"):
            eq.QUERIES["embedding_near_dup_pairs_multitable"](
                spark, "/root/testdata/sf0.001"
            )
        with _p.raises(ValueError, match="ADAPTIVE"):
            eq.QUERIES["persisted_vector_index_probe"](
                spark, "/root/testdata/sf0.001"
            )
        with _p.raises(ValueError, match="adaptively"):
            eq.QUERIES["streaming_ingest_vector_index"](
                spark, "/root/testdata/sf0.001"
            )
    finally:
        eq._FIXED_GEOMETRY_MAX_ROWS = orig
