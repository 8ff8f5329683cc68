"""BPE trainer: Spark implementation vs an independent pure-Python
reference (Sennrich-style, written directly from the algorithm
description — no shared code with the operator)."""

import re
from collections import Counter

import pytest
from conftest import on_driver
from pyspark.sql import functions as F

from bdq_spark.operators.tokenizer import (
    bpe_segment_corpus,
    train_bpe,
    word_frequencies,
)


def _ref_word_freq(texts):
    c = Counter()
    for t in texts:
        for w in re.findall(r"[a-z0-9]+", t.lower()):
            c[w] += 1
    return c


def _ref_train_bpe(texts, n_merges, min_pair_count=2):
    """Pure-Python reference: dict of word -> symbol tuple, greedy
    most-frequent-pair merges, ties broken by (left, right)."""
    freq = _ref_word_freq(texts)
    vocab = {w: tuple(w) for w in freq}
    merges = []
    for rank in range(n_merges):
        pairs = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += freq[w]
        pairs = {p: c for p, c in pairs.items() if c >= min_pair_count}
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        merges.append((rank, a, b, a + b, cnt))
        new_vocab = {}
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[w] = tuple(out)
        vocab = new_vocab
    return merges, vocab


CORPUS = [
    "the lower the newer the wider",
    "low lower lowest new newer newest",
    "wide wider widest low low low new new",
    "es est ester tested test nest nested",
    "aaa aaaa aaaaa banana bandana",
]


def _docs_df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )


def test_word_frequencies_matches_reference(spark):
    got = {
        r["word"]: r["freq"]
        for r in word_frequencies(_docs_df(spark)).collect()
    }
    assert got == dict(_ref_word_freq(CORPUS))


#: BPE training runs on the driver for a small vocabulary and as the
#: distributed merge loop on a session with broadcasts off
PATHS = ["driver", "distributed"]


def _train(distributed, path, df, **kwargs):
    """``train_bpe`` on ``df`` along ``path``; asserts the path taken."""
    from bdq_spark.session import rebind

    if path == "distributed":
        df = rebind(df, distributed)
    merges, vocab = train_bpe(df, **kwargs)
    assert on_driver(vocab) == (path == "driver")
    return merges, vocab


def test_train_bpe_matches_reference(spark, distributed):
    for path in PATHS:
        for min_pair_count in (2, 4):
            merges, vocab = _train(
                distributed, path, _docs_df(spark),
                n_merges=25, min_pair_count=min_pair_count,
            )
            ref_merges, ref_vocab = _ref_train_bpe(
                CORPUS, n_merges=25, min_pair_count=min_pair_count
            )
            assert merges == ref_merges
            # both counts run out of qualifying pairs before merge 25
            assert len(merges) < 25
            got_vocab = {
                r["word"]: tuple(r["syms"]) for r in vocab.collect()
            }
            assert got_vocab == ref_vocab
        # the aaa-run corpus exercises the overlapping-pair rule: (a,a),
        # the second merge, over "aaa" must give [aa, a], not [aa, aa]
        merges, vocab = _train(distributed, path, _docs_df(spark), n_merges=2)
        assert merges[1] == (1, "a", "a", "aa", 9)
        got_vocab = {r["word"]: tuple(r["syms"]) for r in vocab.collect()}
        assert got_vocab["aaa"] == ("aa", "a")
        assert got_vocab["aaaaa"] == ("aa", "aa", "a")


def test_train_bpe_paths_agree_on_schema_and_empty_word(spark, distributed):
    """The driver finish keeps the distributed vocabulary's schema with
    and without merges, and an empty word splits to ``[""]`` as Spark's
    ``split(word, '')`` does."""
    from bdq_spark.session import rebind

    docs = _docs_df(spark)
    for n_merges in (0, 5):
        local = train_bpe(docs, n_merges=n_merges)[1]
        planned = _train(distributed, "distributed", docs, n_merges=n_merges)[1]
        assert on_driver(local)
        assert local.schema == planned.schema
        assert sorted(local.collect()) == sorted(planned.collect())
    wf = spark.createDataFrame(
        [("aaab", 3), ("ab", 2), ("", 4)], "word string, freq long"
    )
    local = train_bpe(docs, n_merges=3, word_freq=wf)
    planned = train_bpe(
        rebind(docs, distributed), n_merges=3, word_freq=rebind(wf, distributed)
    )
    assert on_driver(local[1])
    assert local[0] == planned[0]
    assert sorted(local[1].collect()) == sorted(planned[1].collect())


def test_train_bpe_driver_finish_schedules_fewer_jobs(spark, distributed):
    """Job count of training plus the vocabulary's collect, a counter
    that does not move with host load: the driver finish schedules
    fewer jobs than the forced-distributed merge loop."""
    from bdq_spark.plans.plan_lint import count_jobs

    counts = {}
    for path in PATHS:
        with count_jobs(spark) as counts[path]:
            _train(distributed, path, _docs_df(spark), n_merges=10)[1].collect()
    assert counts["driver"]["jobs"] < counts["distributed"]["jobs"]


def test_train_bpe_early_stop(spark, distributed):
    # every word unique, min_pair_count high -> few/no merges, no crash
    df = _docs_df(spark)
    for path in PATHS:
        merges, vocab = _train(
            distributed, path, df, n_merges=50, min_pair_count=10**9
        )
        assert merges == []
        got = {r["word"]: tuple(r["syms"]) for r in vocab.collect()}
        assert got["the"] == ("t", "h", "e")


def test_bpe_segment_corpus_counts(spark):
    df = _docs_df(spark)
    merges, vocab = train_bpe(df, n_merges=25)
    _, ref_vocab = _ref_train_bpe(CORPUS, n_merges=25)
    seg = {
        r["id"]: (r["n_words"], r["n_tokens"])
        for r in bpe_segment_corpus(df, vocab).collect()
    }
    for i, t in enumerate(CORPUS):
        words = re.findall(r"[a-z0-9]+", t.lower())
        exp_tokens = sum(len(ref_vocab[w]) for w in words)
        assert seg[i] == (len(words), exp_tokens)


def test_bpe_segment_oov_char_fallback(spark):
    df = _docs_df(spark)
    _, vocab = train_bpe(df, n_merges=10)
    new = df.sparkSession.createDataFrame(
        [(99, "zzz qqq")], "doc_id long, text string"
    )
    seg = bpe_segment_corpus(new, vocab).collect()
    assert seg[0]["n_words"] == 2 and seg[0]["n_tokens"] == 6


def test_bpe_encode_corpus_roundtrip_matches_reference(spark):
    """Token-id sequences decode back to the reference segmentation:
    the id assignment is a pure function of the vocabulary, and the
    flattened per-document sequence preserves word order."""
    from bdq_spark.operators.tokenizer import (
        bpe_encode_corpus,
        bpe_symbol_table,
    )

    df = _docs_df(spark)
    _, vocab = train_bpe(df, n_merges=25)
    _, ref_vocab = _ref_train_bpe(CORPUS, n_merges=25)
    id2sym = {
        r["token_id"]: r["symbol"]
        for r in bpe_symbol_table(vocab).collect()
    }
    enc = {r["id"]: (list(r["token_ids"]), r["n_tokens"])
           for r in bpe_encode_corpus(df, vocab).collect()}
    for i, t in enumerate(CORPUS):
        words = re.findall(r"[a-z0-9]+", t.lower())
        expected = [s for w in words for s in ref_vocab[w]]
        ids, n = enc[i]
        assert n == len(ids) == len(expected)
        assert [id2sym[x] for x in ids] == expected


def test_bpe_encode_oov_unk_ids(spark):
    from bdq_spark.operators.tokenizer import bpe_encode_corpus

    df = _docs_df(spark)
    _, vocab = train_bpe(df, n_merges=10)
    # "zzz" chars never seen in training -> -1 unk ids, never dropped
    new = spark.createDataFrame([(99, "zzz the")], "doc_id long, text string")
    row = bpe_encode_corpus(new, vocab).collect()[0]
    ids = list(row["token_ids"])
    assert row["n_tokens"] == len(ids)
    assert ids[:3] == [-1, -1, -1]  # the three unseen z chars
    assert len(ids) > 3 and all(x >= 0 for x in ids[3:])  # "the" is known


def test_bpe_encode_feeds_packing(spark):
    """The tokenize -> pack composition every training pipeline runs:
    real BPE budgets in, packing invariants out."""
    from bdq_spark.operators.packing import pack_documents
    from bdq_spark.operators.tokenizer import bpe_encode_corpus

    df = _docs_df(spark)
    _, vocab = train_bpe(df, n_merges=15)
    enc = bpe_encode_corpus(df, vocab)
    packed = pack_documents(enc, "n_tokens", budget=12, id_column="id")
    rows = packed.collect()
    # coverage: every document exactly once
    assert sorted(r["id"] for r in rows) == list(range(len(CORPUS)))
    # budget respected for every non-oversize pack
    fills = {}
    for r in rows:
        if not r["oversize"]:
            fills[r["pack_id"]] = fills.get(r["pack_id"], 0) + r["n_tokens"]
    assert all(v <= 12 for v in fills.values())
    # token counts are the real BPE counts, not whitespace counts
    seg = {r["id"]: r["n_tokens"] for r in bpe_segment_corpus(df, vocab).collect()}
    assert {r["id"]: r["n_tokens"] for r in rows} == seg


def test_bpe_encode_tokenless_docs_survive(spark):
    """A document whose text yields no word tokens encodes as an EMPTY
    sequence — never silently dropped (packing coverage depends on it)."""
    from bdq_spark.operators.tokenizer import bpe_encode_corpus

    df = _docs_df(spark)
    _, vocab = train_bpe(df, n_merges=5)
    probe = spark.createDataFrame(
        [(1, "the cat"), (2, "*** ### ---"), (3, "")],
        "doc_id long, text string",
    )
    got = {r["id"]: (list(r["token_ids"]), r["n_tokens"])
           for r in bpe_encode_corpus(probe, vocab).collect()}
    assert set(got) == {1, 2, 3}
    assert got[2] == ([], 0) and got[3] == ([], 0)
    assert got[1][1] > 0


def test_select_safe_batch_conditions():
    from bdq_spark.operators.tokenizer import _select_safe_batch

    def rows(*t):
        return [{"left": l, "right": r, "pair_count": c} for l, r, c in t]

    # disjoint pairs with strictly-descending counts batch together
    got = _select_safe_batch(
        rows(("a", "b", 10), ("c", "d", 5), ("e", "f", 3)),
        complete=True, cap=16,
    )
    assert got == [("a", "b", 10), ("c", "d", 5), ("e", "f", 3)]
    # shared symbol stops the batch (prefix rule: no skipping)
    got = _select_safe_batch(
        rows(("a", "b", 10), ("b", "c", 5), ("e", "f", 3)),
        complete=True, cap=16,
    )
    assert got == [("a", "b", 10)]
    # danger: (x, a) with count >= candidate means merging (a, b) can
    # create (x, ab) that outranks the candidate
    got = _select_safe_batch(
        rows(("a", "b", 10), ("x", "a", 7), ("c", "d", 5)),
        complete=True, cap=16,
    )
    assert got == [("a", "b", 10)]
    # ...but a (x, a) BELOW the candidate is harmless
    got = _select_safe_batch(
        rows(("a", "b", 10), ("c", "d", 5), ("x", "a", 3)),
        complete=True, cap=16,
    )
    assert got[:2] == [("a", "b", 10), ("c", "d", 5)]
    # equal counts tie-danger is rejected (created pair could win the
    # lexicographic tie-break)
    got = _select_safe_batch(
        rows(("a", "b", 10), ("z", "a", 5), ("c", "d", 5)),
        complete=True, cap=16,
    )
    assert got == [("a", "b", 10)]
    # incomplete window whose tail still counts >= candidate: stop
    got = _select_safe_batch(
        rows(("a", "b", 10), ("c", "d", 10)), complete=False, cap=16
    )
    assert got == [("a", "b", 10)]
    # cap respected
    got = _select_safe_batch(
        rows(("a", "b", 9), ("c", "d", 8), ("e", "f", 7)),
        complete=True, cap=2,
    )
    assert got == [("a", "b", 9), ("c", "d", 8)]


def test_train_bpe_batched_equals_sequential_reference(spark, distributed):
    """Randomized corpora: the batched trainer and the driver finish
    must reproduce the pure-sequential reference EXACTLY — merges and
    final vocab."""
    import random

    rng = random.Random(42)
    for trial in range(2):
        base = [
            "".join(rng.choice("abcde") for _ in range(rng.randint(1, 8)))
            for _ in range(40)
        ]
        texts = [
            " ".join(rng.choice(base) for _ in range(30)) for _ in range(5)
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        ref_merges, ref_vocab = _ref_train_bpe(texts, n_merges=30)
        for path in PATHS:
            merges, vocab = _train(distributed, path, df, n_merges=30)
            assert merges == ref_merges, f"trial {trial} {path}"
            got = {r["word"]: tuple(r["syms"]) for r in vocab.collect()}
            assert got == ref_vocab, f"trial {trial} {path}"
