"""corpus_dedup: the LLM-data funnel, stage after stage on one corpus.

Why this workload: the operators with hand-scheduled loops that run many
jobs per call (connected-component rounds, BPE merge rounds, k-means
iterations) and the Python/Arrow workers of the dedup stages all run
here, so it is where the dedup, components, tokenizer and IVF
optimizations should show.  At this size (400 documents, 500 vectors)
the pass runs about 90 jobs and executor CPU fills 10-15% of the cores:
per-job fixed cost decides the wall, not the rows.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

import checks
import inputs as gen

N_DOCS = 400
N_VECTORS = 500
BUDGET = 2048  # tokens per pack
N_MERGES = 4


def stage(spark, rng, path):
    docs, emb = gen.documents(rng, N_DOCS), gen.embeddings(rng, N_VECTORS)
    gen.write(docs, os.path.join(path, "documents"), n_files=4)
    gen.write(emb, os.path.join(path, "embeddings"), n_files=4)
    dfs = {name: spark.read.parquet(os.path.join(path, name))
           for name in ("documents", "embeddings")}
    return {"path": path, "dfs": dfs,
            "rows": {"documents": docs.num_rows, "embeddings": emb.num_rows}}


def run_pass(ctx):
    """The text funnel stage after stage, then the embedding branch."""
    from pyspark.sql import functions as F

    from bdq_spark.functions.text import token_count
    from bdq_spark.operators import (
        apply_dedup_clusters, bpe_segment_corpus, connected_components,
        contamination_check, gopher_quality, hash_split, kmeans_quantized,
        pack_documents, paragraph_dedup, train_bpe,
    )
    from bdq_spark.operators.corpus import token_vocabulary
    from bdq_spark.operators.dedup import ngram_jaccard_pairs
    from bdq_spark.operators.ivf import knn_ivf_quantized
    from bdq_spark.operators.similarity import knn_bruteforce

    docs, emb = ctx.inputs["dfs"]["documents"], ctx.inputs["dfs"]["embeddings"]

    with ctx.span("operators.text_analysis"):
        quality = gopher_quality(docs)
        kept = docs.join(quality.filter("passes_gopher").select("doc_id"), "doc_id")
    ctx.emit("gopher", quality, "operators.text_analysis")

    with ctx.span("operators.dedup"):
        para = paragraph_dedup(kept.select("doc_id", "text")).localCheckpoint()
        clean = para.select("doc_id", F.col("clean_text").alias("text"))
    ctx.emit("paragraph", para, "operators.dedup")
    # exact pairs, not minhash_lsh_candidates: its default signatures miss
    # true pairs on some seeds (see LAYERS.md, "Left out")
    with ctx.span("operators.dedup"):
        pairs = ngram_jaccard_pairs(clean, n=3, threshold=0.8).localCheckpoint()
    ctx.emit("pairs", pairs, "operators.dedup")

    with ctx.span("operators.components"):
        clusters = connected_components(pairs)
        deduped = apply_dedup_clusters(clean, clusters).localCheckpoint()
    ctx.emit("clusters", clusters, "operators.components")
    ctx.emit("deduped", deduped.select("doc_id"), "operators.components")

    with ctx.span("operators.tokenizer"):
        merges, vocab = train_bpe(deduped, n_merges=N_MERGES)
        segmented = bpe_segment_corpus(deduped, vocab)
    ctx.value("merges", merges)
    ctx.emit("vocab", vocab, "operators.tokenizer")
    ctx.emit("segmented", segmented, "operators.tokenizer")

    with ctx.span("operators.corpus"):
        top_tokens = token_vocabulary(deduped, top_k=100, id_column="doc_id")
    ctx.emit("corpus_vocab", top_tokens, "operators.corpus")

    with ctx.span("operators.packing"):
        sized = deduped.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
        packs = pack_documents(sized, "n_tokens", BUDGET, "doc_id", n_shards=4)
    ctx.emit("packs", packs.select("doc_id", "n_tokens", "pack_id"), "operators.packing")

    with ctx.span("operators.contamination"):
        split = hash_split(deduped, {"train": 0.8, "test": 0.2}, ["doc_id"])
        train = split.filter(F.col("split") == "train").drop("split")
        test = split.filter(F.col("split") == "test").drop("split")
        contaminated = contamination_check(train, test, n=3, threshold=0.8)
    ctx.emit("contamination", contaminated, "operators.contamination")

    with ctx.span("operators.clustering"):
        assigned = kmeans_quantized(emb, k=8, iters=2, dim=64)
    ctx.emit("kmeans", assigned, "operators.clustering")
    with ctx.span("operators.ivf"):
        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        knn = knn_ivf_quantized(emb, queries, k=10, n_clusters=8, n_probe=2, iters=2, dim=64)
    ctx.emit("knn", knn, "operators.ivf")
    with ctx.span("operators.similarity"):
        exact = knn_bruteforce(emb, queries, k=10)
    ctx.emit("knn_exact", exact, "operators.similarity")


def reset(ctx):
    pass


def verify(ctx):
    """Gopher, paragraph dedup, near-dup pairs, contamination, k-means and
    IVF against DuckDB oracles over the staged inputs; clusters, dedup,
    BPE and packing against invariants derived from those."""
    from bdq_spark.entry_queries import ORACLE_SQL

    out = ctx.outputs
    con = duckdb.connect()
    path = ctx.inputs["path"]
    con.execute(f"CREATE TABLE raw_documents AS SELECT * FROM read_parquet('{path}/documents/*.parquet')")
    con.execute(f"CREATE TABLE embeddings AS SELECT * FROM read_parquet('{path}/embeddings/*.parquet')")
    check = checks.Checker(con)

    def over(sql, table):
        return sql.replace("FROM documents", f"FROM {table}")

    gopher_sql = over(ORACLE_SQL["doc_gopher_quality"], "raw_documents")
    check.frame("gopher", out["gopher"], gopher_sql)
    con.execute(f"""CREATE TABLE kept AS SELECT d.doc_id, d.text FROM raw_documents d
                    JOIN ({gopher_sql}) g USING (doc_id) WHERE g.passes_gopher""")
    para_sql = """
        WITH p AS (
          SELECT doc_id, u.s['pos'] AS pos, u.s['para'] AS para
          FROM (SELECT doc_id, string_split_regex(text, '\\n+') AS ps FROM kept) t,
               UNNEST(list_transform(range(1, len(ps) + 1),
                                     i -> {'pos': i, 'para': ps[i]})) AS u(s)
          WHERE u.s['para'] <> ''),
        r AS (SELECT *, row_number() OVER (PARTITION BY md5(trim(lower(para)))
                                           ORDER BY doc_id, pos) AS rk FROM p)
        SELECT doc_id, count(*) AS n_paragraphs,
               sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
               coalesce(string_agg(CASE WHEN rk = 1 THEN para END, chr(10) ORDER BY pos), '')
                 AS clean_text,
               (count(*) - sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END))::BIGINT AS n_removed
        FROM r GROUP BY doc_id"""
    check.frame("paragraph", out["paragraph"], para_sql)
    con.execute(f"CREATE TABLE clean AS SELECT doc_id, clean_text AS text FROM ({para_sql})")
    pairs_sql = over(ORACLE_SQL["near_dup_jaccard"], "clean")
    check.frame("pairs", out["pairs"], pairs_sql)

    # clusters: components of the oracle's pair graph, min id as keeper
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in con.execute(pairs_sql).fetchall():
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    expected = [(n, find(n), n == find(n)) for n in parent]
    exp = pd.DataFrame(expected, columns=["id", "cluster_id", "is_keeper"])
    check.frame("clusters", out["clusters"], expected=exp)
    dropped = {n for n, c, keep in expected if not keep}
    clean_ids = [r[0] for r in con.execute("SELECT doc_id FROM clean").fetchall()]
    check.frame("deduped", out["deduped"],
                expected=pd.DataFrame({"doc_id": [d for d in clean_ids if d not in dropped]}))
    con.register("deduped_ids", out["deduped"])
    con.execute("CREATE TABLE deduped AS SELECT c.* FROM clean c JOIN deduped_ids USING (doc_id)")

    # BPE: the vocabulary is exactly the corpus's words with their counts,
    # every segmentation spells its word, merges concatenate their parts
    vocab = out["vocab"]
    check.frame("vocab.words", vocab, """
        SELECT w AS word, count(*) AS freq FROM (
          SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM deduped)
        GROUP BY w""")
    check.true("vocab.spelling", bool((vocab["syms"].map(lambda s: "".join(s)) == vocab["word"]).all()),
               "a segmentation does not spell its word")
    merges = out["merges"]
    check.true("merges.count", 0 < len(merges) <= N_MERGES, f"{len(merges)} merges")
    check.true("merges.concat", all(m[3] == m[1] + m[2] for m in merges),
               "a merge is not the concatenation of its pair")
    n_words = con.execute("""SELECT doc_id AS id,
        len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS n_words FROM deduped""").df()
    check.frame("segmented.words", out["segmented"], expected=n_words)

    # packing: every document once, no pack over budget unless it is a
    # single oversize document
    packs = out["packs"]
    check.frame("packs.docs", packs, """SELECT doc_id,
        len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens
        FROM deduped""")
    per_pack = packs.groupby("pack_id")["n_tokens"].agg(["sum", "count"])
    check.true("packs.budget", bool(((per_pack["sum"] <= BUDGET) | (per_pack["count"] == 1)).all()),
               "a pack exceeds the token budget")

    check.frame("corpus_vocab", out["corpus_vocab"], over(ORACLE_SQL["token_vocab_top100"], "deduped"))
    check.frame("contamination", out["contamination"], over(ORACLE_SQL["doc_contamination"], "deduped"))
    check.frame("kmeans", out["kmeans"], ORACLE_SQL["embedding_kmeans_quantized"])
    check.frame("knn", out["knn"], ORACLE_SQL["knn_ivf_quantized"])
    check.frame("knn_exact", out["knn_exact"], ORACLE_SQL["knn_embeddings"])
    con.close()
    return check
