"""Seeded input generation for the benchmark workloads.

Every table is built with NumPy from one ``numpy.random.Generator`` and
written as parquet with pyarrow, so the same seed gives byte-identical
inputs and the library under test receives only these files.  Planted
structure (broken foreign keys, key conflicts, near-duplicate documents,
duplicate events) is what the workloads' outputs are checked against.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000

STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
BOILERPLATE = [
    "copyright footer all rights reserved",
    "subscribe to the newsletter for more",
    "terms of use and privacy policy apply",
]


def write(table: pa.Table, path: str, n_files: int = 1) -> None:
    """Write ``table`` as ``n_files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _labels(prefix: str, ids: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in ids.tolist()])


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


# ---------------------------------------------------------------------------
# star schema (dq_checks)
# ---------------------------------------------------------------------------

def star_schema(rng: np.random.Generator, n_orders: int) -> dict:
    """TPC-H-shaped ``customer``/``part``/``orders``/``lineitem`` plus
    ``events`` and a perturbed ``orders_v2``; sizes keep sf0.1's ratios
    (lineitem = 4 x orders, events = orders x 2/3)."""
    n_cust, n_part = n_orders // 10, n_orders // 7
    n_events = n_orders * 2 // 3

    cust_key = np.arange(1, n_cust + 1)
    customer = pa.table({
        "c_custkey": cust_key,
        "c_name": _labels("Customer", cust_key),
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999, 9999, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })

    part_key = np.arange(1, n_part + 1)
    part = pa.table({
        "p_partkey": part_key,
        "p_name": _labels("Part", part_key),
        "p_brand": rng.choice([f"Brand#{i}{j}" for i in range(1, 6) for j in range(1, 6)], n_part),
        "p_type": rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": _money(rng, 900, 2000, n_part),
    })

    # 0.5 % of facts point past the dimension: the broken relationships
    order_key = np.arange(1, n_orders + 1)
    o_cust = rng.integers(1, n_cust + 1, n_orders)
    broken = rng.random(n_orders) < 0.005
    o_cust[broken] = n_cust + rng.integers(1, 200, broken.sum())
    order_date = EPOCH_US + rng.integers(0, 2 * 365, n_orders) * DAY_US
    orders = pa.table({
        "o_orderkey": order_key,
        "o_custkey": o_cust,
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 800, 500_000, n_orders),
        "o_orderdate": _ts(order_date),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
        ),
    })

    lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(order_key, lines)
    l_number = (np.arange(lines.sum()) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    n_lines = len(l_order)
    l_part = rng.integers(1, n_part + 1, n_lines)
    broken = rng.random(n_lines) < 0.005
    l_part[broken] = n_part + rng.integers(1, 500, broken.sum())
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(1, max(n_orders // 150, 2) + 1, n_lines),
        "l_linenumber": l_number.astype("int32"),
        "l_quantity": rng.integers(1, 51, n_lines).astype("float64"),
        "l_extendedprice": _money(rng, 900, 100_000, n_lines),
        "l_discount": np.round(rng.integers(0, 11, n_lines) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_lines) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": rng.choice(["F", "O"], n_lines),
        "l_shipdate": _ts(np.repeat(order_date, lines) + rng.integers(1, 120, n_lines) * DAY_US),
    })

    # orders_v2: 2 % deleted, 5 % updated, 2 % inserted under fresh keys
    keep = rng.random(n_orders) >= 0.02
    v2 = orders.filter(pa.array(keep))
    upd = rng.random(v2.num_rows) < 0.05
    price = v2.column("o_totalprice").to_numpy().copy()
    price[upd] = np.round(price[upd] + 10.0, 2)
    v2 = v2.set_column(3, "o_totalprice", pa.array(price))
    n_new = n_orders // 50
    new_keys = np.arange(n_orders + 1, n_orders + n_new + 1)
    inserted = pa.table({
        "o_orderkey": new_keys,
        "o_custkey": rng.integers(1, n_cust + 1, n_new),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_new),
        "o_totalprice": _money(rng, 800, 500_000, n_new),
        "o_orderdate": _ts(EPOCH_US + rng.integers(0, 2 * 365, n_new) * DAY_US),
        "o_orderpriority": rng.choice(["1-URGENT", "5-LOW"], n_new),
    })
    orders_v2 = pa.concat_tables([v2, inserted])

    return {
        "customer": customer,
        "part": part,
        "orders": orders,
        "orders_v2": orders_v2,
        "lineitem": lineitem,
        "events": events(rng, n_events, n_users=max(n_events // 20, 1)),
    }


def events(rng: np.random.Generator, n: int, n_users: int, span_us: int = 30 * DAY_US,
           dup_frac: float = 0.05, exact_resend: bool = False) -> pa.Table:
    """Event rows in arrival order; ``dup_frac`` of them re-send an earlier
    ``event_id`` up to a minute later (at-least-once delivery).

    With ``exact_resend`` a re-sent row repeats the original row exactly
    (what a streaming dedup must drop); otherwise it carries a new
    ``value`` and, one time in five, the original ``ts`` (a key conflict
    for latest-record selection).
    """
    ts = EPOCH_US + np.sort(rng.integers(0, span_us, n))
    event_id = np.arange(1, n + 1)
    user = rng.integers(1, n_users + 1, n)
    etype = rng.choice(["view", "click", "cart", "purchase"], n, p=[0.6, 0.25, 0.1, 0.05])
    value = _money(rng, 0, 1000, n)
    dup = np.flatnonzero(rng.random(n) < dup_frac)
    dup = dup[dup > 0]
    src = dup - rng.integers(1, 50, len(dup)).clip(max=dup)
    delay = rng.integers(1, 60, len(dup)) * 1_000_000
    event_id[dup], user[dup], etype[dup] = event_id[src], user[src], etype[src]
    arrival = ts.copy()
    if exact_resend:
        ts[dup], value[dup] = ts[src], value[src]
        arrival[dup] = ts[src] + delay
    else:
        tie = rng.random(len(dup)) < 0.2
        ts[dup] = np.where(tie, ts[src], ts[src] + delay)
        arrival[dup] = ts[dup]
    order = np.argsort(arrival, kind="stable")
    return pa.table({
        "event_id": event_id[order],
        "ts": _ts(ts[order]),
        "user_id": user[order],
        "event_type": etype[order],
        "value": value[order],
        "props": pa.array(["{}"] * n),
    })


# ---------------------------------------------------------------------------
# corpus (corpus_dedup)
# ---------------------------------------------------------------------------

def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lengths = rng.integers(3, 9, size)
    return np.array(["".join(rng.choice(letters, k)) for k in lengths])


def documents(rng: np.random.Generator, n_docs: int, dup_frac: float = 0.06) -> pa.Table:
    """Documents of 3-4 paragraphs over a Zipf vocabulary with stopwords.

    Every document ends with one shared boilerplate paragraph (what
    ``paragraph_dedup`` removes).  ``dup_frac`` of the documents are
    near-copies of an earlier document with one word replaced in every
    paragraph, so no paragraph repeats exactly and each planted pair keeps
    a word-3-gram Jaccard near 0.9 while unrelated
    documents share almost no 3-grams; the duplicate density is constant
    in ``n_docs``.  Every 25th document is a short bullet list that fails
    the Gopher quality rules.
    """
    vocab = np.concatenate([_vocabulary(rng, 4000), STOPWORDS])
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    weights[-len(STOPWORDS):] = weights[0] * 4
    weights /= weights.sum()

    n_paras = rng.integers(3, 5, n_docs)
    para_len = rng.integers(50, 70, n_paras.sum())
    words = rng.choice(vocab, para_len.sum(), p=weights).tolist()
    ends = np.cumsum(para_len).tolist()
    paras = [" ".join(words[e - k:e]) for e, k in zip(ends, para_len.tolist())]
    texts, p = [], 0
    for d, k in enumerate(n_paras.tolist()):
        if d % 25 == 24:
            items = rng.choice(vocab[:200], 12)
            texts.append("\n".join(f"- {w}" for w in items))
        else:
            texts.append("\n".join(paras[p:p + k] + [BOILERPLATE[d % len(BOILERPLATE)]]))
        p += k

    dup = np.flatnonzero(rng.random(n_docs) < dup_frac)
    dup = dup[(dup > 0) & (dup % 25 != 24)]
    for d in dup.tolist():
        src = int(rng.integers(0, d))
        if src % 25 == 24:
            continue
        *body, tail = texts[src].split("\n")
        edited = []
        for para in body:
            words = para.split(" ")
            words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab[:4000]))
            edited.append(" ".join(words))
        texts[d] = "\n".join(edited + [tail])

    doc_id = np.arange(n_docs)
    return pa.table({
        "doc_id": doc_id,
        "text": pa.array(texts),
        "lang": pa.array(["en"] * n_docs),
        "source": rng.choice(["web", "books", "code"], n_docs),
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def embeddings(rng: np.random.Generator, n: int, dim: int = 64, dup_frac: float = 0.05) -> pa.Table:
    """Unit vectors around 16 cluster centres; ``dup_frac`` are jittered
    copies of an earlier vector (the embedding near-duplicates)."""
    centres = rng.normal(size=(16, dim))
    label = rng.integers(0, 16, n)
    vecs = centres[label] + rng.normal(scale=0.8, size=(n, dim))
    dup = np.flatnonzero(rng.random(n) < dup_frac)
    dup = dup[dup > 0]
    src = (dup * rng.random(len(dup))).astype(int)
    vecs[dup] = vecs[src] + rng.normal(scale=0.01, size=(len(dup), dim))
    label[dup] = label[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(np.round(vecs, 4).astype("float32").ravel())
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.ListArray.from_arrays(np.arange(0, n * dim + 1, dim, dtype="int32"), flat),
        "label": label.astype("int32"),
    })


# ---------------------------------------------------------------------------
# change feed (stream_ingest)
# ---------------------------------------------------------------------------

def customer_changes(rng: np.random.Generator, customer: pa.Table, n_batches: int) -> list:
    """Customer change feed split into ``n_batches`` key-disjoint batches.

    Each key's whole history (stale update then newer update, update then
    delete, or insert under a fresh key) sits in one batch, so the merged
    snapshot does not depend on the order batches are applied in.
    """
    keys = customer.column("c_custkey").to_numpy()
    names = customer.column("c_name").to_pylist()
    bal = customer.column("c_acctbal").to_numpy()
    kind = rng.integers(0, 10, len(keys))
    rows = {"c_custkey": [], "c_name": [], "c_acctbal": [], "op": [], "ver": []}

    def add(k, name, b, op, ver):
        rows["c_custkey"].append(int(k))
        rows["c_name"].append(name)
        rows["c_acctbal"].append(float(b))
        rows["op"].append(op)
        rows["ver"].append(ver)

    fresh = int(keys.max()) + 1
    for k, name, b, t in zip(keys.tolist(), names, bal.tolist(), kind.tolist()):
        if t == 1:
            add(k, name + "_stale", b, "U", 1)
            add(k, name + "_v2", round(b + 100, 2), "U", 2)
        elif t == 2:
            add(k, name + "_x", b, "U", 1)
            add(k, name, b, "D", 2)
        elif t == 3:
            add(fresh, f"new#{fresh}", b, "I", 1)
            fresh += 1
    feed = pa.table(rows)
    group = pa.array(np.asarray(rows["c_custkey"]) % n_batches)
    return [feed.filter(pc.equal(group, i)) for i in range(n_batches)]
