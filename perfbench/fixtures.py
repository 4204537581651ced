"""Seeded input tables for the benchmark workloads.

Every table has the schema of the engine's fixture tables (`events`,
`orders`, `lineitem`, `documents`, `embeddings`), so the engine reads
them through the same `Tables` readers and the registered ops' DuckDB
oracles run on them unchanged. Everything is drawn from one
`numpy.random.default_rng(seed)`: the same seed gives byte-identical
parquet files, and another seed gives other values at the same sizes
and distributions, so the cost of a workload does not depend on the
seed.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
# the corpus vocabulary of the engine's document fixture: 29 content
# words plus the two stopwords the quality battery counts
VOCAB = np.array(
    "scan column window order sort part agg value line key join merge "
    "group query spark table stream data batch filter hash fast slow "
    "big small row vector customer the a".split())
LANGS = np.array(["en", "en", "de", "es", "fr", "zh"])

JAN_2024_US = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
                  .timestamp()) * 1_000_000
DAY_US = 86_400 * 1_000_000
EPOCH_1995_DAY = (dt.date(1995, 1, 1) - dt.date(1970, 1, 1)).days
ORDER_DAYS = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(table, path):
    # one row group per ~64k rows: the scans split across every core
    pq.write_table(table, path, row_group_size=65_536)


def events(rng, n, n_users):
    """GA hit stream over 2024-01-01 .. 2024-01-30: time-ordered by
    event_id, ~uniform users and event types, a skewed value and the
    `{"k": N}` props string."""
    us = np.sort(rng.integers(JAN_2024_US, JAN_2024_US + 30 * DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(us),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(['{"k": %d}' % k
                           for k in rng.integers(0, 100, n)]),
    })


def orders_lineitem(rng, n_orders, n_cust):
    """TPC-H-shaped orders and 1..7 lineitems per order, keyed so
    (l_orderkey, l_linenumber) is unique."""
    day = rng.integers(0, ORDER_DAYS, n_orders) + EPOCH_1995_DAY
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders,
                                           dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(
            rng.uniform(1000.0, 500000.0, n_orders), 2)),
        "o_orderdate": _ts(day.astype(np.int64) * DAY_US),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
             "5-LOW"])[rng.integers(0, 5, n_orders)]),
    })
    per = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), per)
    n = okey.size
    starts = np.repeat(np.cumsum(per) - per, per)
    line = (np.arange(n) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = np.repeat(day, per) + rng.integers(1, 122, n)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_orders // 8 + 1, n,
                                           dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_orders // 150 + 1, n,
                                           dtype=np.int64)),
        "l_linenumber": pa.array(line),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(
            qty * rng.uniform(900.0, 2100.0, n), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100.0, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[
            rng.integers(0, 2, n)]),
        "l_shipdate": _ts(ship.astype(np.int64) * DAY_US),
    })
    return orders, lineitem


# shares of the corpus that copy an earlier doc, and the token swap
# rate of a near-duplicate
EXACT, NEAR, PARAPHRASE, MUTATE = 0.05, 0.30, 0.05, 0.05
DIM = 64


def corpus(rng, n_docs, n_emb):
    """A crawl-like corpus in doc_id order. Each doc is fresh text, an
    exact copy of an earlier doc, a near-duplicate of one (each token
    swapped with probability MUTATE), or a paraphrase (fresh text,
    embedding close to an earlier doc's). `n_emb` docs, drawn at
    random, carry a unit-norm embedding; a copy's embedding is its
    source's turned by a random angle (cosine 0.80..0.995), so all
    four curation stages drop real rows."""
    kind = rng.random(n_docs)
    src = (rng.random(n_docs) * np.arange(n_docs)).astype(np.int64)
    toks = [None] * n_docs
    vecs = rng.standard_normal((n_docs, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    lens = rng.integers(10, 101, n_docs)
    for i in range(n_docs):
        k = kind[i]
        if i == 0 or k >= NEAR + EXACT:
            toks[i] = rng.integers(0, VOCAB.size, lens[i])
            if i and k < NEAR + EXACT + PARAPHRASE:
                vecs[i] = _turn(rng, vecs[src[i]])
        elif k < EXACT:
            toks[i] = toks[src[i]]
            vecs[i] = vecs[src[i]]
        else:
            t = toks[src[i]].copy()
            hit = rng.random(t.size) < MUTATE
            t[hit] = rng.integers(0, VOCAB.size, int(hit.sum()))
            toks[i] = t
            vecs[i] = _turn(rng, vecs[src[i]])
    text = [" ".join(VOCAB[t]) for t in toks]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(LANGS[rng.integers(0, LANGS.size, n_docs)]),
        "source": pa.array(["src%d" % s
                            for s in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in text],
                                     dtype=np.int64)),
    })
    ids = np.sort(rng.choice(n_docs, size=n_emb, replace=False))
    emb = pa.table({
        "vec_id": pa.array(ids.astype(np.int64)),
        "embedding": pa.array(list(vecs[ids].astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32)),
    })
    return docs, emb


def _turn(rng, v):
    u = rng.standard_normal(v.size)
    u -= u.dot(v) * v
    u /= np.linalg.norm(u)
    eps = rng.uniform(0.10, 0.75)
    return (v + eps * u) / np.sqrt(1.0 + eps * eps)


def generate(out_dir, seed, sizes):
    """Write the tables `sizes` asks for under `out_dir`; returns the
    row counts and parquet bytes of each table written."""
    rng = np.random.default_rng(seed)
    tables = {}
    if "events" in sizes:
        tables["events"] = events(rng, sizes["events"], sizes["users"])
    if "orders" in sizes:
        tables["orders"], tables["lineitem"] = orders_lineitem(
            rng, sizes["orders"], sizes["customers"])
    if "documents" in sizes:
        tables["documents"], tables["embeddings"] = corpus(
            rng, sizes["documents"], sizes["embeddings"])
    info = {}
    for name, t in tables.items():
        path = out_dir / f"{name}.parquet"
        _write(t, path)
        info[name] = {"rows": t.num_rows, "bytes": path.stat().st_size}
    return info
