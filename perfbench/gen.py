"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the engine reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with the
schemas and value domains of the engine's test fixtures (FIXTURES.md §B):
the same column types, category sets, key ranges, date windows and
near-duplicate structure, drawn from a numpy generator seeded by the run's
seed. The same (seed, sf, rep) always yields byte-identical files.

`rep` > 1 replicates the fact tables the way tools/replicate.py builds its
scale-up copies: shifted order keys, user-axis event copies, salted
document copies and jittered embedding copies, with dimensions shared.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["plate", "widget", "ring", "rod", "gizmo", "bolt", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64
US_PER_DAY = 86_400_000_000


def _days(start, end):
    """Microsecond timestamps of whole days from `start` to `end` inclusive."""
    lo = np.datetime64(start, "D").astype("datetime64[us]").astype(np.int64)
    n = int((np.datetime64(end, "D") - np.datetime64(start, "D")).astype(int)) + 1
    return lo, n


def _ts(us, unit):
    """Microsecond timestamps stored in the fixture's `unit`: ms for the
    order and ship dates, ns for events.ts (FIXTURES.md §B)."""
    scaled = {"ms": us // 1000, "ns": us * 1000}[unit]
    return pa.array(scaled, type=pa.timestamp(unit))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf):
    """Base (unreplicated) tables at scale factor `sf` as pyarrow Tables."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist()})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    lo, nd = _days("1995-01-01", "2001-08-01")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(lo + rng.integers(0, nd, n_ord) * US_PER_DAY, "ms"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist()})
    lo, nd = _days("1995-01-02", "2001-11-04")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": _money(rng, 0.0, 0.1, n_li),
        "l_tax": _money(rng, 0.0, 0.08, n_li),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": _ts(lo + rng.integers(0, nd, n_li) * US_PER_DAY, "ms")})
    lo, _ = _days("2024-01-01", "2024-01-01")
    ts = np.sort(lo + rng.integers(0, 30 * US_PER_DAY, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ts, "ns"),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(VOCAB, int(n)))
             for n in rng.integers(10, 100, n_docs)]
    # one document in twenty is a marked near-copy of another document
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centroids = rng.standard_normal((10, EMB_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    vecs = rng.standard_normal((n_emb, EMB_DIM)) + 1.2 * centroids[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = _embeddings(np.arange(n_emb), vecs, labels)
    return out


def _embeddings(ids, vecs, labels):
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, len(ids) * EMB_DIM + 1, EMB_DIM), pa.int32())
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32())})


def _shift(t, column, by):
    i = t.schema.get_field_index(column)
    return t.set_column(i, column, pa.array(t[column].to_numpy() + by, pa.int64()))


def replicate(base, k):
    """k copies of the fact tables, shaped as tools/replicate.py shapes them."""
    if k == 1:
        return base
    out = dict(base)
    out["lineitem"] = pa.concat_tables(
        _shift(base["lineitem"], "l_orderkey", i * 1_000_000_000) for i in range(k))
    out["orders"] = pa.concat_tables(
        _shift(base["orders"], "o_orderkey", i * 1_000_000_000) for i in range(k))
    out["events"] = pa.concat_tables(
        _shift(_shift(base["events"], "event_id", i * 1_000_000_000),
               "user_id", i * 2000) for i in range(k))
    docs = []
    for i in range(k):
        d = _shift(base["documents"], "doc_id", i * 10_000_000)
        if i:
            d = d.set_column(1, "text", pa.array(
                [t + f" salt{i}" for t in d["text"].to_pylist()]))
        docs.append(d)
    out["documents"] = pa.concat_tables(docs)
    e = base["embeddings"]
    ids = e["vec_id"].to_numpy()
    vecs = np.stack(e["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
    copies = [e]
    for i in range(1, k):
        # deterministic ±5e-3 jitter per component, as the replicate tool adds
        j = ((ids[:, None] * 100 + np.arange(EMB_DIM)[None, :] + i) * 2654435761) % 100
        copies.append(_embeddings(ids + i * 100_000, vecs + (j - 50) * 1e-4,
                                  e["label"].to_numpy()))
    out["embeddings"] = pa.concat_tables(copies)
    return out


def write(out_dir, seed, sf, rep):
    """Write the tables under `out_dir`; returns their total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in replicate(tables(seed, sf), rep).items():
        # format 2.6 keeps events.ts as TIMESTAMP(NANOS), as the fixtures ship it
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy", version="2.6")
    return dir_bytes(out_dir)


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)
