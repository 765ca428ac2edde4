"""Seeded input generator for the benchmark.

`base(sf, out)` writes the ten catalog tables at scale factor `sf` with the
schema, row counts and value domains of the engine's TPC-H-ish testdata
(region nation customer supplier part orders lineitem events documents
embeddings, one parquet file each). The base tables use a fixed seed: the
catalog workloads vary only their pass order with the run seed.

`scale(base_dir, copies, seed, out)` replicates a base input `copies` times:
ids are re-keyed per copy, every copy's text goes through its own
character bijection and every copy's embeddings through their own signed
coordinate permutation. Both maps preserve within-copy equality and
similarity exactly, while verbatim copies would plant cross-copy
near-duplicates and make dedup quadratic by construction. Copy 0 is the
identity, so the base slice is unchanged.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VERSION = 1
BASE_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
DIM = 64
# Text alphabet split into the letter sets a copy permutes independently
# (each set maps onto itself, so the composition is a bijection).
LETTER_SETS = ["etaoinsrh", "dlcumwfgy", "bpvkx", "qjz"]

_US_PER_DAY = 86_400_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start, end, rng, n):
    d0 = np.datetime64(start, "D").astype(np.int64)
    d1 = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(d0, d1 + 1, n) * _US_PER_DAY


def _documents(rng, n):
    lengths = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # 5% near-duplicates (a copy of another document plus one word) and a
    # few exact copies, the pairs the dedup and similarity queries find.
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    langs = rng.choice(["en", "fr", "es", "zh", "de"], n,
                       p=[0.41, 0.15, 0.15, 0.15, 0.14])
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n):
    x = rng.standard_normal((n, DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(x.ravel(), type=pa.float32()), DIM).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def base(sf, out):
    """Write the ten tables at scale factor `sf` into directory `out`."""
    rng = np.random.default_rng(BASE_SEED)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array(["blue", "old", "small", "new", "red", "large", "hot", "cold"])
    noun = np.array(["bolt", "plate", "rod", "anvil", "ring", "gear", "widget", "gizmo"])
    pkeys = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pkeys,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pkeys % 1000) / 10, 1)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_days("1995-01-01", "2001-08-01", rng, n_ord)),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts(_days("1995-01-02", "2001-11-04", rng, n_li))})
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(t0 + rng.integers(0, 30 * _US_PER_DAY, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    _write(out, "documents", _documents(rng, n_docs))
    _write(out, "embeddings", _embeddings(rng, n_emb))


def letter_map(copy, seed):
    """The character bijection of one copy: an independent permutation of
    each letter set, drawn from (seed, copy); copy 0 is the identity."""
    if copy == 0:
        return {}
    rng = np.random.default_rng([seed, copy])
    table = {}
    for s in LETTER_SETS:
        table.update(zip(s, (s[i] for i in rng.permutation(len(s)))))
    return table


def coord_map(copy, seed):
    """The embedding isometry of one copy, as (source index, sign) per
    destination coordinate; copy 0 is the identity."""
    if copy == 0:
        return np.arange(DIM), np.ones(DIM, dtype=np.float32)
    rng = np.random.default_rng([seed, copy, 1])
    return rng.permutation(DIM), rng.choice(np.array([-1.0, 1.0], np.float32), DIM)


def _rekey(t, offsets, copy):
    cols = {}
    for name in t.column_names:
        col = t[name]
        if name in offsets:
            col = pc.add(col, pa.scalar(offsets[name] * copy, col.type))
        cols[name] = col
    return cols


def scale(base_dir, copies, seed, out):
    """Replicate the base input `copies` times with per-copy decorrelation.

    Only the tables that grow with the corpus are replicated (documents,
    embeddings, events, orders, lineitem); the dimension tables are copied
    as they are, so every re-keyed foreign key still resolves.
    """
    os.makedirs(out, exist_ok=True)
    for name in ["region", "nation", "customer", "supplier", "part"]:
        shutil.copyfile(os.path.join(base_dir, f"{name}.parquet"),
                        os.path.join(out, f"{name}.parquet"))
    read = lambda name: pq.read_table(os.path.join(base_dir, f"{name}.parquet"))

    docs = read("documents")
    parts = []
    for c in range(copies):
        cols = _rekey(docs, {"doc_id": 1_000_000}, c)
        tr = str.maketrans(letter_map(c, seed))
        cols["text"] = pa.array([s.translate(tr) for s in docs["text"].to_pylist()])
        parts.append(pa.table(cols))
    pq.write_table(pa.concat_tables(parts), os.path.join(out, "documents.parquet"))

    emb = read("embeddings")
    x = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float32)
    parts = []
    for c in range(copies):
        cols = _rekey(emb, {"vec_id": 1_000_000}, c)
        src, sign = coord_map(c, seed)
        y = x[:, src] * sign
        cols["embedding"] = pa.FixedSizeListArray.from_arrays(
            pa.array(y.ravel(), type=pa.float32()), DIM).cast(pa.list_(pa.float32()))
        parts.append(pa.table(cols))
    pq.write_table(pa.concat_tables(parts), os.path.join(out, "embeddings.parquet"))

    for name, offsets in [("events", {"event_id": 10_000_000, "user_id": 1_000_000}),
                          ("orders", {"o_orderkey": 100_000_000}),
                          ("lineitem", {"l_orderkey": 100_000_000})]:
        t = read(name)
        pq.write_table(pa.concat_tables(pa.table(_rekey(t, offsets, c)) for c in range(copies)),
                       os.path.join(out, f"{name}.parquet"))
