"""Deterministic synthetic warehouse for the benchmark.

Writes the ten tables the engine registers (`graft.Engine.TableNames`) as
one parquet file each, with the column names and parquet types of the
TPC-H-style test warehouse the engine's query packs run on. The data is
fixed (its own seed, not the workload seed): a workload seed varies the
statements and batches run against it, never the base tables.
"""
import os
import numpy as np
import pandas as pd
import duckdb

DATA_SEED = 20250101
# Rows per table: the TPC-H tables at sf0.01 row counts, the retrieval
# corpus at the size of the engine's sf0.1 test data. At sf0.1 one
# analytic statement takes ~350 ms on 4 cores, which leaves too few
# operations per timed run for steady medians.
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 20000, "documents": 5000,
        "embeddings": 2000}
DIM = 64
N_CLUSTERS = 10
WORDS = ("a the spark join scan sort hash group filter window agg key value "
         "row column table part line order customer query data stream "
         "batch merge index vector fast slow big small").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "view", "purchase", "error", "login"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

# Cluster centres of the embedding space, shared with the workload
# generator so that batch vectors land near the base corpus.
def centres():
    rng = np.random.default_rng(DATA_SEED + 7)
    c = rng.standard_normal((N_CLUSTERS, DIM)).astype(np.float32)
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def random_text(rng, n_words):
    return " ".join(rng.choice(WORDS, size=n_words))


def tables():
    rng = np.random.default_rng(DATA_SEED)
    n = ROWS
    out = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    nc = n["customer"]
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    ns = n["supplier"]
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns, dtype=np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, ns), 2)})
    npart = n["part"]
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [random_text(rng, 2) for _ in range(npart)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2)})
    no = n["orders"]
    day0 = np.datetime64("1995-01-01")
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(900, 450000, no), 2),
        "o_orderdate": day0 + rng.integers(0, 2400, no).astype("timedelta64[D]"),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
        "l_partkey": rng.integers(0, npart, nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, nl, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": day0 + rng.integers(0, 2500, nl).astype("timedelta64[D]")})
    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    out["events"] = pd.DataFrame({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": t0 + np.sort(rng.integers(0, 30 * 86400 * 10**6, ne)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 2000, ne, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.uniform(0, 200, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = [random_text(rng, int(k)) for k in rng.integers(5, 60, nd)]
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(nd, dtype=np.int64), "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    nv = n["embeddings"]
    labels = rng.integers(0, N_CLUSTERS, nv, dtype=np.int32)
    vecs = centres()[labels] + 0.35 * rng.standard_normal((nv, DIM)).astype(np.float32)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)), "label": labels})
    return out


def write(data_dir):
    """Write every table under `data_dir` (idempotent: skipped when the
    completion marker exists)."""
    marker = os.path.join(data_dir, "_DONE")
    if os.path.exists(marker):
        return
    os.makedirs(data_dir, exist_ok=True)
    con = duckdb.connect()
    for name, df in tables().items():
        path = os.path.join(data_dir, f"{name}.parquet")
        con.register("df", df)
        cols = "vec_id, embedding::FLOAT[] AS embedding, label" \
            if name == "embeddings" else "*"
        con.execute(f"COPY (SELECT {cols} FROM df) TO '{path}' (FORMAT PARQUET)")
        con.unregister("df")
    con.close()
    open(marker, "w").close()
