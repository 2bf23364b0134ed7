"""Seeded workload generators.

Each generator turns a seed into a plan: the set-up statements of each
set-up repetition, warm-up operations, the timed operation stream and the
check statements, plus the batch rows the stream reads through temp
views. The engine only ever sees the generated SQL text and those views.
The same seed gives the same plan and batch rows byte for byte, and a
different seed gives different ones (tests/test_workloads.py).

The timed stream is a sequence of rounds. Every round holds the same
operations in the same shapes, with fixed batch and result sizes, and the
driver ends the timed phase at the first round boundary after the
deadline. So runs of different seeds execute the same operation mix: a
seed changes what is asked (every parameter, key range, batch row and
query vector, and in olap-read the order inside a round), not how much of
each kind.

An operation is a dict:
  id     position in the stream (unique within a plan)
  cls    span class, named after the layer it exercises
  kind   "read" or "write" ("setup"/"check" outside the timed phase)
  sql    the statement sent to graft.Engine.sql
  fetch  whether the result rows are fetched to the client
  views  temp views registered before the statement (untimed)
and, for the answer checks only:
  duck   the DuckDB text of a read, or the DuckDB replay of a write
"""
import hashlib
import json
import os
import random

import duckdb
import numpy as np
import pandas as pd

import datagen

WORKLOADS = ("olap-read", "index-rag", "txn-dml")
# Rounds generated per timed second: the stream outlasts any run, so the
# deadline, not the stream, ends the timed phase.
ROUNDS_PER_S = 2
CHECK_ID = 10 ** 6


def _rounds(seconds):
    return 5 + ROUNDS_PER_S * seconds


def _schedule(rng, round_slots, seconds):
    """Class of every timed operation. A round is a list of slots, each
    naming a group of classes (a group has one class per slot it fills);
    each round draws a fresh seeded order of every group and fills the
    group's slots with it. So the interleaving of groups (say, reads and
    writes) is the same in every round."""
    out = []
    for _ in range(_rounds(seconds)):
        order = {}
        for g in {id(slot): slot for slot in round_slots}.values():
            order[id(g)] = rng.sample(g, len(g))
        taken = {k: 0 for k in order}
        for slot in round_slots:
            out.append(order[id(slot)][taken[id(slot)]])
            taken[id(slot)] += 1
    return out


# --------------------------------------------------------------------------
# olap-read: parameterised read-only SELECTs in the query packs' shapes.
# Each template returns (spark_sql, duckdb_sql); most texts are shared.

N_ORDERS = datagen.ROWS["orders"]
N_CUST = datagen.ROWS["customer"]


def _date(rng, lo_day, hi_day):
    return str(np.datetime64("1995-01-01") + np.timedelta64(rng.randrange(lo_day, hi_day), "D"))


def _q1(rng):
    d = _date(rng, 1500, 2400)
    s = ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
         "sum(l_extendedprice) AS sum_base, "
         "sum(l_extendedprice * (1 - l_discount)) AS sum_disc, "
         "avg(l_quantity) AS avg_qty, avg(l_discount) AS avg_disc, count(*) AS n "
         f"FROM lineitem WHERE l_shipdate <= DATE '{d}' "
         "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")
    return s, s


def _q3(rng):
    seg = rng.choice(datagen.SEGMENTS)
    d = _date(rng, 200, 2200)
    s = ("SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue, "
         "CAST(o_orderdate AS DATE) AS odate "
         "FROM customer JOIN orders ON c_custkey = o_custkey "
         "JOIN lineitem ON l_orderkey = o_orderkey "
         f"WHERE c_mktsegment = '{seg}' AND o_orderdate < DATE '{d}' "
         f"AND l_shipdate > DATE '{d}' "
         "GROUP BY l_orderkey, o_orderdate ORDER BY revenue DESC, l_orderkey LIMIT 10")
    return s, s


def _q5(rng):
    region = rng.choice(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])
    y = rng.randrange(1995, 2001)
    s = ("SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue "
         "FROM customer JOIN orders ON c_custkey = o_custkey "
         "JOIN lineitem ON l_orderkey = o_orderkey "
         "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
         "JOIN nation ON s_nationkey = n_nationkey "
         "JOIN region ON n_regionkey = r_regionkey "
         f"WHERE r_name = '{region}' AND o_orderdate >= DATE '{y}-01-01' "
         f"AND o_orderdate < DATE '{y + 1}-01-01' "
         "GROUP BY n_name ORDER BY revenue DESC, n_name")
    return s, s


def _q10(rng):
    y, m = rng.randrange(1995, 2001), rng.randrange(1, 10)
    s = ("SELECT c_custkey, c_name, sum(l_extendedprice * (1 - l_discount)) AS revenue, "
         "c_acctbal, n_name "
         "FROM customer JOIN orders ON c_custkey = o_custkey "
         "JOIN lineitem ON l_orderkey = o_orderkey "
         "JOIN nation ON c_nationkey = n_nationkey "
         f"WHERE o_orderdate >= DATE '{y}-{m:02d}-01' "
         f"AND o_orderdate < DATE '{y}-{m + 3:02d}-01' AND l_returnflag = 'R' "
         "GROUP BY c_custkey, c_name, c_acctbal, n_name "
         "ORDER BY revenue DESC, c_custkey LIMIT 20")
    return s, s


def _window(rng):
    lo = rng.randrange(0, N_CUST - 60)
    s = ("SELECT o_custkey, o_orderkey, o_totalprice, r FROM ("
         "SELECT o_custkey, o_orderkey, o_totalprice, rank() OVER "
         "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS r "
         f"FROM orders WHERE o_custkey BETWEEN {lo} AND {lo + 40}) x "
         "WHERE r <= 3 ORDER BY o_custkey, r")
    return s, s


def _rollup(rng):
    bal = rng.randrange(-500, 8000)
    s = ("SELECT c_mktsegment, c_nationkey, count(*) AS n, sum(c_acctbal) AS bal "
         f"FROM customer WHERE c_acctbal > {bal} "
         "GROUP BY ROLLUP (c_mktsegment, c_nationkey)")
    return s, s


def _grouping_sets(rng):
    d = _date(rng, 0, 2000)
    s = ("SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q "
         f"FROM lineitem WHERE l_shipdate >= DATE '{d}' "
         "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())")
    return s, s


def _hive_fn(rng):
    # `field` is one of the engine's Hive-pack functions; DuckDB gets the
    # equivalent CASE
    segs = rng.sample(datagen.SEGMENTS, 3)
    n = rng.randrange(0, 25)
    lits = ", ".join(f"'{x}'" for x in segs)
    case = " ".join(f"WHEN '{x}' THEN {i + 1}" for i, x in enumerate(segs))
    tail = (f"AS f, count(*) AS n FROM customer WHERE c_nationkey = {n} "
            "GROUP BY 1 ORDER BY 1")
    return (f"SELECT field(c_mktsegment, {lits}) {tail}",
            f"SELECT CASE c_mktsegment {case} ELSE 0 END {tail}")


def _events(rng):
    day = rng.randrange(1, 28)
    s = ("SELECT event_type, count(*) AS n, sum(value) AS v FROM events "
         f"WHERE ts >= TIMESTAMP '2024-01-{day:02d} 00:00:00' "
         f"AND ts < TIMESTAMP '2024-01-{day + 2:02d} 00:00:00' "
         "GROUP BY event_type ORDER BY event_type")
    return s, s


def _point(rng):
    s = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
         "CAST(o_orderdate AS DATE) AS odate FROM orders "
         f"WHERE o_orderkey = {rng.randrange(0, N_ORDERS)}")
    return s, s


def _point_lines(rng):
    s = ("SELECT l_partkey, l_suppkey, l_quantity, l_extendedprice FROM lineitem "
         f"WHERE l_orderkey = {rng.randrange(0, N_ORDERS)} "
         "ORDER BY l_partkey, l_suppkey, l_extendedprice")
    return s, s


OLAP = {"olap.q1": _q1, "olap.q3": _q3, "olap.q5": _q5, "olap.q10": _q10,
        "olap.window": _window, "olap.rollup": _rollup,
        "olap.grouping_sets": _grouping_sets, "olap.hive_fn": _hive_fn,
        "olap.events": _events, "olap.point": _point, "olap.point_lines": _point_lines}
_OLAP_CLASSES = (["olap.q1", "olap.q3", "olap.q5", "olap.q10", "olap.grouping_sets"] +
                 ["olap.window", "olap.rollup", "olap.hive_fn", "olap.events"] * 2 +
                 ["olap.point"] * 4 + ["olap.point_lines"] * 3)
OLAP_ROUND = [_OLAP_CLASSES] * len(_OLAP_CLASSES)
# Positions of a round whose statement repeats an earlier statement of its
# class verbatim (6 of 20), so that a plan or result cache would show.
REPEAT_AT = {2, 5, 8, 11, 14, 17}


def olap_read(seed, seconds, data, store, batch_dir, reps):
    rng = random.Random(seed)

    def op(i, cls, texts):
        return {"id": i, "cls": cls, "kind": "read", "sql": texts[0],
                "duck": texts[1], "fetch": True}

    wrng = random.Random(seed ^ 0x5EED)
    warmup = [op(-1 - j, cls, OLAP[cls](wrng)) for j, cls in enumerate(
        ["olap.q1", "olap.q3", "olap.window", "olap.rollup", "olap.point"])]
    ops, seen = [], {}
    for i, cls in enumerate(_schedule(rng, OLAP_ROUND, seconds)):
        if seen.get(cls) and i % len(OLAP_ROUND) in REPEAT_AT:
            texts = rng.choice(seen[cls])
        else:
            texts = OLAP[cls](rng)
            seen.setdefault(cls, []).append(texts)
        ops.append(op(i, cls, texts))
    return {"setups": _setups(store, reps, lambda root: []), "warmup": warmup,
            "ops": ops, "round": len(OLAP_ROUND), "checks": [], "batches": {}, "files": {}}


def _setups(store, reps, statements):
    """Set-up repetitions, each with its own store root; only the last
    one's stores are kept for the timed phase."""
    out = []
    for r in range(reps):
        root = os.path.join(store, f"rep{r}")
        out.append({"root": root, "managed_root": os.path.join(root, "indexzoo"),
                    "statements": statements(root), "keep": r == reps - 1})
    return out


# --------------------------------------------------------------------------
# txn-dml: reads and writes on one ACID table created from `orders`.

TXN = "txn_orders"
# Every snapshot aggregate and every VERSION AS OF read uses this shape.
TXN_AGG = ("SELECT o_orderstatus, count(*) AS n, sum(o_orderkey) AS ks, "
           "round(sum(o_totalprice), 2) AS p FROM {src} "
           "GROUP BY o_orderstatus ORDER BY o_orderstatus")
# Final-state check: per 100-key bucket counts and sums, so one lost,
# duplicated or altered row shows in its bucket.
TXN_FINAL = ("SELECT {div} AS b, count(*) AS n, sum(o_orderkey) AS ks, "
             "sum(o_custkey) AS cs, round(sum(o_totalprice), 2) AS p, "
             "count(DISTINCT o_orderstatus) AS ns FROM {src} GROUP BY 1 ORDER BY 1")
# One round, in a fixed order: the four DML statements, each followed by a
# read, then an OPTIMIZE (so OPTIMIZE runs every 5 commits) and a fifth
# read. The order is fixed because a read's latency depends on how many
# deltas it merges; the seed picks every key range, row and value.
TXN_ROUND = [[c] for c in ("txn.insert", "read.point", "txn.update", "read.range",
                           "txn.delete", "read.timetravel", "txn.merge", "read.agg",
                           "txn.optimize", "read.point")]
FRESH_KEYS = 10 ** 7  # keys inserted by the workload start here


def _txn_row(rng, k):
    d = np.datetime64("1995-01-01") + np.timedelta64(rng.randrange(0, 2400), "D")
    return (k, rng.randrange(0, N_CUST), rng.choice("FOP"),
            round(rng.uniform(900, 450000), 2), str(d), rng.choice(datagen.PRIORITIES))


def txn_dml(seed, seconds, data, store, batch_dir, reps):
    rng = random.Random(seed)
    next_key = [FRESH_KEYS]

    def fresh(n):
        k = next_key[0]
        next_key[0] += n
        return list(range(k, k + n))

    def write(i, cls, sql, duck):
        return {"id": i, "cls": cls, "kind": "write", "sql": sql, "duck": duck}

    def read(i, cls, sql, duck, **kw):
        return dict({"id": i, "cls": cls, "kind": "read", "sql": sql, "duck": duck,
                     "fetch": True, "txn_table": TXN}, **kw)

    # The latest version that surely exists: CREATE commits version 1 and
    # every INSERT and MERGE one more (an UPDATE, DELETE or OPTIMIZE with
    # nothing to do commits nothing). VERSION AS OF reads this version.
    version, ops = 1, []
    for i, cls in enumerate(_schedule(rng, TXN_ROUND, seconds)):
        if cls == "read.timetravel":
            v = version
            ops.append(read(i, "txn.timetravel", TXN_AGG.format(src=f"{TXN} VERSION AS OF {v}"),
                            None, version=v))
            continue
        if cls == "read.agg":
            ops.append(read(i, "txn.read", TXN_AGG.format(src=TXN), TXN_AGG.format(src="t")))
            continue
        if cls == "read.range":
            lo = rng.randrange(0, N_ORDERS - 500)
            s = ("SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS p "
                 f"FROM {{src}} WHERE o_orderkey BETWEEN {lo} AND {lo + 500} "
                 "GROUP BY o_orderpriority ORDER BY o_orderpriority")
            ops.append(read(i, "txn.read", s.format(src=TXN), s.format(src="t")))
            continue
        if cls == "read.point":
            k = rng.randrange(FRESH_KEYS, next_key[0]) \
                if next_key[0] > FRESH_KEYS and rng.random() < 0.2 else rng.randrange(0, N_ORDERS)
            s = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                 f"o_orderpriority FROM {{src}} WHERE o_orderkey = {k}")
            ops.append(read(i, "txn.read", s.format(src=TXN), s.format(src="t")))
            continue
        if cls in ("txn.insert", "txn.merge"):
            version += 1
        if cls == "txn.optimize":
            ops.append(write(i, cls, f"OPTIMIZE {TXN}", []))
            continue
        lo = rng.randrange(0, N_ORDERS - 400)
        if cls == "txn.insert":
            rows = [_txn_row(rng, k) for k in fresh(20)]
            vals = ", ".join(f"({k}, {c}, '{s}', {p}, CAST('{d}' AS TIMESTAMP), '{pr}')"
                             for k, c, s, p, d, pr in rows)
            dvals = ", ".join(f"({k}, {c}, '{s}', {p}, TIMESTAMP '{d}', '{pr}')"
                              for k, c, s, p, d, pr in rows)
            ops.append(write(i, cls, f"INSERT INTO {TXN} VALUES {vals}",
                             [f"INSERT INTO t VALUES {dvals}"]))
        elif cls == "txn.update":
            cond = f"o_orderkey BETWEEN {lo} AND {lo + 200}"
            s = (f"UPDATE {TXN} SET o_totalprice = o_totalprice + {rng.randrange(1, 100)}, "
                 f"o_orderstatus = 'U' WHERE {cond}")
            ops.append(write(i, cls, s, [s.replace(TXN, "t")]))
        elif cls == "txn.delete":
            s = f"DELETE FROM {TXN} WHERE o_orderkey BETWEEN {lo} AND {lo + 50}"
            ops.append(write(i, cls, s, [s.replace(TXN, "t")]))
        else:
            keys = rng.sample(range(lo, lo + 300), 30) + fresh(10)
            src = [(k, round(rng.uniform(900, 450000), 2), int(rng.random() < 0.2))
                   for k in keys]
            vals = ", ".join(f"({k}, {p}, {d})" for k, p, d in src)
            s = (f"MERGE INTO {TXN} t USING (SELECT * FROM VALUES {vals} "
                 "AS v(sk, sp, sd)) s ON t.o_orderkey = s.sk "
                 "WHEN MATCHED AND s.sd = 1 THEN DELETE "
                 "WHEN MATCHED THEN UPDATE SET o_totalprice = s.sp, o_orderstatus = 'M' "
                 "WHEN NOT MATCHED THEN INSERT VALUES "
                 "(s.sk, 0, 'N', s.sp, CAST('2000-01-01' AS TIMESTAMP), '3-MEDIUM')")
            duck = [
                f"CREATE OR REPLACE TEMP TABLE s AS SELECT * FROM (VALUES {vals}) v(sk, sp, sd)",
                "CREATE OR REPLACE TEMP TABLE m AS SELECT s.*, "
                "EXISTS (SELECT 1 FROM t WHERE t.o_orderkey = s.sk) AS hit FROM s",
                "DELETE FROM t USING m WHERE t.o_orderkey = m.sk AND m.hit AND m.sd = 1",
                "UPDATE t SET o_totalprice = m.sp, o_orderstatus = 'M' FROM m "
                "WHERE t.o_orderkey = m.sk AND m.hit AND m.sd <> 1",
                "INSERT INTO t SELECT sk, 0, 'N', sp, TIMESTAMP '2000-01-01', "
                "'3-MEDIUM' FROM m WHERE NOT m.hit"]
            ops.append(write(i, cls, s, duck))

    def create(root):
        return [{"id": -100, "cls": "txn.create", "kind": "setup",
                 "sql": f"CREATE TRANSACTIONAL TABLE {TXN} LOCATION '{root}/{TXN}' "
                        "AS SELECT * FROM orders"}]
    wrng = random.Random(seed ^ 0x5EED)
    warmup = [read(-1, "txn.read", TXN_AGG.format(src=TXN), None),
              read(-2, "txn.read", f"SELECT * FROM {TXN} WHERE o_orderkey = "
                                   f"{wrng.randrange(0, N_ORDERS)}", None),
              read(-3, "txn.timetravel", TXN_AGG.format(src=f"{TXN} VERSION AS OF 1"), None)]
    checks = [read(CHECK_ID, "check.final_state",
                   TXN_FINAL.format(src=TXN, div="o_orderkey DIV 100"),
                   TXN_FINAL.format(src="t", div="o_orderkey // 100"))]
    return {"setups": _setups(store, reps, create), "warmup": warmup, "ops": ops,
            "round": len(TXN_ROUND), "checks": checks, "batches": {}, "files": {}}


# --------------------------------------------------------------------------
# index-rag: RAG corpus upkeep and retrieval through the index SQL surface.

VEC_KINDS = ("graph", "ivf_pq", "binary")
VEC_VIEW = {k: f"emb_{k}" for k in VEC_KINDS}
INDEX_NAME = {"bm25": "fi_bm25", "graph": "vi_graph", "ivf_pq": "vi_ivf_pq",
              "binary": "vi_binary"}
# 6 reads and 2 writes per round: one probe of each kind and a second
# IVF_PQ probe, in a fixed order (a probe's latency depends on the
# generations the writes before it left), with a write after the second
# and the fourth probe. The IVF_PQ probes sit in the middle of the probe
# latencies, so with two of them the read median stays on one probe class
# instead of jumping between classes from run to run.
_INDEX_PROBES = ["index.bm25.probe", "index.graph.probe", "index.ivf_pq.probe",
                 "index.binary.probe", "index.hybrid.probe"]
INDEX_ROUND = [["index.bm25.probe"], ["index.graph.probe"], ["index.write"],
               ["index.ivf_pq.probe"], ["index.binary.probe"], ["index.write"],
               ["index.ivf_pq.probe"], ["index.hybrid.probe"]]
# Writes take their targets from this cycle, ordered so that a short run
# already reaches every index and every kind of maintenance.
WRITE_CYCLE = ("graph.add", "bm25.add", "ivf_pq.remove", "bm25.compact", "binary.add",
               "graph.compact", "ivf_pq.add", "binary.remove", "graph.remove",
               "ivf_pq.compact", "binary.compact")
TOPK = 10


def _perturb(nrng, base, n, noise):
    pick = base[nrng.integers(0, len(base), n)]
    return (pick + noise * nrng.standard_normal(pick.shape)).astype(np.float32)


def corpus(data):
    """Base documents (doc_id, text) and vectors (row i is vec_id i)."""
    con = duckdb.connect()
    docs = con.execute(f"SELECT doc_id, text FROM '{data}/documents.parquet' "
                       "ORDER BY doc_id").df()
    emb = con.execute(f"SELECT vec_id, embedding FROM '{data}/embeddings.parquet' "
                      "ORDER BY vec_id").df()
    con.close()
    return docs, np.stack(emb["embedding"].to_numpy()).astype(np.float32)


def index_rag(seed, seconds, data, store, batch_dir, reps):
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    docs, base_vecs = corpus(data)
    n_vecs = len(base_vecs)
    next_doc, next_vec = [10 ** 6], [10 ** 6]
    live = {k: set(range(n_vecs)) for k in VEC_KINDS}
    rows = {"queries": [], "vec_batches": [], "doc_batches": [], "remove_ids": []}
    files = {n: os.path.join(batch_dir, f"{n}.parquet") for n in rows}
    final = os.path.join(store, f"rep{reps - 1}")

    def terms():
        return " ".join(rng.sample(datagen.WORDS[2:], 2))

    def view(name, batch, i):
        return [{"name": name, "file": files[batch], "op": i}]

    def probe(i, cls):
        if cls == "index.bm25.probe":
            qs = ", ".join(f"({j + 1},'{terms()}')" for j in range(2))
            return {"id": i, "cls": cls, "kind": "read", "fetch": True, "index": "bm25",
                    "sql": f"FULLTEXT TOPK ON documents (text) QUERIES ({qs}) LIMIT {TOPK}",
                    "probe_dir": os.path.join(final, "bm25")}
        if cls == "index.hybrid.probe":
            trips = ", ".join(f"({j + 1},'{terms()}',{rng.randrange(0, n_vecs)})"
                              for j in range(2))
            return {"id": i, "cls": cls, "kind": "read", "fetch": True,
                    "sql": ("HYBRID TOPK ON documents (text) VECTORS emb_graph "
                            f"(embedding) QUERIES ({trips}) LIMIT 5")}
        k = cls.split(".")[1]
        for j, v in enumerate(_perturb(nrng, base_vecs, 2, 0.25)):
            rows["queries"].append((i, j + 1, v))
        return {"id": i, "cls": cls, "kind": "read", "fetch": True,
                "index": k, "views": view("qv", "queries", i),
                "sql": f"VECTOR TOPK ON {VEC_VIEW[k]} (embedding) QUERIES qv LIMIT {TOPK}",
                "probe_dir": os.path.join(final, k)}

    def write(i, target):
        k, action = target.split(".")
        fam = "FULLTEXT" if k == "bm25" else "VECTOR"
        op = {"id": i, "kind": "write", "index": k, "cls": f"index.{k}.{action}"}
        if action == "compact":
            op["sql"] = f"ALTER {fam} INDEX {INDEX_NAME[k]} COMPACT"
        elif k == "bm25":
            for _ in range(40):
                src = docs["text"].iat[rng.randrange(0, len(docs))].split(" ")
                words = src[:rng.randrange(1, len(src) + 1)] + terms().split(" ")
                rows["doc_batches"].append((i, next_doc[0], " ".join(words)))
                next_doc[0] += 1
            op.update(views=view("doc_batch", "doc_batches", i),
                      sql=f"ALTER FULLTEXT INDEX {INDEX_NAME[k]} ADD FROM doc_batch")
        elif action == "add":
            n = 40
            ids = list(range(next_vec[0], next_vec[0] + n))
            next_vec[0] += n
            for vid, v in zip(ids, _perturb(nrng, base_vecs, n, 0.15)):
                rows["vec_batches"].append((i, vid, v))
            live[k].update(ids)
            op.update(views=view("vec_batch", "vec_batches", i),
                      sql=f"ALTER VECTOR INDEX {INDEX_NAME[k]} ADD FROM vec_batch")
        else:
            gone = rng.sample(sorted(live[k]), 10)
            rows["remove_ids"] += [(i, vid) for vid in gone]
            live[k].difference_update(gone)
            op.update(views=view("rm_batch", "remove_ids", i),
                      sql=f"ALTER VECTOR INDEX {INDEX_NAME[k]} REMOVE FROM rm_batch")
        return op

    ops, write_turn = [], 0
    for i, cls in enumerate(_schedule(rng, INDEX_ROUND, seconds)):
        if cls == "index.write":
            ops.append(write(i, WRITE_CYCLE[write_turn % len(WRITE_CYCLE)]))
            write_turn += 1
        else:
            ops.append(probe(i, cls))
    # Coverage pass (traced runs only, after the timed phase): one of every
    # maintenance statement, then one probe of every kind, so the per-layer
    # report covers each index lifecycle step however short the run.
    coverage = [write(len(ops) + j, t) for j, t in enumerate(WRITE_CYCLE)]
    coverage += [probe(len(ops) + len(coverage) + j, c) for j, c in enumerate(_INDEX_PROBES)]

    # Warm-up: a dense probe against the fresh indexes (the BM25 build
    # already reads back its own store).
    wrng = np.random.default_rng(seed ^ 0x5EED)
    rows["queries"] += [(-1, j + 1, v) for j, v in enumerate(_perturb(wrng, base_vecs, 2, 0.25))]
    warmup = []
    warmup.append({"id": -1, "cls": "index.graph.probe", "kind": "read", "fetch": True,
                   "views": view("qv", "queries", -1),
                   "sql": f"VECTOR TOPK ON {VEC_VIEW['graph']} (embedding) QUERIES qv LIMIT {TOPK}"})

    def create(root):
        st = [{"id": -200, "cls": "index.bm25.build", "kind": "setup",
               "sql": f"CREATE FULLTEXT INDEX {INDEX_NAME['bm25']} ON documents (text) "
                      f"AS 'BM25' OPTIONS (path='{root}/bm25')"}]
        for k in VEC_KINDS:
            st.append({"id": -201, "cls": f"index.{k}.build", "kind": "setup",
                       "views": [{"name": VEC_VIEW[k],
                                  "sql": "SELECT vec_id AS id, embedding FROM embeddings"}],
                       "sql": f"CREATE VECTOR INDEX {INDEX_NAME[k]} ON {VEC_VIEW[k]} "
                              f"(embedding) AS '{k.upper()}' OPTIONS (path='{root}/{k}')"})
        return st

    # Checks: BM25 through the index vs the full-scan path over the same
    # live corpus (base documents plus every batch the run added).
    probe_terms = sorted({t for o in ops + coverage if o["cls"] == "index.bm25.probe"
                          for t in o["sql"].split("'")[1::2]})
    qlist = ", ".join(f"({j + 1},'{t}')" for j, t in enumerate(probe_terms[:12]))
    checks = [
        {"id": CHECK_ID, "cls": "check.bm25_indexed", "kind": "check", "fetch": True,
         "sql": f"FULLTEXT TOPK ON documents (text) QUERIES ({qlist}) LIMIT {TOPK}"},
        {"id": CHECK_ID + 1, "cls": "check.bm25_scan", "kind": "check", "fetch": True,
         "views": [{"name": "docs_added", "file": files["doc_batches"], "executed_only": True},
                   {"name": "docs_live", "sql": "SELECT doc_id, text FROM documents "
                                                "UNION ALL SELECT doc_id, text FROM docs_added"}],
         "sql": f"FULLTEXT TOPK ON docs_live (text) QUERIES ({qlist}) LIMIT {TOPK}"},
    ]
    batches = {
        "queries": pd.DataFrame(rows["queries"], columns=["op", "id", "embedding"]),
        "vec_batches": pd.DataFrame(rows["vec_batches"], columns=["op", "id", "embedding"]),
        "doc_batches": pd.DataFrame(rows["doc_batches"], columns=["op", "doc_id", "text"]),
        "remove_ids": pd.DataFrame(rows["remove_ids"], columns=["op", "id"]),
    }
    return {"setups": _setups(store, reps, create), "warmup": warmup, "ops": ops,
            "round": len(INDEX_ROUND), "coverage": coverage, "checks": checks,
            "batches": batches, "files": files}


GENERATORS = {"olap-read": olap_read, "index-rag": index_rag, "txn-dml": txn_dml}


def generate(workload, seed, seconds, data, store, batch_dir, reps):
    """The plan of one run (see the module docstring)."""
    return GENERATORS[workload](seed, seconds, data, store, batch_dir, reps)


def write_batches(plan):
    """Write the batch rows of a plan as parquet (vectors as FLOAT[])."""
    con = duckdb.connect()
    for name, df in plan["batches"].items():
        con.register("df", df)
        cols = ", ".join("embedding::FLOAT[] AS embedding" if c == "embedding" else c
                         for c in df.columns)
        con.execute(f"COPY (SELECT {cols} FROM df) TO '{plan['files'][name]}' (FORMAT PARQUET)")
        con.unregister("df")
    con.close()


def fingerprint(plan):
    """Digest of everything the engine sees: statement text, views and
    batch rows, in a fixed order."""
    h = hashlib.sha256()
    for part in ("setups", "warmup", "ops", "checks"):
        h.update(json.dumps(plan[part], sort_keys=True).encode())
    for name in sorted(plan["batches"]):
        df = plan["batches"][name]
        for c in df.columns:
            col = df[c].to_numpy()
            if c == "embedding":
                h.update(np.stack(col).astype(np.float32).tobytes() if len(col) else b"")
            else:
                h.update("\x00".join(map(str, col)).encode())
    return h.hexdigest()
