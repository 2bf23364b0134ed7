"""Answer checks, run after the timed phase.

- olap-read: every fetched result equals DuckDB's answer to the same
  statement on the same parquet files.
- txn-dml: the statement sequence the engine executed is replayed in
  DuckDB; every read (snapshot and VERSION AS OF) and the final table
  state equal the replay at the same point.
- index-rag: indexed BM25 answers equal the full-scan path over the same
  live corpus; no vector probe returns an id that is not live in its
  index (a removed id or an unknown one); vector recall@10 against an
  exact cosine top-10 computed here.

Every operation that errored or answered wrong counts as failed.
"""
import datetime
import decimal
import math
import os

import duckdb
import numpy as np
import pandas as pd

import workloads

REL_TOL = 1e-6
ABS_TOL = 1e-6


def canon(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return [canon(x) for x in v]
    return v


def _sort_key(row):
    return [("" if v is None else
             f"{v:.6g}" if isinstance(v, float) else str(v)) for v in row]


def _close(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= max(ABS_TOL, REL_TOL * max(abs(a), abs(b)))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(got, want):
    """Multiset equality of two row lists, floats within tolerance."""
    if got is None or len(got) != len(want):
        return False
    g = sorted(([canon(v) for v in r] for r in got), key=_sort_key)
    w = sorted(([canon(v) for v in r] for r in want), key=_sort_key)
    return all(len(x) == len(y) and all(_close(a, b) for a, b in zip(x, y))
               for x, y in zip(g, w))


def _warehouse(data):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t + '.parquet')}'")
    return con


def _executed(plan, result):
    """(op, record) pairs of the timed phase and the coverage pass, in
    execution order."""
    by_id = {o["id"]: o for o in plan["ops"] + plan.get("coverage", [])}
    return [(by_id[r["id"]], r) for r in result["ops"] + result.get("coverage", [])]


class Verdict:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons = []
        self.extra = {}

    def op(self, ok, why):
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(why)

    def as_dict(self, setup_ok):
        d = {"attempted": self.attempted, "failed": self.failed, "reasons": self.reasons,
             "setup_ok": setup_ok,
             "op_fail_ratio": self.failed / self.attempted if self.attempted else 1.0}
        d.update(self.extra)
        return d


def check_olap(plan, result, data, v, tmp):
    con = _warehouse(data)
    cache = {}
    for op, rec in _executed(plan, result):
        if "error" in rec:
            v.op(False, f"op {op['id']} {op['cls']}: {rec['error'][:300]}")
            continue
        if op["duck"] not in cache:
            cache[op["duck"]] = con.execute(op["duck"]).fetchall()
        v.op(same_rows(rec.get("rows", []), cache[op["duck"]]),
             f"op {op['id']} {op['cls']}: result differs from DuckDB")
    con.close()


def txn_replay(con, ops):
    """Replay txn-dml operations on table `t` in DuckDB. Yields, per
    operation, (rows a read must return or None, rows a write changed).
    Versions follow the engine's log: CREATE is version 1; INSERT and
    MERGE always commit; UPDATE and DELETE commit only when they match a
    row; OPTIMIZE commits when there are deltas to fold (the workload
    runs it only after an INSERT and a MERGE of the same round)."""
    agg = workloads.TXN_AGG.format(src="t")
    at_version = {1: con.execute(agg).fetchall()}
    pending = 0
    for op in ops:
        if op["kind"] == "write":
            changed = 0
            for s in op["duck"]:
                r = con.execute(s).fetchall()
                if s.split()[0] in ("INSERT", "UPDATE", "DELETE") and r:
                    changed += int(r[0][0])
            commits = op["cls"] in ("txn.insert", "txn.merge") or changed > 0 or \
                (op["cls"] == "txn.optimize" and pending > 0)
            pending = 0 if op["cls"] == "txn.optimize" else pending + (changed > 0)
            if commits:
                at_version[len(at_version) + 1] = con.execute(agg).fetchall()
            yield None, changed
        elif op["cls"] == "txn.timetravel":
            yield at_version.get(op["version"]), 0
        else:
            yield con.execute(op["duck"]).fetchall(), 0


def check_txn(plan, result, data, v, tmp):
    con = _warehouse(data)
    con.execute("CREATE TABLE t AS SELECT * FROM orders")
    executed = _executed(plan, result)
    changed = {}
    for (op, rec), (want, n) in zip(executed, txn_replay(con, [o for o, _ in executed])):
        why = f"op {op['id']} {op['cls']}: {rec.get('error', '')[:300]}"
        if op["kind"] == "write":
            changed[op["id"]] = n
            v.op("error" not in rec, why)
        elif "error" in rec:
            v.op(False, why)
        else:
            v.op(want is not None and same_rows(rec.get("rows", []), want),
                 f"op {op['id']} {op['cls']}: result differs from the DuckDB replay")
    for op, rec in zip(plan["checks"], result["checks"]):
        ok = "error" not in rec and same_rows(rec.get("rows", []),
                                              con.execute(op["duck"]).fetchall())
        v.op(ok, f"final table state differs from the DuckDB replay "
                 f"{rec.get('error', '')[:300]}")
    live_bytes = _parquet_bytes(con, "SELECT * FROM t", tmp)
    v.extra["user_bytes"] = live_bytes
    v.extra["bytes_per_live_row"] = live_bytes / con.execute("SELECT count(*) FROM t").fetchone()[0]
    v.extra["rows_changed"] = changed
    con.close()


def _parquet_bytes(con, query, tmp):
    path = os.path.join(tmp, "user_bytes.parquet")
    con.execute(f"COPY ({query}) TO '{path}' (FORMAT PARQUET)")
    n = os.path.getsize(path)
    os.remove(path)
    return n


def exact_topk(corpus_ids, corpus, q, k):
    c = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    s = c @ (q / np.linalg.norm(q))
    order = np.lexsort((corpus_ids, -s))[:k]
    return [int(corpus_ids[i]) for i in order]


def check_index(plan, result, data, v, tmp):
    docs, base = workloads.corpus(data)
    b = plan["batches"]
    vec_by_id = {i: base[i] for i in range(len(base))}
    for vid, e in zip(b["vec_batches"]["id"], b["vec_batches"]["embedding"]):
        vec_by_id[int(vid)] = e
    adds = {}
    for op_id, vid in zip(b["vec_batches"]["op"], b["vec_batches"]["id"]):
        adds.setdefault(int(op_id), []).append(int(vid))
    removes = {}
    for op_id, vid in zip(b["remove_ids"]["op"], b["remove_ids"]["id"]):
        removes.setdefault(int(op_id), []).append(int(vid))
    queries = {}
    for op_id, qid, e in zip(b["queries"]["op"], b["queries"]["id"], b["queries"]["embedding"]):
        queries[(int(op_id), int(qid))] = e
    live = {k: set(range(len(base))) for k in workloads.VEC_KINDS}
    recalls = {k: [] for k in workloads.VEC_KINDS}
    changed = {}
    for op, rec in _executed(plan, result):
        ok = "error" not in rec
        why = f"op {op['id']} {op['cls']}: {rec.get('error', '')[:300]}"
        kind = op.get("index")
        if ok and op["cls"].endswith(".add") and kind in live:
            live[kind].update(adds.get(op["id"], []))
            changed[op["id"]] = len(adds.get(op["id"], []))
        elif ok and op["cls"] == "index.bm25.add":
            changed[op["id"]] = int((b["doc_batches"]["op"] == op["id"]).sum())
        elif ok and op["cls"].endswith(".remove"):
            live[kind].difference_update(removes.get(op["id"], []))
            changed[op["id"]] = len(removes.get(op["id"], []))
        elif ok and op["cls"] in ("index.graph.probe", "index.ivf_pq.probe",
                                  "index.binary.probe"):
            rows = rec.get("rows", [])
            bad = [r[1] for r in rows if int(r[1]) not in live[kind]]
            if bad:
                ok, why = False, f"op {op['id']} {op['cls']}: returned ids not live: {bad[:5]}"
            ids = np.array(sorted(live[kind]))
            corpus = np.stack([vec_by_id[i] for i in ids])
            for qid in sorted(q for (o, q) in queries if o == op["id"]):
                exact = exact_topk(ids, corpus, queries[(op["id"], qid)], workloads.TOPK)
                got = {int(r[1]) for r in rows if int(r[0]) == qid}
                recalls[kind].append(len(got & set(exact)) / len(exact))
        v.op(ok, why)
    recs = dict(zip((c["cls"] for c in plan["checks"]), result["checks"]))
    idx, scan = recs.get("check.bm25_indexed", {}), recs.get("check.bm25_scan", {})
    if "error" in idx or "error" in scan:
        v.op(False, f"bm25 check failed: {idx.get('error', '')[:200]} {scan.get('error', '')[:200]}")
    else:
        per_q = {}
        for side, r in (("i", idx), ("s", scan)):
            for row in r.get("rows", []):
                per_q.setdefault(row[0], {"i": [], "s": []})[side].append(row)
        for q, sides in sorted(per_q.items()):
            v.op(same_rows(sides["i"], sides["s"]),
                 f"bm25 query {q}: indexed answer differs from the full scan")
    all_r = [x for k in recalls for x in recalls[k]]
    v.extra["recall_at_10"] = float(np.mean(all_r)) if all_r else None
    v.extra["recall_by_kind"] = {k: float(np.mean(r)) if r else None for k, r in recalls.items()}
    # user bytes: the live corpus each index holds, as compact parquet
    con = duckdb.connect()
    done = [o["id"] for o, r in _executed(plan, result)
            if o["cls"] == "index.bm25.add" and "error" not in r]
    added = b["doc_batches"][b["doc_batches"]["op"].isin(done)]
    con.register("d", pd.concat([docs, added[["doc_id", "text"]]], ignore_index=True))
    total = _parquet_bytes(con, "SELECT * FROM d", tmp)
    for k in workloads.VEC_KINDS:
        ids = sorted(live[k])
        con.register("vv", pd.DataFrame({"id": ids, "embedding": [vec_by_id[i] for i in ids]}))
        total += _parquet_bytes(con, "SELECT id, embedding::FLOAT[] AS embedding FROM vv", tmp)
        con.unregister("vv")
    v.extra["user_bytes"] = total
    live_rows = len(docs) + len(added) + sum(len(x) for x in live.values())
    v.extra["bytes_per_live_row"] = total / live_rows
    v.extra["rows_changed"] = changed
    con.close()


def check(workload, plan, result, data, tmp):
    """Check every answer of a run; returns the verdict as a dict."""
    v = Verdict()
    setup = result.get("setup_ops", []) + result.get("warmup", [])
    for r in setup:
        if "error" in r:
            v.reasons.append(f"set-up op {r['id']}: {r['error'][:300]}")
    {"olap-read": check_olap, "txn-dml": check_txn, "index-rag": check_index}[workload](
        plan, result, data, v, tmp)
    return v.as_dict(setup_ok=all("error" not in r for r in setup))
