"""End-to-end and per-layer metrics from a driver result.

Each metric is {"value": number, "unit": str}. End-to-end metrics come
from untraced runs; per-layer metrics from traced runs (spans recorded
around each layer call, Spark jobs tagged with the submitting span's job
group, store directory scans around each write).
"""
import numpy as np

import workloads

VEC = workloads.VEC_KINDS
INDEX_KINDS = ("bm25",) + VEC
TXN_DML = ("insert", "update", "delete", "merge")


def m(value, unit):
    return {"value": float(value), "unit": unit}


def pct(xs, q):
    return float(np.percentile(xs, q)) if len(xs) else 0.0


def _timed(plan, result):
    by_id = {o["id"]: o for o in plan["ops"]}
    return [(by_id[r["id"]], r) for r in result["ops"] if "ns" in r]


def end_to_end(plan, result, verdict):
    timed = _timed(plan, result)
    reads = [r["ns"] / 1e6 for o, r in timed if o["kind"] == "read"]
    writes = [r["ns"] / 1e6 for o, r in timed if o["kind"] == "write"]
    out = {
        "setup_s": m(np.median(result["setup_ns"]) / 1e9, "s"),
        "ops_per_s": m(len(result["ops"]) / (result["timed_ns"] / 1e9), "1/s"),
        "read_p50_ms": m(pct(reads, 50), "ms"),
        "read_p95_ms": m(pct(reads, 95), "ms"),
        "peak_rss_mb": m(result["peak_rss_kb"] / 1024.0, "MB"),
        "op_fail_ratio": m(verdict["op_fail_ratio"], "ratio"),
        "reads": m(len(reads), "count"),
        "writes": m(len(writes), "count"),
    }
    if writes:
        out["write_p50_ms"] = m(pct(writes, 50), "ms")
        out["write_p95_ms"] = m(pct(writes, 95), "ms")
    if verdict.get("recall_at_10") is not None:
        out["recall_at_10"] = m(verdict["recall_at_10"], "ratio")
    if verdict.get("user_bytes"):
        out["space_amp"] = m(result["store_live_bytes"] / verdict["user_bytes"], "ratio")
    return out


def by_class(plan, result):
    """Timed operations per class: count and p50/max latency in ms."""
    by_id = {o["id"]: o for o in plan["ops"]}
    acc = {}
    for r in result["ops"]:
        if "ns" in r:
            acc.setdefault(by_id[r["id"]]["cls"], []).append(r["ns"] / 1e6)
    return {k: (len(v), pct(v, 50), max(v)) for k, v in sorted(acc.items())}


def _uncovered_ms(span, intervals):
    """Milliseconds of the span's [t0, t1] (ns) that the union of
    `intervals` (ns) does not cover."""
    covered, end = 0.0, span["t0"]
    for a, b in sorted((max(a, span["t0"]), min(b, span["t1"])) for a, b in intervals):
        a = max(a, end)
        if b > a:
            covered += b - a
            end = b
    return (span["t1"] - span["t0"] - covered) / 1e6


class Trace:
    """Spans and jobs of one traced run, joined."""

    def __init__(self, result):
        self.spans = result["spans"]
        self.by_id = {s["id"]: s for s in self.spans}
        self.children = {}
        for s in self.spans:
            self.children.setdefault(s["parent"], []).append(s["id"])
        self.jobs_of = {}
        for j in result.get("jobs", []):
            sid = int(j["group"][5:]) if j.get("group", "") and \
                j["group"].startswith("span-") else self._by_time(j["t0"] * 1000000)
            if sid is not None:
                self.jobs_of.setdefault(sid, []).append(j)

    def _by_time(self, t):
        best = None
        for s in self.spans:
            if s["t0"] <= t <= s["t1"] and (best is None or s["t0"] >= best["t0"]):
                best = s
        return best["id"] if best else None

    def subtree_jobs(self, sid):
        out = list(self.jobs_of.get(sid, []))
        for c in self.children.get(sid, []):
            out += self.subtree_jobs(c)
        return out

    def roots(self, pred):
        return [s for s in self.spans if s["parent"] == 0 and pred(s)]

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    @staticmethod
    def ms(s):
        return (s["t1"] - s["t0"]) / 1e6

    def driver_gap_ms(self, s):
        """Span wall minus the union of its jobs' intervals."""
        return _uncovered_ms(s, [(j["t0"] * 1e6, j["t1"] * 1e6)
                                 for j in self.subtree_jobs(s["id"])])

    def self_ms(self, s):
        """Span wall minus the union of its child spans."""
        return _uncovered_ms(s, [(self.by_id[c]["t0"], self.by_id[c]["t1"])
                                 for c in self.children.get(s["id"], [])])


def per_layer(plan, result, verdict):
    tr = Trace(result)
    timed_ids = {r["id"] for r in result["ops"]}
    ops = {o["id"]: o for o in plan["ops"] + plan.get("coverage", [])}
    # per-class spans count the coverage pass too; totals per op do not
    class_ids = timed_ids | {r["id"] for r in result.get("coverage", [])}
    roots = tr.roots(lambda s: s["op"] in timed_ids)
    n_ops = max(1, len(roots))
    jobs = [j for s in roots for j in tr.subtree_jobs(s["id"])]
    out = {}

    def span_ms(name, restrict=True):
        xs = [tr.ms(s) for s in tr.named(name) if not restrict or s["op"] in class_ids]
        return pct(xs, 50)

    def span_jobs(name, restrict=True):
        ss = [s for s in tr.named(name) if not restrict or s["op"] in class_ids]
        return np.mean([len(tr.subtree_jobs(s["id"])) for s in ss]) if ss else 0.0

    out["plans.analyze_ms"] = m(span_ms("plans.analyze"), "ms")
    out["plans.optimize_ms"] = m(span_ms("plans.optimize"), "ms")
    out["spark.exec_ms"] = m(span_ms("spark.exec"), "ms")
    out["spark.jobs_per_op"] = m(len(jobs) / n_ops, "count")
    out["spark.stages_per_op"] = m(sum(j["stages"] for j in jobs) / n_ops, "count")
    out["spark.tasks_per_op"] = m(sum(j["tasks"] for j in jobs) / n_ops, "count")
    out["spark.driver_gap_ms"] = m(pct([tr.driver_gap_ms(s) for s in roots], 50), "ms")
    out["spark.input_bytes_per_op"] = m(sum(j["input_bytes"] for j in jobs) / n_ops, "B")
    read_roots = [s for s in roots if ops[s["op"]]["kind"] == "read"]
    rows_in = sum(j["input_rows"] for s in read_roots for j in tr.subtree_jobs(s["id"]))
    rows_out = sum(r.get("nrows", 0) for r in result["ops"]
                   if ops[r["id"]]["kind"] == "read")
    out["spark.input_rows_per_result_row"] = m(rows_in / max(1, rows_out), "ratio")
    out["spark.shuffle_write_bytes_per_op"] = m(sum(j["shuffle_write"] for j in jobs) / n_ops, "B")
    out["spark.spill_bytes"] = m(sum(j["spill"] for j in jobs), "B")
    out["spark.executor_run_ms"] = m(sum(j["run_ms"] for j in jobs) / n_ops, "ms")
    out["spark.executor_gc_ms"] = m(sum(j["gc_ms"] for j in jobs) / n_ops, "ms")

    writes = {w["op"]: w for w in result.get("store_writes", [])}
    probe_files = {}
    for p in result.get("probe_files", []):
        if p["op"] in class_ids:
            probe_files.setdefault(ops[p["op"]]["cls"], []).append(p["files"])

    def rewritten(cls):
        xs = [writes[i]["bytes"] for i in class_ids if i in writes and ops[i]["cls"] == cls]
        return float(np.mean(xs)) if xs else 0.0

    for k in INDEX_KINDS:
        out[f"index.{k}.build_ms"] = m(span_ms(f"index.{k}.build", False), "ms")
        out[f"index.{k}.build_jobs"] = m(span_jobs(f"index.{k}.build", False), "count")
        out[f"index.{k}.add_ms"] = m(span_ms(f"index.{k}.add"), "ms")
        out[f"index.{k}.add_jobs"] = m(span_jobs(f"index.{k}.add"), "count")
        if k in VEC:
            out[f"index.{k}.remove_ms"] = m(span_ms(f"index.{k}.remove"), "ms")
            out[f"index.{k}.remove_jobs"] = m(span_jobs(f"index.{k}.remove"), "count")
        out[f"index.{k}.compact_ms"] = m(span_ms(f"index.{k}.compact"), "ms")
        out[f"index.{k}.compact_bytes_rewritten"] = m(rewritten(f"index.{k}.compact"), "B")
        out[f"index.{k}.probe_ms"] = m(span_ms(f"index.{k}.probe"), "ms")
        out[f"index.{k}.probe_jobs"] = m(span_jobs(f"index.{k}.probe"), "count")
        pf = probe_files.get(f"index.{k}.probe", [])
        out[f"index.{k}.live_generations"] = m(np.mean(pf) if pf else 0.0, "count")
    out["index.hybrid.probe_ms"] = m(span_ms("index.hybrid.probe"), "ms")
    out["index.hybrid.probe_jobs"] = m(span_jobs("index.hybrid.probe"), "count")
    out["index.recall_at_10"] = m(verdict.get("recall_at_10") or 0.0, "ratio")

    for s in TXN_DML:
        out[f"txn.{s}.commit_ms"] = m(span_ms(f"txn.{s}"), "ms")
        out[f"txn.{s}.commit_jobs"] = m(span_jobs(f"txn.{s}"), "count")
    out["txn.read_ms"] = m(span_ms("txn.read"), "ms")
    out["txn.read_jobs"] = m(span_jobs("txn.read"), "count")
    dd = [d["dirs"] for d in result.get("txn_delta_dirs", [])
          if d["op"] in class_ids and ops[d["op"]]["cls"] == "txn.read"]
    out["txn.delta_dirs_at_read"] = m(np.mean(dd) if dd else 0.0, "count")
    out["txn.timetravel_ms"] = m(span_ms("txn.timetravel"), "ms")
    out["txn.optimize_ms"] = m(span_ms("txn.optimize"), "ms")
    out["txn.optimize_bytes_rewritten"] = m(rewritten("txn.optimize"), "B")

    w = [writes[i] for i in class_ids if i in writes]
    out["store.files_written"] = m(np.mean([x["files"] for x in w]) if w else 0.0, "count")
    user = sum(verdict.get("rows_changed", {}).get(i, 0) for i in class_ids if i in writes) \
        * verdict.get("bytes_per_live_row", 0.0)
    out["store.bytes_written_per_user_byte"] = m(
        sum(x["bytes"] for x in w) / user if user else 0.0, "ratio")
    out["store.live_files"] = m(result["store_live_files"], "count")
    out["store.live_bytes"] = m(result["store_live_bytes"], "B")
    out["store.space_amp"] = m(result["store_live_bytes"] / verdict["user_bytes"]
                               if verdict.get("user_bytes") else 0.0, "ratio")
    out["jvm.gc_ms"] = m(result["jvm_gc_ms"], "ms")
    out["jvm.heap_after_gc_mb"] = m(result["jvm_heap_after_gc_mb"], "MB")
    out["trace.ops_per_s"] = m(len(result["ops"]) / (result["timed_ns"] / 1e9), "1/s")
    return out


def span_table(plan, result):
    """One row per span class: spans, p50 and total wall, total self time
    (duration minus the part child spans cover), jobs and stages per span
    (its children's included), p50 driver gap and store bytes written."""
    tr = Trace(result)
    names = {o["id"]: o for o in plan["ops"] + plan.get("coverage", [])}
    writes = {w["op"]: w["bytes"] for w in result.get("store_writes", [])}
    acc = {}
    for s in tr.spans:
        jobs = tr.subtree_jobs(s["id"])
        a = acc.setdefault(s["name"], {"wall": [], "self": 0.0, "jobs": 0, "stages": 0,
                                       "gap": [], "store": 0})
        a["wall"].append(tr.ms(s))
        a["self"] += tr.self_ms(s)
        a["jobs"] += len(jobs)
        a["stages"] += sum(j["stages"] for j in jobs)
        a["gap"].append(tr.driver_gap_ms(s))
        if s["parent"] == 0 and s["op"] in names:
            a["store"] += writes.get(s["op"], 0)
    return [{"span": k, "n": len(v["wall"]), "p50_ms": pct(v["wall"], 50),
             "total_ms": sum(v["wall"]), "self_ms": v["self"],
             "jobs_per_span": v["jobs"] / len(v["wall"]),
             "stages_per_span": v["stages"] / len(v["wall"]),
             "driver_gap_p50_ms": pct(v["gap"], 50), "store_bytes": v["store"]}
            for k, v in sorted(acc.items())]
