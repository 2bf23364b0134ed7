"""Answer-check self-test: the checks pass a faithful run and count a
corrupted result, a resurrected removed id and a dropped txn row as
failed operations.

Each case fabricates the driver's result from a reference engine
(DuckDB, or an exact vector search), then breaks one answer.

    python3 -m unittest discover -s perfbench/tests
"""
import copy
import os
import sys
import unittest

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import checks  # noqa: E402
import workloads  # noqa: E402
from test_workloads import Warehouse  # noqa: E402


def _rows(con, sql):
    return [[checks.canon(v) for v in r] for r in con.execute(sql).fetchall()]


class ChecksTest(Warehouse):
    def verdict(self, workload, plan, result):
        return checks.check(workload, plan, copy.deepcopy(result), self.data, self.tmp.name)

    def olap_run(self):
        plan = self.plan("olap-read", 3)
        con = checks._warehouse(self.data)
        ops = [{"id": o["id"], "ns": 1, "rows": _rows(con, o["duck"])} for o in plan["ops"][:30]]
        return plan, {"ops": ops, "checks": []}

    def txn_run(self):
        plan = self.plan("txn-dml", 3)
        con = checks._warehouse(self.data)
        con.execute("CREATE TABLE t AS SELECT * FROM orders")
        ops = []
        for o, (want, _) in zip(plan["ops"], checks.txn_replay(con, plan["ops"])):
            ops.append({"id": o["id"], "ns": 1} if want is None else
                       {"id": o["id"], "ns": 1, "rows": [[checks.canon(x) for x in r] for r in want]})
        final = [{"id": c["id"], "ns": 1, "rows": _rows(con, c["duck"])} for c in plan["checks"]]
        return plan, {"ops": ops, "checks": final, "store_live_bytes": 1}, con

    def index_run(self):
        plan = self.plan("index-rag", 3)
        b = plan["batches"]
        docs, base = workloads.corpus(self.data)
        vecs = {i: base[i] for i in range(len(base))}
        vecs.update({int(i): e for i, e in zip(b["vec_batches"]["id"], b["vec_batches"]["embedding"])})
        live = {k: set(range(len(base))) for k in workloads.VEC_KINDS}
        recs = []
        for o in plan["ops"] + plan["coverage"]:
            k, rec = o.get("index"), {"id": o["id"], "ns": 1}
            if o["cls"].endswith(".add") and k in live:
                live[k].update(int(i) for i in b["vec_batches"][b["vec_batches"]["op"] == o["id"]]["id"])
            elif o["cls"].endswith(".remove"):
                live[k].difference_update(
                    int(i) for i in b["remove_ids"][b["remove_ids"]["op"] == o["id"]]["id"])
            elif o["cls"] in ("index.graph.probe", "index.ivf_pq.probe", "index.binary.probe"):
                ids = sorted(live[k])
                q = b["queries"][b["queries"]["op"] == o["id"]]
                rec["rows"] = [[int(qid), cid, r + 1, 0.0]
                               for qid, e in zip(q["id"], q["embedding"])
                               for r, cid in enumerate(checks.exact_topk(
                                   ids, [vecs[i] for i in ids], e, workloads.TOPK))]
            elif o["kind"] == "read":
                rec["rows"] = []
            recs.append(rec)
        n = len(plan["ops"])
        bm25 = [[1, 5, 1, 2.5], [1, 9, 2, 1.25]]
        return plan, {"ops": recs[:n], "coverage": recs[n:], "store_live_bytes": 1,
                      "checks": [{"id": c["id"], "ns": 1, "rows": bm25} for c in plan["checks"]]}

    def test_olap_faithful_run_passes(self):
        v = self.verdict("olap-read", *self.olap_run())
        self.assertEqual((v["failed"], v["attempted"]), (0, 30), v["reasons"])

    def test_olap_corrupted_result_counts_as_failed(self):
        plan, result = self.olap_run()
        row = result["ops"][4]["rows"][0]
        row[-1] = row[-1] + 1 if isinstance(row[-1], (int, float)) else str(row[-1]) + "x"
        v = self.verdict("olap-read", plan, result)
        self.assertEqual(v["failed"], 1)

    def test_txn_faithful_run_passes(self):
        plan, result, _ = self.txn_run()
        v = self.verdict("txn-dml", plan, result)
        self.assertEqual(v["failed"], 0, v["reasons"])

    def test_txn_dropped_row_counts_as_failed(self):
        plan, result, con = self.txn_run()
        con.execute("DELETE FROM t WHERE o_orderkey = (SELECT max(o_orderkey) FROM t)")
        result["checks"][0]["rows"] = _rows(con, plan["checks"][0]["duck"])
        v = self.verdict("txn-dml", plan, result)
        self.assertEqual(v["failed"], 1)
        self.assertIn("final table state", v["reasons"][0])

    def test_index_faithful_run_passes(self):
        v = self.verdict("index-rag", *self.index_run())
        self.assertEqual(v["failed"], 0, v["reasons"])
        self.assertEqual(v["recall_at_10"], 1.0)

    def test_index_resurrected_removed_id_counts_as_failed(self):
        plan, result = self.index_run()
        removed = int(plan["batches"]["remove_ids"]["id"].iloc[-1])
        kind = next(o["index"] for o in plan["coverage"] if o["cls"].endswith(".remove")
                    and removed in set(plan["batches"]["remove_ids"]
                                       [plan["batches"]["remove_ids"]["op"] == o["id"]]["id"]))
        probe = next(r for o, r in zip(plan["coverage"], result["coverage"])
                     if o["cls"] == f"index.{kind}.probe")
        probe["rows"][0][1] = removed
        v = self.verdict("index-rag", plan, result)
        self.assertEqual(v["failed"], 1)
        self.assertIn("not live", v["reasons"][0])


if __name__ == "__main__":
    unittest.main()
