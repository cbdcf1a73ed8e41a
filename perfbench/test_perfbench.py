"""Unit tests for the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import collections
import json
import math
import os
import tempfile
import unittest

import gen
import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


def files(d):
    out = {}
    for root, _, fs in os.walk(d):
        for f in fs:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


def rows(tab, drop=()):
    cols = [c for c in tab.column_names if c not in drop]
    return collections.Counter(
        tuple(repr(v) for v in r) for r in zip(*(tab.column(c).to_pylist() for c in cols)))


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for w in ("llm_dataprep", "table_maintain"):
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                gen.generate(w, 7, a)
                gen.generate(w, 7, b)
                fa, fb = files(a), files(b)
                self.assertTrue(fa)
                self.assertEqual(fa, fb, w)

    def test_other_seed_is_a_relabelling(self):
        t1 = gen.relabel(gen.base_tables(0.001), 1)
        t2 = gen.relabel(gen.base_tables(0.001), 2)
        self.assertNotEqual(t1["orders"].column("o_orderkey").to_pylist(),
                            t2["orders"].column("o_orderkey").to_pylist())
        for name, keys in gen.KEYS.items():
            # payload rows are unchanged, keys are a bijective relabelling
            self.assertEqual(rows(t1[name], keys), rows(t2[name], keys), name)
            for c in keys:
                self.assertEqual(len(set(t1[name].column(c).to_pylist())),
                                 len(set(t2[name].column(c).to_pylist())), c)

        # foreign keys were relabelled consistently: the joined rows agree
        def joined(t):
            o = {k: r for k, *r in zip(*(t["orders"].column(c).to_pylist() for c in
                                          ("o_orderkey", "o_custkey", "o_totalprice")))}
            c = dict(zip(t["customer"].column("c_custkey").to_pylist(),
                         t["customer"].column("c_acctbal").to_pylist()))
            return collections.Counter(
                (q, o[k][1], c[o[k][0]])
                for k, q in zip(t["lineitem"].column("l_orderkey").to_pylist(),
                                t["lineitem"].column("l_extendedprice").to_pylist()) if k in o)
        self.assertEqual(joined(t1), joined(t2))

    def test_change_log_is_a_relabelling(self):
        u1, c1, r1 = gen.maintain_log(1)
        u2, c2, r2 = gen.maintain_log(2)
        self.assertEqual(r1, r2)
        for a, b in zip(u1 + c1, u2 + c2):
            keys = {"user_id", "o_orderkey", "o_custkey"}
            self.assertEqual(rows(a, keys), rows(b, keys))
        # the log exercises every op and in-batch repeats
        ops = collections.Counter(o for t in c1[1:] for o in t.column("op").to_pylist())
        self.assertTrue(all(ops[o] > 0 for o in "IUD"), ops)
        ids = u1[1].column("user_id").to_pylist()
        self.assertLess(len(set(ids)), len(ids))

    def test_near_duplicates(self):
        docs = gen.base_tables(0.001, 200, 50)["documents"]
        texts = docs.column("text").to_pylist()
        self.assertEqual(sum("dup" in t.split() for t in texts), 20)


def record(op_ok, kinds="op:sql"):
    """A minimal driver record: a cold pass and one steady pass."""
    spans = [{"id": 0, "parent": -1, "name": "pass0", "kind": "pass", "pass": 0,
              "start": 0.0, "end": 1.0, "ok": True, "counters": {}},
             {"id": 1, "parent": -1, "name": "pass2", "kind": "pass", "pass": 2,
              "start": 1.0, "end": 2.0, "ok": True, "counters": {}}]
    for i, ok in enumerate(op_ok):
        spans.append({"id": 2 + i, "parent": 1, "name": f"q{i}", "kind": kinds,
                      "pass": 2, "start": 1.0, "end": 1.1, "ok": ok,
                      "counters": {"tasks": 4.0}})
    return {"spans": spans, "session_start_s": 1.0,
            "setups": [{"load_s": 1.0, "warmup_s": 0.2}],
            "peak_rss_mb": 100.0, "cpu_probe_s": [0.1, 0.11], "steal_frac": 0.0,
            "cores": 4, "checks": {}}


class MetricsTest(unittest.TestCase):
    def test_tail_percentile_needs_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_quantile(100), 0.9)
        self.assertEqual(metrics.tail_quantile(1000), 0.9)
        self.assertAlmostEqual(metrics.tail_quantile(50), 0.8)
        self.assertEqual(metrics.tail_quantile(15), 0.5)
        for n in range(1, 300):
            q = metrics.tail_quantile(n)
            rank = math.ceil(q * n)
            self.assertTrue(q == 0.5 or n - rank >= 10, n)

    def test_failed_ops_miss_every_latency_limit(self):
        ok = [0.1] * 4
        lat = metrics.latency(ok + [metrics.FAILED] * 6, "op")
        self.assertEqual(lat["op_p50_s"], math.inf)
        e2e, extra, attempted, failed = metrics.end_to_end(
            record([True] * 4 + [False] * 6), [0.1], "llm_dataprep")
        self.assertEqual((attempted, failed), (10, 6))
        self.assertGreaterEqual(extra["op_p50_s"], 1e9)
        self.assertGreaterEqual(e2e["pass_s"], 1e9)
        self.assertGreater(extra["failed_frac"], 0.5)

    def test_metric_names_and_units(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        declared = bench["end_to_end"] + bench["per_layer"]
        for m in declared:
            self.assertRegex(m["name"], metrics.NAME_RE)
            self.assertRegex(m["unit"], metrics.UNIT_RE)
        self.assertEqual(len({m["name"] for m in declared}), len(declared))
        rec = record([True] * 3)
        e2e, _, _, _ = metrics.end_to_end(rec, [0.1], "llm_dataprep")
        self.assertEqual(set(e2e), {m["name"] for m in bench["end_to_end"]})
        layer = metrics.per_layer(rec, [0.1])
        self.assertEqual(set(layer), {m["name"] for m in bench["per_layer"]})
        self.assertFalse(metrics.NAME_RE.match("_x"))
        self.assertFalse(metrics.NAME_RE.match("a b"))
        self.assertFalse(metrics.UNIT_RE.match("seconds per op!"))

    def test_self_time(self):
        spans = [{"id": 0, "parent": -1, "start": 0.0, "end": 10.0},
                 {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
                 {"id": 2, "parent": 0, "start": 5.0, "end": 6.0}]
        self.assertEqual(metrics.self_times(spans), {0: 6.0, 1: 3.0, 2: 1.0})


if __name__ == "__main__":
    unittest.main()
