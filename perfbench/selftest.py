"""Self-tests of the benchmark's own arithmetic and its metric contract.

    python3 perfbench/selftest.py

No Spark, no DuckDB: these pin `metrics.py` on hand-made inputs and check
that what the benchmark emits matches `BENCHMARK.json` by name and unit.
"""
import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402

SPEC_PATH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def span(i, name, parent, t0, t1, run=2):
    return {"id": i, "name": name, "parent": parent, "run": run, "t0": t0, "t1": t1}


def op(name, pass_, dur, kind="query", ok=True, digest=None, checks=(), span_id=-1, extra=None):
    return {"name": name, "pass": pass_, "dur": dur, "kind": kind, "ok": ok, "err": None,
            "digest": digest, "checks": list(checks), "span": span_id, "extra": extra or {}}


def fake_result():
    """A traced result: pass 2 traced between untraced passes 1 and 3."""
    spans = [span(0, "queries", -1, 1000.0, 1400.0),
             span(1, "queries.define", 0, 1000.0, 1100.0),
             span(2, "queries.exec", 0, 1100.0, 1390.0),
             span(3, "operators", -1, 1500.0, 1700.0),
             span(4, "core", -1, 5000.0, 5100.0, run=-1)]
    ops = [op("q", 0, 1.0), op("q", 1, 0.5), op("q", 2, 0.4, span_id=0),
           op("serve_x", 1, 0.3, kind="serve"), op("serve_x", 2, 0.2, kind="serve", span_id=3,
                                                   extra={"written_b": 2048, "ingest_b": 1024})]
    return {
        "setup_s": [3.0, 0.5, 0.6], "tables_s": [0.2, 0.1, 0.1], "cold_pass_s": 1.0,
        "measured": [1, 2],
        "passes": [{"pass": 0, "dur": 1.0, "traced": False},
                   {"pass": 1, "dur": 0.8, "traced": False},
                   {"pass": 2, "dur": 0.6, "traced": True},
                   {"pass": 3, "dur": 0.5, "traced": False}],
        "ops": ops, "spans": spans,
        "jobs": [{"id": 0, "t": 1200.0, "group": "pb-2", "stages": [0]},
                 {"id": 1, "t": 1600.0, "group": None, "stages": [1]},
                 {"id": 2, "t": 9000.0, "group": None, "stages": [2]}],
        "stages": {"0": [4, 400, 40, 2 * metrics.MB, 0, 10, 0, 0],
                   "1": [2, 100, 10, 0, metrics.MB, 0, 0, 0],
                   "2": [8, 800, 0, 0, 0, 0, 0, 0]},
        "sql": [[1050.0, 30.0, 20.0, 100.0, 10.0, 1.0]],
        "memory": {"heap_after_gc_b": 3 * metrics.MB, "direct_b": 0, "non_heap_b": metrics.MB},
        "micro": {k: 1.0 for k in ("levenshtein_ns", "token_sort_ns", "minhash_ns",
                                   "jaccard_ns", "cosine_ns")},
    }


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(metrics.tail(list(range(20)))[0], 50.0)
        self.assertEqual(metrics.tail(list(range(37)))[0], 50.0)
        self.assertEqual(metrics.tail(list(range(38)))[0], 75.0)
        self.assertEqual(metrics.tail(list(range(100)))[0], 90.0)
        self.assertEqual(metrics.tail(list(range(200)))[0], 95.0)
        self.assertEqual(metrics.tail(list(range(1000)))[0], 99.0)
        self.assertEqual(metrics.tail(list(range(10000)))[0], 99.9)

    def test_value_and_count(self):
        p, v, n = metrics.tail([float(x) for x in range(1, 41)])
        self.assertEqual((p, n), (75.0, 40))
        self.assertAlmostEqual(v, 30.25)
        # at least ten samples lie beyond the reported value
        self.assertGreaterEqual(sum(x > v for x in range(1, 41)), 10)

    def test_too_few_samples_fall_back_to_median(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (50.0, 2.0, 3))

    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([1.0, 2.0, 3.0, 4.0], 50.0), 2.5)
        self.assertEqual(metrics.percentile([5.0], 99.0), 5.0)


class SelfTimeTest(unittest.TestCase):
    def test_nested_and_overlapping_children(self):
        spans = [span(0, "a", -1, 0.0, 10.0),
                 span(1, "a.x", 0, 1.0, 4.0),
                 span(2, "a.y", 0, 3.0, 6.0),     # overlaps a.x
                 span(3, "a.z", 0, 8.0, 12.0),    # runs past its parent
                 span(4, "b", 1, 2.0, 3.0)]       # grandchild of a
        st = metrics.self_times(spans)
        # a: children cover [1, 6] and [8, 10] of [0, 10]
        self.assertAlmostEqual(st[0], 3.0)
        self.assertAlmostEqual(st[1], 2.0)       # 3 s minus its child's 1 s
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[3], 4.0)
        self.assertAlmostEqual(st[4], 1.0)

    def test_union_ignores_empty_and_contained(self):
        self.assertEqual(metrics.union_length([(2, 3), (1, 5), (7, 7)], 0, 10), 4)
        self.assertEqual(metrics.union_length([], 0, 10), 0)

    def test_innermost_span_gets_the_work(self):
        idx = metrics.SpanIndex([span(0, "a", -1, 0.0, 10.0), span(1, "a.x", 0, 2.0, 5.0)])
        self.assertEqual(idx.attribute(3.0)["id"], 1)
        self.assertEqual(idx.attribute(6.0)["id"], 0)
        self.assertIsNone(idx.attribute(11.0))


class FailureTest(unittest.TestCase):
    def test_thrown_wrong_digest_failed_check_and_oracle_all_count(self):
        ops = [op("a", 0, 1.0, digest="d1"), op("a", 1, 1.0, digest="d1"),
               op("a", 2, 1.0, digest="d2"),                       # wrong digest
               op("b", 1, 1.0, ok=False),                          # threw
               op("c", 1, 1.0, checks=[{"name": "fsck", "ok": False}]),
               op("d", 0, 1.0), op("d", 1, 1.0)]                   # oracle fails on pass 1
        attempted, failed, reasons = metrics.count_failures(ops, {("d", 0): True, ("d", 1): False})
        self.assertEqual(attempted, 7)
        self.assertEqual(failed, 4)
        self.assertEqual(len(reasons), 4)

    def test_clean_run_has_no_failures(self):
        ops = [op("a", 0, 1.0, digest="d"), op("a", 1, 1.0, digest="d")]
        self.assertEqual(metrics.count_failures(ops, {("a", 0): True})[:2], (2, 0))


class StorageTest(unittest.TestCase):
    def test_crashed_ingest_and_its_replay_count_once(self):
        ops = [op("fold_0", 2, 1.0, kind="ingest", extra={"batch": 0, "ingest_b": 400}),
               op("crash_1", 2, 1.0, kind="ingest", extra={"batch": 1, "ingest_b": 600}),
               op("fold_1", 2, 1.0, kind="ingest", extra={"batch": 1, "ingest_b": 600}),
               op("fold_1", 4, 1.0, kind="ingest", extra={"batch": 1, "ingest_b": 600})]
        # batch 1 once per pass: passes 2 and 4
        self.assertEqual(metrics.ingested_bytes(ops), 400 + 600 + 600)

    def test_write_and_space_amplification(self):
        r = fake_result()
        r["ops"] += [
            op("crash_1", 2, 0.1, kind="ingest", extra={"batch": 1, "ingest_b": 1000,
                                                        "written_b": 500}),
            op("fold_1", 2, 0.1, kind="ingest", extra={"batch": 1, "ingest_b": 1000,
                                                       "written_b": 1500}),
            op("serve_final", 2, 0.1, kind="serve", extra={"live_b": 3000,
                                                           "live_logical_b": 1500})]
        layer = metrics.per_layer(r, cores=4)
        # written 2048 + 500 + 1500 over ingested 1024 + 1000 (batch 1 once)
        self.assertAlmostEqual(layer["write_amp"][0], 2.0)
        # stored bytes of the index over the logical bytes live in it
        self.assertAlmostEqual(layer["space_amp"][0], 2.0)


class EndToEndTest(unittest.TestCase):
    def test_setups_and_memory(self):
        e2e, _ = metrics.end_to_end(fake_result())
        self.assertEqual(metrics.per_layer(fake_result(), cores=4)["core.cold_setup_s"][0], 3.0)
        self.assertAlmostEqual(e2e["setup_s"][0], 0.55)
        self.assertAlmostEqual(e2e["peak_used_mb"][0], 4.0)


class ContractTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(SPEC_PATH) as f:
            cls.spec = json.load(f)

    def test_emitted_names_and_units_match(self):
        e2e, _ = metrics.end_to_end(fake_result())
        layer = metrics.per_layer(fake_result(), cores=4)
        for key, got in (("end_to_end", e2e), ("per_layer", layer)):
            want = {m["name"]: m["unit"] for m in self.spec[key]}
            self.assertEqual(set(got), set(want), key)
            for name, (_, unit) in got.items():
                self.assertEqual(unit, want[name], name)

    def test_attribution_on_the_fake_run(self):
        layer = metrics.per_layer(fake_result(), cores=4)
        self.assertEqual(layer["queries.jobs"][0], 1)     # by job group
        self.assertEqual(layer["operators.jobs"][0], 1)   # by time
        self.assertAlmostEqual(layer["queries.task_s"][0], 0.4)
        self.assertAlmostEqual(layer["queries.shuffle_mb"][0], 2.0)
        self.assertAlmostEqual(layer["operators.spill_mb"][0], 1.0)
        self.assertAlmostEqual(layer["queries.self_s"][0], 0.4)
        self.assertAlmostEqual(layer["queries.driver_gap_s"][0], 0.3)
        self.assertAlmostEqual(layer["queries.plan_s"][0], 0.03)
        self.assertAlmostEqual(layer["operators.simjoin.yield"][0], 0.1)
        self.assertEqual(layer["operators.serve.jobs"][0], 1)
        self.assertAlmostEqual(layer["write_amp"][0], 2.0)
        self.assertEqual(layer["core.calls"][0], 1)
        # layer self times plus the remainder add up to the traced pass
        covered = sum(layer[f"{L}.self_s"][0] for L in metrics.LAYERS if L != "core")
        self.assertAlmostEqual(covered + layer["trace.remainder_s"][0], layer["trace.pass_s"][0])
        self.assertAlmostEqual(layer["trace.overhead_s"][0], -0.05)

    def test_spec_shape(self):
        s = self.spec
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
        names = [w["name"] for w in s["workloads"]] + [m["name"] for m in s["end_to_end"]] \
            + [m["name"] for m in s["per_layer"]]
        self.assertTrue(all(name.match(n) for n in names))
        self.assertEqual(len(names), len(set(names)))
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(unit.match(m["unit"]) and 0 < m["bound"] <= 0.25)
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertTrue(unit.match(m["unit"]))
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in s["end_to_end"]))
        self.assertTrue(all(len(w["why"]) <= 200 and set(w) == {"name", "why"}
                            for w in s["workloads"]))


if __name__ == "__main__":
    unittest.main()
