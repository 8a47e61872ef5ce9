"""Tests of the benchmark's own logic: seeded inputs, span arithmetic,
the percentile rule and the failure path.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import io
import json
import os
import tempfile
import unittest
from contextlib import redirect_stdout
from unittest import mock

import gen
import run
import stats


def _digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


class SeededInputs(unittest.TestCase):
    def test_blocks_repeat_for_a_seed_and_differ_across_seeds(self):
        a = gen.blocks(7, 12)
        self.assertEqual(a, gen.blocks(7, 12))
        self.assertNotEqual(a[0], gen.blocks(8, 12)[0])

    def test_block_facts_count_in_stream_spends(self):
        lines, facts = gen.blocks(3, 30)
        created, resolved = {}, 0
        for line in lines:
            for tx in json.loads(line)["py/state"]["transactions"]:
                for i in tx["inputs"]:
                    key = (i["transaction"]["id"], i["index"])
                    resolved += created.pop(key, 0)
                for k, out in enumerate(tx["outputs"]):
                    created[(tx["id"], k)] = len(json.loads(out["value"]))
        self.assertEqual(resolved, sum(facts["resolved"]))
        self.assertGreater(resolved, 0)

    def test_documents_repeat_and_plant_their_duplicate_share(self):
        a = gen.documents(5, 4, 300)
        self.assertEqual(a, gen.documents(5, 4, 300))
        self.assertNotEqual(a[0], gen.documents(6, 4, 300)[0])
        batches, facts = a
        texts = [t for rows in batches for _, t, _ in rows]
        self.assertEqual(sum(facts["fresh"]), len(set(texts)))
        dups = 1 - sum(facts["fresh"][1:]) / sum(map(len, batches[1:]))
        self.assertAlmostEqual(dups, facts["dup_share"], delta=0.05)

    def test_tables_repeat_for_a_seed_and_differ_across_seeds(self):
        with tempfile.TemporaryDirectory() as t:
            for name, seed in (("a", 1), ("b", 1), ("c", 2)):
                gen.tables(os.path.join(t, name), seed, 0.001)
            a, b, c = (_digest(os.path.join(t, n)) for n in "abc")
            self.assertEqual(a, b)
            self.assertNotEqual(a, c)


def span(i, start, end, parent=-1):
    return {"id": i, "name": f"s{i}", "start_ns": start, "end_ns": end,
            "parent": parent, "op": "o"}


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [span(0, 0, 100), span(1, 10, 30, 0), span(2, 20, 50, 0),
                 span(3, 70, 80, 0), span(4, 12, 14, 1)]
        got = stats.self_times(spans)
        self.assertEqual(got[0], 100 - 40 - 10)  # [10,50) and [70,80)
        self.assertEqual(got[1], 20 - 2)
        self.assertEqual(got[2], 30)
        self.assertEqual(got[4], 2)

    def test_children_are_clipped_to_their_parent(self):
        spans = [span(0, 0, 10), span(1, 5, 20, 0)]
        self.assertEqual(stats.self_times(spans)[0], 5)


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(list(range(19))))
        self.assertEqual(stats.tail_percentile(list(range(20)))[0], 50)
        self.assertEqual(stats.tail_percentile(list(range(99)))[0], 50)
        p, v = stats.tail_percentile(list(range(100)))
        self.assertEqual((p, v), (90, 89))
        self.assertEqual(stats.tail_percentile(list(range(1000)))[0], 99)


def _op(name, pass_, ok=True, start=0):
    return {"id": f"p{pass_}:{name}", "name": name, "module": "graph",
            "pass": pass_, "start_ns": start, "end_ns": start + 10 ** 9,
            "ok": ok, "error": None if ok else "injected failure",
            "counters": {k: 0 for k in (
                "jobs", "stages", "tasks", "task_ms", "gc_ms", "wait_ms",
                "shuffle_read", "shuffle_write", "spill", "cuts",
                "cut_bytes", "compiles", "compile_ms")},
            "facts": {"rows": 1, "hash": "0"}}


class FailurePath(unittest.TestCase):
    def run_with(self, ops, trace=0):
        record = {"setup_s": 1.5, "measured_s": 2.0, "passes": 2,
                  "peak_storage_bytes": 0, "cores": 4,
                  "facts": {"setup_compiles": 0, "setup_compile_ms": 0.0},
                  "ops": ops, "spans": [], "jvm": "test", "spark": "test",
                  "conf": {}}
        if trace:
            record["facts"]["traced_pass"] = 2
        out = io.StringIO()
        with tempfile.TemporaryDirectory() as root, \
                mock.patch.object(run, "build", return_value="cp"), \
                mock.patch.object(run, "tables_dir", return_value=root), \
                mock.patch("os.getcwd", return_value=root), \
                redirect_stdout(out):
            code = run.main(["--workload", "queries", "--seed", "1",
                             "--seconds", "1", "--trace", str(trace)],
                            launch=lambda *a: record)
        return code, json.loads(out.getvalue().splitlines()[-1])

    def test_clean_run_exits_zero(self):
        code, line = self.run_with([_op("q", 0), _op("q", 1, start=0)])
        self.assertEqual(code, 0)
        self.assertEqual((line["correct"], line["failed"]), (True, 0))
        self.assertEqual(line["metrics"]["pass_s"]["value"], 1.0)

    def test_injected_failure_raises_fail_frac_and_exit_code(self):
        ops = [_op("q", 0), _op("q", 1), _op("r", 1, ok=False),
               _op("q", 2), _op("r", 2)]
        code, line = self.run_with(ops)
        self.assertEqual(code, 1)
        self.assertEqual((line["correct"], line["failed"]), (False, 1))
        code, line = self.run_with(ops, trace=1)
        self.assertEqual(code, 1)
        self.assertEqual(line["metrics"]["fail_frac"]["value"], 1 / 5)


if __name__ == "__main__":
    unittest.main()
