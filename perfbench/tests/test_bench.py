"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests          # fast tests
    PERFBENCH_JVM_TESTS=1 python3 -m unittest discover -s perfbench/tests

Run from the repository root. The JVM tests build the program and start
Spark, so they take a few minutes; they are skipped unless asked for.
"""

import json
import os
import shutil
import subprocess
import sys
import unittest

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_build", "test-tmp")


def scratch(name):
    d = os.path.join(SCRATCH, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def tables(d):
    names = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    return {f: pq.read_table(os.path.join(d, f)) for f in names}


class GeneratorTest(unittest.TestCase):

    def test_same_seed_gives_identical_tables(self):
        a = tables(gen.generate(scratch("a"), "stream-lifecycle", 5, "tiny"))
        b = tables(gen.generate(scratch("b"), "stream-lifecycle", 5, "tiny"))
        self.assertEqual(sorted(a), ["documents.parquet", "embeddings.parquet",
                                     "events.parquet", "plan.parquet"])
        for f in a:
            self.assertTrue(a[f].equals(b[f]), f)

    def test_different_seeds_give_different_tables(self):
        a = tables(gen.generate(scratch("a"), "stream-lifecycle", 5, "tiny"))
        b = tables(gen.generate(scratch("b"), "stream-lifecycle", 6, "tiny"))
        for f in a:
            self.assertFalse(a[f].equals(b[f]), f)

    def test_identity_is_in_the_path(self):
        d5 = gen.data_dir("x", "route-batch", 5)
        self.assertNotEqual(d5, gen.data_dir("x", "route-batch", 6))
        self.assertNotEqual(d5, gen.data_dir("x", "route-batch", 5, "tiny"))
        self.assertIn(gen.mix_id(), d5)

    def test_slot_shares_match_weights(self):
        rng = np.random.default_rng([3, 7919])
        _, ss, ids, _ = gen._events(rng, 3, 20000)
        self.assertTrue(np.array_equal(ids % 20, ss))
        share = np.bincount(ss, minlength=20) / ss.size
        want = np.asarray(gen.WEIGHTS) / sum(gen.WEIGHTS)
        self.assertLess(np.abs(share - want).max(), 0.005)

    def test_event_ids_fit_int_turn_idx_for_any_seed(self):
        # turn_idx = event_id // 10 is a 32-bit int in the program and its oracle
        for seed in (0, 1, 199, 1914022399, 2**31 - 1, 2**40 + 17):
            rng = np.random.default_rng([seed, 7919])
            _, _, ids, _ = gen._events(rng, seed, gen.SIZES["route-batch"]["episodes"])
            self.assertGreaterEqual(ids.min(), 2 * 10**8, seed)
            self.assertLess(ids.max(), 10**9, seed)

    def test_stops_land_after_their_starts(self):
        rng = np.random.default_rng([4, 7919])
        kk, ss, _, _ = gen._events(rng, 4, 400)
        fidx = gen._stream_plan(rng, kk, ss, 400, 8, 3)
        home = {k: f for k, s, f in zip(kk, ss, fidx) if s in gen.START_SLOTS}
        later = [f > home[k] for k, s, f in zip(kk, ss, fidx)
                 if s in gen.STOP_SLOTS and k in home and home[k] < 7]
        self.assertTrue(later and all(later))


class CheckerTest(unittest.TestCase):

    def setUp(self):
        self.data = gen.generate(scratch("data"), "queries-analyst", 9, "tiny")
        self.qdir = scratch("check")
        sql = {"qx": "SELECT event_id, event_id % 20 AS slot FROM events"}
        with open(os.path.join(self.qdir, "oracle_sql.json"), "w") as f:
            json.dump(sql, f)
        ev = pq.read_table(os.path.join(self.data, "events.parquet"))
        ids = ev.column("event_id").to_numpy()
        self.result = pa.table({"slot": pa.array(ids % 20), "event_id": pa.array(ids)})

    def write(self, table):
        os.makedirs(os.path.join(self.qdir, "qx"), exist_ok=True)
        pq.write_table(table, os.path.join(self.qdir, "qx", "part-0.parquet"))

    def test_true_result_passes(self):
        self.write(self.result)
        [(name, ok, detail)] = check.check_queries(self.qdir, self.data, ["qx"])
        self.assertTrue(ok, detail)

    def test_tampered_value_fails(self):
        slot = self.result.column("slot").to_numpy().copy()
        slot[0] = (slot[0] + 1) % 20
        self.write(self.result.set_column(0, "slot", pa.array(slot)))
        [(_, ok, _)] = check.check_queries(self.qdir, self.data, ["qx"])
        self.assertFalse(ok)

    def test_dropped_row_fails(self):
        self.write(self.result.slice(1))
        [(_, ok, _)] = check.check_queries(self.qdir, self.data, ["qx"])
        self.assertFalse(ok)

    def test_missing_result_fails(self):
        [(_, ok, _)] = check.check_queries(self.qdir, self.data, ["qx"])
        self.assertFalse(ok)

    def test_order_and_float_noise_do_not_matter(self):
        a = (["b", "a"], [(1.0000001, "x"), (2.0, "y")])
        b = (["a", "b"], [("y", 2.0), ("x", 1.0)])
        self.assertTrue(check.same_result(a, b))


def run_bench(*args):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py")] + list(args),
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError("run.py failed:\n" + p.stderr[-3000:])
    return json.loads(p.stdout.strip().splitlines()[-1])


@unittest.skipUnless(os.environ.get("PERFBENCH_JVM_TESTS") == "1", "set PERFBENCH_JVM_TESTS=1")
class JvmTest(unittest.TestCase):

    def test_open_loop_stream_short_run(self):
        """Open loop on tiny files: every file committed, late-ness and the
        file -> micro-batch map measured, stream output equal to the batch
        route over the same files."""
        r = run_bench("--workload", "stream-lifecycle", "--size", "tiny",
                      "--seed", "1", "--seconds", "2", "--trace", "0")
        self.assertTrue(r["correct"])
        self.assertEqual(r["failed"], 0)
        self.assertGreater(r["metrics"]["op_p50_s"]["value"], 0)
        run = os.path.join(ROOT, ".bench_build", "runs", "stream-lifecycle-s1-t0", "result.json")
        with open(run) as f:
            names = [c["name"] for c in json.load(f)["checks"]]
        self.assertIn("stream.equals_batch_route", names)
        self.assertIn("stream.all_files_committed", names)

    def test_traced_run_reports_every_layer_metric(self):
        r = run_bench("--workload", "route-batch", "--size", "tiny",
                      "--seed", "1", "--seconds", "2", "--trace", "1")
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            want = {m["name"] for m in json.load(f)["per_layer"]}
        self.assertEqual(set(r["metrics"]), want)
        self.assertEqual(r["failed"], 0)
        self.assertTrue(r["correct"])
        self.assertEqual(r["metrics"]["stream.batches"]["value"], 8)
        run = os.path.join(ROOT, ".bench_build", "runs", "route-batch-s1-t1")
        with open(os.path.join(run, "result.json")) as f:
            names = [c["name"] for c in json.load(f)["checks"]]
        self.assertIn("stream.equals_batch_route", names)
        trace = os.path.join(run, "trace.jsonl")
        with open(trace) as f:
            rows = [json.loads(line) for line in f]
        kinds = {r["kind"] for r in rows}
        self.assertEqual(kinds, {"span", "job", "stage"})
        levels = {r["level"] for r in rows if r["kind"] == "span"}
        self.assertTrue({"workload", "operation", "layer"} <= levels)
        jobs = [j for j in rows if j["kind"] == "job"]
        self.assertTrue(any(j["span"] > 0 for j in jobs))
        self.assertTrue(any(j["batch"] >= 0 for j in jobs))


if __name__ == "__main__":
    unittest.main()
