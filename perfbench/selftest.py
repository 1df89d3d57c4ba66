"""Self-tests for the benchmark's own code (no Spark needed).

Usage (from the repository root): python3 perfbench/selftest.py
"""
import filecmp
import glob
import os
import shutil
import sys
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(HERE), ".bench_work", "selftest")
SMALL = {"kafka": {"partitions": 3, "hot_share": 0.5, "batch_size": 7, "rows_per_file": 300,
                   "warm_files": 1, "backlogs": 1, "backlog_files": 2, "deliveries": 2,
                   "rows_per_delivery": 10}}


def span(i, name, parent, start, end):
    return {"id": i, "name": name, "parent": parent, "start": start, "end": end}


class Percentile(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 0.9), 90)
        self.assertEqual(metrics.percentile(xs, 0.5), 50)
        self.assertEqual(metrics.percentile(reversed(xs), 0.5), 50)

    def test_ten_samples_beyond(self):
        self.assertEqual(metrics.percentile(range(20), 0.5), 9)
        with self.assertRaises(metrics.TooFewSamples):
            metrics.percentile(range(19), 0.5)
        with self.assertRaises(metrics.TooFewSamples):
            metrics.percentile(range(99), 0.9)


class InterquartileMean(unittest.TestCase):
    def test_drops_a_quarter_from_each_end(self):
        self.assertEqual(metrics.interquartile_mean([5, 1, 2, 3, 4, 100, 0, 6]), 3.5)
        # 15 samples: the 3 lowest and 3 highest are dropped
        xs = [100] * 12 + [400, 500, 1]
        self.assertEqual(metrics.interquartile_mean(xs), 100)
        self.assertEqual(metrics.interquartile_mean([7, 9, 8]), 8)


class Intervals(unittest.TestCase):
    def test_union(self):
        self.assertEqual(metrics.union_length([]), 0.0)
        self.assertEqual(metrics.union_length([(0, 10), (20, 25)]), 15)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (6, 7)]), 15)
        self.assertEqual(metrics.union_length([(5, 5), (3, 4)]), 1)

    def test_driver_gap(self):
        # a 100 ms window with jobs covering 10-40 and 30-60 leaves a 50 ms gap
        window = span(0, "timed", -1, 0, 100)
        window.update(cpu_ns=0, gc_ms=0)
        record = {"jobs": [{"start": 10, "end": 40, "stages": []},
                           {"start": 30, "end": 60, "stages": []},
                           {"start": 150, "end": 160, "stages": []}],
                  "stages": {}, "spans": [window],
                  "facts": {"heap_peak_mb": 1.0, "jit_ms": 0}}
        res = {}
        metrics.engine_layers({"cpus": 4}, record, res, window)
        self.assertAlmostEqual(res["driver.gap_s"], 0.05)
        self.assertEqual(res["jobs"], 2)

    def test_self_time(self):
        spans = [span(0, "a", -1, 0, 100), span(1, "b", 0, 10, 30),
                 span(2, "c", 1, 12, 20), span(3, "b", 0, 50, 60)]
        self.assertEqual(metrics.self_times(spans), {"a": 70, "b": 22, "c": 8})


class Generator(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def same_tree(self, a, b):
        cmp = filecmp.dircmp(a, b)
        files = [os.path.relpath(os.path.join(r, f), a)
                 for r, _, fs in os.walk(a) for f in fs]
        self.assertTrue(files)
        _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
        return not cmp.left_only and not cmp.right_only and not mismatch and not errors

    def test_same_seed_same_bytes(self):
        a, b, c = (os.path.join(SCRATCH, x) for x in "abc")
        gen.gen_kafka(a, 5, SMALL)
        gen.gen_kafka(b, 5, SMALL)
        gen.gen_kafka(c, 6, SMALL)
        self.assertTrue(self.same_tree(a, b))
        self.assertFalse(self.same_tree(a, c))
        gen.gen_tables(os.path.join(a, "t"), 0.001)
        gen.gen_tables(os.path.join(b, "t"), 0.001)
        self.assertTrue(self.same_tree(os.path.join(a, "t"), os.path.join(b, "t")))


def land(inputs, out_dir, batch_size):
    """What a correct exact-name sink writes for the inputs in one batch."""
    os.makedirs(out_dir)
    for p, vals in checks.expected_partitions(inputs).items():
        for b in range(0, len(vals), batch_size):
            pq.write_table(pa.table({"b": vals[b:b + batch_size]}),
                           os.path.join(out_dir, f"partition_{p}_batch_{b // batch_size}.parquet"))


class Checks(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        plan = gen.gen_kafka(os.path.join(SCRATCH, "in"), 1, SMALL)
        self.inputs = [os.path.join(plan["backlogs"][0], f)
                       for f in sorted(os.listdir(plan["backlogs"][0]))]
        self.out = os.path.join(SCRATCH, "out")
        land(self.inputs, self.out, 7)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_correct_output_passes(self):
        self.assertEqual(checks.check_sink("t", self.inputs, self.out, 7), [])
        values = [v for t in map(pq.read_table, self.inputs) for v in t.column("value").to_pylist()]
        self.assertIn(None, values)             # the generator does plant nulls
        self.assertTrue(any(v and v.startswith(b"\xff") for v in values))

    def test_tampered_payload_fails(self):
        f = os.path.join(self.out, "partition_0_batch_1.parquet")
        vals = pq.read_table(f).column("b").to_pylist()
        vals[0] = vals[0] + "x"
        pq.write_table(pa.table({"b": vals}), f)
        self.assertTrue(checks.check_sink("t", self.inputs, self.out, 7))

    def test_invalid_utf8_payload_fails(self):
        # the sink must write invalid UTF-8 as ""; raw bytes are a failure,
        # reported as one, not a crash of the checker
        f = os.path.join(self.out, "partition_0_batch_0.parquet")
        vals = [v.encode() for v in pq.read_table(f).column("b").to_pylist()]
        vals[0] = b"\xff" + vals[0]
        pq.write_table(pa.table({"b": pa.array(vals, pa.binary())}), f)
        self.assertEqual(checks.failed(checks.check_sink("t", self.inputs, self.out, 7)), 1)

    def test_missing_file_fails(self):
        os.remove(os.path.join(self.out, "partition_1_batch_0.parquet"))
        self.assertTrue(checks.check_sink("t", self.inputs, self.out, 7))

    def test_a_check_fails_once(self):
        # first batch gone from every partition: a gap and a payload
        # mismatch per partition, yet each check counts one failure
        for f in glob.glob(os.path.join(self.out, "partition_*_batch_0.parquet")):
            os.remove(f)
        problems = checks.check_sink("t", self.inputs, self.out, 7)
        self.assertGreater(len(problems), len(checks.KAFKA_CHECKS))
        self.assertEqual(checks.failed(problems), 2)    # rows and order, not file_size

    def test_oversized_file_fails(self):
        self.assertTrue(checks.check_sink("t", self.inputs, self.out, 6))

    def test_query_digest(self):
        cols = ["b", "a"]
        rows = [(1.0000001, "x"), (2.5, None)]
        n, h = checks.result_digest(cols, rows)
        self.assertEqual((n, h), checks.result_digest(["a", "b"], [(None, 2.5), ("x", 1.0)]))
        self.assertNotEqual(h, checks.result_digest(cols, [(1.0, "x"), (2.6, None)])[1])


if __name__ == "__main__":
    unittest.main(verbosity=2)
