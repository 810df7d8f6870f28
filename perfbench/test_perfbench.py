"""Tests of the benchmark's own code: generator determinism, the percentile
rule, and file-to-batch latency attribution from a checkpoint log.

usage: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import time
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import stats  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorDeterminism(unittest.TestCase):
    def generate(self, seed, out):
        rng = np.random.default_rng(seed)
        gen.event_files(rng, os.path.join(out, "events"), 3, 50)
        pairs = gen.tables(rng, os.path.join(out, "tables"), 0.0005, 200, 0.1)
        gen.write_json(pairs, os.path.join(out, "planted.json"))

    def test_same_seed_gives_identical_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            self.generate(7, a)
            self.generate(7, b)
            self.generate(8, c)
            self.assertEqual(tree_digest(a), tree_digest(b))
            self.assertNotEqual(tree_digest(a), tree_digest(c))

    def test_planted_copies_are_near_duplicates_with_the_higher_id(self):
        docs, pairs = gen.corpus(np.random.default_rng(3), 400, 0.1, 20)
        text = docs.column("text").to_pylist()
        self.assertEqual(len(pairs), 40)
        for orig, copy in pairs:
            self.assertGreater(copy, orig)
            a, b = text[orig].split(" "), text[copy].split(" ")
            sa = {" ".join(a[i:i + 3]) for i in range(len(a) - 2)}
            sb = {" ".join(b[i:i + 3]) for i in range(len(b) - 2)}
            self.assertGreaterEqual(len(sa & sb) / len(sa | sb), 0.8)

    def test_events_keep_the_five_station_codes_and_unique_ids(self):
        t = gen.events_table(np.random.default_rng(1), 5000, 100)
        self.assertEqual(set(t.column("event_type").to_pylist()), set(gen.EVENT_TYPES))
        ids = t.column("event_id").to_pylist()
        self.assertEqual(ids, list(range(100, 5100)))


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.percentile([3.0], 0.9), 3.0)

    def test_tail_has_ten_samples_beyond(self):
        self.assertEqual(stats.tail(list(range(100))), (90.0, 89))
        self.assertEqual(stats.tail(list(range(1000)))[0], 99.0)
        self.assertEqual(stats.tail(list(range(25))), (60.0, 14))
        for n in (21, 25, 40, 99, 100, 1000):
            _, v = stats.tail(list(range(n)))
            self.assertEqual(sum(1 for x in range(n) if x > v), 10)

    def test_tail_is_the_median_for_few_samples(self):
        self.assertEqual(stats.tail([5.0, 1.0, 3.0]), (50.0, 3.0))
        self.assertEqual(stats.tail(list(range(20))), (50.0, 9))


class LatencyAttribution(unittest.TestCase):
    def write_log(self, d):
        os.makedirs(os.path.join(d, "sources", "0"))
        entries = {0: ["part-00000.parquet", "part-00001.parquet"], 1: ["part-00002.parquet"]}
        for b, files in entries.items():
            with open(os.path.join(d, "sources", "0", str(b)), "w") as f:
                f.write("v1\n")
                for name in files:
                    f.write(json.dumps({"path": f"file:///x/src/{name}", "timestamp": 1,
                                        "batchId": b}) + "\n")
        # a compaction file repeats earlier entries; they must not count twice
        with open(os.path.join(d, "sources", "0", "1.compact"), "w") as f:
            f.write("v1\n")
            for b, files in entries.items():
                for name in files:
                    f.write(json.dumps({"path": f"file:///x/src/{name}", "timestamp": 1,
                                        "batchId": b}) + "\n")

    def test_files_map_to_their_batch_commit(self):
        with tempfile.TemporaryDirectory() as d:
            self.write_log(d)
            entries = stats.source_log_entries(
                [os.path.join(d, "sources", "0", f) for f in os.listdir(os.path.join(d, "sources", "0"))])
        self.assertEqual(len(entries), 3)
        drops = [{"file": "part-00000.parquet", "due": 10.0, "dropped": 10.1},
                 {"file": "part-00001.parquet", "due": 10.5, "dropped": 10.6},
                 {"file": "part-00002.parquet", "due": 11.0, "dropped": 11.2}]
        batches = [{"batch": 0, "start": 11.0, "trigger_s": 0.5, "rows": 2},
                   {"batch": 1, "start": 12.0, "trigger_s": 1.0, "rows": 1}]
        att = stats.attribute_files(drops, entries, batches)
        self.assertEqual([a["batch"] for a in att], [0, 0, 1])
        self.assertAlmostEqual(att[0]["latency_s"], 1.5)
        self.assertAlmostEqual(att[1]["latency_s"], 1.0)
        self.assertAlmostEqual(att[2]["latency_s"], 2.0)
        self.assertAlmostEqual(att[2]["queue_wait_s"], 0.8)
        self.assertEqual(stats.backlog_max(drops, att, batches), 2)

    def test_self_time_subtracts_children(self):
        spans = [{"id": 0, "parent": -1, "start_s": 0.0, "end_s": 10.0},
                 {"id": 1, "parent": 0, "start_s": 1.0, "end_s": 4.0},
                 {"id": 2, "parent": 0, "start_s": 5.0, "end_s": 6.0}]
        self.assertEqual(stats.self_times(spans), {0: 6.0, 1: 3.0, 2: 1.0})

    def test_task_time_counts_the_seconds_inside_the_window(self):
        by_second = [[99, 500], [100, 1000], [101, 2000], [103, 4000]]
        self.assertAlmostEqual(stats.task_seconds(by_second, 100.2, 102.9), 3.0)
        self.assertAlmostEqual(stats.task_seconds(by_second, 99.0, 103.0), 7.5)


class Dropper(unittest.TestCase):
    def test_moves_every_file_on_schedule_and_logs_it(self):
        with tempfile.TemporaryDirectory() as d:
            stage, dest = os.path.join(d, "stage"), os.path.join(d, "dest")
            os.makedirs(stage)
            os.makedirs(dest)
            for i in range(4):
                open(os.path.join(stage, f"f{i}"), "w").close()
            t0 = time.time() + 0.1
            subprocess.run([sys.executable, os.path.join(os.path.dirname(__file__), "dropper.py"),
                            stage, dest, "20", str(t0), os.path.join(d, "log")], check=True)
            with open(os.path.join(d, "log")) as f:
                log = [json.loads(l) for l in f]
            self.assertEqual(sorted(os.listdir(dest)), ["f0", "f1", "f2", "f3"])
            self.assertEqual([round(e["due"] - t0, 6) for e in log], [0.0, 0.05, 0.1, 0.15])
            self.assertTrue(all(e["dropped"] >= e["due"] for e in log))


if __name__ == "__main__":
    unittest.main()
