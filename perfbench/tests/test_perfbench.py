"""Tests of the benchmark's own parts: input generation, statistics and
metric naming.

    python3 -m unittest discover -s perfbench/tests
"""

import calendar
import csv
import filecmp
import json
import os
import random
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

SMALL = {
    "etl_sync": lambda d, s: gen.gen_etl(d, s, 3, 300, 80, 60, 20),
    "search_mixed": lambda d, s: gen.gen_corpus(d, s, 200, 50, 4, 30),
}


def tree_equal(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files,
                                           shallow=False)
    return not mismatch and not errors and all(
        tree_equal(os.path.join(a, d), os.path.join(b, d))
        for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):

    def generate(self, workload, seed):
        d = tempfile.mkdtemp(dir=self.tmp.name)
        SMALL[workload](d, seed)
        return d

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def test_same_seed_gives_identical_bytes(self):
        for w in SMALL:
            with self.subTest(workload=w):
                self.assertTrue(tree_equal(self.generate(w, 7),
                                           self.generate(w, 7)))

    def test_other_seed_gives_other_inputs(self):
        for w in SMALL:
            with self.subTest(workload=w):
                self.assertFalse(tree_equal(self.generate(w, 7),
                                            self.generate(w, 8)))

    def test_planted_and_random_pairs_sit_on_their_side(self):
        d = tempfile.mkdtemp(dir=self.tmp.name)
        _, exp = gen.gen_corpus(d, 3, 300, 60, 5, 10)
        sh = {i: gen.shingles(t) for i, t in exp["texts"].items()}
        root_of = exp["root_of"]
        group = lambda i: root_of.get(i, i)
        self.assertTrue(root_of, "no planted duplicates")
        # every planted doc has a group member at >= PLANTED_MIN
        for i, r in root_of.items():
            if i == r:
                continue
            best = max(gen.jaccard(sh[i], sh[j]) for j in sh
                       if j != i and group(j) == r)
            self.assertGreaterEqual(best, gen.PLANTED_MIN)
        # every pair across groups stays at or below RANDOM_MAX
        ids = sorted(sh)
        worst = max(gen.jaccard(sh[a], sh[b])
                    for x, a in enumerate(ids) for b in ids[x + 1:]
                    if group(a) != group(b))
        self.assertLessEqual(worst, gen.RANDOM_MAX)
        self.assertLess(gen.RANDOM_MAX, gen.THRESHOLD)
        self.assertGreater(gen.PLANTED_MIN, gen.THRESHOLD)

    def test_corpora_hold_blank_documents_but_no_blank_batch(self):
        d = tempfile.mkdtemp(dir=self.tmp.name)
        plan, _ = gen.gen_corpus(d, 5, 400, 100, 6, 10)
        import pyarrow.parquet as pq
        blank = 0
        for path in [plan["seed"]] + [b["path"] for b in plan["batches"]]:
            texts = pq.read_table(path).column("text").to_pylist()
            n_blank = sum(1 for t in texts if not t.split())
            self.assertLess(n_blank, len(texts))
            blank += n_blank
        self.assertGreater(blank, 0)

    def test_expected_labels_map_groups_to_their_min(self):
        root_of = {3: 3, 5: 3, 9: 3, 4: 4, 12: 4}
        self.assertEqual(gen.expected_labels(root_of, 100),
                         {3: 3, 5: 3, 9: 3, 4: 4, 12: 4})
        # a group with one consumed member has no pair yet
        self.assertEqual(gen.expected_labels(root_of, 6),
                         {3: 3, 5: 3})

    def test_keep_last_state_matches_the_written_files(self):
        d = tempfile.mkdtemp(dir=self.tmp.name)
        plan, exp = gen.gen_etl(d, 4, 3, 100, 40, 30, 10)
        import pyarrow.parquet as pq
        secs = lambda t: calendar.timegm(
            time.strptime(t, "%Y-%m-%dT%H:%M:%SZ"))
        state = {"orders": {}, "customers": {}}
        for n, sync in enumerate(plan["syncs"]):
            out = os.path.join(sync, "sync-output")
            with open(os.path.join(out, "orders.csv")) as f:
                for r in csv.DictReader(f):
                    state["orders"][int(r["id"])] = gen.row_hash(
                        int(r["id"]), int(r["seq"]),
                        round(float(r["amount"]) * 100),
                        r["active"] == "true", secs(r["updated_at"]))
            for r in pq.read_table(
                    os.path.join(out, "customers.parquet")).to_pylist():
                state["customers"][r["id"]] = gen.row_hash(
                    r["id"], r["seq"], round(r["score"] * 1000), r["vip"],
                    secs(r["signup_at"]))
            for st in state:
                with self.subTest(sync=n, stream=st):
                    ids = exp["ids"][n][st]
                    self.assertEqual(len(ids), len(set(ids)))
                    self.assertEqual(
                        exp["after"][n][st],
                        [len(state[st]), sum(state[st].values())])


class StatsTest(unittest.TestCase):

    def test_tail_has_ten_samples_beyond(self):
        for n, want in [(40, 75.0), (99, 75.0), (100, 90.0), (200, 95.0),
                        (1000, 99.0), (10000, 99.9)]:
            xs = list(range(1, n + 1))
            random.Random(n).shuffle(xs)
            p, v = stats.tail(xs)
            with self.subTest(n=n):
                self.assertEqual(p, want)
                self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)

    def test_tail_is_the_maximum_below_forty_samples(self):
        xs = list(range(39))
        random.Random(1).shuffle(xs)
        self.assertEqual(stats.tail(xs), (100.0, 38))

    def test_ties_do_not_count_as_beyond(self):
        xs = [1.0] * 60 + [2.0] * 5
        self.assertEqual(stats.tail(xs), (100.0, 2.0))

    def test_nearest_rank_percentile(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 50), 3)
        self.assertEqual(stats.percentile(xs, 100), 5)
        self.assertEqual(stats.percentile(xs, 1), 1)

    def test_metric_names(self):
        for ok in ["setup_s", "ext.search_topk.self_share", "a-b", "9x"]:
            self.assertTrue(stats.valid_name(ok), ok)
        for bad in ["", "_x", ".x", "a b", "a/b", "x" * 65, "ä"]:
            self.assertFalse(stats.valid_name(bad), bad)


class BenchmarkFileTest(unittest.TestCase):
    """BENCHMARK.json and the metrics the runner prints agree."""

    def setUp(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)),
                               "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_names_are_valid_and_unique(self):
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer")
                 for m in self.bench[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)
        self.assertEqual(sorted(w["name"] for w in self.bench["workloads"]),
                         sorted(run.WORKLOADS))

    def test_per_layer_names_match_the_runner(self):
        m = run.layer_metrics(fake_traced_result(), cores=4, setup_s=10.0,
                              primary="query")
        self.assertEqual(sorted(run.PER_LAYER),
                         sorted(x["name"] for x in self.bench["per_layer"]))
        for x in self.bench["per_layer"]:
            self.assertEqual(m[x["name"]]["unit"], x["unit"], x["name"])

    def test_result_lines_fit_the_kept_tail(self):
        m = run.layer_metrics(fake_traced_result(), cores=4, setup_s=10.0,
                              primary="query")
        worst = {k: {"value": 1 / 3.0 + 1e6, "unit": m[k]["unit"]}
                 for k in run.PER_LAYER}
        line = json.dumps({"correct": True, "attempted": 1000, "failed": 0,
                           "metrics": worst}, separators=(",", ":"))
        self.assertLess(len(line), 2000)

    def test_end_to_end_names_match_the_runner(self):
        self.assertEqual(
            sorted(run.E2E_UNITS),
            sorted(x["name"] for x in self.bench["end_to_end"]))
        for x in self.bench["end_to_end"]:
            self.assertEqual(run.E2E_UNITS[x["name"]], x["unit"])


def fake_traced_result():
    """A traced JVM result with one op of each span shape."""
    spans, ops = [], []

    def span(name, parent, op, t0, t1, **kw):
        s = dict(id=len(spans), name=name, parent=parent, op=op,
                 start_s=t0, end_s=t1, jobs=1, stages=1, tasks=2,
                 task_busy_s=0.1, shuffle_bytes=0, rows_read=5)
        s.update(kw)
        spans.append(s)
        return s["id"]

    span("ext.search_build", -1, -1, 0.0, 1.0)
    for n in range(2):
        root = span("op", -1, n, 2.0 + n, 2.9 + n, plan_ms=3,
                    streaming_overhead_s=0.05)
        for i, name in enumerate(run.SPANS):
            span(name, root, n, 2.0 + n + i * 0.1, 2.05 + n + i * 0.1,
                 bytes_written=10)
        ops.append({"n": n, "kind": "query", "items": 1, "wall_s": 0.9,
                    "traced": True, "spark.cached_mb": 0.0,
                    "io.generations_read": 1.0})
    ops.append({"n": 2, "kind": "query", "items": 1, "wall_s": 0.8,
                "traced": False})
    return {"spans": spans, "ops": ops}


if __name__ == "__main__":
    unittest.main()
