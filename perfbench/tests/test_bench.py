"""Self-tests of the benchmark: python3 -m unittest discover perfbench/tests"""
import filecmp
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
from pb import corpus, metrics, report, stats  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_nearest_rank_percentile(self):
        xs = list(range(1, 101))            # 1..100
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7], 90), 7)
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 50), 3)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 90), 4)
        with self.assertRaises(ValueError):
            stats.percentile(xs, 0)

    def test_samples_beyond(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.beyond(105, 90), 10)
        self.assertEqual(stats.beyond(200, 95), 10)
        self.assertEqual(stats.beyond(1, 90), 0)

    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(stats.covered(0, 10, []), 0)
        self.assertEqual(stats.covered(0, 10, [(1, 3), (2, 5)]), 4)
        self.assertEqual(stats.covered(0, 10, [(-5, 2), (8, 20)]), 4)
        self.assertEqual(stats.covered(0, 10, [(1, 2), (3, 4), (3.5, 6)]), 4)
        self.assertEqual(stats.covered(0, 10, [(11, 12)]), 0)

    def test_self_time(self):
        spans = [dict(id="q", parent=None, start=0, end=100),
                 dict(id="b", parent="q", start=0, end=30),
                 dict(id="e", parent="q", start=40, end=100),
                 dict(id="j1", parent="e", start=50, end=70),
                 dict(id="j2", parent="e", start=60, end=90),
                 dict(id="s", parent="j1", start=50, end=70)]
        st = stats.self_times(spans)
        self.assertEqual(st["q"], 10)       # 100 - 30 - 60
        self.assertEqual(st["b"], 30)
        self.assertEqual(st["e"], 20)       # jobs cover 50..90
        self.assertEqual(st["j1"], 0)
        self.assertEqual(st["j2"], 30)
        self.assertEqual(st["s"], 20)


def _tree(d):
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            out[os.path.relpath(os.path.join(root, f), d)] = os.path.join(root, f)
    return out


class CorpusTest(unittest.TestCase):
    PLAN = corpus.Plan(rate=5, steady_s=14, drain_keys=80)

    def gen(self, seed, traced=False):
        d = tempfile.mkdtemp()
        self.addCleanup(lambda: shutil.rmtree(d))
        bucket, stage = os.path.join(d, "bucket"), os.path.join(d, "stage")
        os.makedirs(bucket)
        os.makedirs(stage)
        sched, manifest, notes = corpus.generate(seed, self.PLAN, bucket, stage, traced)
        return d, sched, manifest, notes

    def test_same_seed_same_bytes(self):
        a, sa, ma, na = self.gen(7)
        b, sb, mb, nb = self.gen(7)
        ta, tb = _tree(a), _tree(b)
        self.assertEqual(sorted(ta), sorted(tb))
        for rel in ta:
            self.assertTrue(filecmp.cmp(ta[rel], tb[rel], shallow=False), rel)
        self.assertEqual((sa, ma, na), (sb, mb, nb))

    def test_other_seed_other_bytes(self):
        a, _, ma, _ = self.gen(7)
        b, _, mb, _ = self.gen(8)
        self.assertNotEqual(ma, mb)

    def test_traced_run_extends_the_same_inputs(self):
        _, s0, m0, _ = self.gen(7)
        _, s1, m1, _ = self.gen(7, traced=True)
        self.assertEqual(s1[:len(s0)], s0)
        self.assertTrue(set(m0) < set(m1))

    def test_mix_covers_every_case(self):
        d, sched, manifest, notes = self.gen(3)
        bodies = []
        for _, n, _ in sched:
            with open(os.path.join(d, "stage", n)) as f:
                bodies.append(f.read())
        self.assertTrue(any(len(json.loads(b)["Records"]) > 1 for b in bodies),
                        "multi-record notification")
        keys = [tuple(notes[n]) for _, n, _ in sched]
        self.assertLess(len(set(keys)), len(keys), "redelivered notification")
        self.assertTrue(any(" " in k for k in manifest), "key with a space")
        self.assertTrue(all(" " not in b.split('"key": ')[1].split('"')[1]
                            for b in bodies if '"key"' in b), "keys travel encoded")
        self.assertTrue(any(m["corrupt"] for m in manifest.values()), "malformed object")
        self.assertTrue(any(m["age_nulled"] and m["rows"][0]["age"] is None
                            for m in manifest.values()), "age > 127")
        self.assertTrue(any(m["rows"] and None in m["rows"][0].values()
                            and not m["age_nulled"] for m in manifest.values()),
                        "missing field")
        steady = [off for ph, _, off in sched if ph == "steady"]
        self.assertEqual(steady, sorted(steady))
        self.assertGreaterEqual(len(steady), self.PLAN.rate * self.PLAN.steady_s)


class DeclaredTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_per_layer_names_are_declared(self):
        self.assertEqual(metrics.per_layer_names(),
                         [m["name"] for m in self.bench["per_layer"]])

    def test_end_to_end_names_are_declared(self):
        declared = [m["name"] for m in self.bench["end_to_end"]]
        raw = {"jvm_start_ms": 0, "heap_peak_mb": 100.0,
               "setup": {"session_ready": 1000.0, "warm_pass_ms": 2000.0},
               "passes": [{"traced": False, "cpu_ns": 3e9}],
               "execs": [dict(name="q", traced=False, error=None, start=0.0, end=50.0)]}
        e2e, _ = metrics.query_e2e(raw)
        self.assertEqual(list(e2e), declared)
        ckpt = tempfile.mkdtemp()
        self.addCleanup(lambda: shutil.rmtree(ckpt))
        os.makedirs(os.path.join(ckpt, "sources", "0"))
        os.makedirs(os.path.join(ckpt, "commits"))
        with open(os.path.join(ckpt, "sources", "0", "0"), "w") as f:
            f.write('v1\n{"path":"file:///n/steady-00001.json","batchId":0}\n'
                    '{"path":"file:///n/drain-00002.json","batchId":0}\n')
        open(os.path.join(ckpt, "commits", "0"), "w").close()
        raw = {"jvm_start_ms": 0, "heap_peak_mb": 1.0, "cpu_ns": 1e9,
               "setup": {"session_ready": 1.0},
               "phases": [{"name": "warm", "start": 1.0, "end": 2.0}],
               "releases": [{"file": "steady-00001.json", "due": 0.0}],
               "progress": [{"batch": 0, "start": 0.0}]}
        e2e, _ = metrics.service_e2e(raw, ckpt, 0.1)
        self.assertEqual(list(e2e), declared)

    def test_layer_mapping_names_real_metrics(self):
        names = set(metrics.per_layer_names())
        e2e = {m["name"] for m in self.bench["end_to_end"]}
        workloads = {w["name"] for w in self.bench["workloads"]}
        for n in names:
            m = report.moves(n)
            if m:
                self.assertTrue(set(m[0].split(", ")) <= e2e, n)
                self.assertTrue(set(m[1].split(", ")) <= workloads, n)
        self.assertTrue(set(report.MOVES) <= names | set(metrics.QUERY_LAYER))


if __name__ == "__main__":
    unittest.main()
