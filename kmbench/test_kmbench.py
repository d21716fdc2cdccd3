"""Self-tests of the benchmark's generator, oracle and trace arithmetic.

    python3 -B -m unittest discover -s kmbench -p 'test_*.py'
"""

import json
import os
import sys
import tempfile
import unittest
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402
import run  # noqa: E402


def generated(tmp, seed, index, n=2000, per_kind=4):
    p, s = os.path.join(tmp, f"p{seed}-{index}.csv"), os.path.join(tmp, f"s{seed}-{index}.csv")
    return gen.generate(seed, index, n, 8, per_kind, p, s)


class GeneratorTest(unittest.TestCase):

    def test_same_seed_gives_identical_files(self):
        with tempfile.TemporaryDirectory() as tmp:
            a = generated(tmp, 7, 0)
            b = gen.generate(7, 0, 2000, 8, 4, os.path.join(tmp, "again.csv"),
                             os.path.join(tmp, "again_seeds.csv"))
            c = generated(tmp, 7, 1)
            read = lambda p: Path(p).read_bytes()  # noqa: E731
            self.assertEqual(read(a["points"]), read(b["points"]))
            self.assertEqual(read(a["seeds"]), read(b["seeds"]))
            self.assertNotEqual(read(a["points"]), read(c["points"]))

    def test_malformed_lines_are_counted_and_excluded(self):
        with tempfile.TemporaryDirectory() as tmp:
            m = generated(tmp, 3, 0, n=1000, per_kind=5)
            self.assertEqual(m["malformed"], 15)
            self.assertEqual(m["lines"], 1015)
            lines = Path(m["points"]).read_text().splitlines()
            self.assertEqual(len(lines), 1015)
            self.assertEqual(sum(1 for x in lines if x.endswith(",")), 5)
            self.assertEqual(sum(1 for x in lines if "x" in x), 5)
            self.assertEqual(sum(1 for x in lines if x.count(",") != 2), 5)
            pts, seeds = gen.load(m)
            self.assertEqual(pts.shape, (1000, 3))
            self.assertEqual(seeds.shape, (8, 3))
            self.assertTrue(np.all(pts[:, 0] <= 9999) and np.all(pts[:, 1:] <= 1000))


class OracleTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.m = generated(self.tmp.name, 5, 0)
        self.pts, self.seeds = gen.load(self.m)

    def tearDown(self):
        self.tmp.cleanup()

    def test_rejects_perturbed_centroid(self):
        ids, centers = oracle.lloyd(self.pts, self.seeds, 5)
        got = np.column_stack([ids, centers])
        self.assertEqual(oracle.check_centers(got.tolist(), ids, centers), [])
        got[3, 2] *= 1 + 1e-7
        self.assertTrue(oracle.check_centers(got.tolist(), ids, centers))

    def test_rejects_wrong_drop_count(self):
        m = self.m
        self.assertEqual(oracle.check_dropped(m["lines"], m["rows"], m["malformed"]), [])
        self.assertTrue(oracle.check_dropped(m["lines"], m["rows"] + 1, m["malformed"]))
        self.assertTrue(oracle.check_dropped(m["lines"], m["lines"], m["malformed"]))

    def test_lloyd_drops_an_emptied_cluster(self):
        pts = np.array([[0.0, 0, 0], [1, 0, 0], [10, 0, 0], [11, 0, 0]])
        ids, centers = oracle.lloyd(pts, [[0.0, 0, 0], [100, 0, 0], [10, 0, 0]], 1)
        self.assertEqual(ids.tolist(), [0, 2])
        self.assertEqual(centers.tolist(), [[0.5, 0, 0], [10.5, 0, 0]])

    def test_silhouette_matches_the_pairwise_definition(self):
        pts = np.array([[0.0, 0, 0], [0, 3, 4], [10, 0, 0], [10, 0, 1], [50, 0, 0]])
        labels = np.array([0, 0, 1, 1, 2])
        got = oracle.silhouette(pts, labels)
        # cluster 2 has one point and is left out by the guard
        self.assertEqual([g[0] for g in got], [0, 1])
        d = lambda a, b: float(np.linalg.norm(pts[a] - pts[b]))  # noqa: E731
        intra0 = 2 * d(0, 1) / 2
        inter0 = sum(d(a, b) for a in (0, 1) for b in (2, 3, 4)) / (2 * 2)
        self.assertAlmostEqual(got[0][1], intra0, places=12)
        self.assertAlmostEqual(got[0][2], inter0, places=12)
        self.assertAlmostEqual(got[0][3], (inter0 - intra0) / max(intra0, inter0), places=12)
        self.assertTrue(oracle.check_silhouette([list(g) for g in got], got) == [])
        bad = [list(g) for g in got]
        bad[1][3] += 1e-6
        self.assertTrue(oracle.check_silhouette(bad, got))

    def write_lines(self, labels, centers):
        d = tempfile.mkdtemp(dir=self.tmp.name)
        f = lambda v: repr(float(v))  # noqa: E731
        with open(os.path.join(d, "part-00000.txt"), "w") as out:
            for p, c in zip(self.pts, labels):
                cc = centers[c]
                out.write(f"Point: {f(p[0])},{f(p[1])},{f(p[2])} -> Assigned to Cluster {c} "
                          f"(Centroid: {f(cc[0])},{f(cc[1])},{f(cc[2])})\n")
        return d

    def test_assignment_lines(self):
        _, centers = oracle.lloyd(self.pts, self.seeds, 3)
        labels = oracle.assign(self.pts, centers)
        self.assertEqual(oracle.check_assignment_lines(
            self.write_lines(labels, centers), self.pts, centers), [])
        wrong = labels.copy()
        wrong[17] = (wrong[17] + 1) % len(centers)
        self.assertTrue(oracle.check_assignment_lines(
            self.write_lines(wrong, centers), self.pts, centers))
        self.assertTrue(oracle.check_assignment_lines(
            self.write_lines(labels, centers), self.pts[:-1], centers))


class ReportTest(unittest.TestCase):

    def test_coverage_merges_overlaps_and_clips(self):
        self.assertEqual(report.coverage([(0, 2), (1, 3), (5, 6), (8, 20)], 0, 10), 6)
        self.assertEqual(report.coverage([], 0, 10), 0)

    def test_self_time_subtracts_children_and_jobs(self):
        doc = {
            "spans": [
                {"id": 0, "name": "rep", "parent": -1, "start_ms": 0, "end_ms": 100, "compiles": 0},
                {"id": 1, "name": "a.B.c", "parent": 0, "start_ms": 10, "end_ms": 50, "compiles": 0},
            ],
            "jobs": [{"id": 0, "group": "kmbench-1", "start_ms": 20, "end_ms": 30},
                     {"id": 1, "group": "kmbench-0", "start_ms": 40, "end_ms": 70}],
            "stages": [],
        }
        t = report.Trace(doc)
        self.assertEqual(t.self_time(t.spans[1]), 30)
        self.assertEqual(t.self_time(t.spans[0]), 100 - 60)

    def test_percentile_is_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(report.percentile(xs, 50), 50)
        self.assertEqual(report.percentile(xs, 90), 90)


class ContractTest(unittest.TestCase):

    def test_benchmark_json_names_what_the_run_reports(self):
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, report.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, report.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
