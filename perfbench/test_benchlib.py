"""Tests of the benchmark's pure logic: python3 -m unittest discover perfbench"""

import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchlib  # noqa: E402


class GeneratorTest(unittest.TestCase):

    def test_same_seed_gives_identical_bytes(self):
        a = benchlib.ucr_tsv(benchlib.ecg_rows(7, 200))
        b = benchlib.ucr_tsv(benchlib.ecg_rows(7, 200))
        self.assertEqual(a, b)

    def test_other_seed_gives_other_series(self):
        self.assertNotEqual(benchlib.ucr_tsv(benchlib.ecg_rows(7, 50)),
                            benchlib.ucr_tsv(benchlib.ecg_rows(8, 50)))

    def test_class_counts_within_one_row_of_the_mix(self):
        for n in (1, 7, 500, 1500, 4000, 4999):
            counts = benchlib.class_counts(n)
            self.assertEqual(sum(counts), n)
            for c, p in zip(counts, benchlib.CLASS_MIX):
                self.assertLessEqual(abs(c - n * p), 1.0, (n, counts))

    def test_rows_follow_the_counts_and_the_ucr_layout(self):
        rows = benchlib.ecg_rows(3, 500)
        labels = [label for label, _ in rows]
        self.assertEqual([labels.count(k) for k in range(1, 6)],
                         benchlib.class_counts(500))
        line = benchlib.ucr_tsv(rows[:1]).rstrip("\n").split("\t")
        self.assertEqual(len(line), 1 + benchlib.SERIES_LEN)
        self.assertEqual(int(line[0]), labels[0])


class AggregationTest(unittest.TestCase):

    def test_median_by_key_skips_maps_without_the_key(self):
        med = benchlib.median_by_key([{"a": 1.0, "b": 5.0}, {"a": 3.0}, {"a": 2.0}])
        self.assertEqual(med, {"a": 2.0, "b": 5.0})

    def test_iqr_spread_matches_statistics_quantiles(self):
        values = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 12.0]
        q1, _, q3 = statistics.quantiles(values, n=4)
        self.assertAlmostEqual(benchlib.iqr_spread(values),
                               (q3 - q1) / statistics.median(values))

    def test_core_util(self):
        self.assertAlmostEqual(benchlib.core_util(8.0, 4.0, 4), 0.5)
        self.assertEqual(benchlib.core_util(1.0, 0.0, 4), 0.0)


def span(id_, parent, start, end, name="x", scope=""):
    return {"id": id_, "parent": parent, "name": name, "scope": scope,
            "iter": 0, "start_ns": start, "end_ns": end}


# an iteration with a controller call whose prediction step is its own scope
SPANS = [span(1, 0, 0, 10e6, "iteration"),
         span(2, 1, 1e6, 5e6, "local.k4", "local"),
         span(3, 2, 1e6, 2e6, "local.train", "local"),
         span(4, 2, 2e6, 3e6, "local.predict", "predict"),
         span(5, 1, 6e6, 9e6, "global.k4", "global")]


class TraceTest(unittest.TestCase):

    def test_union_length_merges_overlaps(self):
        self.assertEqual(benchlib.union_length([(0, 10), (5, 15), (20, 25), (24, 24)]), 20)
        self.assertEqual(benchlib.union_length([]), 0)

    def test_self_time_subtracts_the_covered_part_of_children(self):
        spans = [
            span(1, 0, 0, 100, "root"),
            # two overlapping children cover [10, 60) = 50
            span(2, 1, 10, 50, "a"),
            span(3, 1, 30, 60, "b"),
            # a grandchild is charged to its parent, not to the root
            span(4, 2, 20, 40, "c"),
        ]
        selfs = benchlib.self_times(spans)
        self.assertEqual(selfs, {1: 50, 2: 20, 3: 30, 4: 20})

    def test_child_past_the_parent_end_only_counts_inside(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 130)]
        self.assertEqual(benchlib.self_times(spans)[1], 90)

    def test_self_time_by_name_is_per_iteration(self):
        spans = [span(1, 0, 0, 2e9, "it"), span(2, 1, 0, 1e9, "work"),
                 span(3, 0, 5e9, 7e9, "it"), span(4, 3, 5e9, 6e9, "work")]
        self.assertEqual(benchlib.self_time_by_name(spans, 2), {"it": 1.0, "work": 1.0})

    def test_subtract(self):
        self.assertEqual(benchlib.subtract([(0, 10), (20, 30)], [(2, 4), (8, 22)]),
                         [(0, 2), (4, 8), (22, 30)])
        self.assertEqual(benchlib.subtract([(0, 10)], []), [(0, 10)])

    def test_scope_walls_keep_outermost_spans_minus_other_scopes(self):
        self.assertEqual(benchlib.scope_walls(SPANS, "local"), [(1.0, 2.0), (3.0, 5.0)])
        self.assertEqual(benchlib.scope_walls(SPANS, "predict"), [(2.0, 3.0)])
        self.assertEqual(benchlib.scope_walls(SPANS, "global"), [(6.0, 9.0)])

    def test_charge_jobs_by_group_unless_inside_a_nested_scope(self):
        jobs = [{"group": "local", "start_ms": 1.5}, {"group": "local", "start_ms": 2.5},
                {"group": "global", "start_ms": 7.0}, {"group": "other", "start_ms": 9.5}]
        self.assertEqual(benchlib.charge_jobs(jobs, SPANS),
                         ["local", "predict", "global", "other"])

    def test_driver_gap_is_wall_not_covered_by_jobs(self):
        walls = [(0.0, 100.0), (200.0, 250.0)]
        jobs = [(10.0, 40.0), (30.0, 60.0), (90.0, 210.0), (300.0, 400.0)]
        # first wall: jobs cover [10, 60) and [90, 100) -> gap 100 - 60 = 40
        # second wall: [200, 210) covered -> gap 40
        self.assertEqual(benchlib.driver_gap(walls, jobs), 80.0)


if __name__ == "__main__":
    unittest.main()
