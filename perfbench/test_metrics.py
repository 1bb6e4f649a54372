"""Tests of the benchmark's arithmetic: the percentile rule, span self
times, the floor split and the DML amplification ratios.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import random
import tempfile
import unittest

import metrics as M


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(M.tail_rank(200), 95.0)
        self.assertEqual(M.tail_rank(1000), 95.0)
        self.assertAlmostEqual(M.tail_rank(100), 90.0)
        self.assertAlmostEqual(M.tail_rank(40), 75.0)
        for n in range(20, 400):
            p = M.tail_rank(n)
            self.assertGreaterEqual(n * (1 - p / 100) + 1e-9, 10, n)
            if p < 95:  # any higher percentile would leave fewer than 10
                self.assertLess(n * (1 - (p + 0.5) / 100), 10, n)

    def test_falls_back_to_median_below_twenty_samples(self):
        for n in (1, 5, 19):
            self.assertEqual(M.tail_rank(n), 50.0)

    def test_tail_reports_value_rank_and_count(self):
        xs = list(range(1, 101))
        v, p, n = M.tail(xs)
        self.assertEqual((p, n), (90.0, 100))
        self.assertAlmostEqual(v, M.percentile(xs, 90.0))
        self.assertEqual(M.percentile([3, 1, 2], 50), 2)
        self.assertEqual(M.percentile([1, 2], 50), 1.5)


def span(name, start, end, parent=-1, op=1):
    return {"name": name, "start": start, "end": end, "parent": parent, "op": op}


class SelfTime(unittest.TestCase):
    def test_self_time_is_span_minus_children(self):
        spans = [span("op", 0, 100), span("a", 10, 40, 0), span("b", 30, 60, 0),
                 span("c", 12, 20, 1)]
        selfs, bad = M.self_times(spans)
        self.assertEqual(bad, [])
        self.assertEqual(selfs, [50, 22, 30, 8])  # overlapping children count once

    def test_never_negative_and_children_within_parent(self):
        rng = random.Random(5)

        def grow(spans, parent, depth):
            # a call tree: children of one span run one after another
            p = spans[parent]
            cuts = sorted(rng.uniform(p["start"], p["end"])
                          for _ in range(2 * rng.randint(0, 3)))
            for a, b in zip(cuts[::2], cuts[1::2]):
                spans.append(span(f"d{depth}", a, b, parent))
                if depth < 3:
                    grow(spans, len(spans) - 1, depth + 1)

        for _ in range(200):
            spans = [span("root", 0, 1000)]
            grow(spans, 0, 0)
            selfs, bad = M.self_times(spans)
            self.assertEqual(bad, [])
            self.assertTrue(all(x >= 0 for x in selfs))
            for i, s in enumerate(spans):
                kids = [k for k in spans if k["parent"] == i]
                self.assertLessEqual(
                    M.length([(k["start"], k["end"]) for k in kids]),
                    s["end"] - s["start"] + 1e-9)
            # self times of the tree sum to the root's duration
            self.assertAlmostEqual(sum(selfs), 1000, places=6)

    def test_child_outside_parent_is_reported(self):
        _, bad = M.self_times([span("op", 0, 10), span("late", 5, 12, 0)])
        self.assertEqual(bad, [("op", "late")])


class FloorSplit(unittest.TestCase):
    def test_parts_add_up_to_the_wall(self):
        ev = M.Events({
            "jobs": [{"id": 1, "start": 30, "end": 70, "stages": [5]}],
            "tasks": [{"stage": 5, "start": 40, "end": 60},
                      {"stage": 5, "start": 45, "end": 65}],
            "qes": [{"tracker": 9, "phases": {"analysis": [5, 12],
                                              "optimization": [22, 28]}}]})
        spans = [span("engine.sql", 0, 20, op=7), span("render.tableToRows", 20, 90, op=7),
                 span("page.sortRows", 90, 95, op=7)]
        op = {"op": 7, "start": 0, "end": 100}
        s = M.op_split(op, spans, ev)
        self.assertEqual(s["executor"], 25)   # tasks cover 40..65
        self.assertEqual(s["scheduler"], 15)  # job open, no task
        self.assertEqual(s["catalyst"], 13)   # 5..12 and 22..28
        self.assertEqual(s["router"], 13)     # 0..20 minus analysis
        self.assertEqual(s["render"], 70 - 6 - 40)
        self.assertEqual(s["page"], 5)
        self.assertAlmostEqual(s["other"], 5)
        self.assertAlmostEqual(sum(v for k, v in s.items() if k != "wall"), s["wall"])


class Amplification(unittest.TestCase):
    def test_write_and_space_amp_on_a_hand_built_table_dir(self):
        with tempfile.TemporaryDirectory() as d:
            # a table of 1000 rows in two 4000-byte files, then one write
            # that changed 10 rows by rewriting one file (4000 bytes)
            for name, size in (("part-0.parquet", 4000), ("part-1.parquet", 4000),
                               ("_SUCCESS", 0), (".part-0.parquet.crc", 40)):
                with open(os.path.join(d, name), "wb") as f:
                    f.write(b"x" * size)
            start_bytes = M.dir_bytes(d)
            self.assertEqual(start_bytes, 8000)  # markers and checksums skipped
            os.remove(os.path.join(d, "part-1.parquet"))
            with open(os.path.join(d, "part-2.parquet"), "wb") as f:
                f.write(b"x" * 4000)
            # 8 bytes per row at the start; 10 rows changed = 80 bytes
            self.assertAlmostEqual(M.write_amp(4000, 10, start_bytes, 1000), 50.0)
            # compact rewrite of the final rows takes 6000 bytes
            self.assertAlmostEqual(M.space_amp(M.dir_bytes(d), 6000), 8000 / 6000)

    def test_undefined_without_changes(self):
        self.assertIsNone(M.write_amp(100, 0, 800, 100))
        self.assertIsNone(M.space_amp(100, 0))


class Intervals(unittest.TestCase):
    def test_union_minus_clip(self):
        self.assertEqual(M.union([(5, 7), (0, 2), (1, 3)]), [(0, 3), (5, 7)])
        self.assertEqual(M.minus([(0, 10)], [(2, 3), (5, 12)]), [(0, 2), (3, 5)])
        self.assertEqual(M.clip([(0, 10), (20, 30)], 5, 25), [(5, 10), (20, 25)])
        self.assertEqual(M.length([(0, 10), (5, 15)]), 15)


if __name__ == "__main__":
    unittest.main()
