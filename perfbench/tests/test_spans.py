"""Self-time arithmetic and per-layer aggregation on hand-built spans."""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import spans  # noqa: E402


def sp(i, name, parent, start, end, **kw):
    d = dict(id=i, name=name, parent=parent, start=start, end=end, jobs=0, tasks=0,
             shuffle_bytes=0, spill_bytes=0, gc_ms=0, compiles=0)
    d.update(kw)
    return d


class SelfTimeTest(unittest.TestCase):

    def test_covered_merges_overlaps_and_clips(self):
        self.assertAlmostEqual(spans.covered([(1, 3), (2, 4), (6, 7)], 0, 10), 4.0)
        self.assertAlmostEqual(spans.covered([(-5, 2), (9, 20)], 0, 10), 3.0)
        self.assertAlmostEqual(spans.covered([], 0, 10), 0.0)
        self.assertAlmostEqual(spans.covered([(3, 3), (5, 4)], 0, 10), 0.0)

    def test_nested_spans(self):
        s = [sp(1, "root", 0, 0.0, 10.0),
             sp(2, "a", 1, 1.0, 4.0),
             sp(3, "b", 1, 3.0, 6.0),          # overlaps a: 1..6 covered once
             sp(4, "a.x", 2, 1.5, 2.5),
             sp(5, "a.y", 2, 2.0, 3.5),        # overlaps a.x: 1.5..3.5
             sp(6, "c", 1, 8.0, 12.0)]         # runs past its parent: clipped
        st = spans.self_times(s)
        self.assertAlmostEqual(st[1], 10.0 - 5.0 - 2.0)
        self.assertAlmostEqual(st[2], 3.0 - 2.0)
        self.assertAlmostEqual(st[3], 3.0)
        self.assertAlmostEqual(st[4], 1.0)
        self.assertAlmostEqual(st[6], 4.0)

    def test_layer_metrics_barrier_wait_and_other(self):
        s = [sp(1, "pipeline", 0, 0.0, 10.0),
             sp(2, "ddl.parse", 1, 0.0, 1.0),
             sp(3, "gen.wave", 1, 1.0, 9.0),
             sp(4, "gen.exec", 3, 1.0, 5.0, compiles=7),
             sp(5, "gen.exec[A]", 4, 1.0, 5.0, tasks=2),
             sp(6, "gen.exec[B]", 4, 1.0, 3.0, tasks=1),
             sp(7, "load.write", 3, 5.0, 9.0),
             sp(8, "load.write[A]", 7, 5.0, 9.0, tasks=4)]
        reports = [dict(n_loaded=400, n_readback=400), dict(n_loaded=400, n_readback=400)]
        out = dict(reports=reports, counts=dict(tables=2, columns=5, fks=1), rules_columns=3,
                   waves=[["A", "B"]], rearm_refused=0, edges=[],
                   session_start_s=1.0, gc_s=0.1, codegen_compiles=9)
        m = spans.layer_metrics(s, out)
        self.assertAlmostEqual(m["gen.exec_s"], 4.0)
        self.assertAlmostEqual(m["gen.rows_per_s"], 200.0)
        self.assertEqual(m["gen.tasks"], 3)
        self.assertEqual(m["load.write_tasks"], 4)
        self.assertEqual(m["gen.codegen_compiles"], 7)
        self.assertAlmostEqual(m["gen.wave_wait_s"], (0 + 2) / 2)   # B waited 2 s for A
        self.assertAlmostEqual(m["trace.other_s"], 1.0)             # 9..10 uncovered
        self.assertAlmostEqual(m["trace.wall_s"], 10.0)


if __name__ == "__main__":
    unittest.main()
