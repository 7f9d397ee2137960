"""The metrics BENCHMARK.json names are well formed, and the runner
produces every one of them."""

import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]
import run  # noqa: E402
import spans  # noqa: E402
from test_spans import sp  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


class MetricNamesTest(unittest.TestCase):

    def setUp(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as fh:
            self.spec = json.load(fh)

    def test_names_are_well_formed(self):
        for name in list(run.END_TO_END) + list(run.PER_LAYER):
            self.assertRegex(name, NAME)

    def test_spec_matches_the_runner(self):
        self.assertEqual({w["name"] for w in self.spec["workloads"]}, set(run.WORKLOADS))
        self.assertIn("setup_s", run.END_TO_END)

    def test_traced_run_yields_every_per_layer_metric(self):
        out = dict(reports=[dict(n_loaded=1, n_readback=1)], counts=dict(tables=1, columns=1, fks=0),
                   rules_columns=1, waves=[["A"]], rearm_refused=0, edges=[],
                   session_start_s=1.0, gc_s=0.1, codegen_compiles=1)
        m = spans.layer_metrics([sp(1, "pipeline", 0, 0.0, 1.0)], out)
        m["trace.overhead_s"] = 0.0   # run.py adds it from the untraced run
        self.assertEqual(set(m), set(run.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
