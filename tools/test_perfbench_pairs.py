#!/usr/bin/env python3
"""Tests of tools/perfbench_pairs.py: the gain rule, the regression side, the
relative median change and --each. Run from the repository root:

    python3 -m unittest tools/test_perfbench_pairs.py
"""
import contextlib
import io
import json
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import perfbench_pairs  # noqa: E402

BENCHMARK = {
    "end_to_end": [{"name": "run_s", "better": "lower", "bound": 0.24}],
    "per_layer": [{"name": "recall", "better": "higher"}],
}


def line(**metrics):
    return json.dumps({"correct": True, "metrics": {k: {"value": v} for k, v in metrics.items()}})


class PairsTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.bench = Path(self.dir.name, "BENCHMARK.json")
        self.bench.write_text(json.dumps(BENCHMARK))

    def tearDown(self):
        self.dir.cleanup()

    def run_tool(self, parent, change, *flags):
        """Stdout of the tool over two results files holding these lines."""
        files = []
        for name, lines in (("parent", parent), ("change", change)):
            f = Path(self.dir.name, name)
            f.write_text("[perfbench] noise\n" + "\n".join(lines) + "\n")
            files.append(str(f))
        out = io.StringIO()
        argv = ["perfbench_pairs.py", *files, "--benchmark", str(self.bench), *flags]
        with contextlib.redirect_stdout(out):
            old, sys.argv = sys.argv, argv
            try:
                self.assertEqual(perfbench_pairs.main(), 0)
            finally:
                sys.argv = old
        return out.getvalue()

    def row(self, out, name):
        return next(l for l in out.splitlines() if l.split()[0] == name)

    def test_gain_holds_on_nine_of_ten_wins_beyond_the_iqr(self):
        parent = [line(run_s=3.0 + 0.01 * i) for i in range(10)]
        change = [line(run_s=2.0) for _ in range(9)] + [line(run_s=4.0)]
        row = self.row(self.run_tool(parent, change), "run_s")
        self.assertIn("9/10", row)
        self.assertIn("holds", row)
        self.assertTrue(row.endswith("ok"), row)

    def test_eight_wins_do_not_hold(self):
        parent = [line(run_s=3.0) for _ in range(10)]
        change = [line(run_s=2.0) for _ in range(8)] + [line(run_s=4.0)] * 2
        self.assertIn(" no ", self.row(self.run_tool(parent, change), "run_s"))

    def test_a_median_worse_than_the_bound_is_flagged(self):
        parent = [line(run_s=2.0) for _ in range(4)]
        self.assertTrue(self.row(self.run_tool(parent, [line(run_s=2.5)] * 4), "run_s")
                        .endswith("WORSE"))
        # 2.4 is 20% worse: inside the 0.24 bound
        self.assertTrue(self.row(self.run_tool(parent, [line(run_s=2.4)] * 4), "run_s")
                        .endswith("ok"))

    def test_higher_is_better_and_per_layer_metrics_have_no_bound(self):
        parent = [line(run_s=1.0, recall=0.5) for _ in range(3)]
        change = [line(run_s=1.0, recall=0.9) for _ in range(3)]
        row = self.row(self.run_tool(parent, change), "recall")
        self.assertIn("3/3", row)
        self.assertFalse(row.endswith("ok") or row.endswith("WORSE"), row)

    def test_relative_median_change_prints_next_to_the_bound(self):
        parent = [line(run_s=2.0, recall=0.5) for _ in range(4)]
        change = [line(run_s=1.5, recall=0.55) for _ in range(4)]
        out = self.run_tool(parent, change)
        self.assertIn("Δ%", out.splitlines()[0])
        self.assertTrue(self.row(out, "run_s").endswith("-25.0%  24% ok"), self.row(out, "run_s"))
        # a per-layer metric has a change but no bound
        self.assertTrue(self.row(out, "recall").endswith("+10.0%"), self.row(out, "recall"))
        worse = self.row(self.run_tool(parent, [line(run_s=2.5, recall=0.5)] * 4), "run_s")
        self.assertTrue(worse.endswith("+25.0%  24% WORSE"), worse)

    def test_a_zero_parent_median_has_no_relative_change(self):
        out = self.run_tool([line(run_s=0.0)] * 2, [line(run_s=0.5)] * 2)
        self.assertIn(" n/a ", self.row(out, "run_s"))

    def test_each_prints_every_pair_in_run_order(self):
        out = self.run_tool([line(run_s=3.0), line(run_s=3.5)],
                            [line(run_s=2.0), line(run_s=2.25)], "--each")
        self.assertIn("run_s: 3 -> 2, 3.5 -> 2.25", out.splitlines())


if __name__ == "__main__":
    unittest.main()
