#!/usr/bin/env python3
"""Tests of tools/warn_lines.py: which lines are WARN lines, the digit
masking, and the report over several files. Run from the repository root:

    python3 -m unittest tools/test_warn_lines.py
"""
import contextlib
import io
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import warn_lines  # noqa: E402

WINDOW = ("26/10/20 22:50:01 WARN WindowExec: No Partition Defined for Window "
          "operation! Moving all data to a single partition, this can cause "
          "serious performance degradation.")


class WarnLineTest(unittest.TestCase):
    def test_spark_pattern(self):
        logger, msg = warn_lines.warn_line(WINDOW)
        self.assertEqual(logger, "WindowExec")
        self.assertTrue(msg.startswith("No Partition Defined for Window operation!"))

    def test_prefixed_line(self):
        line = "[error] 26/10/20 22:50:01 WARN DAGScheduler: Broadcasting large task binary with size 8.1 MiB"
        self.assertEqual(warn_lines.warn_line(line),
                         ("DAGScheduler", "Broadcasting large task binary with size #.# MiB"))

    def test_digits_masked(self):
        a = warn_lines.warn_line("1/2/3 WARN CacheManager: stage 12 took 340 ms")
        b = warn_lines.warn_line("9/9/9 WARN CacheManager: stage 7 took 5 ms")
        self.assertEqual(a, b)
        self.assertEqual(a[1], "stage # took # ms")

    def test_uuids_masked_whole(self):
        line = ("x WARN DAGScheduler: Failed to cancel job group "
                "d630fa70-7680-4885-a569-6bde6c11a722. Cannot find active jobs for it.")
        self.assertEqual(warn_lines.warn_line(line)[1],
                         "Failed to cancel job group #. Cannot find active jobs for it.")

    def test_other_lines_skipped(self):
        for line in ["26/10/20 22:50:01 INFO SparkContext: Running Spark version 4.1.2",
                     "26/10/20 22:50:01 ERROR Executor: boom",
                     "a WARNING: not a log4j line",
                     "",
                     "WARN without a logger colon"]:
            self.assertIsNone(warn_lines.warn_line(line), line)


class ReportTest(unittest.TestCase):
    def test_counts_over_files(self):
        with tempfile.TemporaryDirectory() as d:
            a, b = Path(d, "a.err"), Path(d, "b.err")
            a.write_text(WINDOW + "\n" + WINDOW + "\n"
                         "x INFO Foo: skipped\n"
                         "x WARN CacheManager: Asked to cache already cached data.\n")
            b.write_text(WINDOW + "\n")
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                self.assertEqual(warn_lines.main([str(a), str(b)]), 0)
        lines = out.getvalue().splitlines()
        self.assertEqual(lines[0], "WARN lines: 4")
        self.assertEqual(lines[1], "by logger:")
        self.assertEqual(lines[2].split(), ["3", "WindowExec"])
        self.assertEqual(lines[3].split(), ["1", "CacheManager"])
        self.assertEqual(lines[4], "by message:")
        self.assertTrue(lines[5].split()[0] == "3" and "WindowExec: No Partition" in lines[5])
        self.assertEqual(lines[6].split(None, 1),
                         ["1", "CacheManager: Asked to cache already cached data."])

    def test_ties_rank_by_name(self):
        by_logger, _ = warn_lines.count(["x WARN B: m", "x WARN A: m"])
        self.assertEqual(warn_lines.ranked(by_logger), [("A", 1), ("B", 1)])


if __name__ == "__main__":
    unittest.main()
