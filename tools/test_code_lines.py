#!/usr/bin/env python3
"""Tests of tools/code_lines.py: what counts as a code line, and the report
over a revision and the working tree. Run from the repository root:

    python3 -m unittest tools/test_code_lines.py
"""
import contextlib
import io
import os
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import code_lines  # noqa: E402


class CountTest(unittest.TestCase):
    def test_blank_and_line_comments_do_not_count(self):
        self.assertEqual(code_lines.code_lines("\n   \n// a\n  // b\nval x = 1\n"), 1)

    def test_code_before_a_line_comment_counts(self):
        self.assertEqual(code_lines.code_lines("val x = 1 // one\n"), 1)

    def test_block_and_scaladoc_comments_do_not_count(self):
        src = "/** Doc\n  * more\n  */\ndef f = 1\n/* a\n b */\n"
        self.assertEqual(code_lines.code_lines(src), 1)

    def test_code_around_a_block_comment_counts(self):
        src = "val a = 1 /* x\n y */ val b = 2\n/* z */ val c = 3\nval d /* w */ = 4\n"
        self.assertEqual(code_lines.code_lines(src), 4)

    def test_nested_block_comments(self):
        self.assertEqual(code_lines.code_lines("/* a /* b */\n c */\nval x = 1\n"), 1)

    def test_comment_markers_in_literals_are_code(self):
        src = ('val u = "http://host/*"\n'
               "val q = '\"'\n"
               'val t = """a\n// not a comment\n/* nor this */"""\n'
               "val e = '\\''\n"
               'val s = "a\\"//b"\n')
        self.assertEqual(code_lines.code_lines(src), 7)


class ReportTest(unittest.TestCase):
    def git(self, *args):
        subprocess.run(["git", "-C", self.root, *args], check=True, capture_output=True)

    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.root = os.path.realpath(self.dir.name)
        self.git("init", "-q")
        src = Path(self.root, "src")
        src.mkdir()
        (src / "A.scala").write_text("// a\nobject A {\n  val x = 1\n}\n")
        (src / "B.scala").write_text("object B\n")
        (src / "notes.txt").write_text("text\n")
        self.git("add", "-A")
        self.git("-c", "user.name=t", "-c", "user.email=t@t", "commit", "-q", "-m", "base")
        (src / "A.scala").write_text("object A\n")
        (src / "B.scala").unlink()
        (src / "C.scala").write_text("object C {\n  def f = 2\n}\n")

    def tearDown(self):
        self.dir.cleanup()

    def test_per_file_and_total_change(self):
        out = io.StringIO()
        cwd = os.getcwd()
        os.chdir(self.root)
        try:
            with contextlib.redirect_stdout(out):
                code_lines.main(["HEAD", "src"])
        finally:
            os.chdir(cwd)
        rows = [line.split() for line in out.getvalue().splitlines()[1:]]
        self.assertEqual(rows, [["src/A.scala", "3", "1", "-2"],
                                ["src/B.scala", "1", "0", "-1"],
                                ["src/C.scala", "0", "3", "+3"],
                                ["total", "4", "4", "+0"]])


if __name__ == "__main__":
    unittest.main()
