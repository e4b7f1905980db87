"""Tests for `scripts/sloc.py`'s code-line count.

Run:  python3 -m unittest discover -s scripts/tests
"""
import contextlib
import io
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
import sloc  # noqa: E402


class CodeLinesTest(unittest.TestCase):

    def test_blank_and_comment_lines_do_not_count(self):
        src = "\n".join([
            "package a",
            "",
            "   ",
            "// a line comment",
            "/** a scaladoc",
            "  * spanning lines */",
            "object A {",
            "  val x = 1 // trailing comment",
            "  /* inline */ val y = 2",
            "}",
        ])
        self.assertEqual(sloc.code_lines(src), 5)

    def test_block_comments_nest(self):
        src = "/* outer /* inner */ still comment */\nval a = 1\n"
        self.assertEqual(sloc.code_lines(src), 1)
        src = "/* outer /* inner */\nstill comment\n*/\nval a = 1\n"
        self.assertEqual(sloc.code_lines(src), 1)

    def test_comment_markers_inside_literals_are_code(self):
        src = "\n".join([
            'val url = "s3://bucket/*x"',
            "val star = '/'",
            "val q = '\"'",
            'val t = """ // not a',
            '  /* comment */ """',
            "val after = 2",
        ])
        self.assertEqual(sloc.code_lines(src), 6)

    def test_escaped_quote_keeps_the_string_open(self):
        src = 'val s = "a \\" // b"\n// real comment\n'
        self.assertEqual(sloc.code_lines(src), 1)

    def test_directories_and_total(self):
        with tempfile.TemporaryDirectory() as d:
            root = Path(d)
            (root / "a" / "deep").mkdir(parents=True)
            (root / "b").mkdir()
            (root / "a" / "deep" / "X.scala").write_text(
                "// c\nobject X\n")
            (root / "a" / "Y.java").write_text("class Y {}\n\n")
            (root / "a" / "notes.md").write_text("not code\n")
            (root / "b" / "Z.scala").write_text("/* c */\n")
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                rc = sloc.main([str(root / "a"), str(root / "b")])
            self.assertEqual(rc, 0)
            lines = [l.split() for l in out.getvalue().splitlines()]
            self.assertEqual(lines, [["2", str(root / "a")],
                                     ["0", str(root / "b")],
                                     ["2", "total"]])

    def test_missing_directory_fails(self):
        err = io.StringIO()
        with contextlib.redirect_stderr(err):
            self.assertEqual(sloc.main(["/nonexistent/sloc-test"]), 2)


if __name__ == "__main__":
    unittest.main()
