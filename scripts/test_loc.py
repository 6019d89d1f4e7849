"""Self-tests for loc.py.

Run: python3 -m unittest discover -s scripts -p 'test_*.py'
"""
import os
import tempfile
import unittest

import loc

# 5 code lines: `package`, `object`, `val a`, `val b`, `}`; the inline
# block comment and the code after a closing `*/` do not hide a line.
FIXTURE = """package x

// a line comment
/** A doc comment
  * over three lines
  */
object A {
  val a = 1 // trailing comment
  /* one-line block */
  /* opens
     closes */ val b = "/* in a string */"
}
"""


class CountLinesTest(unittest.TestCase):
    def test_fixture(self):
        self.assertEqual(loc.count_lines(FIXTURE), 5)

    def test_blank_and_comment_only(self):
        self.assertEqual(loc.count_lines("\n  \n// x\n/* y */\n"), 0)

    def test_unclosed_block_hides_the_rest(self):
        self.assertEqual(loc.count_lines("val a = 1\n/* open\nval b = 2\n"), 1)

    def test_count_dir_sums_scala_files_only(self):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "sub"))
            with open(os.path.join(d, "A.scala"), "w") as f:
                f.write(FIXTURE)
            with open(os.path.join(d, "sub", "B.scala"), "w") as f:
                f.write("object B\n")
            with open(os.path.join(d, "notes.md"), "w") as f:
                f.write("not code\n")
            total, rows = loc.count_dir(d)
        self.assertEqual(total, 6)
        self.assertEqual([c for c, _ in rows], [5, 1])


if __name__ == "__main__":
    unittest.main()
