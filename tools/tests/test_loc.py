"""loc.py: comments and blank lines are not code, string literals are.

Run from the checkout root: python3 -m unittest discover -s tools/tests
"""
import io, os, sys, tempfile, unittest
from contextlib import redirect_stdout

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
from loc import code_lines, main


class CodeLinesTest(unittest.TestCase):
    def test_blank_and_line_comments_are_not_code(self):
        src = "\n  \n// a comment\nval x = 1 // trailing\n\t\n"
        self.assertEqual(code_lines(src), 1)

    def test_scaladoc_is_not_code(self):
        src = ("/** The scaladoc.\n"
               "  *\n"
               "  * `val y = 2` inside it is prose. */\n"
               "def f: Int = 1\n")
        self.assertEqual(code_lines(src), 1)

    def test_nested_block_comment_ends_at_its_own_close(self):
        src = "/* outer /* inner */ still outer */\nval z = 3\n"
        self.assertEqual(code_lines(src), 1)

    def test_comment_markers_inside_strings_are_code(self):
        src = ('val a = "//"\n'
               'val b = "/*"\n'
               'val c = 3\n'
               '"// not a comment"\n'
               "val q = '\"'\n"
               'val d = "*/ \\" //"\n')
        self.assertEqual(code_lines(src), 6)

    def test_triple_quoted_string_lines_are_code(self):
        src = ('val sql = """SELECT 1\n'
               '  |-- a SQL comment, still Scala code\n'
               '\n'
               '  |// /* also code */\n'
               '  |FROM t""".stripMargin\n'
               'val after = 1\n')
        self.assertEqual(code_lines(src), 5)

    def test_interpolated_splice_may_hold_quotes(self):
        src = ('val s1 = s"a ${xs.mkString("/*")} b"\n'
               'val s2 = s"""x ${ys.map { y => s"$y//" }.mkString} y"""\n'
               'val after = 1\n')
        self.assertEqual(code_lines(src), 3)

    def test_code_after_block_comment_on_same_line_counts(self):
        src = "/* lead */ val x = 1\nval y = 2 /* tail\n spans */\n"
        self.assertEqual(code_lines(src), 2)


class MainTest(unittest.TestCase):
    def test_prints_each_path_and_the_total(self):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "pkg"))
            with open(os.path.join(d, "pkg", "A.scala"), "w") as f:
                f.write("/** doc */\nobject A {\n  val x = \"//\"\n}\n")
            with open(os.path.join(d, "B.scala"), "w") as f:
                f.write("// only a comment\nobject B\n")
            with open(os.path.join(d, "notes.txt"), "w") as f:
                f.write("not a source file\n")
            out = io.StringIO()
            with redirect_stdout(out):
                rc = main([os.path.join(d, "pkg"), d])
            self.assertEqual(rc, 0)
            lines = out.getvalue().splitlines()
            self.assertEqual([l.split()[0] for l in lines], ["3", "4", "7"])
            self.assertEqual(lines[-1].split()[1], "total")


if __name__ == "__main__":
    unittest.main()
