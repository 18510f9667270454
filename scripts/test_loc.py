"""Unit tests of the code-line counter in loc.py.

    python3 -m unittest discover -s scripts -p 'test_*.py'
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from loc import code_lines  # noqa: E402


class CodeLinesTest(unittest.TestCase):

    def test_blank_lines_do_not_count(self):
        self.assertEqual(code_lines("val a = 1\n\n   \n\tval b = 2\n"), 2)

    def test_line_comments_do_not_count(self):
        self.assertEqual(code_lines("// one\n  // two\nval a = 1 // three\n"), 1)

    def test_block_comment_lines_do_not_count(self):
        src = "/* a\n   b\n*/\nval a = 1\n"
        self.assertEqual(code_lines(src), 1)

    def test_scaladoc_lines_do_not_count(self):
        src = "/** Doc.\n  *\n  * More.\n  */\ndef f = 1\n"
        self.assertEqual(code_lines(src), 1)

    def test_one_line_block_comment_does_not_count(self):
        self.assertEqual(code_lines("/** Doc. */\ndef f = 1\n"), 1)

    def test_block_comment_closing_mid_line_leaves_code(self):
        src = "/* a\n b */ val a = 1\n/* c */\n"
        self.assertEqual(code_lines(src), 1)

    def test_code_before_a_block_comment_counts(self):
        src = "val a = 1 /* opens\n still comment\n*/\n"
        self.assertEqual(code_lines(src), 1)

    def test_nested_block_comments(self):
        src = "/* a /* b */ still\n comment */\nval a = 1\n"
        self.assertEqual(code_lines(src), 1)

    def test_slashes_in_a_string_literal_are_code(self):
        self.assertEqual(code_lines('val u = "http://host"\n"//"\n'), 2)

    def test_comment_opener_in_a_string_opens_no_comment(self):
        self.assertEqual(code_lines('val a = "/*"\nval b = 2\n'), 2)

    def test_escaped_quote_does_not_end_a_string(self):
        self.assertEqual(code_lines('val a = "\\" /*"\nval b = 2\n'), 2)

    def test_triple_quoted_string_lines_are_code(self):
        src = 'val q = """SELECT\n// not a comment\n  1"""\n'
        self.assertEqual(code_lines(src), 3)

    def test_quote_char_literal_opens_no_string(self):
        self.assertEqual(code_lines("case '\"' => 1 // c\n/* x */\n"), 1)
        self.assertEqual(code_lines("val c = '\\''\n// c\n"), 1)


if __name__ == "__main__":
    unittest.main()
