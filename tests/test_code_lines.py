"""tools/code_lines.py counts the lines that hold code: not blank, not
comment-only, not inside a module, class or function docstring."""

from __future__ import annotations

from tools.code_lines import code_lines

SOURCE = '''"""Module docstring
spanning two lines."""

import os  # a trailing comment does not hide the code


# a comment-only line
def f(a,
      b):
    """One-line docstring."""
    x = (a +
         b)
    s = """a string that is
not a docstring"""
    return x, s


class C:
    """Class
    docstring."""

    y = os.sep
'''


def test_counts_code_lines_only():
    # import, def (2 lines), x = (2 lines), s = (2 lines), return,
    # class, y: the docstrings, comments and blanks add nothing
    assert code_lines(SOURCE) == 10
