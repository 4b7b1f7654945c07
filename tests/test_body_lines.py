"""tools/body_lines.py: the body-line count that simplicity changes
quote."""

from __future__ import annotations

import importlib.util
import os

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tool():
    spec = importlib.util.spec_from_file_location(
        "body_lines", os.path.join(_ROOT, "tools", "body_lines.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


SOURCE = '''
@decorated
def f(
    x,
):
    """Docstring,

    two paragraphs."""
    # a comment-only line
    y = [
        x,  # trailing comment: a code line

        x,
    ]
    s = """a string line

# inside a string"""

    def inner():
        return y

    return inner, s


class C:
    def m(self):
        """Doc."""
        return 1
'''


def test_body_lines_drops_docstring_comments_and_blanks():
    bl = _tool()
    # f: 4 lines of `y = [...]` (its blank line dropped), 3 string
    # lines, 2 for `inner` (def and return), 1 return; m: 1 return
    assert bl.body_lines(SOURCE) == {"f": 10, "C.m": 1}
    assert bl.body_lines(SOURCE, ["f.inner", "C.m"]) == {"f.inner": 1, "C.m": 1}
