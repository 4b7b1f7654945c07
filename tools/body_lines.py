"""Body-line count of Python functions, the size measure simplicity
changes quote: every physical line spanned by a statement of the
function body, minus the docstring, comment-only lines and blank
lines. The ``def`` line, its signature and its decorators are not
counted; a nested function's lines count toward the enclosing one.

Usage:
    python tools/body_lines.py FILE [QUALNAME ...]

QUALNAME is a dotted name such as ``lake_upsert_sink`` or
``LakeTable.accumulate``. With none given, every function that is
not nested in another function is counted. Prints one
``<lines>  <qualname>`` row per function and a total.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
    tokenize.ENCODING,
}


def _code_lines(source: str) -> set[int]:
    """Line numbers that hold part of a code token. A line inside a
    multi-line string counts; a blank or comment-only line does not."""
    out: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            out.update(range(tok.start[0], tok.end[0] + 1))
    return out


def _functions(tree: ast.AST) -> dict[str, ast.AST]:
    """Dotted qualname -> def node, for every function in ``tree``."""
    out: dict[str, ast.AST] = {}

    def visit(node: ast.AST, prefix: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                name = prefix + child.name
                if not isinstance(child, ast.ClassDef):
                    out[name] = child
                visit(child, name + ".")
            else:
                visit(child, prefix)

    visit(tree, "")
    return out


def body_lines(source: str, qualnames: list[str] | None = None) -> dict[str, int]:
    """Body-line count per function of ``source``: the named ones, or
    every function not nested in another function."""
    funcs = _functions(ast.parse(source))
    if not qualnames:
        qualnames = [q for q in funcs if not any(q.startswith(p + ".") for p in funcs)]
    missing = [q for q in qualnames if q not in funcs]
    if missing:
        raise KeyError(f"no such function: {', '.join(missing)}")
    code = _code_lines(source)
    out = {}
    for q in qualnames:
        body = funcs[q].body
        if ast.get_docstring(funcs[q], clean=False) is not None:
            body = body[1:]
        spanned = {n for s in body for n in range(s.lineno, s.end_lineno + 1)}
        out[q] = len(spanned & code)
    return out


def main(argv: list[str]) -> None:
    if not argv:
        sys.exit(__doc__)
    with open(argv[0]) as fh:
        counts = body_lines(fh.read(), argv[1:])
    for q, n in counts.items():
        print(f"{n:5d}  {q}")
    print(f"{sum(counts.values()):5d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
