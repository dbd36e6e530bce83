"""Code lines per file under ``sketchlib/`` at two git revisions, and
their net change.

A code line holds a token outside comments and docstrings; blank lines
do not count. Only files whose count changed are listed, then the total.
Run from the repository root:

    python tools/code_lines.py HEAD~ HEAD
"""

import ast
import io
import subprocess
import sys
import tokenize

_NOT_CODE = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
             tokenize.INDENT, tokenize.DEDENT, tokenize.ENCODING,
             tokenize.ENDMARKER}
_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef,
               ast.AsyncFunctionDef)


def code_lines(source: str) -> int:
    """Lines of ``source`` that hold code: not blank, not only a
    comment, not part of a module, class or function docstring."""
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    for node in ast.walk(ast.parse(source)):
        if (isinstance(node, _DOC_OWNERS)
                and ast.get_docstring(node, clean=False) is not None):
            doc = node.body[0]
            lines.difference_update(range(doc.lineno, doc.end_lineno + 1))
    return len(lines)


def _git(*args: str) -> str:
    return subprocess.run(["git", *args], capture_output=True, text=True,
                          check=True).stdout


def counts(rev: str) -> dict[str, int]:
    """{path: code lines} of every Python file under sketchlib/ at
    ``rev``."""
    files = _git("ls-tree", "-r", "--name-only", rev, "--", "sketchlib/")
    return {f: code_lines(_git("show", f"{rev}:{f}"))
            for f in files.split() if f.endswith(".py")}


def main(old_rev: str, new_rev: str) -> None:
    old, new = counts(old_rev), counts(new_rev)
    print(f"{'old':>7} {'new':>7} {'net':>7}  file")
    for f in sorted(old.keys() | new.keys()):
        a, b = old.get(f, 0), new.get(f, 0)
        if a != b:
            print(f"{a:7d} {b:7d} {b - a:+7d}  {f}")
    a, b = sum(old.values()), sum(new.values())
    print(f"{a:7d} {b:7d} {b - a:+7d}  sketchlib/ total")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: python tools/code_lines.py OLD_REV NEW_REV")
    main(sys.argv[1], sys.argv[2])
