"""Count code lines per Python and Java file.

Python: lines that hold at least one token other than a comment, a
blank or a docstring. Docstrings are the leading string-expression
statements of modules, classes and functions (found with ``ast``);
every other token's rows (``tokenize``) count, so a multi-line
non-docstring string counts all its lines.

Java: non-blank lines that are not only a ``//`` or ``/* */`` comment
(string and char literals are skipped over, so a ``//`` inside one is
code).

Usage::

    python tools/code_lines.py [PATH ...]

PATH is a file or a directory (searched recursively for ``*.py`` and
``*.java``) and defaults to ``avro_spark``. Prints one ``<lines>
<file>`` row per file, then per PATH a ``<lines>  TOTAL python|java
<PATH>`` row for each language found and a ``<lines>  TOTAL <PATH>``
row for both.
"""

from __future__ import annotations

import ast
import io
import os
import re
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def _docstring_rows(tree: ast.AST) -> "set[int]":
    rows: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                 ast.AsyncFunctionDef)):
            continue
        body = node.body
        if (body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            rows.update(range(body[0].lineno, body[0].end_lineno + 1))
    return rows


def code_lines(source: str) -> int:
    """Number of code lines in ``source``."""
    doc = _docstring_rows(ast.parse(source))
    rows: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            rows.update(range(tok.start[0], tok.end[0] + 1))
    return len(rows - doc)


#: a Java comment, or a string/char literal (matched so that comment
#: markers inside it are left alone)
_JAVA_TOKEN = re.compile(
    r'//[^\n]*|/\*.*?\*/|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])*\'', re.S)


def java_code_lines(source: str) -> int:
    """Number of code lines in Java ``source``."""
    def blank_comment(m: "re.Match") -> str:
        t = m.group()
        return "\n" * t.count("\n") if t.startswith("/") else t

    return sum(1 for line in _JAVA_TOKEN.sub(blank_comment, source)
               .splitlines() if line.strip())


_COUNTERS = {".py": ("python", code_lines), ".java": ("java", java_code_lines)}


def _files(path: str) -> "list[str]":
    if os.path.isfile(path):
        return [path]
    out = []
    for root, dirs, names in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        out.extend(os.path.join(root, n) for n in sorted(names)
                   if n.endswith(tuple(_COUNTERS)))
    return out


def main(argv: "list[str]") -> int:
    for path in argv or ["avro_spark"]:
        totals: dict = {}
        for f in _files(path):
            lang, count = _COUNTERS[os.path.splitext(f)[1]]
            with open(f, encoding="utf-8") as fh:
                n = count(fh.read())
            totals[lang] = totals.get(lang, 0) + n
            print(f"{n:7d}  {f}")
        for lang, n in totals.items():
            print(f"{n:7d}  TOTAL {lang} {path}")
        print(f"{sum(totals.values()):7d}  TOTAL {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
