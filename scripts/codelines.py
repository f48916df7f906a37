"""Count code lines in Python sources.

A line counts when it holds a token other than a comment, a docstring
or whitespace. A docstring here is any statement that is a bare string
literal (module, class and function docstrings, and attribute
docstrings). A token that spans lines, such as a multi-line string
argument, counts every line it spans.

Usage: python scripts/codelines.py PATH [PATH ...]
A PATH is a .py file or a directory searched recursively. Prints one
"count path" line per file, then "count total".
"""

from __future__ import annotations

import io
import os
import sys
import tokenize

_LAYOUT = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}
_STATEMENT_START = {tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT}


def count_code_lines(source: str) -> int:
    toks = list(tokenize.generate_tokens(io.StringIO(source).readline))
    lines: set[int] = set()
    prev = None  # last token that is not a comment or a blank-line NL
    for i, tok in enumerate(toks):
        if tok.type in _LAYOUT:
            if tok.type not in (tokenize.COMMENT, tokenize.NL):
                prev = tok
            continue
        if tok.type == tokenize.STRING and (prev is None or prev.type in _STATEMENT_START):
            j = i + 1
            while toks[j].type in (tokenize.COMMENT, tokenize.NL):
                j += 1
            if toks[j].type in (tokenize.NEWLINE, tokenize.ENDMARKER):
                prev = tok
                continue  # a bare string statement: a docstring
        prev = tok
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines)


def python_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for root, dirs, names in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        out.extend(os.path.join(root, n) for n in sorted(names) if n.endswith(".py"))
    return out


def main(argv: list[str]) -> int:
    if not argv:
        print("usage: python scripts/codelines.py PATH [PATH ...]", file=sys.stderr)
        return 2
    total = 0
    for path in argv:
        for f in python_files(path):
            with open(f, encoding="utf-8") as fh:
                n = count_code_lines(fh.read())
            total += n
            print(f"{n} {f}")
    print(f"{total} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
