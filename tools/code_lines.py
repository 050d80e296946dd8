"""Count code lines in Python sources: lines that are not blank, not a
comment and not part of a docstring.

    python tools/code_lines.py PATH...

Each PATH is a .py file or a directory (searched recursively). Prints
one count per PATH and their total.
"""
import ast
import io
import sys
import tokenize
from pathlib import Path


def code_lines(path: Path) -> int:
    src = path.read_text(encoding="utf-8")
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in (tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
                            tokenize.INDENT, tokenize.DEDENT,
                            tokenize.ENDMARKER):
            lines.update(range(tok.start[0], tok.end[0] + 1))
    for node in ast.walk(ast.parse(src)):
        body = getattr(node, "body", None)
        if (isinstance(body, list) and body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            lines -= set(range(body[0].lineno, body[0].end_lineno + 1))
    return len(lines)


total = 0
for arg in sys.argv[1:]:
    p = Path(arg)
    n = sum(code_lines(f) for f in ([p] if p.is_file() else p.rglob("*.py")))
    total += n
    print(f"{n:8d}  {arg}")
print(f"{total:8d}  total")
