"""Count code lines: physical lines holding a token other than a
comment or a docstring (a string that is a whole statement).

Usage: python scripts/code_lines.py [path ...]  (default: the package)
Directories are walked for ``*.py``; prints one count per file and a
total.
"""

import pathlib
import sys
import tokenize

LAYOUT = {tokenize.COMMENT, tokenize.NL, tokenize.INDENT, tokenize.DEDENT,
          tokenize.ENCODING, tokenize.ENDMARKER}


def code_lines(path):
    lines, stmt = set(), []
    with open(path, "rb") as f:
        for tok in tokenize.tokenize(f.readline):
            if tok.type == tokenize.NEWLINE:
                if not (len(stmt) == 1 and stmt[0].type == tokenize.STRING):
                    for t in stmt:
                        lines.update(range(t.start[0], t.end[0] + 1))
                stmt = []
            elif tok.type not in LAYOUT:
                stmt.append(tok)
    return len(lines)


def main(args):
    total = 0
    for p in map(pathlib.Path, args or ["spark_data_test_spark"]):
        for f in sorted(p.rglob("*.py")) if p.is_dir() else [p]:
            n = code_lines(f)
            total += n
            print(f"{n:7,d}  {f}")
    print(f"{total:7,d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
