"""Count the code lines of the package: lines that hold at least one
token other than a comment or a docstring (blank lines hold none).
A docstring here is any string literal standing alone as a statement.
Prints one line per file, then the total.

    python scripts/code_lines.py            # advanced_data_profile_spark/
    python scripts/code_lines.py some/dir   # any tree of .py files
"""

from __future__ import annotations

import sys
import tokenize
from pathlib import Path

# tokens that carry no code of their own
_NOISE = {tokenize.COMMENT, tokenize.NL, tokenize.ENCODING}
_STATEMENT_START = {tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT}
_LAYOUT = _STATEMENT_START | {tokenize.ENDMARKER}


def code_lines(path: Path) -> int:
    with open(path, "rb") as f:
        toks = [
            t for t in tokenize.tokenize(f.readline)
            if t.type not in _NOISE
        ]
    lines: set[int] = set()
    for i, t in enumerate(toks):
        if t.type in _LAYOUT:
            continue
        if (
            t.type == tokenize.STRING
            and (i == 0 or toks[i - 1].type in _STATEMENT_START)
            and toks[i + 1].type in (tokenize.NEWLINE, tokenize.ENDMARKER)
        ):
            continue  # a docstring
        lines.update(range(t.start[0], t.end[0] + 1))
    return len(lines)


def main(argv: list[str]) -> None:
    root = Path(argv[1] if len(argv) > 1 else
                Path(__file__).resolve().parent.parent / "advanced_data_profile_spark")
    total = 0
    for path in sorted(root.rglob("*.py")):
        n = code_lines(path)
        total += n
        print(f"{n:7d}  {path.relative_to(root)}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv)
