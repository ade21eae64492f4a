#!/usr/bin/env python3
"""Splice spec-generated blocks into COVERAGE.md.

BandingRecallSpec, AnnRecallSpec and ServerThroughputSpec write their
measured tables to target/coverage/<name>.md (untracked) on every test
run. This script copies each block into COVERAGE.md between its
`<!-- <name>:begin -->` and `<!-- <name>:end -->` markers.

Usage, from the repository root, after the specs have run:

    python3 tools/refresh_coverage.py [COVERAGE.md] [target/coverage]
"""
import pathlib
import sys


def main() -> int:
    doc = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else "COVERAGE.md")
    blocks = pathlib.Path(sys.argv[2] if len(sys.argv) > 2 else "target/coverage")
    text = doc.read_text(encoding="utf-8")
    found = sorted(blocks.glob("*.md"))
    if not found:
        print(f"no blocks under {blocks}: run the specs first", file=sys.stderr)
        return 1
    for block in found:
        name = block.stem
        begin, end = f"<!-- {name}:begin -->", f"<!-- {name}:end -->"
        if begin not in text or end not in text:
            print(f"{doc} has no {begin} ... {end} markers", file=sys.stderr)
            return 1
        i, j = text.index(begin), text.index(end) + len(end)
        text = text[:i] + block.read_text(encoding="utf-8").rstrip("\n") + text[j:]
        print(f"refreshed {name}")
    doc.write_text(text, encoding="utf-8")
    return 0


if __name__ == "__main__":
    sys.exit(main())
