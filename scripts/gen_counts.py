#!/usr/bin/env python
"""Regenerate the catalog-count phrases in COVERAGE.md and README.md
from the catalog itself (VERDICT_r7 item 5: the hand-maintained tier
header drifted — 232/239 against an actual 308/315 — so the counts are
now derived, never typed). Run at commit time; tests/test_doc_counts.py
fails the suite if the docs and catalog ever disagree.

Rewritten phrases (regex-anchored, everything else untouched):
  COVERAGE.md  "**H of the T catalog queries are hash-tier**"
  COVERAGE.md  "The R permanent residue"
  README.md    "(T named queries: H"
  README.md    "with oracle twins, R rows-only"
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def counts() -> tuple[int, int, int]:
    from report_worker_spark.plans.catalog import ORACLE, QUERIES

    total, hashed = len(QUERIES), len(ORACLE)
    return total, hashed, total - hashed


def rewrite(check_only: bool = False) -> bool:
    total, hashed, rows_only = counts()
    subs = {
        ROOT / "COVERAGE.md": [
            (
                r"\*\*\d+ of the \d+ catalog queries are hash-tier\*\*",
                f"**{hashed} of the {total} catalog queries are hash-tier**",
            ),
            (
                r"The \d+ permanent residue",
                f"The {rows_only} permanent residue",
            ),
        ],
        ROOT / "README.md": [
            (
                r"\(\d+ named queries: \d+",
                f"({total} named queries: {hashed}",
            ),
            (
                r"with oracle twins, \d+ rows-only",
                f"with oracle twins, {rows_only} rows-only",
            ),
        ],
    }
    clean = True
    for path, rules in subs.items():
        text = orig = path.read_text()
        for pat, repl in rules:
            text, n = re.subn(pat, repl, text)
            if n != 1:
                raise SystemExit(
                    f"{path.name}: pattern {pat!r} matched {n} times "
                    "(expected exactly 1) — the doc phrase moved"
                )
        if text != orig:
            clean = False
            if not check_only:
                path.write_text(text)
                print(f"updated {path.name}")
    if clean:
        print(f"docs in sync: {total} queries, {hashed} hash-tier")
    return clean


if __name__ == "__main__":
    in_sync = rewrite(check_only="--check" in sys.argv)
    if "--check" in sys.argv and not in_sync:
        raise SystemExit("doc counts drifted — run scripts/gen_counts.py")
