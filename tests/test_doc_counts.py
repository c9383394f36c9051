"""Docs-vs-catalog drift gate (VERDICT_r7 item 5): the COVERAGE.md tier
header and the README.md correctness-model line are generated by
scripts/gen_counts.py from len(QUERIES)/len(ORACLE); this test fails
the suite whenever a new query lands without re-running the generator."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_doc_counts_match_catalog():
    from report_worker_spark.plans.catalog import ORACLE, QUERIES

    total, hashed = len(QUERIES), len(ORACLE)
    rows_only = total - hashed

    cov = (ROOT / "COVERAGE.md").read_text()
    m = re.search(
        r"\*\*(\d+) of the (\d+) catalog queries are hash-tier\*\*", cov
    )
    assert m, "COVERAGE.md tier-header phrase missing"
    assert (int(m.group(1)), int(m.group(2))) == (hashed, total)
    m = re.search(r"The (\d+) permanent residue", cov)
    assert m and int(m.group(1)) == rows_only

    readme = (ROOT / "README.md").read_text()
    m = re.search(r"\((\d+) named queries: (\d+)", readme)
    assert m, "README.md count phrase missing"
    assert (int(m.group(1)), int(m.group(2))) == (total, hashed)
    m = re.search(r"with oracle twins, (\d+) rows-only", readme)
    assert m and int(m.group(1)) == rows_only


def test_rows_only_queries_are_the_documented_residue():
    """The rows-only set is exactly the residue COVERAGE.md's tier
    table enumerates — a new query accidentally shipped without an
    oracle shows up here by name."""
    from report_worker_spark.plans.catalog import ORACLE, QUERIES

    rows_only = sorted(n for n in QUERIES if n not in ORACLE)
    cov = (ROOT / "COVERAGE.md").read_text()
    for name in rows_only:
        assert f"`{name}`" in cov, (
            f"rows-only query {name} not documented in COVERAGE.md's "
            "tier table — add an oracle or document the residue"
        )
