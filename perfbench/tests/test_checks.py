"""Self-test of the benchmark's correctness checks: one corrupted page
result, one wrong query row and one tampered manifest digest must each be
counted as a failure in ``error_rate``, and clean results must not.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys
from datetime import date

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.checks import (  # noqa: E402
    Tally,
    page_failures,
    query_failures,
    resume_failures,
)

EXPECTED = {
    "https://a/1": {"extracted_text": "FACTURA 1\nTOTAL 12,10", "tipo_documento": "factura",
                    "fecha_factura": date(2025, 3, 1), "total_factura": 12.1, "tipo_iva": 21},
    "https://a/2": {"extracted_text": "ALBARAN 2", "tipo_documento": "albaran",
                    "fecha_factura": None, "total_factura": 0.0},
}
ORACLE = (["name", "n"], [("x", 1), ("y", 2.5)])
FIRST = {0: {"bucket": 0, "rows": 10, "digest": "d0"},
         1: {"bucket": 1, "rows": 12, "digest": "d1"},
         2: {"bucket": 2, "rows": 9, "digest": "d2"}}
RESUMED = {"processed": [1], "skipped": [0, 2], "rows": 12}


def _pages(**override):
    got = {u: dict(v, url=u, extra_column="ignored") for u, v in EXPECTED.items()}
    for url, (k, v) in override.items():
        got[url][k] = v
    return got


def test_clean_results_pass():
    tally = Tally()
    tally.add(len(EXPECTED), page_failures(_pages(), EXPECTED))
    tally.add(1, query_failures("q", ["n", "name"], [(2.5, "y"), (1, "x")], ORACLE, None))
    tally.add(3, resume_failures(FIRST, {1}, RESUMED, FIRST))
    assert tally.failed == 0
    assert tally.error_rate == 0.0


def test_corrupted_page_counted():
    got = _pages(**{"https://a/1": ("extracted_text", "FACTURA 1\nTOTAL 12,1")})
    assert len(page_failures(got, EXPECTED)) == 1


def test_missing_and_unexpected_pages_counted():
    got = _pages()
    got["https://a/3"] = got.pop("https://a/2")
    assert len(page_failures(got, EXPECTED)) == 2


def test_wrong_query_row_counted():
    assert query_failures("q", ["name", "n"], [("x", 1), ("y", 2.6)], ORACLE, None)
    assert query_failures("q", ["name"], [("x",), ("y",)], ORACLE, None)


def test_rows_only_query_row_count_counted():
    assert query_failures("r", ["a"], [(1,), (2,)], None, 3)
    assert not query_failures("r", ["a"], [(1,), (2,), (3,)], None, 3)


def test_tampered_manifest_digest_counted():
    after = {b: dict(e) for b, e in FIRST.items()}
    after[1]["digest"] = "tampered"
    assert len(resume_failures(FIRST, {1}, RESUMED, after)) == 1
    # a resume that re-processed more than the deleted buckets fails too
    wide = {"processed": [0, 1], "skipped": [2], "rows": 22}
    assert resume_failures(FIRST, {1}, wide, FIRST)


def test_each_corruption_counted_in_error_rate():
    tally = Tally()
    bad_page = _pages(**{"https://a/2": ("tipo_documento", "factura")})
    tally.add(len(EXPECTED), page_failures(bad_page, EXPECTED))
    tally.add(1, query_failures("q", ["name", "n"], [("x", 1), ("z", 2.5)], ORACLE, None))
    after = {b: dict(e) for b, e in FIRST.items()}
    after[1]["digest"] = "tampered"
    tally.add(3, resume_failures(FIRST, {1}, RESUMED, after))
    assert tally.attempted == 6
    assert tally.failed == 3
    assert tally.error_rate == 3 / 6
