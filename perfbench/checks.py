"""Correctness checks: every output the benchmark times is checked here.

The checks are pure functions over plain Python values, so the self-test
in ``perfbench/tests`` can feed them corrupted results without Spark. Each
returns the list of failures it found; :class:`Tally` turns them into the
``attempted`` / ``failed`` counts and ``error_rate`` of a run.
:func:`reference_texts` computes the Spark-free reference for planted pages.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    examples: list[str] = field(default_factory=list)

    def add(self, attempted: int, failures: list[str]) -> None:
        self.attempted += attempted
        self.failed += len(failures)
        self.examples.extend(failures[: max(0, 10 - len(self.examples))])

    @property
    def error_rate(self) -> float:
        return self.failed / max(self.attempted, 1)


def page_failures(got: dict[str, dict], expected: dict[str, dict]) -> list[str]:
    """One failure per page whose output is missing or differs from any
    expected value; ``got`` maps url -> output row as a dict."""
    out = []
    for url, exp in expected.items():
        row = got.get(url)
        if row is None:
            out.append(f"{url}: missing from output")
            continue
        bad = [k for k, v in exp.items() if row.get(k) != v]
        if bad:
            out.append(f"{url}: {bad[0]}={row.get(bad[0])!r}, expected {exp[bad[0]]!r}")
    out.extend(f"{url}: unexpected page" for url in got.keys() - expected.keys())
    return out


def reference_texts(html, text) -> list[str]:
    """Spark-free extracted text per page from the fused kernel,
    ``extraction.udf.extract_batch``: the reference for planted pages,
    whose text the generator does not pin."""
    from facturas_spark.extraction.udf import extract_batch

    if not len(html):
        return []
    return list(extract_batch(html, text)["extracted_text"])


def resume_failures(first: dict[int, dict], deleted: set[int], result: dict,
                    after: dict[int, dict]) -> list[str]:
    """The resumed run must process exactly the buckets whose manifest
    markers were deleted, skip every other committed bucket, and commit
    the same row count and digest for each re-processed bucket."""
    out = []
    if result["processed"] != sorted(deleted):
        out.append(f"processed {result['processed']}, expected {sorted(deleted)}")
    if result["skipped"] != sorted(first.keys() - deleted):
        out.append(f"skipped {result['skipped']}, expected {sorted(first.keys() - deleted)}")
    for b in sorted(deleted):
        a, z = first[b], after.get(b)
        if z is None or (z["rows"], z["digest"]) != (a["rows"], a["digest"]):
            out.append(f"bucket {b}: manifest {z}, first run {a}")
    return out


def query_failures(name: str, cols: list[str], rows: list[tuple],
                   oracle: tuple[list[str], list[tuple]] | None,
                   expected_rows: int | None) -> list[str]:
    """A registry result fails when its columns or rows, normalized as the
    local oracle gate normalizes them, differ from its DuckDB twin; a query
    with no twin fails when its row count differs from ``expected_rows``."""
    from tools.verify_local import normalize

    if oracle is None:
        if expected_rows is not None and len(rows) != expected_rows:
            return [f"{name}: {len(rows)} rows, expected {expected_rows}"]
        return []
    ocols, orows = oracle
    if sorted(cols) != sorted(ocols):
        return [f"{name}: columns {sorted(cols)} vs oracle {sorted(ocols)}"]
    if normalize(rows, cols) != normalize(orows, ocols):
        return [f"{name}: rows differ from the oracle ({len(rows)} vs {len(orows)})"]
    return []
