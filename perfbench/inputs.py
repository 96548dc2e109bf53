"""Seeded inputs for the extraction workloads.

The program only ever sees the staged pages table
``(url, warc_ts, html, text, lang)``; the expected per-page values stay
here. Pages come from :func:`facturas_spark.synth.gen_one` with its default
mix (about half the pages html-only, a quarter albaranes), so every header
field is pinned by the generator.

``extract_resume`` pages come from a disjoint id range. In each block of
1,000 pages, one page (at a seeded offset) gets one extra text line holding
a 200-digit run, so every seed plants the same number of pages. The line
leaves classification and every header field unchanged; its cost is the
known backtracking in ``extraction/products.py``'s quantity shape, so it
shows up as a measured share of ``extract_products`` time.

Pages are staged as parquet files of ``ROWS_PER_FILE`` rows, the way a
crawl segment arrives; Spark's file packing (128 MB splits, 4 MB open cost)
groups them into about one scan task per core.
"""

from __future__ import annotations

import os
import random

from facturas_spark.synth import gen_one

HEADER_ID_BASE = 0
RESUME_ID_BASE = 50_000_000
PLANT_EVERY = 1000
PLANT_DIGITS = 200
ROWS_PER_FILE = 250


def planted_line(seed: int, i: int) -> str:
    rng = random.Random(f"plant:{seed}:{i}")
    return "Lote " + "".join(rng.choice("0123456789") for _ in range(PLANT_DIGITS))


def _plant(html: bytes, text: str | None, line: str) -> tuple[bytes, str | None]:
    """Append ``line`` to the page's content: as a last ``<p>`` block before
    the footer navigation, and to the pre-extracted text when present."""
    cut = html.rfind(b"<div>")
    html = html[:cut] + f"<p>{line}</p>".encode() + html[cut:]
    return html, (None if text is None else text + "\n" + line)


def _plant_set(n: int, seed: int, planted: bool) -> set[int]:
    if not planted:
        return set()
    rng = random.Random(f"plant:{seed}")
    return {b + rng.randrange(PLANT_EVERY) for b in range(0, n - PLANT_EVERY + 1, PLANT_EVERY)}


def make_pages(n: int, seed: int, id_base: int, planted: bool) -> tuple[list[tuple], set]:
    """Return (rows, planted_urls): the pages table the program sees."""
    plant_idx = _plant_set(n, seed, planted)
    rows, planted_urls = [], set()
    for k in range(n):
        i = id_base + k
        d = gen_one(i, seed)
        html, text = d.html, d.text
        if k in plant_idx:
            html, text = _plant(html, text, planted_line(seed, i))
            planted_urls.add(d.url)
        rows.append((d.url, d.warc_ts, html, text, d.lang))
    return rows, planted_urls


def expected_pages(n: int, seed: int, id_base: int, planted: bool) -> dict[str, dict]:
    """``expected[url]``: the values the generator pins for each page of
    :func:`make_pages` -- the rendered text its extraction must reproduce
    byte for byte, the document type, and the header fields (``tipo_iva``
    only for facturas, as the golden tests assert it). A planted page keeps
    its pinned header fields; its text is left out, for the caller to take
    from a Spark-free reference."""
    plant_idx = _plant_set(n, seed, planted)
    expected = {}
    for k in range(n):
        # the same per-document RNG stream with the text column always
        # kept: recovers the rendered text of html-only pages too
        d = gen_one(id_base + k, seed, html_ratio=0.0)
        exp = {
            "tipo_documento": d.doc_type,
            "proveedor_nombre": d.exp_proveedor,
            "proveedor_cif": d.exp_cif,
            "numero_factura": d.exp_numero,
            "fecha_factura": d.exp_fecha,
            "total_factura": d.exp_total,
            "base_imponible": d.exp_base,
            "cuota_iva": d.exp_cuota,
        }
        if k not in plant_idx:
            exp["extracted_text"] = d.text
        if d.doc_type == "factura":
            exp["tipo_iva"] = d.exp_tipo
        expected[d.url] = exp
    return expected


def stage_pages(rows: list[tuple], path: str) -> None:
    """Write the pages as a parquet table of ``ROWS_PER_FILE``-row files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    os.makedirs(path)
    for k in range(0, len(rows), ROWS_PER_FILE):
        chunk = list(zip(*rows[k:k + ROWS_PER_FILE]))
        table = pa.Table.from_arrays([pa.array(c, t) for c, t in zip(chunk, schema.types)],
                                     schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{k // ROWS_PER_FILE:05d}.parquet"))


def html_only_share(rows: list[tuple]) -> float:
    return sum(1 for r in rows if not r[3]) / max(len(rows), 1)


def registry_dir(root: str) -> str:
    return os.path.join(root, "perfbench", "data", "sf0.01")
