"""Line-item layer tests (P3-P15), table-driven per reference branch."""

from __future__ import annotations

import random
import re
import time

import pytest

from facturas_spark.extraction.boilerplate import extract_main_text
from facturas_spark.extraction.products import (
    extract_code,
    extract_price,
    extract_product_format,
    extract_products,
    extract_quantity,
    extract_unit,
    fix_price_calculation,
    infer_category,
    infer_format,
    normalize_product_name,
    price_per_kg,
    price_per_liter,
    validate_format_range,
)
from facturas_spark.synth import gen_corpus


@pytest.mark.parametrize(
    ("raw", "norm"),
    [
        ("Pollo Entero  Fresco", "pollo entero fresco"),
        ("grundy e", "grundy"),
        ("caja es", "caja"),
        ("bote 50 cc", "bote 50"),
        ("24×33cl", "24x33cl"),
        ("S.L. Queso", "sl queso"),
        ("", ""),
        (None, ""),
    ],
)
def test_normalize_product_name(raw, norm):
    assert normalize_product_name(raw) == norm


@pytest.mark.parametrize(
    ("text", "qty"),
    [
        ("Pollo 2,50 kg", 2.5),
        ("5 kg de patatas", 5.0),
        ("2,5 unidades", 2.5),
        ("3 piezas grandes", 3.0),
        ("7,25 algo raro", 7.25),  # leading number fallback
        ("12 sin unidad", 12.0),
        ("sin numeros", 1.0),
        ("", 1.0),
        (None, 1.0),
    ],
)
def test_extract_quantity(text, qty):
    assert extract_quantity(text) == qty


@pytest.mark.parametrize(
    ("text", "price"),
    [
        ("total 25,30€", 25.3),
        ("€ 15.50 unidad", 15.5),
        ("12,00 euros", 12.0),
        ("9,99 EUR", 9.99),
        ("linea acaba en 44,25", 44.25),
        ("5 €", 5.0),
        ("sin precio", None),
        (None, None),
    ],
)
def test_extract_price(text, price):
    assert extract_price(text) == price


@pytest.mark.parametrize(
    ("text", "code"),
    [
        ("ABC123 producto", "ABC123"),
        ("12345 descripcion", "12345"),
        ("ref XY1234 en medio", "XY1234"),
        ("serie 123AB final", "123AB"),
        ("sin codigo aqui", None),
    ],
)
def test_extract_code(text, code):
    assert extract_code(text) == code


@pytest.mark.parametrize(
    ("text", "unit"),
    [
        ("2,5 kg pollo", "kg"),
        ("500 gramos", "g"),  # first pattern (kg|kilogramos) misses, then g
        ("2 litros", "l"),
        ("330 ml lata", "l"),  # (l|litros?) matches the 'l' of "ml" first — faithful
        ("12 uds", "uds"),
        ("4 piezas", "piezas"),
        ("2 cajas", "cajas"),
        ("sin nada", None),
    ],
)
def test_extract_unit(text, unit):
    assert extract_unit(text) == unit


def test_fix_price_calculation_closure():
    # from con-IVA unit price only
    p = fix_price_calculation(
        {"precio_unitario_con_iva": 12.1, "cantidad": 2.0, "tipo_iva": 21}
    )
    assert p["precio_unitario_sin_iva"] == pytest.approx(10.0)
    assert p["precio_total_linea_sin_iva"] == pytest.approx(20.0)
    assert p["precio_total_linea_con_iva"] == pytest.approx(24.2)
    # from total sin IVA + cantidad
    p2 = fix_price_calculation(
        {"precio_total_linea_sin_iva": 30.0, "cantidad": 3.0, "tipo_iva": 10}
    )
    assert p2["precio_unitario_sin_iva"] == pytest.approx(10.0)
    assert p2["precio_unitario_con_iva"] == pytest.approx(11.0)
    # closure property: any seeded subset yields a coherent quadruple
    p3 = fix_price_calculation({"precio_total_linea_con_iva": 121.0, "cantidad": 1.0})
    assert p3["precio_unitario_sin_iva"] == pytest.approx(100.0)
    assert p3["tipo_iva"] == 21


@pytest.mark.parametrize(
    ("desc", "fmt", "peso", "vol"),
    [
        ("jamon 2,5 kg pieza", "2.5 kg", 2.5, None),
        ("bandeja de 500 g", "500 g", 0.5, None),
        ("botella de 750 ml", "750 ml", None, 0.75),  # ml branch -> volume
        ("vino botella", "750ml", None, 0.75),        # KB inference
        ("pollo entero fresco", "1.5kg aprox.", 1.5, None),
        ("media docena huevos camperos", "12 uds", 0.72, None),  # KB 'docena' wins
        ("caja de 6 packs", "6 pack", None, None),  # unit-count inference
        ("sin formato alguno", None, None, None),
    ],
)
def test_extract_product_format(desc, fmt, peso, vol):
    f, p, v = extract_product_format(desc)
    assert f == fmt
    if peso is None:
        assert p is None
    else:
        assert p == pytest.approx(peso)
    if vol is None:
        assert v is None
    else:
        assert v == pytest.approx(vol)


def test_infer_format_docena():
    assert infer_format("docena de huevos camperos")[0] is not None


def test_validate_format_range():
    assert validate_format_range(60.0, None, "saco")[0] is False
    assert validate_format_range(1.0, None, "pollo entero")[0] is True
    assert validate_format_range(6.0, None, "pollo entero")[0] is False
    assert validate_format_range(None, 25.0, "bidon")[0] is False
    assert validate_format_range(None, 3.0, "cerveza barril")[0] is False
    assert validate_format_range(0.5, None, "queso")[0] is True


def test_price_per_kg_liter():
    assert price_per_kg(10.0, 2.0) == 5.0
    assert price_per_kg(10.0, None, "pollo entero") == pytest.approx(6.67)
    assert price_per_kg(0, 2.0) is None
    assert price_per_liter(7.5, 0.75) == 10.0
    assert price_per_liter(7.5, None, "vino botella") == 10.0
    assert price_per_liter(7.5, None, "cosa rara") is None


@pytest.mark.parametrize(
    ("desc", "cat"),
    [
        ("queso curado oveja", "lacteos"),
        ("pollo entero", "carnes"),
        ("gambas cocidas", "pescados"),
        ("tomate pera", "verduras"),
        ("almendras crudas", "frutas"),
        ("pan de pueblo", "panaderia"),
        ("vino tinto crianza", "bebidas"),
        ("detergente suelos", "limpieza"),
        ("portes y envio", "logistica"),
        ("descuento comercial", "servicios"),
        ("aceite oliva virgen", "condimentos"),
        ("cosa desconocida", "general"),
        # priority order: 'leche' (lacteos) checked before 'pan' (panaderia)
        ("pan con leche", "lacteos"),
    ],
)
def test_infer_category(desc, cat):
    assert infer_category(desc) == cat


def test_extract_products_golden_counts():
    """Factura renders add 3 price-labeled lines (IVA/BASE/TOTAL) that the
    reference's P3 mask counts as product lines (price shape) — faithful.
    'NNNNN GRANADA' postal lines also match (the unit alternation 'g' has no
    word boundary and matches the leading G) — also faithful."""
    for d in gen_corpus(80, seed=42):
        text = d.text or extract_main_text(d.html)
        ps = extract_products(text)
        exp = d.n_products
        if d.doc_type == "factura":
            exp += 3  # IVA/BASE/TOTAL lines carry price shapes
            if " GRANADA" in text:
                exp += 1  # postal-code line: digits + 'G...' matches unit 'g'
        assert len(ps) == exp, (d.url, [p["descripcion_original"] for p in ps])


def test_extract_products_values():
    text = "CONCEPTOS\nGambas cocidas 3,63 kg x 11,26 EUR"
    (p,) = extract_products(text)
    assert p["cantidad"] == 3.63
    assert p["precio_total_linea_sin_iva"] == 11.26
    assert p["precio_unitario_sin_iva"] == pytest.approx(11.26 / 3.63)
    assert p["unidad_medida"] == "kg"
    assert p["categoria"] == "pescados"
    assert p["peso_neto_kg"] == 3.63
    assert p["precio_por_kg"] == pytest.approx(round(11.26 / 3.63 / 3.63, 2), abs=0.01)
    assert p["tipo_iva"] == 21


def test_extract_products_table_spark(spark):
    from facturas_spark.pipeline import extract_pages_full, extract_products_table
    from facturas_spark.synth import PAGES_SCHEMA_DDL, corpus_rows

    df = spark.createDataFrame(corpus_rows(40, seed=42), PAGES_SCHEMA_DDL)
    prods = extract_products_table(extract_pages_full(df))
    rows = prods.collect()
    assert len(rows) > 40  # multiple lines per invoice
    assert {"url", "categoria", "cantidad", "precio_unitario_sin_iva"} <= set(
        prods.columns
    )
    # exploded lines keep per-doc ordering info
    assert all(r.linea_numero >= 1 for r in rows)
    # single stage: no shuffle in the whole doc->products plan
    plan = prods._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

def test_p8_p15_columnar_match_kernels(spark):
    """p8_p15_products_normalized's columnar normalize + category must
    equal the Python kernels on every synthesized description (each
    formatting-noise variant exercises a different normalize rule)."""
    from facturas_spark.analytics.queries import p8_p15_products_normalized
    from facturas_spark.extraction.products import (
        infer_category,
        normalize_product_name,
    )

    rows = p8_p15_products_normalized(spark, "/root/testdata/sf0.001").collect()
    assert rows
    cats = set()
    for r in rows:
        raw = r["descripcion_original"]
        assert normalize_product_name(raw) == r["descripcion_normalizada"], raw
        assert infer_category(raw) == r["categoria"], raw
        cats.add(r["categoria"])
    assert "general" in cats and len(cats) >= 5  # markers cover the table


def test_p9_columnar_matches_kernel(spark):
    """p9_price_closure's chained column stages must equal
    fix_price_calculation per row — including the rule-7/8 multi-assign
    sequencing (later assignments see earlier ones, the firing condition
    does not) and the tipo_iva-0 falsy fallback."""
    from pyspark.sql import functions as F

    from facturas_spark.analytics.queries import p9_price_closure
    from facturas_spark.extraction.products import fix_price_calculation

    sf = "/root/testdata/sf0.001"
    o = (
        spark.read.parquet(f"{sf}/orders.parquet")
        .filter(F.col("o_orderkey") <= 5000)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .collect()
    )
    tipos = [0, 4, 10, 21]
    expected = {}
    for r in o:
        k, c, v = r["o_orderkey"], r["o_custkey"], r["o_totalprice"]
        s = k % 8
        p = {
            "precio_unitario_sin_iva": v if s in (1, 5) else None,
            "precio_unitario_con_iva": v if s == 0 else None,
            "precio_total_linea_sin_iva": v if s in (3, 4) else None,
            "precio_total_linea_con_iva": v if s in (2, 6) else None,
            "cantidad": float(c % 5) if s in (0, 3, 5, 6) else None,
            "tipo_iva": tipos[c % 4],
        }
        expected[k] = fix_price_calculation(p)
    got = p9_price_closure(spark, sf).collect()
    assert got
    for r in got:
        e = expected[r["o_orderkey"]]
        assert r["tipo"] == e["tipo_iva"], r["o_orderkey"]
        for col, key in [
            ("precio_unitario_sin_iva", "precio_unitario_sin_iva"),
            ("precio_unitario_con_iva", "precio_unitario_con_iva"),
            ("precio_total_linea_sin_iva", "precio_total_linea_sin_iva"),
            ("precio_total_linea_con_iva", "precio_total_linea_con_iva"),
        ]:
            assert r[col] == e[key], (r["o_orderkey"], col, r[col], e[key])


def test_p13_columnar_matches_kernel(spark):
    """p13_price_per_unit's broadcast-KB inference + price-per-unit math
    must equal the Python kernels (price_per_kg / price_per_liter with
    infer_format fallback) on every synthesized description."""
    from facturas_spark.analytics.queries import p13_price_per_unit
    from facturas_spark.extraction.products import price_per_kg, price_per_liter

    rows = p13_price_per_unit(spark, "/root/testdata/sf0.001").collect()
    assert rows
    part = {
        r["p_partkey"]: r["p_retailprice"]
        for r in spark.read.parquet("/root/testdata/sf0.001/part.parquet")
        .filter("p_partkey <= 400")
        .collect()
    }
    kg_hits = l_hits = 0
    for r in rows:
        precio = 0.0 if r["p_partkey"] % 7 == 0 else part[r["p_partkey"]]
        desc = r["descripcion"]
        peso = 2.5 if " kg" in desc else None
        vol = 0.75 if " cl" in desc else None
        exp_kg = price_per_kg(precio, peso, desc)
        exp_l = price_per_liter(precio, vol, desc)
        assert r["precio_por_kg"] == exp_kg, (r["p_partkey"], desc)
        assert r["precio_por_litro"] == exp_l, (r["p_partkey"], desc)
        kg_hits += r["precio_por_kg"] is not None
        l_hits += r["precio_por_litro"] is not None
    assert kg_hits > 0 and l_hits > 0  # both unit paths exercised


def test_p4_p7_columnar_match_kernels(spark):
    """p4_p7_line_parsers' four cascades must equal the Python kernels
    (extract_quantity/price/code/unit) on every synthesized line —
    including the value-validation fallthrough (a '0 g' token skips to
    the next quantity rule)."""
    from facturas_spark.analytics.queries import p4_p7_line_parsers
    from facturas_spark.extraction.products import (
        extract_code,
        extract_price,
        extract_quantity,
        extract_unit,
    )

    rows = p4_p7_line_parsers(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        line = r["linea"]
        assert r["cantidad"] == extract_quantity(line), line
        assert r["precio"] == extract_price(line), line
        assert r["codigo"] == extract_code(line), line
        assert r["unidad"] == extract_unit(line), line


# The backtracking originals of the linear digit-run patterns, in the order
# of _digit_run_patterns(); the reference the rewrite must agree with.
_BACKTRACKING = [
    r"(\d+[,\.]\d+)\s*(?:kg|kilogramos?|gramos?|g|unidades?|uds?|piezas?|litros?|l|ml)",
    r"(\d+)\s*(?:kg|kilogramos?|gramos?|g|unidades?|uds?|piezas?|litros?|l|ml)",
    r"(\d+[,\.]\d{2})\s*€",
    r"(\d+[,\.]\d{2})\s*euros?",
    r"(\d+[,\.]\d{2})\s*eur",
    r"(\d+[,\.]\d{2})$",
    r"(\d+)\s*€",
    r"(\d+)\s*(?:uds?|unidades?)",
    r"(\d+)\s*(?:pcs?|piezas?)",
    r"(\d+)\s*(?:cajas?)",
    r"(\d+)\s*(?:packs?)",
    r"(\d+(?:[,\.]\d+)?)\s*kg",
    r"(\d+(?:[,\.]\d+)?)\s*kilogramos?",
    r"(\d+(?:[,\.]\d+)?)\s*g(?:\s|$)",
    r"(\d+(?:[,\.]\d+)?)\s*gr(?:\s|$)",
    r"(\d+(?:[,\.]\d+)?)\s*gramos?",
    r"bandeja\s+(?:de\s+)?(\d+(?:[,\.]\d+)?)\s*g",
    r"pack\s+(?:de\s+)?(\d+(?:[,\.]\d+)?)\s*g",
    r"pieza\s+(?:de\s+)?(\d+(?:[,\.]\d+)?)\s*g",
    r"aprox\.?\s*(\d+(?:[,\.]\d+)?)\s*kg",
    r"aproximadamente\s+(\d+(?:[,\.]\d+)?)\s*kg",
    r"peso\s+(?:aprox\.?\s+)?(\d+(?:[,\.]\d+)?)\s*(?:kg|g)",
    r"(\d+(?:[,\.]\d+)?)\s*l(?:\s|$)",
    r"(\d+(?:[,\.]\d+)?)\s*litros?",
    r"(\d+(?:[,\.]\d+)?)\s*ml",
    r"(\d+(?:[,\.]\d+)?)\s*mililitros?",
    r"(\d+(?:[,\.]\d+)?)\s*cl",
    r"(\d+(?:[,\.]\d+)?)\s*centilitros?",
    r"botella\s+(?:de\s+)?(\d+(?:[,\.]\d+)?)\s*(?:ml|cl|l)",
    r"envase\s+(?:de\s+)?(\d+(?:[,\.]\d+)?)\s*(?:ml|cl|l)",
    r"brick\s+(?:de\s+)?(\d+(?:[,\.]\d+)?)\s*(?:ml|cl|l)",
    r"\d+[,\.]\d{2}\s*€|€\s*\d+[,\.]\d{2}",
]

_QTY_SHAPE_BACKTRACKING = re.compile(
    r"\d+[,\.]?\d*\s*(kg|g|gramos?|kilogramos?|unidades?|uds?|piezas?)", re.IGNORECASE
)


def _digit_run_patterns():
    import facturas_spark.extraction.products as P

    pats = [
        *P._QTY_PATTERNS,
        *P._PRICE_PATTERNS,
        *(pat for pat, _, _ in P._UNIT_COUNT_PATTERNS),
        *P._PESO_PATTERNS,
        *P._VOL_PATTERNS,
        P._PRICE_SHAPE,
    ]
    linear = [p for p in pats if "++" in p.pattern]
    assert len(linear) == len(_BACKTRACKING)
    return [(p, re.compile(old, p.flags)) for p, old in zip(linear, _BACKTRACKING)]

def _digit_run_inputs():
    rng = random.Random(20261017)
    alphabet = "0123456789" * 3 + ",.,. \t€$" + "kgKGlLmcunidadespzsroUDSxbtj"
    for _ in range(5_000):
        yield "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 30)))
    for d in gen_corpus(200, seed=42):
        text = d.text or extract_main_text(d.html)
        for line in text.split("\n"):
            yield line
            yield line.lower()


def _match(pat, s):
    m = pat.search(s)
    return m and (m.span(), m.groups())


def test_digit_run_patterns_match_backtracking_reference():
    from facturas_spark.extraction.products import _QTY_SHAPE

    pairs = list(_digit_run_patterns())
    for s in _digit_run_inputs():
        for new, old in pairs:
            assert _match(new, s) == _match(old, s), (new.pattern, s)
        assert (_QTY_SHAPE.search(s) is None) == (_QTY_SHAPE_BACKTRACKING.search(s) is None), s


@pytest.mark.parametrize("prefix", ["Lote ", "lote ", "€ ", "bandeja de "])
def test_extract_products_long_digit_run_is_linear(prefix):
    t = time.perf_counter()
    extract_products(prefix + "1" * 100_000)
    assert time.perf_counter() - t < 1.0
