"""Escandallos / ventas / sync operators (escandallos-pro/main.js,
dashboard-ventas/schema-ventas.sql, sync-numier-data/index.ts,
gestionar-sugerencias-cotejo/index.ts).

The full queries are oracle-checked by the driver contract; these tests pin
the semantics the oracle can't see: cascade boundary values, first-wins
dedup order, last-write-wins upsert, and the JS-round helper."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from facturas_spark.analytics.escandallos import _r

SF = "/root/testdata/sf0.001"


def _plato(spark, pvp_bruto, cost):
    return spark.createDataFrame(
        [("P", pvp_bruto, cost)], "plato string, pvp_bruto double, food_cost_total double"
    )


def _rentabilidad(spark, pvp_bruto, cost):
    # same expression as esc_food_cost_platos (main.js:192-233 cascade)
    pct = F.col("food_cost_total") / (F.col("pvp_bruto") / 1.1) * 100
    df = _plato(spark, pvp_bruto, cost).select(
        F.when(F.col("pvp_bruto").isNull(), F.lit("sin_precio"))
        .when(pct < 25, F.lit("muy_rentable"))
        .when(pct < 35, F.lit("rentable"))
        .when(pct < 45, F.lit("limite"))
        .otherwise(F.lit("poco_rentable"))
        .alias("r")
    )
    return df.first()["r"]


def test_rentability_cascade_boundaries(spark):
    # pvp_neto = 110/1.1 = 100 -> pct == cost
    assert _rentabilidad(spark, 110.0, 24.99) == "muy_rentable"
    assert _rentabilidad(spark, 110.0, 25.0) == "rentable"   # <25 strict
    assert _rentabilidad(spark, 110.0, 35.0) == "limite"     # <35 strict
    assert _rentabilidad(spark, 110.0, 45.0) == "poco_rentable"
    assert _rentabilidad(spark, None, 10.0) == "sin_precio"


def test_pvp_sugerido_formula(spark):
    # main.js:606: (foodCost / 0.30) * 1.10 — 3.0 cost -> 11.0
    df = _plato(spark, 110.0, 3.0).select(
        _r(F.col("food_cost_total") / 0.30 * 1.10).alias("s30"),
        _r(F.col("food_cost_total") / 0.35 * 1.10).alias("s35"),
    )
    row = df.first()
    assert row["s30"] == 11.0
    assert row["s35"] == pytest.approx(9.43)


def test_js_round_helper_half_up(spark):
    # JS Math.round rounds .5 toward +inf at the scaled integer
    df = spark.range(1).select(
        _r(F.lit(2.675)).alias("a"),      # 2.675*100 == 267.5 exactly -> 2.68
        _r(F.lit(1.005)).alias("b"),      # 1.005*100 == 100.4999... -> 1.0 (JS too)
        _r(F.lit(2.345)).alias("c"),      # 2.345*100 == 234.5000...3 -> 2.35
        _r(F.lit(-1.125)).alias("d"),     # floor(-112.0) -> -1.12 (toward +inf)
    )
    row = df.first()
    assert row["a"] == 2.68
    assert row["b"] == 1.0
    assert row["c"] == 2.35
    assert row["d"] == -1.12


def test_numier_upsert_last_write_wins(spark):
    from facturas_spark.analytics.escandallos import numier_upsert_ventas

    out = numier_upsert_ventas(spark, SF)
    rows = {r["id_externo"]: r for r in out.collect()}
    orders = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in spark.read.parquet(f"{SF}/orders.parquet").collect()
    }
    # keys are unique after the merge
    assert len(rows) == len(orders)
    # a re-delivered sale (key % 3 == 0) carries the batch-2 total
    k3 = next(k for k in orders if k % 3 == 0)
    k1 = next(k for k in orders if k % 3 != 0)
    assert rows[f"NUM-{k3}"]["total_bruto"] == pytest.approx(
        round(orders[k3] * 1.1, 2), abs=0.011
    )
    assert rows[f"NUM-{k1}"]["total_bruto"] == pytest.approx(orders[k1], abs=0.011)


def test_numier_upsert_catalogo_hash_aggregate_last_write_wins(spark):
    """The catalog merge is one hash aggregate (no window, no sort before
    the final ordering) and batch 2 wins for every fourth product."""
    from facturas_spark.analytics.escandallos import numier_upsert_catalogo

    out = numier_upsert_catalogo(spark, SF)
    rows = {r["producto_id_externo"]: r for r in out.collect()}
    # the AQE final plan (the string also carries the initial plan)
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "HashAggregate" in plan, plan
    assert "Window" not in plan and "SortAggregate" not in plan, plan
    assert plan.count("Sort [") == 1, plan  # only the final orderBy
    parts = {
        r["p_partkey"]: r
        for r in spark.read.parquet(f"{SF}/part.parquet").collect()
    }
    assert len(rows) == len(parts)
    k4 = next(k for k in parts if k % 8 == 4)
    k1 = next(k for k in parts if k % 4 != 0)
    assert rows[f"PRD-{k4}"]["precio_base"] == pytest.approx(
        round(parts[k4]["p_retailprice"] * 0.95, 2), abs=0.011
    )
    assert rows[f"PRD-{k4}"]["activo"] is False
    assert rows[f"PRD-{k1}"]["precio_base"] == pytest.approx(
        parts[k1]["p_retailprice"], abs=0.011
    )
    assert rows[f"PRD-{k1}"]["activo"] is True


def test_ingredientes_dedup_first_wins(spark):
    # two lines with the same (name, qty) key: only the first survives,
    # and its match flags are the ones counted (main.js:305-314)
    from pyspark.sql.window import Window

    df = spark.createDataFrame(
        [
            (1, 1, "tomate_2.0", True, True),
            (1, 2, "tomate_2.0", False, False),  # dup key, dropped
            (1, 3, "aceite_1.0", False, False),
        ],
        "l_orderkey int, l_linenumber int, _key string, _found boolean, _aprendido boolean",
    )
    w = Window.partitionBy("l_orderkey", "_key").orderBy("l_linenumber")
    kept = (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .orderBy("l_linenumber")
        .collect()
    )
    assert [r["l_linenumber"] for r in kept] == [1, 3]
    assert kept[0]["_found"] is True


def test_resumen_buckets_truthiness_gate(spark):
    """pct == 0 is falsy in JS — excluded from every bucket (main.js:685-688)."""
    df = spark.createDataFrame(
        [("A", 110.0, 0.0), ("B", 110.0, 42.0), ("C", None, 10.0)],
        "plato string, pvp_bruto double, food_cost_total double",
    )
    pct = F.col("food_cost_total") / (F.col("pvp_bruto") / 1.1) * 100
    has_pct = pct.isNotNull() & (pct != 0)
    row = df.agg(
        F.sum((has_pct & (pct < 40)).cast("int")).alias("rentables"),
        F.sum((has_pct & (pct >= 40) & (pct < 50)).cast("int")).alias("limite"),
        F.sum((F.col("pvp_bruto").isNull()).cast("int")).alias("sin_precio"),
    ).first()
    assert row["rentables"] == 0  # A's pct==0 excluded by truthiness
    assert row["limite"] == 1  # B at 42%
    assert row["sin_precio"] == 1
