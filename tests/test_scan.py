"""The analytics scan module: memo freshness and the one-reader rule.

Every registry query reads its tables through ``analytics.scan.scan``;
the memo behind it must never serve a plan or a fan decision made for
an older version of a table, and must not keep plans of stopped
sessions alive.
"""

from __future__ import annotations

import ast
import os
from pathlib import Path

from pyspark.sql import functions as F

from facturas_spark.analytics import scan as S

ANALYTICS = Path(__file__).resolve().parent.parent / "facturas_spark" / "analytics"


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_fan_decision_follows_table_rewrite(spark, tmp_path, monkeypatch):
    """A table rewritten in place from under to over the size floor must
    gain the fan: the decision belongs to the table version, not to the
    (session, path) alone."""
    p = str(tmp_path)
    monkeypatch.setattr(S, "FAN_MIN_BYTES", 100_000)
    spark.range(1).coalesce(1).write.parquet(f"{p}/t.parquet")
    small = S.scan(spark, p, "t", fan_key="id")
    assert "RepartitionByExpression" not in _plan(small)
    spark.range(20_000).select(
        "id", F.sha2(F.col("id").cast("string"), 256).alias("h")
    ).coalesce(1).write.mode("overwrite").parquet(f"{p}/t.parquet")
    assert S.table_bytes(p, "t") >= S.FAN_MIN_BYTES
    big = S.scan(spark, p, "t", fan_key="id")
    assert "RepartitionByExpression" in _plan(big)
    assert big.count() == 20_000


def test_scan_sees_part_file_rewritten_under_partition_dir(spark, tmp_path):
    """A part file rewritten below a partition dir leaves the top-level
    mtime alone; the memo must still notice and re-read."""
    p = str(tmp_path)
    top = f"{p}/t.parquet"
    spark.createDataFrame([(1, "es"), (2, "en")], "x long, lang string").coalesce(
        1
    ).write.partitionBy("lang").parquet(top)
    a = S.scan(spark, p, "t")
    assert sorted(r["x"] for r in a.collect()) == [1, 2]

    spark.createDataFrame([(7,), (8,), (9,)], "x long").coalesce(1).write.parquet(
        f"{p}/other"
    )
    (new,) = [f for f in os.listdir(f"{p}/other") if f.endswith(".parquet")]
    (old,) = [f for f in os.listdir(f"{top}/lang=es") if f.endswith(".parquet")]
    top_ns = os.stat(top).st_mtime_ns
    with open(f"{p}/other/{new}", "rb") as src, open(f"{top}/lang=es/{old}", "wb") as dst:
        dst.write(src.read())
    os.remove(f"{top}/lang=es/.{old}.crc")  # the local FS verifies checksums
    os.utime(top, ns=(top_ns, top_ns))  # only the nested file changed

    b = S.scan(spark, p, "t")
    assert b is not a
    assert sorted(r["x"] for r in b.collect()) == [2, 7, 8, 9]


def test_scan_prunes_entries_of_other_sessions(spark, tmp_path):
    """Plans of a stopped session are dropped on the next insert instead
    of living as long as the process."""
    p = str(tmp_path)
    spark.range(3).write.parquet(f"{p}/t.parquet")
    stale = ("app-stopped-long-ago", f"{p}/gone.parquet")
    S._MEMO[stale] = S._Entry(0, spark.range(1), 0, [])
    S.scan(spark, p, "t")
    assert stale not in S._MEMO
    assert all(k[0] == spark.sparkContext.applicationId for k in S._MEMO)


def test_only_scan_module_reads_tables():
    """One reader for the analytics surface: no module but scan.py calls
    ``.read.parquet``, and the old per-module helpers stay gone."""
    for f in sorted(ANALYTICS.glob("*.py")):
        tree = ast.parse(f.read_text())
        defs = {
            n.name
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        }
        assert not defs & {"_t", "_t_fan", "_fan_post"}, f.name
        if f.name == "scan.py":
            continue
        readers = [
            n.lineno
            for n in ast.walk(tree)
            if isinstance(n, ast.Attribute)
            and n.attr == "parquet"
            and isinstance(n.value, ast.Attribute)
            and n.value.attr == "read"
        ]
        assert not readers, (f.name, readers)
