"""The one table reader of the analytics surface.

``scan(spark, sf_dir, table)`` returns the parquet scan plan of
``{sf_dir}/{table}.parquet``, memoized per (session, path): a
``spark.read.parquet()`` call costs 60-90 ms of py4j round trips plus
footer schema inference, and the suite reads the same static tables
hundreds of times. Only the immutable unresolved DataFrame is reused; no
data is cached, every action still scans the files.

``fan_key`` adds the unsplittable-input fan-out (guide §2.5 "input skew:
one huge unsplittable file ... repartition immediately after the read"):
the sf tables are single-row-group files, so a scan and every per-row
expression fused into it run as one task whatever the core count. The
scan is hash-repartitioned on ``fan_key`` to session parallelism when
the table is at least FAN_MIN_BYTES AND its scan can feed fewer tasks
than the session has cores. At production scale inputs arrive in many
splits, the gate is false, and no exchange appears in the plan.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

# Fan-out only pays when the single-task scan carries real work: below a
# few MB the repartition exchange costs more than it parallelizes
# (measured at sf0.1: ~+0.2 s per query for no gain).
FAN_MIN_BYTES = 4 << 20


@dataclass
class _Entry:
    mtime: int  # max mtime (ns) over the table's tree when it was read
    df: DataFrame
    nbytes: int
    files: list[str]  # parquet files under the path (row-group count)
    fan: bool | None = None  # decided on the first fan_key call


# (applicationId, path) -> entry. An entry is replaced as soon as any
# file or directory under the path has a newer mtime, so a table
# rewritten mid-session is re-read and its fan decision re-made;
# entries of other (stopped) sessions are dropped on every insert.
_MEMO: dict[tuple[str, str], _Entry] = {}


def _tree(path: str) -> tuple[int, int, list[str]]:
    """(bytes, max mtime in ns, parquet files) of a table path: one
    file, or a recursive walk (hive-partitioned datasets nest files under
    partition dirs — a flat listdir would count ~4 KB dir inodes and miss
    a part file rewritten below the top level)."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return st.st_size, st.st_mtime_ns, [path]
        nbytes, mtime, files = 0, 0, []
        for root, _dirs, names in os.walk(path):
            mtime = max(mtime, os.stat(root).st_mtime_ns)
            for n in names:
                f = os.path.join(root, n)
                st = os.stat(f)
                nbytes += st.st_size
                mtime = max(mtime, st.st_mtime_ns)
                if n.endswith(".parquet"):
                    files.append(f)
        return nbytes, mtime, files
    except OSError:
        return 0, -1, []


def _entry(spark: SparkSession, sf_dir: str, table: str) -> _Entry:
    path = f"{sf_dir}/{table}.parquet"
    app = spark.sparkContext.applicationId
    nbytes, mtime, files = _tree(path)
    e = _MEMO.get((app, path))
    if e is None or e.mtime != mtime:
        for k in [k for k in _MEMO if k[0] != app]:
            del _MEMO[k]
        e = _Entry(mtime, spark.read.parquet(path), nbytes, files)
        _MEMO[(app, path)] = e
    return e


def table_bytes(sf_dir: str, table: str) -> int:
    """On-disk bytes of a table path (recursive)."""
    return _tree(f"{sf_dir}/{table}.parquet")[0]


def table_big(sf_dir: str, table: str) -> bool:
    """Size-only half of the fan gate — also the right predicate for
    choosing per-row KERNELS (e.g. the unrolled cosine), where split
    count is irrelevant."""
    return table_bytes(sf_dir, table) >= FAN_MIN_BYTES


def _effective_parallelism(spark: SparkSession, e: _Entry) -> int:
    """How many tasks can actually produce rows from this table's scan.
    Spark's planned split count is size/maxPartitionBytes, but parquet
    delivers rows at ROW-GROUP granularity — a 600 MB single-row-group
    file plans ~5 splits yet only ONE task gets rows. With fewer files
    than cores, cap the planned count by the total row-group count
    (footers of a handful of files are cheap to read); with >= cores
    files the scan is already at least cores-wide."""
    planned = e.df.rdd.getNumPartitions()
    if len(e.files) >= spark.sparkContext.defaultParallelism:
        return planned
    try:
        import pyarrow.parquet as pq

        row_groups = sum(pq.ParquetFile(f).metadata.num_row_groups for f in e.files)
        return min(planned, row_groups)
    except Exception:
        return planned


def _fan_needed(spark: SparkSession, e: _Entry) -> bool:
    if e.fan is None:
        e.fan = e.nbytes >= FAN_MIN_BYTES and (
            _effective_parallelism(spark, e) < spark.sparkContext.defaultParallelism
        )
    return e.fan


def scan(
    spark: SparkSession, sf_dir: str, table: str, fan_key: str | None = None
) -> DataFrame:
    """Scan plan of ``{sf_dir}/{table}.parquet``, fanned out on
    ``fan_key`` when the gate above opens.

    Two calls for one unchanged table return the SAME plan object, so a
    self-join must ``.alias()`` each side (or re-derive one side) for
    its column references to resolve."""
    e = _entry(spark, sf_dir, table)
    if fan_key is not None and _fan_needed(spark, e):
        return e.df.repartition(spark.sparkContext.defaultParallelism, fan_key)
    return e.df
