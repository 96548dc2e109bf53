"""Sources & sinks (SURVEY §2.1): MIME sniffing, bucketed writes, resume.

- :func:`mime_from_url`      — S2 extension->mimeType expression
  (process-invoice/index.ts:4394-4409: pdf/jpeg/png; files with a
  ``whatsapp_`` name prefix are always jpeg; default pdf).
- :func:`write_bucketed`     — S5 row sink: parquet partitioned by
  ``bucket = xxhash64(url) % N`` (emulates Iceberg ``bucket(N, url)``;
  full-url hashing breaks host skew at the storage layer). Rows are
  clustered by bucket first: one file per bucket, not per (task, bucket).
- :class:`LineageManifest` / :func:`run_with_resume` — S6 processing-state
  machine re-expressed at partition granularity: a JSON ledger of committed
  buckets (rows + metric digest each); re-runs skip committed buckets and
  are idempotent. This is the north rule's checkpointed-lineage resume.
  It persists header fields only, so it runs the header-only kernel: no
  line items computed in Python and shipped through Arrow to be dropped.

At 10^12 docs the manifest is per (bucket, snapshot) — tiny relative to
data — and the write path is overwrite-by-partition, so a mid-job failure
leaves only uncommitted buckets to redo.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from facturas_spark.pipeline import extract_pages, with_salt_bucket

__all__ = ["mime_from_url", "write_bucketed", "LineageManifest", "run_with_resume"]


def mime_from_url(url: Column) -> Column:
    """S2 MIME sniffing as a pure column expression."""
    filename = F.element_at(F.split(url, "/"), -1)
    lower = F.lower(filename)
    return (
        F.when(lower.startswith("whatsapp_"), "image/jpeg")
        .when(lower.endswith(".pdf"), "application/pdf")
        .when(lower.endswith(".jpg") | lower.endswith(".jpeg"), "image/jpeg")
        .when(lower.endswith(".png"), "image/png")
        .otherwise("application/pdf")
    )


def write_bucketed(df: DataFrame, path: str, n_buckets: int = 16) -> None:
    """S5: write partitioned by url-hash bucket (dynamic overwrite so a
    re-run replaces exactly the buckets it processed — idempotent).
    Rebalancing on bucket sends each bucket to one writer task, so the
    per-file open/close/commit cost is paid per bucket, not per (input
    task, bucket); unlike repartition, AQE can still split a huge bucket."""
    out = with_salt_bucket(df, n_buckets=n_buckets).hint("rebalance", "bucket")
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(path)
    )


@dataclass
class LineageManifest:
    """Committed-bucket ledger: one JSON marker per committed bucket under
    ``<dir>/_manifest/bucket=<k>.json`` with rows + metric digest.

    I/O goes through :class:`facturas_spark.sources.fs.CommitFS` — the
    JVM Hadoop FileSystem API — so the ledger works unchanged against
    ``file://`` here and ``hdfs://``/``s3a://`` on a cluster (rename
    commit where rename is atomic, direct single-object PUT where it is
    not). Pure-Python callers with no JVM get a POSIX fallback with the
    same crash-safety contract."""

    manifest_dir: str

    def __post_init__(self) -> None:
        from facturas_spark.sources.fs import CommitFS

        self._fs = CommitFS(self.manifest_dir)

    def committed(self) -> dict[int, dict]:
        out = {}
        for name in self._fs.list_names():
            if name.startswith("bucket=") and name.endswith(".json"):
                entry = self._fs.read_json(name)
                out[int(entry["bucket"])] = entry
        return out

    def commit(self, bucket: int, rows: int, digest: str) -> None:
        entry = {"bucket": bucket, "rows": rows, "digest": digest}
        self._fs.write_json(f"bucket={bucket}.json", entry)


def run_with_resume(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_buckets: int = 8,
) -> dict:
    """Extraction with per-bucket checkpointed resume (S6 semantics).

    Plan: bucket the input by url hash; skip buckets already in the
    manifest; extract the header fields of the remaining buckets and write
    them in ONE pass (single scan, one shuffle that clusters rows by bucket,
    single write; not a per-bucket loop); commit each processed bucket's
    manifest entry after the write succeeds.

    Returns {"processed": [...], "skipped": [...], "rows": n}.
    """
    manifest = LineageManifest(os.path.join(out_dir, "_manifest"))
    done = set(manifest.committed())
    path = os.path.join(out_dir, "extracted")

    todo = with_salt_bucket(pages, n_buckets=n_buckets)
    if done:
        todo = todo.filter(~F.col("bucket").isin(*done))
    # bucket is a pure function of url: write_bucketed recomputes it after
    # extraction instead of carrying it through the UDF
    extracted = extract_pages(todo.select("url", "warc_ts", "html", "text", "lang")).drop(
        "requiere_revision"
    )
    write_bucketed(extracted, path, n_buckets=n_buckets)

    # per-bucket stats from what we just wrote -> manifest commits. The
    # schema is known from the plan, so no parquet footer is read to infer
    # it. Scan ONLY this run's buckets (partition-pruned read): digesting
    # the long-committed buckets too would make resume cost grow with total
    # corpus size instead of with the pending work.
    stats_src = spark.read.schema(with_salt_bucket(extracted, n_buckets).schema).parquet(path)
    if done:
        stats_src = stats_src.filter(~F.col("bucket").isin(*done))
    stats = (
        stats_src
        .groupBy("bucket")
        .agg(
            F.count("*").alias("rows"),
            F.md5(
                F.concat_ws(
                    "|", F.sort_array(F.collect_list(F.md5("extracted_text")))
                )
            ).alias("digest"),
        )
        .collect()
    )
    for r in stats:
        manifest.commit(int(r.bucket), int(r.rows), r.digest)
    return {
        "processed": sorted(int(r.bucket) for r in stats),
        "skipped": sorted(done),
        "rows": sum(int(r.rows) for r in stats),
    }
