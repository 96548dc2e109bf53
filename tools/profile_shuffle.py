"""Per-stage wall profile of the two shuffle-sweep jobs.

Usage: python tools/profile_shuffle.py <cores> [component_partitions]

Runs in-process (pin BEFORE the JVM starts, so launch one fresh process
per level, like bench.py's scale-one subprocesses). Times each phase of
`dedup_lsh_clusters` and `per_doc_flags` on the sweep corpus
($SPARK_GRAFT_SHUFFLE_DIR, default .localdata/sfsweep) by materializing
stage boundaries with eager localCheckpoint — each number is that
stage's incremental work only. Prints one JSON line.

Diagnostic tool for the round-6 scaling work; not part of the driver
contract.

DRIFT CAVEAT (round-6 review): the clean.* stage expressions below are
an inline SNAPSHOT of corpus_clean.per_doc_flags's stage logic as of
round 6 — per_doc_flags cannot expose per-stage boundaries without
materializing them, which is exactly what this profiler adds. If a
production stage changes (per_doc_flags gained quota_salts and an
env-resolved LSH family since this snapshot), re-sync these expressions
before trusting per-stage numbers; the SWEEP (bench.py
--scaling-shuffle) always runs the real production functions and is the
number of record.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    cores = int(sys.argv[1])
    comp_parts = sys.argv[2] if len(sys.argv) > 2 else None
    try:
        os.sched_setaffinity(0, range(cores))
    except OSError:
        pass
    if comp_parts:
        os.environ["SPARK_GRAFT_COMPONENT_PARTITIONS"] = comp_parts

    from pyspark.sql import functions as F

    from facturas_spark.session import get_spark

    sf_dir = os.environ.get(
        "SPARK_GRAFT_SHUFFLE_DIR", "/root/repo/.localdata/sfsweep"
    )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        f"profile-shuffle-{cores}", cores=cores, shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {"cores": cores, "component_partitions": comp_parts}
    t = {}

    def tick(name, fn):
        t0 = time.perf_counter()
        r = fn()
        t[name] = round(time.perf_counter() - t0, 2)
        return r

    # ---- dedup_lsh_clusters, staged --------------------------------
    from facturas_spark.analytics.dedup import (
        _lsh_candidate_pairs,
        _min_label_components,
        _shingle_table,
        _verified_pairs,
    )
    from facturas_spark.analytics.scan import scan

    docs = scan(spark, sf_dir, "documents").filter(
        F.trim(F.coalesce(F.col("text"), F.lit(""))) != ""
    )
    family = os.environ.get("SPARK_GRAFT_LSH_FAMILY", "md5")
    out["family"] = family
    sh = tick(
        "lsh.shingle",
        lambda: _shingle_table(docs).localCheckpoint(eager=True),
    )
    cand = tick(
        "lsh.candidates",
        lambda: _lsh_candidate_pairs(sh, family).localCheckpoint(eager=True),
    )
    verified = tick(
        "lsh.verify",
        lambda: _verified_pairs(sh, cand).localCheckpoint(eager=True),
    )
    out["lsh.pairs"] = verified.count()
    tick("lsh.components", lambda: _min_label_components(verified).count())

    # ---- per_doc_flags, staged -------------------------------------
    from facturas_spark.analytics.corpus_clean import (
        quality_frame,
        with_synth_pii,
    )

    base = with_synth_pii(scan(spark, sf_dir, "documents"))
    f1 = tick(
        "clean.quality_frame",
        lambda: quality_frame(base).localCheckpoint(eager=True),
    )
    from facturas_spark.analytics.corpus_clean import (
        EXACT_KEEP_BROADCAST_MAX,
    )

    def _exact():
        kept = (
            f1.filter(F.col("s3"))
            .select(F.md5("scrubbed").alias("_fp"), "doc_id")
            .groupBy("_fp")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id", F.lit(True).alias("_exact_keep"))
            .persist()
        )
        join_side = (
            F.broadcast(kept)
            if kept.count() <= EXACT_KEEP_BROADCAST_MAX
            else kept
        )
        out = (
            f1.join(join_side, "doc_id", "left")
            .withColumn(
                "s5", F.col("s3") & F.coalesce("_exact_keep", F.lit(False))
            )
            .drop("_exact_keep")
            .localCheckpoint(eager=True)
        )
        # the checkpoint holds the result; drop the winner-id blocks so
        # they don't sit resident through the later ticks' measurements
        kept.unpersist()
        return out

    f2 = tick("clean.exact", _exact)
    sh2 = tick(
        "clean.shingle",
        lambda: _shingle_table(
            f2.filter(F.col("s5")).select(
                "doc_id", F.col("scrubbed").alias("text")
            )
        ).localCheckpoint(eager=True),
    )
    cand2 = _lsh_candidate_pairs(sh2, family)
    verified2 = tick(
        "clean.cand_verify",
        lambda: _verified_pairs(sh2, cand2).localCheckpoint(eager=True),
    )
    labels = tick(
        "clean.components",
        lambda: _min_label_components(verified2).localCheckpoint(eager=True),
    )
    f3 = (
        f2.join(labels, "doc_id", "left")
        .withColumn(
            "s6",
            F.col("s5")
            & (
                F.col("cluster_id").isNull()
                | (F.col("cluster_id") == F.col("doc_id"))
            ),
        )
        .withColumn("sem_drop", F.lit(False))
    )
    from facturas_spark.analytics.corpus_clean import (
        quota_keep_ids,
        resolve_quota_salts,
    )

    # isolate quota timing from the s6 flag-join build (round 6 folded
    # both into clean.quota; keep them separate so the quota fix's
    # effect is visible on its own line)
    f3 = tick("clean.s6_join", lambda: f3.localCheckpoint(eager=True))
    surv_ids = f3.filter(F.col("s6")).select("doc_id", "source")
    salts = tick("clean.quota_resolve", lambda: resolve_quota_salts(surv_ids, 15))
    out["quota_salts"] = salts
    quota = quota_keep_ids(surv_ids, 15, salts=salts)
    if salts and salts > 1:
        quota = F.broadcast(quota)  # bounded two-phase output (prod form)
    tick(
        "clean.quota",
        lambda: f3.join(quota, "doc_id", "left")
        .withColumn("s7", F.col("s6") & F.coalesce("quota_keep", F.lit(False)))
        .localCheckpoint(eager=True),
    )

    out["stages"] = t
    out["total"] = round(sum(t.values()), 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
