"""The three workloads: a closed loop with one client, each call into the
program issued only after the previous one returned.

Each ``run_*`` function takes a :class:`Ctx` whose session is already up,
warm and staged, times its loop for ``ctx.seconds``, checks every output it
timed, and returns a :class:`Result`.
"""

from __future__ import annotations

import gc
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

from perfbench.checks import (
    Tally,
    page_failures,
    query_failures,
    reference_texts,
    resume_failures,
)
from perfbench.trace import RssSampler, Tracer

pc = time.perf_counter

# pages per timed job: a warm header job takes about 1.3 s on 4 cores, a
# full run_with_resume about 3 s
HEADER_PAGES = 4000
RESUME_PAGES = 3000
RESUME_DELETE = 3  # of run_with_resume's 8 buckets, re-processed by each resume
# Timed passes per run, at least. The window is a floor: a run stops after
# this many timed passes or at the window's end, whichever comes later.
# With BENCHMARK.json's 10-second window, four passes of extract_resume or
# analytics_registry outlast the window on 4 cores: every run times the
# same work whatever the host's speed, and a slow host does not also
# measure fewer, less warmed-up passes.
MIN_WARM = 4

# The registry workload runs a fixed subset of ``queries()``: the whole
# registry takes about 3 minutes per pass on 4 cores, beyond one run's
# budget (``--registry full`` runs all of it). The subset covers all six
# analytics modules, a query whose build call runs an eager checkpoint
# (corpus_dsir_weights), and the extraction kernel inside SQL (c1).
REGISTRY_SUBSET = (
    "c1_classify_documents",
    "corpus_dsir_weights",
    "corpus_quota_two_phase",
    "esc_food_cost_platos",
    "master_products",
    "q14_proveedores_activos",
)
# untimed warm-up passes after the cold one: the JVM is still compiling the
# new plans' code, and a pass right after the cold one runs about a third
# slower than one a minute later
REGISTRY_WARMUP = 2
# timed warm passes per run, at least (as MIN_WARM): each query's warm time
# is its median over these
REGISTRY_MIN_WARM = 4
MODULES = ("queries", "dedup", "corpus_clean", "escandallos", "master", "nlsql")

RESULT_COLUMNS = [
    "url", "extracted_text", "tipo_documento", "proveedor_nombre", "proveedor_cif",
    "numero_factura", "fecha_factura", "total_factura", "base_imponible",
    "cuota_iva", "tipo_iva",
]


@dataclass
class Ctx:
    spark: object
    root: str
    work: str
    seed: int
    seconds: float
    tracer: Tracer
    rss: RssSampler
    rows: list = field(default_factory=list)
    planted: set = field(default_factory=set)
    pages_dir: str = ""
    registry: str = "subset"


@dataclass
class Result:
    pass_s: list[float]
    pass_rss_mb: list[float]  # peak process-tree RSS of each timed pass
    named: dict  # the workload's named end-to-end metrics: name -> (value, unit)
    tally: Tally
    detail: dict = field(default_factory=dict)


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _settle(spark) -> None:
    """Collect garbage in the JVM and the driver before a timed pass, so a
    collection left over from the previous pass is not charged to it."""
    spark.sparkContext._jvm.System.gc()
    gc.collect()


def _window_done(start: float | None, n: int, seconds: float) -> bool:
    """The cold pass runs first, outside the window; then warm passes
    until there are MIN_WARM of them and the window is over."""
    return start is not None and n > MIN_WARM and pc() - start >= seconds


def _planted_expected(ctx: Ctx, expected: dict) -> None:
    """Planted pages: the expected text comes from the Spark-free kernel on
    the same pages; their header fields stay pinned by the generator."""
    rows = [r for r in ctx.rows if r[0] in ctx.planted]
    for r, text in zip(rows, reference_texts([r[2] for r in rows], [r[3] for r in rows])):
        expected[r[0]]["extracted_text"] = text


def _collect_pages(df) -> dict[str, dict]:
    return {r["url"]: r.asDict() for r in df.select(*RESULT_COLUMNS).collect()}


def run_extract_header(ctx: Ctx, expected: dict) -> Result:
    from facturas_spark.pipeline import extract_pages

    pages = ctx.spark.read.parquet(ctx.pages_dir)
    walls: list[float] = []
    rss: list[float] = []
    start = None
    while not _window_done(start, len(walls), ctx.seconds):
        tag = f"extract_header:{len(walls)}"
        _settle(ctx.spark)
        ctx.rss.take()
        with ctx.tracer.span("pipeline.extract_pages", tag=tag):
            t = pc()
            extract_pages(pages).write.format("noop").mode("overwrite").save()
            walls.append(pc() - t)
        rss.append(ctx.rss.take())
        start = start or pc()
    tally = Tally()
    tally.add(len(expected), page_failures(_collect_pages(extract_pages(pages)), expected))
    steady = walls[1:]
    n = len(ctx.rows)
    return Result(
        pass_s=steady,
        pass_rss_mb=rss[1:],
        named={"docs_per_s": (n / _median(steady), "docs/s")},
        tally=tally,
        detail={"pages": n, "job_s": walls},
    )


def _delete_markers(manifest_dir: str, buckets) -> None:
    for b in buckets:
        for name in (f"bucket={b}.json", f".bucket={b}.json.crc"):
            p = os.path.join(manifest_dir, name)
            if os.path.exists(p):
                os.remove(p)


def run_extract_resume(ctx: Ctx, expected: dict) -> Result:
    from facturas_spark.sources.io import LineageManifest, run_with_resume

    _planted_expected(ctx, expected)
    pages = ctx.spark.read.parquet(ctx.pages_dir)
    tr = ctx.tracer
    tally = Tally()
    first_s, resume_s, cycles, manifest_s, rss = [], [], [], [], []
    out = ""
    start = None
    while not _window_done(start, len(cycles), ctx.seconds):
        i = len(cycles)
        if out:
            shutil.rmtree(out)
        out = os.path.join(ctx.work, f"resume{i}")
        manifest = LineageManifest(os.path.join(out, "_manifest"))
        _settle(ctx.spark)
        ctx.rss.take()
        with tr.span("sources.io.run_with_resume", tag=f"extract_resume:first:{i}"):
            t = pc()
            r1 = run_with_resume(ctx.spark, pages, out)
            first_s.append(pc() - t)
        with tr.span("sources.io.manifest_read"):
            t = pc()
            m1 = manifest.committed()
            manifest_s.append(pc() - t)
        ok1 = r1["processed"] == sorted(m1) and not r1["skipped"] and r1["rows"] == len(ctx.rows)
        tally.add(1, [] if ok1 else [f"first run {r1['processed']} rows={r1['rows']}"])
        deleted = set(random.Random(f"resume:{ctx.seed}:{i}").sample(sorted(m1), RESUME_DELETE))
        _delete_markers(os.path.join(out, "_manifest"), deleted)
        _settle(ctx.spark)
        with tr.span("sources.io.run_with_resume", tag=f"extract_resume:resume:{i}"):
            t = pc()
            r2 = run_with_resume(ctx.spark, pages, out)
            resume_s.append(pc() - t)
        m2 = manifest.committed()
        tally.add(2 + len(deleted), resume_failures(m1, deleted, r2, m2))
        cycles.append(first_s[-1] + resume_s[-1])
        rss.append(ctx.rss.take())
        start = start or pc()
    written = ctx.spark.read.parquet(os.path.join(out, "extracted"))
    tally.add(len(expected), page_failures(_collect_pages(written), expected))
    n = len(ctx.rows)
    return Result(
        pass_s=cycles[1:],
        pass_rss_mb=rss[1:],
        named={
            "docs_per_s": (n / _median(first_s[1:]), "docs/s"),
            "resume_s": (_median(resume_s[1:]), "s"),
        },
        tally=tally,
        detail={"pages": n, "planted": len(ctx.planted), "cycle_s": cycles, "first_s": first_s,
                "resume_s": resume_s, "manifest_read_s": manifest_s},
    )


def _oracle(sf_dir: str, names) -> dict:
    """DuckDB twins of ``names`` over the same parquet files."""
    import duckdb

    import __spark_entry__ as em
    from tools.verify_local import TABLES

    twins = em.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        out = {}
        for name in names:
            if name in twins:
                res = con.execute(twins[name])
                out[name] = ([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def _registry_pass(ctx: Ctx, qs, names, sf_dir: str, label: str) -> dict:
    tr = ctx.tracer
    rec = {}
    _settle(ctx.spark)
    ctx.rss.take()
    for name in names:
        fn = qs[name]
        m = fn.__module__.rsplit(".", 1)[-1]
        tag = f"{label}:{name}"
        try:
            with tr.span(f"analytics.{m}.build", tag=tag + ":build", query=name):
                t = pc()
                df = fn(ctx.spark, sf_dir)
                build = pc() - t
            jobs = len(tr.job_ids(tag + ":build"))
            with tr.span(f"analytics.{m}.collect", tag=tag + ":collect", query=name):
                t = pc()
                rows = [tuple(r) for r in df.collect()]
                collect = pc() - t
            r = {"module": m, "build_s": build, "collect_s": collect, "build_jobs": jobs,
                 "cols": df.columns, "rows": rows}
        except Exception as e:  # a query that raises is a counted failure
            r = {"module": m, "error": f"{type(e).__name__}: {str(e)[:300]}"}
        rec[name] = r
    rec["_rss_mb"] = ctx.rss.take()
    if tr.enabled:
        storage = ctx.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        rec["_cache"] = {
            "resident_rdds": len(storage),
            "resident_mb": sum(s.memSize() + s.diskSize() for s in storage) / 1e6,
        }
    return rec


def _noop_pass(ctx: Ctx, qs, names, sf_dir: str) -> dict[str, float]:
    """Traced runs only, after the timed passes: each query written to a
    noop sink, which runs every row and column but transfers nothing to
    the driver. Collect minus this is the result-transport time."""
    out = {}
    _settle(ctx.spark)
    for name in names:
        m = qs[name].__module__.rsplit(".", 1)[-1]
        try:
            df = qs[name](ctx.spark, sf_dir)
            with ctx.tracer.span(f"analytics.{m}.noop", tag=f"noop:{name}", query=name):
                t = pc()
                df.write.format("noop").mode("overwrite").save()
                out[name] = pc() - t
        except Exception:  # already counted as a failure by the timed passes
            continue
    return out


def _pass_total(p: dict) -> float:
    return sum(r.get("build_s", 0) + r.get("collect_s", 0)
               for n, r in p.items() if not n.startswith("_"))


def run_analytics_registry(ctx: Ctx, rows_only: dict) -> Result:
    import __spark_entry__ as em

    from perfbench.inputs import registry_dir

    sf_dir = registry_dir(ctx.root)
    qs = em.queries()
    names = sorted(qs) if ctx.registry == "full" else list(REGISTRY_SUBSET)
    cold = _registry_pass(ctx, qs, names, sf_dir, "cold")
    # checked but not timed
    warmups = [_registry_pass(ctx, qs, names, sf_dir, f"warmup{i}")
               for i in range(REGISTRY_WARMUP)]
    warm: list[dict] = []
    start = pc()
    while not (len(warm) >= REGISTRY_MIN_WARM and pc() - start >= ctx.seconds):
        warm.append(_registry_pass(ctx, qs, names, sf_dir, f"warm{len(warm)}"))
    noop = _noop_pass(ctx, qs, names, sf_dir) if ctx.tracer.enabled else {}

    oracle = _oracle(sf_dir, names)
    tally = Tally()
    for p in [cold, *warmups, *warm]:
        for name in names:
            r = p[name]
            if "error" in r:
                tally.add(1, [f"{name}: {r['error']}"])
                continue
            expected_rows = rows_only.get(name, len(cold[name].get("rows", [])))
            tally.add(1, query_failures(name, r["cols"], r["rows"], oracle.get(name),
                                        expected_rows))
    samples = sorted(
        r["build_s"] + r["collect_s"]
        for p in warm for n, r in p.items() if not n.startswith("_") and "build_s" in r
    )
    eager = sorted(n for n in names if cold[n].get("build_jobs", 0) > 0)
    per_query = {
        n: {
            "module": cold[n]["module"],
            "cold": _timing(cold[n]),
            "warmup": [_timing(p[n]) for p in warmups],
            "warm": [_timing(p[n]) for p in warm],
        }
        for n in names
    }
    # warm pass time: the sum of each query's median warm time, so one
    # slow outlier (a GC pause, a straggler task) does not move it
    warm_pass = sum(
        _median([p[n]["build_s"] + p[n]["collect_s"] for p in warm if "build_s" in p[n]])
        for n in names if all("build_s" in p[n] for p in warm)
    )
    return Result(
        pass_s=[warm_pass],
        pass_rss_mb=[p["_rss_mb"] for p in warm],
        named={
            "cold_pass_s": (_pass_total(cold), "s"),
            "warm_pass_s": (warm_pass, "s"),
            "query_p50_s": (_median(samples), "s"),
            # None unless at least ten samples lie beyond the 90th percentile
            "query_p90_s": (statistics.quantiles(samples, n=10)[8]
                            if len(samples) >= 100 else None, "s"),
        },
        tally=tally,
        detail={
            "queries": len(names),
            "warm_passes": len(warm),
            "warm_pass_totals": [_pass_total(p) for p in warm],
            "warm_samples": len(samples),
            "order": "sorted by name",
            "eager_builds": eager,
            "per_query": per_query,
            "_passes": {"cold": cold, "warm": warm, "noop": noop},
        },
    )


def _timing(r: dict) -> dict:
    if "error" in r:
        return {"error": r["error"]}
    out = {k: r[k] for k in ("build_s", "collect_s", "build_jobs")}
    out["rows"] = len(r["rows"])
    return out
