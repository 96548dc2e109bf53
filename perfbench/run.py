"""Closed-loop benchmark of the extraction engine on ``local[4]``.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S

W is ``extract_header``, ``extract_resume`` or ``analytics_registry``.
``--trace 0`` measures the end-to-end metrics; ``--trace 1`` runs the same
loop with spans and Spark's event log on and reports the per-layer metrics.
The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines above it name
the workload's end-to-end metrics with their units. Every figure and every
per-query time lands in ``.perfbench/results/``.

``--workload all`` runs each workload untraced and then traced, in child
processes, and prints every named metric plus the tracing overhead.
``--registry full`` makes ``analytics_registry`` run every ``queries()``
entry instead of its fixed subset (longer than one run's time limit; used
for the committed baseline).

The benchmark is its own launcher: it points the Python workers' import
path at the checkout, keeps Spark's and the JVM's scratch files inside it,
and stops every process it started before it exits.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
WORKLOADS = ("extract_header", "extract_resume", "analytics_registry")
STATE = os.path.join(ROOT, ".perfbench")
RESULTS = os.path.join(STATE, "results")
# Spark-free kernel timing sample (pages) in traced extraction runs
KERNEL_SAMPLE = 1000


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


_AGE0 = process_age_s() - (time.perf_counter() - _T0)


def since_start() -> float:
    return _AGE0 + time.perf_counter() - _T0


def launcher_env(work: str) -> None:
    """Before the JVM starts: workers import the program from the checkout
    whatever the working directory, and scratch files stay in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    jopts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{jopts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def warm_workers(spark) -> None:
    """One JVM job, then the first round of both fused UDFs on every core,
    so each Python worker has imported the kernel before timing starts."""
    from pyspark.sql.functions import col, lit

    from facturas_spark.extraction.udf import extract_doc_udf, extract_header_udf

    spark.range(1000).selectExpr("sum(id)").collect()
    for udf in (extract_header_udf, extract_doc_udf):
        spark.range(0, CORES * 4, 1, CORES).select(
            udf(lit(None).cast("binary"), col("id").cast("string"))
        ).count()


def host_facts(spark) -> dict:
    import platform

    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
        "spark.driver.extraJavaOptions": conf.get("spark.driver.extraJavaOptions"),
        "spark.driver.memory": conf.get("spark.driver.memory"),
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for every child to exit."""
    from pyspark import SparkContext

    from perfbench.trace import live_descendants

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while live_descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in live_descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _layer_names() -> list[str]:
    from perfbench.workloads import MODULES

    names = [
        "session.start_s", "session.warm_s",
        "extraction.boilerplate.ms_per_doc", "extraction.classify.ms_per_doc",
        "extraction.fields.ms_per_doc", "extraction.products.ms_per_doc",
        "extraction.products.planted_share",
        "extraction.kernel_header.docs_per_s_core", "extraction.kernel_full.docs_per_s_core",
        "extraction.html_only_share", "pipeline.framework_share",
        "spark.scan_tasks", "spark.task_skew", "spark.executor_run_s",
        "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_mb",
        "spark.spill_mb", "spark.single_task_scan_stages",
        "sources.io.write_job_s", "sources.io.stats_job_s", "sources.io.driver_s",
        "sources.io.written_mb", "sources.io.manifest_read_s",
    ]
    for m in MODULES:
        for p in ("cold", "warm"):
            names += [f"analytics.{m}.{p}.build_s", f"analytics.{m}.{p}.collect_s",
                      f"analytics.{m}.{p}.build_jobs"]
        names.append(f"analytics.{m}.warm.transport_s")
    names += ["analytics.cache.resident_rdds", "analytics.cache.resident_mb",
              "trace.span_coverage", "trace.pass_s"]
    return names


LAYER_UNITS = {
    "_s": "s", "ms_per_doc": "ms", "docs_per_s_core": "docs/s", "_share": "ratio",
    "_coverage": "ratio", "_mb": "MB", "_jobs": "count", "_tasks": "count",
    "_stages": "count", "_rdds": "count", "_skew": "ratio",
}


def layer_unit(name: str) -> str:
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    raise KeyError(name)


def layer_metrics(workload: str, res, ctx, setup: dict, evlog, wall: tuple) -> dict:
    """Every per-layer metric; a layer the workload does not exercise
    reports 0 (it did no work)."""
    from perfbench.inputs import html_only_share
    from perfbench.layers import kernel_layers

    out = {n: 0.0 for n in _layer_names()}
    out["session.start_s"] = setup["session_s"]
    out["session.warm_s"] = setup["warm_s"]
    tagged = evlog.jobs_where(lambda g: True)
    out.update(evlog.spark_metrics(tagged))
    if workload != "analytics_registry":
        out.update(kernel_layers(ctx.rows, ctx.planted, KERNEL_SAMPLE))
        out["extraction.html_only_share"] = html_only_share(ctx.rows)
        n = len(ctx.rows)
        if workload == "extract_header":
            kernel_cpu = n / out["extraction.kernel_header.docs_per_s_core"]
            job_wall = statistics.median(res.pass_s)
        else:
            kernel_cpu = n / out["extraction.kernel_full.docs_per_s_core"]
            job_wall = statistics.median(res.detail["first_s"][1:])
        out["pipeline.framework_share"] = 1 - kernel_cpu / (CORES * job_wall)
    if workload == "extract_resume":
        first = [s for s in ctx.tracer.spans if s["name"] == "sources.io.run_with_resume"]
        write_s = stats_s = written = driver = 0.0
        for s in first:
            jobs = evlog.jobs_where(lambda g, t=s["tag"]: g == t)
            w = [j for j in jobs if evlog.job_output_bytes(j) > 0]
            write_s += sum(evlog.job_s(j) for j in w)
            stats_s += sum(evlog.job_s(j) for j in jobs if j not in w)
            written += sum(evlog.job_output_bytes(j) for j in w)
            driver += (s["end"] - s["start"]) - sum(evlog.job_s(j) for j in jobs)
        k = max(len(first), 1)
        out["sources.io.write_job_s"] = write_s / k
        out["sources.io.stats_job_s"] = stats_s / k
        out["sources.io.driver_s"] = driver / k
        out["sources.io.written_mb"] = written / 1e6 / k
        out["sources.io.manifest_read_s"] = statistics.median(res.detail["manifest_read_s"])
    if workload == "analytics_registry":
        passes = res.detail["_passes"]
        for p, rec in (("cold", passes["cold"]), ("warm", passes["warm"][0])):
            for name, r in rec.items():
                if name.startswith("_") or "build_s" not in r:
                    continue
                m = r["module"]
                out[f"analytics.{m}.{p}.build_s"] += r["build_s"]
                out[f"analytics.{m}.{p}.collect_s"] += r["collect_s"]
                out[f"analytics.{m}.{p}.build_jobs"] += r["build_jobs"]
                if p == "warm" and name in passes["noop"]:
                    out[f"analytics.{m}.warm.transport_s"] += (
                        r["collect_s"] - passes["noop"][name])
        caches = [passes["cold"]["_cache"]] + [w["_cache"] for w in passes["warm"]]
        out["analytics.cache.resident_rdds"] = max(c["resident_rdds"] for c in caches)
        out["analytics.cache.resident_mb"] = max(c["resident_mb"] for c in caches)
    out["trace.span_coverage"] = ctx.tracer.coverage(*wall)
    out["trace.pass_s"] = statistics.median(res.pass_s)
    return out


def run_name(workload: str, registry: str, seed: int, trace: int) -> str:
    full = "-full" if registry == "full" else ""
    return f"{workload}{full}-s{seed}-t{trace}"


def run_one(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "facturas_spark")):
        print(f"no program to benchmark: {ROOT}/facturas_spark is missing", file=sys.stderr)
        return 2
    work = os.path.join(STATE, f"work-{os.getpid()}")
    launcher_env(work)
    try:
        return _run_one(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run_one(args, work: str) -> int:
    from facturas_spark.session import get_spark
    from perfbench import inputs
    from perfbench.layers import EVENT_LOG_CONF, EventLog
    from perfbench.trace import RssSampler, Tracer
    from perfbench import workloads as W

    run_id = run_name(args.workload, args.registry, args.seed, args.trace)
    rss = RssSampler().start()
    conf = {}
    evdir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(evdir, exist_ok=True)
        conf = dict(EVENT_LOG_CONF, **{"spark.eventLog.dir": "file://" + evdir})

    # ---- set-up: process start until the session is up, its workers are
    # warm and the inputs are staged
    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cores=CORES, extra_conf=conf)
    session_s = time.perf_counter() - t
    try:
        t = time.perf_counter()
        warm_workers(spark)
        warm_s = time.perf_counter() - t
        tracer = Tracer(run_id, bool(args.trace), spark.sparkContext)
        ctx = W.Ctx(spark=spark, root=ROOT, work=work, seed=args.seed,
                    seconds=args.seconds, tracer=tracer, rss=rss, registry=args.registry)
        if args.workload != "analytics_registry":
            resume = args.workload == "extract_resume"
            n = W.RESUME_PAGES if resume else W.HEADER_PAGES
            base = inputs.RESUME_ID_BASE if resume else inputs.HEADER_ID_BASE
            ctx.rows, ctx.planted = inputs.make_pages(n, args.seed, base, resume)
            ctx.pages_dir = os.path.join(work, "pages")
            inputs.stage_pages(ctx.rows, ctx.pages_dir)
        setup_s = since_start()
        setup = {"setup_s": setup_s, "session_s": session_s, "warm_s": warm_s}
        host = host_facts(spark)

        # ---- expected values (not set-up), then the timed loop
        if args.workload == "analytics_registry":
            with open(os.path.join(ROOT, "perfbench", "data", "rows_only.json")) as f:
                ref = json.load(f)
            w0 = time.perf_counter()
            res = W.run_analytics_registry(ctx, ref)
        else:
            n = len(ctx.rows)
            exp = inputs.expected_pages(n, args.seed, base, resume)
            w0 = time.perf_counter()
            run = W.run_extract_resume if resume else W.run_extract_header
            res = run(ctx, exp)
        w1 = time.perf_counter()
        peak_mb = rss.stop()
        app_id = spark.sparkContext.applicationId
    finally:
        rss.stop()
        stop_spark(spark)

    metrics = {
        "setup_s": (setup["setup_s"], "s"),
        "pass_s": (statistics.median(res.pass_s), "s"),
        # the median over the timed passes of each pass's peak, so a spike
        # in one pass does not move it; the whole run's peak is printed as
        # run_peak_rss_mb
        "peak_rss_mb": (statistics.median(res.pass_rss_mb), "MB"),
    }
    named = {"setup_s": metrics["setup_s"], **res.named,
             "error_rate": (res.tally.error_rate, "ratio"),
             "peak_rss_mb": metrics["peak_rss_mb"], "run_peak_rss_mb": (peak_mb, "MB")}
    layers = {}
    if args.trace:
        evlog = EventLog(os.path.join(evdir, app_id))
        layers = layer_metrics(args.workload, res, ctx, setup, evlog, (w0, w1))

    os.makedirs(RESULTS, exist_ok=True)
    detail = {k: v for k, v in res.detail.items() if not k.startswith("_")}
    detail["pass_rss_mb"] = res.pass_rss_mb
    record = {
        "run": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "registry": args.registry,
        "cores": CORES, "host": host, "named": named, "metrics": metrics, "setup": setup,
        "pass_s": res.pass_s, "layers": layers, "detail": detail,
        "attempted": res.tally.attempted, "failed": res.tally.failed,
        "failures": res.tally.examples,
    }
    with open(os.path.join(RESULTS, run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        tracer.write(os.path.join(RESULTS, run_id + ".spans.json"))

    for name, (v, unit) in named.items():
        print(f"{args.workload} {name} = {_fmt(v)} {unit}")
    for failure in res.tally.examples:
        print(f"FAILED {failure}")
    if args.trace:
        out = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps({
        "correct": res.tally.failed == 0,
        "attempted": res.tally.attempted,
        "failed": res.tally.failed,
        "metrics": out,
    }))
    return 0


def _fmt(v) -> str:
    # a percentile the sample cannot support is reported as n/a
    return "n/a" if v is None else f"{v:.6g}"


def run_all(args) -> int:
    """Every workload untraced, then traced, each in its own process."""
    me = os.path.abspath(__file__)
    failed = 0
    for w in WORKLOADS:
        recs = []
        for trace in (0, 1):
            cmd = [sys.executable, me, "--workload", w, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace),
                   "--registry", args.registry]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            if p.returncode != 0:
                print(f"{w} trace={trace}: exit {p.returncode}", file=sys.stderr)
                return p.returncode
            failed += json.loads(p.stdout.strip().splitlines()[-1])["failed"]
            name = run_name(w, args.registry, args.seed, trace)
            with open(os.path.join(RESULTS, name + ".json")) as f:
                recs.append(json.load(f))
        plain, traced = recs
        for name, (v, unit) in plain["named"].items():
            print(f"{w:20s} {name:14s} {_fmt(v):>12s} {unit}")
        cov = traced["layers"]["trace.span_coverage"]
        over = traced["layers"]["trace.pass_s"] / plain["metrics"]["pass_s"][0] - 1
        print(f"{w:20s} {'span_coverage':14s} {cov:12.4f} ratio")
        print(f"{w:20s} {'trace_overhead':14s} {over:12.4f} ratio (traced pass_s / untraced - 1)")
    return 1 if failed else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--registry", choices=("subset", "full"), default="subset")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
