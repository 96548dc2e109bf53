"""Per-layer measurements for traced runs.

Two sources:

* Spark-free timing of the extraction kernel's stages on the workload's
  own pages (``extraction.*``), one core, in the benchmark process.
* Spark's event log, switched on through the benchmark's session config,
  reduced per job group (the tag a :class:`perfbench.trace.Tracer` span
  set) to task, stage and job metrics (``spark.*``, ``sources.io.*`` and
  the build-job counts of ``analytics.*``).
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

# a stage's skew is reported only when its median task ran this long;
# below it, max/median measures scheduler jitter, not data skew
SKEW_MIN_MEDIAN_MS = 20


def kernel_layers(rows: list[tuple], planted_urls: set, sample: int) -> dict:
    """Time each kernel stage, Spark-free, on ``sample`` unplanted pages
    plus every planted page, and scale to the workload's page mix."""
    from facturas_spark.extraction.boilerplate import extract_main_text
    from facturas_spark.extraction.products import extract_products
    from facturas_spark.extraction.textparse import classify_document, extract_fields
    from facturas_spark.extraction.udf import extract_batch, extract_batch_header

    normal = [r for r in rows if r[0] not in planted_urls]
    planted = [r for r in rows if r[0] in planted_urls]
    part = normal[:sample]
    html_only = [r for r in part if not r[3]]
    pc = time.perf_counter

    t = pc()
    for r in html_only:
        extract_main_text(r[2])
    boiler_s = pc() - t

    def texts(rs):
        return [r[3] if r[3] else extract_main_text(r[2]) for r in rs]

    def stage_times(ts):
        cls = fld = prd = 0.0
        for x in ts:
            a = pc()
            classify_document(x)
            b = pc()
            f = extract_fields(x)
            c = pc()
            extract_products(x, f.tipo_iva)
            cls += b - a
            fld += c - b
            prd += pc() - c
        return cls, fld, prd

    cls_s, fld_s, prd_s = stage_times(texts(part))
    _, _, prd_planted_s = stage_times(texts(planted))

    n_part, n_all = len(part), len(rows)
    scale = len(normal) / max(n_part, 1)

    def kernel_s(fn):
        """Seconds ``fn`` takes over the whole workload's page mix."""
        total = 0.0
        for rs, weight in ((part, scale), (planted, 1.0)):
            if rs:
                a = pc()
                fn([r[2] for r in rs], [r[3] for r in rs])
                total += (pc() - a) * weight
        return total

    prd_total = prd_s * scale + prd_planted_s
    header_s = kernel_s(extract_batch_header)
    full_s = kernel_s(extract_batch)
    return {
        "extraction.boilerplate.ms_per_doc": 1e3 * boiler_s / max(len(html_only), 1),
        "extraction.classify.ms_per_doc": 1e3 * cls_s / max(n_part, 1),
        "extraction.fields.ms_per_doc": 1e3 * fld_s / max(n_part, 1),
        "extraction.products.ms_per_doc": 1e3 * prd_total / max(n_all, 1),
        "extraction.products.planted_share": prd_planted_s / max(prd_total, 1e-12),
        "extraction.kernel_header.docs_per_s_core": n_all / max(header_s, 1e-12),
        "extraction.kernel_full.docs_per_s_core": n_all / max(full_s, 1e-12),
    }


class EventLog:
    """One application's event log, reduced to jobs, stages and tasks."""

    def __init__(self, path: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    self.jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev.get("Submission Time", 0),
                        "end": None,
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerJobEnd":
                    job = self.jobs.get(ev["Job ID"])
                    if job is not None:
                        job["end"] = ev.get("Completion Time")
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    rdds = info.get("RDD Info", [])
                    self.stages[info["Stage ID"]] = {
                        "tasks": info.get("Number of Tasks", 0),
                        "scan": any(
                            "FileScanRDD" in (r.get("Name") or "")
                            or (r.get("Scope") or "").find('"Scan ') >= 0
                            for r in rdds
                        ),
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    self.tasks[ev["Stage ID"]].append({
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "output": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    })

    def jobs_where(self, pred) -> list[dict]:
        return [j for j in self.jobs.values() if j["group"] is not None and pred(j["group"])]

    def job_output_bytes(self, job: dict) -> int:
        return sum(t["output"] for s in job["stages"] for t in self.tasks.get(s, []))

    @staticmethod
    def job_s(job: dict) -> float:
        return max(0, (job["end"] or job["submit"]) - job["submit"]) / 1e3

    def spark_metrics(self, jobs: list[dict]) -> dict:
        """``spark.*`` layer metrics over the stages these jobs ran."""
        stage_ids = sorted({s for j in jobs for s in j["stages"] if s in self.stages})
        tasks = [t for s in stage_ids for t in self.tasks.get(s, [])]
        skew = 1.0
        for s in stage_ids:
            runs = [t["run_ms"] for t in self.tasks.get(s, [])]
            if len(runs) >= 2 and statistics.median(runs) >= SKEW_MIN_MEDIAN_MS:
                skew = max(skew, max(runs) / statistics.median(runs))
        scans = [s for s in stage_ids if self.stages[s]["scan"]]
        return {
            "spark.scan_tasks": sum(len(self.tasks.get(s, [])) for s in scans),
            "spark.task_skew": skew,
            "spark.executor_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
            "spark.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "spark.shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 1e6,
            "spark.spill_mb": sum(t["spill"] for t in tasks) / 1e6,
            "spark.single_task_scan_stages": sum(
                1 for s in scans if self.stages[s]["tasks"] == 1),
        }
