"""Span tracing for the traced benchmark run, from outside the program.

``install(tracer)`` wraps the engine's public layer functions in place.
Each wrapper records a span (name, start, end, parent) and tags every
Spark job started inside it with ``SparkContext.setJobDescription(<span
name>)``, so the Spark event log attributes each job — and through it
each task's metrics — to the innermost span.  ``DataFrameWriter.parquet``
calls made inside ``cli.write_warehouse`` get per-table sub-spans.

``span_metrics`` joins the spans with ``parse_event_log``'s per-job task
totals into the per-layer metrics the benchmark reports.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from contextlib import contextmanager

#: (span name, module that holds the name the program calls, attribute).
#: ``cli`` binds the three ``plans.operations`` functions at import, so
#: they are patched in the ``cli`` namespace; ``load_study`` and
#: ``run_upload`` import their callees inside the function body, so the
#: module attribute is what those calls look up.
TARGETS = [
    ("cli.main", "tmdataloader_spark.cli", "main"),
    ("session.get_spark", "tmdataloader_spark.session", "get_spark"),
    ("plans.study.load_study", "tmdataloader_spark.plans.study", "load_study"),
    ("sources.mapping.melt_clinical_study", "tmdataloader_spark.sources.mapping", "melt_clinical_study"),
    ("plans.clinical.load_clinical", "tmdataloader_spark.plans.clinical", "load_clinical"),
    ("plans.hdd.load_hdd", "tmdataloader_spark.plans.hdd", "load_hdd"),
    ("plans.operations.check_study_conflicts", "tmdataloader_spark.cli", "check_study_conflicts"),
    ("plans.operations.delete_all_data", "tmdataloader_spark.cli", "delete_all_data"),
    ("plans.operations.move_study_by_path", "tmdataloader_spark.cli", "move_study_by_path"),
    ("cli.merge_study_into_warehouse", "tmdataloader_spark.cli", "merge_study_into_warehouse"),
    ("operators.tree.register_secure_study", "tmdataloader_spark.operators.tree", "register_secure_study"),
    ("cli.read_warehouse", "tmdataloader_spark.cli", "read_warehouse"),
    ("cli.write_warehouse", "tmdataloader_spark.cli", "write_warehouse"),
]
WRITE_SPAN = "cli.write_warehouse"
#: per-table sub-spans of cli.write_warehouse, matched on the written path
WRITE_TABLES = [
    ("observation_fact.parquet", WRITE_SPAN + ".observation_fact"),
    # the expression matrix (de_subject_expression_data here; the
    # reference's de_subject_microarray_data) and any other omics matrix
    ("de_subject_", WRITE_SPAN + ".de_subject_microarray_data"),
]
WRITE_OTHER = WRITE_SPAN + ".other"
SPAN_NAMES = [t[0] for t in TARGETS] + [n for _, n in WRITE_TABLES] + [WRITE_OTHER]
SPAN_METRICS = [
    ("wall_s", "s"), ("self_s", "s"), ("driver_s", "s"), ("jobs", "count"),
    ("exec_cpu_s", "s"), ("core_util", "ratio"), ("shuffle_write_mb", "MB"),
]
GLOBAL_METRICS = [
    ("spark.input_mb", "MB"), ("spark.output_mb", "MB"), ("spark.gc_s", "s"),
    ("spark.spill_mb", "MB"), ("spark.task_failures", "count"),
    ("spark.codegen_fallbacks", "count"), ("sources.rescan_ratio", "ratio"),
]
MB = 1024 * 1024


class Tracer:
    """Spans kept in memory; written out by the caller at the end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @property
    def current(self) -> str | None:
        return self.spans[self._stack[-1]]["name"] if self._stack else None

    @contextmanager
    def span(self, name: str):
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        prev = sc.getLocalProperty("spark.job.description") if sc else None
        if sc:
            sc.setJobDescription(name)
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            sc = SparkContext._active_spark_context
            if sc:
                sc.setJobDescription(prev)


def install(tracer: Tracer) -> None:
    """Wrap every TARGETS function and DataFrameWriter.parquet."""
    from pyspark.sql.readwriter import DataFrameWriter

    def wrap(name, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    for name, module, attr in TARGETS:
        mod = importlib.import_module(module)
        setattr(mod, attr, wrap(name, getattr(mod, attr)))

    parquet = DataFrameWriter.parquet

    @functools.wraps(parquet)
    def traced_parquet(self, path, *args, **kwargs):
        if tracer.current != WRITE_SPAN:
            return parquet(self, path, *args, **kwargs)
        name = next((n for key, n in WRITE_TABLES if key in str(path)), WRITE_OTHER)
        with tracer.span(name):
            return parquet(self, path, *args, **kwargs)

    DataFrameWriter.parquet = traced_parquet


# ---- event log ------------------------------------------------------

_WANTED = tuple(
    '{"Event":"%s"' % e
    for e in ("SparkListenerJobStart", "SparkListenerJobEnd",
              "SparkListenerStageCompleted", "SparkListenerTaskEnd")
)
_TEXT_SCANS = ("Scan csv", "Scan text")


def parse_event_log(path: str) -> dict:
    """Per-job task totals and global task totals from a plain-JSON
    Spark event log.  Lines of the (large) SQL plan events are skipped
    unparsed."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    text_stages: set[int] = set()
    tot = {"input_b": 0, "output_b": 0, "gc_ms": 0, "spill_b": 0,
           "task_failures": 0, "text_input_b": 0, "tasks": 0}
    stage_input: dict[int, int] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if not line.startswith(_WANTED):
                continue
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                jid = e["Job ID"]
                desc = (e.get("Properties") or {}).get("spark.job.description")
                jobs[jid] = {"desc": desc, "start": e["Submission Time"] / 1000.0,
                             "end": None, "cpu_ns": 0, "run_ms": 0, "shuffle_w": 0}
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                scans = [json.loads(r["Scope"]).get("name", "")
                         for r in info.get("RDD Info", [])
                         if r.get("Name") == "FileScanRDD" and r.get("Scope")]
                # a stage counts as a study-input read only when every
                # file it scans is a text source (CSV/TSV), not parquet
                if scans and all(s.startswith(_TEXT_SCANS) for s in scans):
                    text_stages.add(info["Stage ID"])
            else:  # TaskEnd
                sid = e["Stage ID"]
                m = e.get("Task Metrics") or {}
                reason = (e.get("Task End Reason") or {}).get("Reason")
                if reason != "Success" or e["Task Info"].get("Attempt", 0) > 0:
                    tot["task_failures"] += 1
                inp = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                tot["tasks"] += 1
                tot["input_b"] += inp
                stage_input[sid] = stage_input.get(sid, 0) + inp
                tot["output_b"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                tot["gc_ms"] += m.get("JVM GC Time", 0)
                tot["spill_b"] += m.get("Disk Bytes Spilled", 0)
                job = jobs.get(stage_job.get(sid, -1))
                if job is not None:
                    job["cpu_ns"] += m.get("Executor CPU Time", 0)
                    job["run_ms"] += m.get("Executor Run Time", 0)
                    job["shuffle_w"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
    tot["text_input_b"] = sum(b for s, b in stage_input.items() if s in text_stages)
    return {"jobs": jobs, "totals": tot}


def count_codegen_fallbacks(log_path: str) -> int:
    with open(log_path, encoding="utf-8", errors="replace") as fh:
        return sum(1 for line in fh if "Failed to compile" in line)


def _subtract(span: tuple[float, float], holes: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Parts of ``span`` not covered by ``holes``."""
    out, pos = [], span[0]
    for s, e in sorted(holes):
        s, e = max(s, pos), min(e, span[1])
        if e <= s:
            continue
        if s > pos:
            out.append((pos, s))
        pos = e
    if pos < span[1]:
        out.append((pos, span[1]))
    return out


def span_metrics(spans: list[dict], log: dict, cores: int) -> dict[str, float]:
    """The seven metrics per span name, summed over every call of it.

    - wall_s: sum of the calls' durations; self_s: minus child spans;
    - driver_s: self time not covered by a job tagged with this span;
    - jobs, exec_cpu_s, shuffle_write_mb: over jobs tagged with this
      span (the innermost span when the job started);
    - core_util: those jobs' executor run time ÷ (cores × wall)."""
    jobs_by = {}
    for j in log["jobs"].values():
        if j["end"] is not None:
            jobs_by.setdefault(j["desc"], []).append(j)
    out: dict[str, float] = {}
    for name in SPAN_NAMES:
        calls = [i for i, s in enumerate(spans) if s["name"] == name]
        wall = self_t = driver = 0.0
        job_iv = [(j["start"], j["end"]) for j in jobs_by.get(name, [])]
        for i in calls:
            s = spans[i]
            iv = (s["start"], s["end"])
            wall += iv[1] - iv[0]
            kids = [(c["start"], c["end"]) for c in spans if c["parent"] == i]
            own = _subtract(iv, kids)
            self_t += sum(e - b for b, e in own)
            for piece in own:
                driver += sum(e - b for b, e in _subtract(piece, job_iv))
        js = jobs_by.get(name, [])
        run_s = sum(j["run_ms"] for j in js) / 1000.0
        vals = {
            "wall_s": wall, "self_s": self_t, "driver_s": driver,
            "jobs": float(len(js)),
            "exec_cpu_s": sum(j["cpu_ns"] for j in js) / 1e9,
            "core_util": run_s / (cores * wall) if wall > 0 else 0.0,
            "shuffle_write_mb": sum(j["shuffle_w"] for j in js) / MB,
        }
        for m, _ in SPAN_METRICS:
            out[f"{name}.{m}"] = vals[m]
    return out


def global_metrics(log: dict, codegen_fallbacks: int, input_bytes: int) -> dict[str, float]:
    t = log["totals"]
    return {
        "spark.input_mb": t["input_b"] / MB,
        "spark.output_mb": t["output_b"] / MB,
        "spark.gc_s": t["gc_ms"] / 1000.0,
        "spark.spill_mb": t["spill_b"] / MB,
        "spark.task_failures": float(t["task_failures"]),
        "spark.codegen_fallbacks": float(codegen_fallbacks),
        "sources.rescan_ratio": t["text_input_b"] / input_bytes if input_bytes else 0.0,
    }
