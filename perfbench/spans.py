"""Tracing from outside the program: spans around calls into its layers, a
Spark job group per span, and a summary of Spark's own event log.

A span records its name, start, end, parent span and op id; spans of one op
share the id.  Spans stay in memory until the run ends.  Each span sets the
Spark job group of its thread to its own id, so every job in the event log
names the innermost span that started it.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import threading
import time
from contextlib import contextmanager

# The program functions wrapped in a traced run, where the program imports
# them: (module, attribute, span name).  run_batch and sorted_output are
# wrapped under both names the program calls them by.
PROGRAM_WRAPPERS = [
    ("etl_pipeline2_0_spark.pipeline", "read_documents", "sources.read_documents"),
    ("etl_pipeline2_0_spark.pipeline", "documents_from_strings",
     "sources.documents_from_strings"),
    ("etl_pipeline2_0_spark.pipeline", "ensure_min_parallelism",
     "partitioning.ensure_min_parallelism"),
    ("etl_pipeline2_0_spark.pipeline", "detect_blocks", "detect.detect_blocks"),
    ("etl_pipeline2_0_spark.pipeline", "extract_records", "extract.extract_records"),
    ("etl_pipeline2_0_spark.pipeline", "infer_schema_report",
     "schema_report.infer_schema_report"),
    ("etl_pipeline2_0_spark.pipeline", "normalize_union", "normalize.normalize_union"),
    ("etl_pipeline2_0_spark.pipeline", "sorted_output", "normalize.sorted_output"),
    ("etl_pipeline2_0_spark.pipeline", "load_outputs", "load.load_outputs"),
    ("etl_pipeline2_0_spark.pipeline", "run_batch", "pipeline.run_batch"),
    ("etl_pipeline2_0_spark.api", "run_batch", "pipeline.run_batch"),
    ("etl_pipeline2_0_spark.api", "sorted_output", "normalize.sorted_output"),
    ("etl_pipeline2_0_spark.server", "process_payload", "api.process_payload"),
]


class Tracer:
    """In-memory span recorder.  ``op`` marks an op boundary in the calling
    thread; a span opened outside any op starts a new op of its own (the
    server's request threads)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @staticmethod
    def _set_group(span_id) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return
        if span_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"span-{span_id}", "perfbench", False)

    @contextmanager
    def op(self, op_id):
        self._local.op = op_id
        try:
            yield
        finally:
            self._local.op = None

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        op = getattr(self._local, "op", None)
        if op is None:
            op = stack[0]["op"] if stack else f"op-{sid}"
        rec = {"id": sid, "name": name, "op": op,
               "parent": stack[-1]["id"] if stack else None,
               "start": time.time(), "end": None}
        stack.append(rec)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self._set_group(stack[-1]["id"] if stack else None)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, module, attr: str, name: str) -> None:
        fn = getattr(module, attr)
        if getattr(fn, "__perfbench_span__", None):
            return

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        traced.__perfbench_span__ = name
        setattr(module, attr, traced)

    def install_program_wrappers(self) -> None:
        import importlib

        for mod, attr, name in PROGRAM_WRAPPERS:
            self.wrap(importlib.import_module(mod), attr, name)


def self_ms(spans: list[dict], span: dict) -> float:
    """A span's duration minus the part of it its child spans cover."""
    kids = sorted((c["start"], c["end"]) for c in spans if c["parent"] == span["id"])
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        s, e = max(s, span["start"]), min(e, span["end"])
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"] - covered) * 1000.0


# --- Spark event log ---------------------------------------------------------

def eventlog_conf(log_dir: str) -> list[str]:
    """spark-submit arguments that turn on the event log at launch time."""
    return ["--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false"]


def read_eventlog(log_dir: str) -> dict:
    """Jobs, stages and tasks of every application log in ``log_dir``."""
    jobs: dict = {}
    stage_job: dict = {}
    stages_run: set = set()
    tasks: list = []
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or ""
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "span": int(group[5:]) if group.startswith("span-") else None,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerStageCompleted":
                    stages_run.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "job": stage_job.get(ev["Stage ID"]),
                        "start": info["Launch Time"] / 1000.0,
                        "end": info["Finish Time"] / 1000.0,
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_read": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    })
    stages = {sid: job for sid, job in stage_job.items() if sid in stages_run}
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _uncovered_s(start: float, end: float, intervals: list) -> float:
    covered, cur = 0.0, start
    for s, e in intervals:  # sorted by start
        if e <= cur:
            continue
        if s >= end:
            break
        s = max(s, cur)
        covered += min(e, end) - s
        cur = min(e, end)
    return (end - start) - covered


def spark_per_op(log: dict, spans: list[dict], ops: list[dict],
                 walls: list[tuple[float, float]]) -> dict:
    """Spark engine metrics per op.  A job belongs to an op through the span
    whose job group it carries, or else by its submission time.  No-task
    time is measured over ``walls``, the ops' wall-clock intervals."""
    span_op = {s["id"]: s["op"] for s in spans}
    op_ids = {o["id"] for o in ops}

    def job_op(job: dict):
        if job["span"] in span_op:
            return span_op[job["span"]]
        for o in ops:
            if o["start"] <= job["submit"] <= o["end"]:
                return o["id"]
        return None

    jop = {jid: job_op(j) for jid, j in log["jobs"].items()}
    n = max(1, len(ops))
    tot = {k: 0.0 for k in ("run_s", "cpu_s", "gc_s", "shuffle_read",
                            "shuffle_write", "spill")}
    ntasks = 0
    for t in log["tasks"]:
        if jop.get(t["job"]) in op_ids:
            ntasks += 1
            for k in tot:
                tot[k] += t[k]
    intervals = sorted((t["start"], t["end"]) for t in log["tasks"])
    no_task = sum(_uncovered_s(s, e, intervals) for s, e in walls)
    return {
        "spark.jobs_per_op": sum(1 for o in jop.values() if o in op_ids) / n,
        "spark.stages_per_op": sum(1 for j in log["stages"].values()
                                   if jop.get(j) in op_ids) / n,
        "spark.tasks_per_op": ntasks / n,
        "spark.executor_run_s_per_op": tot["run_s"] / n,
        "spark.executor_cpu_s_per_op": tot["cpu_s"] / n,
        "spark.gc_s_per_op": tot["gc_s"] / n,
        "spark.shuffle_read_bytes_per_op": tot["shuffle_read"] / n,
        "spark.shuffle_write_bytes_per_op": tot["shuffle_write"] / n,
        "spark.spill_bytes_per_op": tot["spill"] / n,
        "spark.no_task_ms_per_op": no_task * 1000.0 / max(1, len(walls)),
    }


def jobs_under(log: dict, spans: list[dict], root: dict) -> int:
    """Jobs started inside ``root`` or any span below it."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    ids, todo = set(), [root["id"]]
    while todo:
        sid = todo.pop()
        ids.add(sid)
        todo.extend(kids.get(sid, []))
    return sum(1 for j in log["jobs"].values() if j["span"] in ids)
