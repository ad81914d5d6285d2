#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the engine's three uses.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

Workloads (each defines one op):

- ``etl_batch``: ``pipeline.run_batch(input_path=<dir>, out_dir=<fresh dir>,
  use_rowstore=True)``, the body of the CLI ``batch`` command, over a
  seeded directory of mixed-format files;
- ``http_process``: one ``POST /process`` to a server started with the
  program's own ``serve`` command, from a closed loop of 2 clients;
- ``curation_queries``: one pass over fixed registry queries, each built
  and collected, over seeded tables.

A run sets up the program, times a first (cold) op, then runs whole rounds
of ops until ``--seconds`` have passed since the cold op ended.  CPU per op
and peak memory are taken over a fixed amount of work at the start of the
window (``CPU_OPS`` ops, or the first ``http_process`` round), so every run
divides the same work however many ops fit.  Every op's output is checked
against a computation made apart from the program.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
program's public functions in spans, turns on Spark's event log and prints
the per-layer metrics.  The last stdout line is the result object; the line
before it is the run record (task slots, ops, host weather).
"""

from __future__ import annotations

import argparse
import contextlib
import http.client
import itertools
import json
import os
import pickle
import shlex
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import host  # noqa: E402
import spans  # noqa: E402

# Input sizes.  Each run must fit the benchmark's time budget (a cold JVM
# start of ~13 s plus a cold op plus the measured window on 4 cores), which
# bounds how large one op can be.
ETL_FILES = 16
ETL_BLOCKS_PER_FILE = 120        # ~195 KB, ~2,900 records
HTTP_POOL = 24                   # seeded payloads, small and large in turn
HTTP_CLIENTS = 2
HTTP_ROUND = 4                   # seeded payloads per round; then 1 dotted-key
TABLE_DOCS = 400
TABLE_ORDERS = 4000
# The registry queries with the most barrier jobs that fit a run, and two
# relational controls (README, *Choices*).
QUERIES = ["dup_components", "q1_pricing_summary", "q3_top_revenue"]

# Wall-time figures (cold op, median op, ops per second) go in the run
# record, not the metrics: on a host whose CPU steal varies from run to run
# they spread by more than any bound the benchmark may set (README).  So
# does peak memory, which follows how far the JVM heap grows before a
# collection.
END_TO_END = {"setup_s": "s", "cold_op_cpu_s": "s", "cpu_s_per_op": "s"}
# CPU per op falls op by op while the JIT warms up, so it is taken over a
# fixed span of measured ops, (ops skipped, ops counted) below; for
# http_process, over its first round of HTTP_ROUND seeded requests.  Every
# run then divides the same work.
CPU_OPS = {"etl_batch": (1, 2), "curation_queries": (1, 3)}


PER_LAYER = {
    "session.get_spark_ms": "ms",
    "sources.read_documents_ms": "ms",
    "sources.documents_from_strings_ms": "ms",
    "sources.bytes_read": "bytes",
    "partitioning.ensure_min_parallelism_ms": "ms",
    "detect.detect_blocks_ms": "ms",
    "normalize.normalize_union_ms": "ms",
    "normalize.sorted_output_ms": "ms",
    "extract.extract_records_ms": "ms",
    "extract.jobs": "count",
    "schema_report.infer_schema_report_ms": "ms",
    "schema_report.jobs": "count",
    "pipeline.run_batch_ms": "ms",
    "pipeline.run_batch_self_ms": "ms",
    "pipeline.jobs": "count",
    "load.load_outputs_ms": "ms",
    "load.jobs": "count",
    "load.bytes_written": "bytes",
    "load.files_written": "count",
    "api.process_payload_ms": "ms",
    "api.process_payload_self_ms": "ms",
    "api.rows_out": "count",
    "server.overhead_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.executor_run_s_per_op": "s",
    "spark.executor_cpu_s_per_op": "s",
    "spark.gc_s_per_op": "s",
    "spark.shuffle_read_bytes_per_op": "bytes",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes",
    "spark.no_task_ms_per_op": "ms",
    "trace.op_p50_ms": "ms",
}
# plans.registry metrics; they read 0 outside curation_queries.
QUERY_LAYER = {
    f"query.{q}.{m}": unit
    for q in QUERIES
    for m, unit in (("build_ms", "ms"), ("action_ms", "ms"), ("jobs_at_build", "count"),
                    ("jobs", "count"), ("catalyst_ms", "ms"))
}


class Run:
    """One benchmark run: settings, op records and the metrics they yield."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.tracer = spans.Tracer() if args.trace else None
        self.slots = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench_work", f"{self.workload}-{os.getpid()}")
        self.eventlog = os.path.join(self.work, "eventlog")
        self.cold: dict | None = None
        self.ops: list[dict] = []      # measured (warm) ops
        self.attempted = 0
        self.correct = True
        self.problems: list[str] = []
        self.setup_s = 0.0
        self.cold_cpu_s = 0.0          # CPU of the program over the cold op
        self.cpu_s = 0.0               # CPU of the program over the fixed work
        self.cpu_ops = 0               # ops in that work
        self.rss_by_command: dict[str, float] = {}  # peak memory then
        self.window_s = 0.0            # wall time of the measured ops
        self.layer: dict[str, float] = {}

    # -- environment --------------------------------------------------------
    def program_env(self) -> dict[str, str]:
        """Environment for the program: task slots pinned to this host's CPUs
        and every scratch path inside the run's work directory."""
        tmp = os.path.join(self.work, "tmp")
        for d in (tmp, os.path.join(self.work, "spark-local"), self.eventlog):
            os.makedirs(d, exist_ok=True)
        env = dict(os.environ)
        env.pop("SPARK_MASTER", None)
        pypath = env.get("PYTHONPATH")
        submit = ["--conf", "spark.ui.showConsoleProgress=false"]
        if self.tracer:
            submit += spans.eventlog_conf(self.eventlog)
        env.update(
            SPARK_GRAFT_CPUS=str(self.slots),
            SPARK_SHUFFLE_PARTITIONS=str(self.slots),
            SPARK_LOCAL_DIRS=os.path.join(self.work, "spark-local"),
            SPARK_WAREHOUSE_DIR=os.path.join(self.work, "warehouse"),
            TMPDIR=tmp,
            PYTHONPATH=ROOT + (os.pathsep + pypath if pypath else ""),
            PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
            # Also reaches spark-submit's launcher JVM, which the driver
            # options do not: no JVM writes a perf-data file to /tmp.
            JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        )
        return env

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def op_scope(self, op_id):
        return self.tracer.op(op_id) if self.tracer else contextlib.nullcontext()

    def fail_check(self, what: list[str]) -> None:
        """A successful op returned a wrong answer, or a checker's self-check
        accepted a planted wrong answer."""
        if what:
            self.correct = False
            self.problems.extend(what[:5])

    # -- result ---------------------------------------------------------------
    def ok_walls(self) -> list[float]:
        return [o["end"] - o["start"] for o in self.ops
                if o["ok"] and not o.get("dotted")]

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": self.setup_s,
            "cold_op_cpu_s": self.cold_cpu_s,
            "cpu_s_per_op": self.cpu_s / self.cpu_ops,
        }

    def wall_times(self) -> dict[str, float]:
        walls = self.ok_walls()
        return {
            "cold_op_s": self.cold["end"] - self.cold["start"],
            "op_p50_ms": statistics.median(walls) * 1000.0,
            "ops_per_s": len(walls) / self.window_s,
        }

    def result(self) -> dict:
        if self.tracer:
            units = {**PER_LAYER, **QUERY_LAYER}
            metrics = {k: self.layer.get(k, 0.0) for k in units}
            metrics["trace.op_p50_ms"] = statistics.median(self.ok_walls()) * 1000.0
        else:
            metrics, units = self.end_to_end(), END_TO_END
        return {
            "correct": self.correct,
            "attempted": self.attempted,
            "failed": sum(1 for o in self.ops if not o["ok"]),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }

    def record(self) -> dict:
        return {"run": {
            "workload": self.workload, "seed": self.seed, "slots": self.slots,
            "trace": bool(self.tracer), "attempted": self.attempted,
            "failed": sum(1 for o in self.ops if not o["ok"]),
            "steal_s": round(sum(o["weather"]["steal_s"] for o in self.ops), 2),
            "load1": self.ops[-1]["weather"]["load1"],
            **self.wall_times(),
            "peak_rss_mb": sum(self.rss_by_command.values()),
            "peak_rss_mb_by_command": {k: round(v, 1)
                                       for k, v in self.rss_by_command.items()},
            "ops": [{"wall_s": round(o["end"] - o["start"], 3), "ok": o["ok"],
                     **o["weather"]} for o in [self.cold] + self.ops],
            "problems": self.problems,
        }}


# --- in-process session (etl_batch, curation_queries) ------------------------

def start_session(run: Run):
    os.environ.update(run.program_env())
    from etl_pipeline2_0_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark()
    t1 = time.perf_counter()
    spark.range(1).count()
    run.setup_s = time.perf_counter() - t0
    run.layer["session.get_spark_ms"] = (t1 - t0) * 1000.0
    return spark


def _wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until every pid has exited; kill what is left at the deadline."""
    deadline = time.time() + timeout
    for pid in pids:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait until both ended."""
    from pyspark import SparkContext

    children = [p for p in host.tree(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    _wait_gone(children, 30)


def measure_serial(run: Run, op) -> None:
    """Cold op, then ops until ``seconds`` have passed since it ended and
    the fixed work of ``CPU_OPS`` is done.  The checkers' own CPU
    (``check_cpu_s`` of each op) is not the program's and is left out."""
    skip, count = CPU_OPS[run.workload]
    before = host.cpu_ticks(os.getpid())
    run.cold = op(0)
    run.cold_cpu_s = (host.cpu_seconds_between(before, host.cpu_ticks(os.getpid()))
                      - run.cold["check_cpu_s"])
    for i in itertools.count(1):
        if i == skip + 1:
            before = host.cpu_ticks(os.getpid())
        run.ops.append(op(i))
        run.attempted += 1
        if i == skip + count:
            used = host.cpu_seconds_between(before, host.cpu_ticks(os.getpid()))
            run.cpu_s = used - sum(o["check_cpu_s"] for o in run.ops[skip:])
            run.cpu_ops = count
            run.rss_by_command = host.peak_rss_by_command(os.getpid())
        if i >= skip + count and time.time() - run.cold["end"] >= run.seconds:
            break
    run.window_s = run.ops[-1]["end"] - run.ops[0]["start"]


def timed(fn) -> dict:
    """Run ``fn`` and record wall time, host weather and any exception."""
    w0 = host.weather()
    start = time.time()
    try:
        value, error = fn(), None
    except Exception as e:  # the program failed this op; the run continues
        value, error = None, f"{type(e).__name__}: {str(e)[:300]}"
    end = time.time()
    return {"start": start, "end": end, "value": value, "error": error,
            "weather": host.weather_delta(w0, host.weather())}


def _dir_size(path: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return size, n


# --- workloads ---------------------------------------------------------------

def etl_batch(run: Run) -> None:
    in_dir = os.path.join(run.work, "input")
    ledger = gen.batch_corpus(run.seed, in_dir, ETL_FILES, ETL_BLOCKS_PER_FILE)
    bytes_in = _dir_size(in_dir)[0]
    spark = start_session(run)
    from etl_pipeline2_0_spark import pipeline

    if run.tracer:
        run.tracer.install_program_wrappers()

    def op(i: int) -> dict:
        out = os.path.join(run.work, f"out-{i}")
        with run.op_scope(i):
            rec = timed(lambda: pipeline.run_batch(
                spark, input_path=in_dir, out_dir=out, use_rowstore=True))
        check_t0 = time.thread_time()
        rec["id"] = i
        rec["ok"] = rec["error"] is None
        if rec["ok"]:
            items = rec["value"]["items_by_type"]
            outputs = check.read_batch_outputs(out)
            problems = check.check_batch(items, outputs, ledger)
            run.fail_check(problems)
            rec["ok"] = not problems
            if i == 0 and rec["ok"]:
                run.fail_check(check.self_check_batch(items, outputs, ledger))
            rec["written"] = _dir_size(out)
        else:
            run.problems.append(rec["error"])
        rec["value"] = None
        shutil.rmtree(out, ignore_errors=True)
        rec["check_cpu_s"] = time.thread_time() - check_t0
        return rec

    try:
        measure_serial(run, op)
    finally:
        stop_session(spark)
    if run.tracer:
        log = spans.read_eventlog(run.eventlog)
        summarise_spans(run, log, run.ops, _walls(run.ops))
        run.layer["sources.bytes_read"] = float(bytes_in)
        done = [o for o in run.ops if o.get("written")]
        if done:
            run.layer["load.bytes_written"] = statistics.mean(o["written"][0] for o in done)
            run.layer["load.files_written"] = statistics.mean(o["written"][1] for o in done)


def curation_queries(run: Run) -> None:
    tables = os.path.join(run.work, "tables")
    gen.curation_tables(run.seed, tables, TABLE_DOCS, TABLE_ORDERS)
    # DuckDB runs in a child process, so its memory stays out of this
    # process's peak resident set, which the run record reports.
    oracle = subprocess.run(
        [sys.executable, os.path.join(HERE, "check.py"), tables, str(run.slots), *QUERIES],
        cwd=ROOT, stdout=subprocess.PIPE, check=True, timeout=170)
    want = pickle.loads(oracle.stdout)
    from etl_pipeline2_0_spark.plans.registry import query_map

    spark = start_session(run)
    fns = query_map()

    def one_pass() -> dict:
        got, catalyst = {}, {}
        for q in QUERIES:
            with run.span(f"query.{q}.build"):
                df = fns[q](spark, tables)
            with run.span(f"query.{q}.action"):
                rows = df.collect()
            if run.tracer:
                catalyst[q] = catalyst_ms(df)
            got[q] = (df.columns, [tuple(r) for r in rows])
        return {"got": got, "catalyst": catalyst}

    def op(i: int) -> dict:
        with run.op_scope(i):
            rec = timed(one_pass)
        check_t0 = time.thread_time()
        rec["id"] = i
        rec["ok"] = rec["error"] is None
        if rec["ok"]:
            problems = []
            for q in QUERIES:
                got = check.canon_table(*rec["value"]["got"][q])
                problems += check.check_query(q, got, want[q])
                if i == 0:
                    run.fail_check(check.self_check_query(q, got))
            run.fail_check(problems)
            rec["ok"] = not problems
            rec["catalyst"] = rec["value"]["catalyst"]
        else:
            run.problems.append(rec["error"])
        rec["value"] = None
        rec["check_cpu_s"] = time.thread_time() - check_t0
        return rec

    try:
        measure_serial(run, op)
    finally:
        stop_session(spark)
    if run.tracer:
        log = spans.read_eventlog(run.eventlog)
        summarise_spans(run, log, run.ops, _walls(run.ops))
        for q in QUERIES:
            run.layer[f"query.{q}.catalyst_ms"] = statistics.mean(
                o["catalyst"][q] for o in run.ops if o.get("catalyst"))


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of the executed plan, from
    ``queryExecution().tracker()``."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _post(port: int, body: str) -> tuple[int, dict]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        conn.request("POST", "/process", body=body.encode("utf-8"),
                     headers={"Content-Type": "text/plain"})
        resp = conn.getresponse()
        raw = resp.read()
    finally:
        conn.close()
    try:
        return resp.status, json.loads(raw)
    except ValueError:
        return resp.status, {}


def _health(port: int) -> bool:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=5)
    try:
        conn.request("GET", "/health")
        return conn.getresponse().status == 200
    except OSError:
        return False
    finally:
        conn.close()


def http_process(run: Run) -> None:
    pool = gen.payloads(run.seed, HTTP_POOL + 1)
    port = _free_port()
    spans_path = os.path.join(run.work, "server_spans.json")
    if run.tracer:
        cmd = [sys.executable, os.path.join(HERE, "serve_traced.py"), spans_path]
    else:
        cmd = [sys.executable, "-m", "etl_pipeline2_0_spark", "serve"]
    cmd += ["--port", str(port)]
    env = run.program_env()
    log = open(os.path.join(run.work, "server.log"), "wb")
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=log, stderr=subprocess.STDOUT)
    try:
        while not _health(port):
            if proc.poll() is not None or time.perf_counter() - t0 > 170:
                raise RuntimeError("server did not come up; see server.log")
            time.sleep(0.05)
        run.setup_s = time.perf_counter() - t0
        _drive_http(run, port, pool, proc.pid)
    finally:
        pids = host.tree(proc.pid)
        proc.send_signal(signal.SIGINT)
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        _wait_gone(pids, 30)
        log.close()
    if run.tracer:
        with open(spans_path) as fh:
            server = json.load(fh)
        summarise_http(run, server, spans.read_eventlog(run.eventlog))


def _drive_http(run: Run, port: int, pool: list, pid: int) -> None:
    """The cold request, then whole rounds until ``seconds`` have passed.

    A round is HTTP_ROUND seeded payloads (two small, two large) sent by
    HTTP_CLIENTS closed-loop clients, then the dotted-key payload sent
    alone once they have all answered.  The metrics cover only the seeded
    requests of round 0, so the dotted-key request, which fails today,
    touches none of them."""
    def request(item) -> dict:
        body, ledger, dotted = item
        rec = timed(lambda: _post(port, body))
        rec["ok"] = rec["error"] is None
        rec["dotted"] = dotted
        if rec["ok"]:
            status, resp = rec["value"]
            problems = check.check_response(status, resp, ledger, dotted)
            rec["ok"] = not problems
            if problems and status == 200:
                run.fail_check(problems)
            elif problems and not dotted:
                run.problems.extend(problems[:1])
            rec["rows"] = len(resp.get("data", []))
            rec["resp"] = resp
        else:
            run.problems.append(rec["error"])
        return rec

    def send_all(items: list) -> None:
        lock = threading.Lock()
        todo = list(items)

        def client() -> None:
            while True:
                with lock:
                    if not todo:
                        return
                    item = todo.pop(0)
                rec = request(item)
                rec.pop("resp", None)
                rec["value"] = None
                with lock:
                    run.ops.append(rec)

        threads = [threading.Thread(target=client) for _ in range(HTTP_CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    cold, seeded = pool[-1], pool[:-1]
    before = host.cpu_ticks(pid)
    run.cold = request((*cold, False))
    run.cold_cpu_s = host.cpu_seconds_between(before, host.cpu_ticks(pid))
    if run.cold["ok"]:
        run.fail_check(check.self_check_response(run.cold["resp"], cold[1]))
    else:
        run.fail_check([f"cold request failed: {run.problems[-1:]}"])
    run.cold.pop("resp", None)

    dotted = (gen.DOTTED_PAYLOAD, gen.dotted_ledger(), True)
    for r in itertools.count():
        items = [(*seeded[(r * HTTP_ROUND + k) % len(seeded)], False)
                 for k in range(HTTP_ROUND)]
        before = host.cpu_ticks(pid)
        t0 = time.time()
        send_all(items)
        run.window_s += time.time() - t0
        if r == 0:
            run.cpu_s = host.cpu_seconds_between(before, host.cpu_ticks(pid))
            run.cpu_ops = HTTP_ROUND
            run.rss_by_command = host.peak_rss_by_command(pid)
        send_all([dotted])
        run.attempted += HTTP_ROUND + 1
        if time.time() - run.cold["end"] >= run.seconds:
            break
    run.ops.sort(key=lambda o: o["start"])


# --- per-layer summaries (traced runs) ---------------------------------------

def _mean_per_op(values_by_op: dict, op_ids: list) -> float:
    return sum(values_by_op.get(o, 0.0) for o in op_ids) / max(1, len(op_ids))


def summarise_spans(run: Run, log: dict, ops: list[dict],
                    walls: list[tuple[float, float]]) -> None:
    """Per-layer metrics from the spans of ``ops`` (ids are the tracer's op
    ids) and the event log; ``walls`` are the ops' wall-clock intervals as
    their caller saw them."""
    op_ids = [o["id"] for o in ops]
    want = set(op_ids)
    mine = [s for s in run.tracer.spans if s["op"] in want]
    ms: dict[str, dict] = {}
    jobs: dict[str, dict] = {}
    for s in mine:
        dur = (s["end"] - s["start"]) * 1000.0
        d = ms.setdefault(s["name"], {})
        d[s["op"]] = d.get(s["op"], 0.0) + dur
        j = jobs.setdefault(s["name"], {})
        j[s["op"]] = j.get(s["op"], 0) + spans.jobs_under(log, run.tracer.spans, s)
        if s["name"] in ("pipeline.run_batch", "api.process_payload"):
            d = ms.setdefault(s["name"] + "_self", {})
            d[s["op"]] = d.get(s["op"], 0.0) + spans.self_ms(run.tracer.spans, s)
    for name, by_op in ms.items():
        if name.startswith("query."):
            q, part = name[6:].rsplit(".", 1)
            run.layer[f"query.{q}.{part}_ms"] = _mean_per_op(by_op, op_ids)
        elif f"{name}_ms" in PER_LAYER:
            run.layer[f"{name}_ms"] = _mean_per_op(by_op, op_ids)
    for layer, span_name in (("extract", "extract.extract_records"),
                             ("schema_report", "schema_report.infer_schema_report"),
                             ("pipeline", "pipeline.run_batch"),
                             ("load", "load.load_outputs")):
        run.layer[f"{layer}.jobs"] = _mean_per_op(jobs.get(span_name, {}), op_ids)
    for q in QUERIES:
        build = jobs.get(f"query.{q}.build", {})
        action = jobs.get(f"query.{q}.action", {})
        run.layer[f"query.{q}.jobs_at_build"] = _mean_per_op(build, op_ids)
        run.layer[f"query.{q}.jobs"] = (_mean_per_op(build, op_ids)
                                        + _mean_per_op(action, op_ids))
    run.layer.update(spans.spark_per_op(log, run.tracer.spans, ops, walls))


def _walls(ops: list[dict]) -> list[tuple[float, float]]:
    return [(o["start"], o["end"]) for o in ops]


def summarise_http(run: Run, server: dict, log: dict) -> None:
    """Per-layer metrics of the traced server: its spans come from the
    server process; an op is one ``process_payload`` call there for a
    seeded payload (the dotted-key requests, each sent alone, are left
    out)."""
    run.tracer.spans = server["spans"]
    if "session.get_spark_ms" in server:
        run.layer["session.get_spark_ms"] = server["session.get_spark_ms"]
    seeded = [o for o in run.ops if not o["dotted"]]
    dotted = [(o["start"], o["end"]) for o in run.ops if o["dotted"]]
    first = min(o["start"] for o in run.ops)
    roots = [s for s in server["spans"]
             if s["name"] == "api.process_payload" and s["start"] >= first
             and not any(a <= s["start"] <= b for a, b in dotted)]
    ops = [{"id": s["op"], "start": s["start"], "end": s["end"]} for s in roots]
    summarise_spans(run, log, ops, _walls(seeded))
    run.layer["sources.bytes_read"] = statistics.mean(
        len(b.encode()) for b, _ in gen.payloads(run.seed, HTTP_POOL + 1)[:-1])
    ok = [o for o in seeded if o["ok"]]
    run.layer["api.rows_out"] = statistics.mean(o["rows"] for o in ok) if ok else 0.0
    client_ms = statistics.mean((o["end"] - o["start"]) * 1000.0 for o in seeded)
    server_ms = statistics.mean((s["end"] - s["start"]) * 1000.0 for s in roots)
    run.layer["server.overhead_ms"] = client_ms - server_ms


WORKLOADS = {
    "etl_batch": etl_batch,
    "http_process": http_process,
    "curation_queries": curation_queries,
}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "etl_pipeline2_0_spark", "__init__.py")):
        print(f"perfbench: the program is missing under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run = Run(args)
    os.makedirs(run.work, exist_ok=True)
    try:
        WORKLOADS[args.workload](run)
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
    if not run.ops:
        print("perfbench: no op was measured", file=sys.stderr)
        return 1
    print(json.dumps(run.record()))
    print(json.dumps(run.result()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
