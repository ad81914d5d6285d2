#!/usr/bin/env python3
"""Run the benchmark once per seed and summarise the spread of each metric.

    python3 perfbench/report.py --workload etl_batch --seeds 1-10 --trace 0

For every metric, and for the wall-time figures of the run record
(``record.*``), it prints the median, the first and third quartiles
(``statistics.quantiles(values, n=4)``) and their distance as a share of
the median.  For every run it prints the failed/attempted ops, the CPU
steal and load average seen, and the run's own wall time.  The raw run
lines go to ``--out`` when it is given.

    python3 perfbench/report.py --compare first.jsonl second.jsonl

compares two such sets of runs: for every end-to-end metric, each set's
median and the second's change as a share of the first, next to the
metric's bound; and each set's share of failed ops.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out")
    p.add_argument("--compare", nargs=2, metavar="JSONL")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.compare:
        return compare(bench, *args.compare)
    if not args.workload:
        p.error("--workload is required")
    seconds = bench["run_seconds"]
    values: dict[str, list[float]] = {}
    out = open(args.out, "a") if args.out else None
    for seed in _seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        run_s = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        record, result = json.loads(lines[-2])["run"], json.loads(lines[-1])
        if out:
            out.write(json.dumps({"record": record, "result": result}) + "\n")
            out.flush()
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        for k in ("cold_op_s", "op_p50_ms", "ops_per_s", "peak_rss_mb", "steal_s"):
            values.setdefault(f"record.{k}", []).append(record[k])
        print(f"seed {seed}: correct={result['correct']} "
              f"failed/attempted={result['failed']}/{result['attempted']} "
              f"steal_s={record['steal_s']} load1={record['load1']} "
              f"cold_steal_s={record['ops'][0]['steal_s']} run_s={run_s:.1f}", flush=True)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    print(f"{'metric':44} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8} bound")
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        med = statistics.median(vs)
        spread = (q3 - q1) / med if med else 0.0
        print(f"{k:44} {med:12.4g} {q1:12.4g} {q3:12.4g} {spread:8.3f} {bounds.get(k) or ''}")
    return 0


def compare(bench: dict, first: str, second: str) -> int:
    sets = []
    for path in (first, second):
        with open(path) as fh:
            sets.append([json.loads(line) for line in fh if line.strip()])
    print(f"{'metric':24} {'median 1':>12} {'median 2':>12} {'change':>8} bound")
    for m in bench["end_to_end"]:
        a, b = (statistics.median(r["result"]["metrics"][m["name"]]["value"] for r in runs)
                for runs in sets)
        change = (b - a) / a if m["better"] == "lower" else (a - b) / a
        print(f"{m['name']:24} {a:12.4g} {b:12.4g} {change:+8.3f} {m['bound']}")
    for i, runs in enumerate(sets, 1):
        failed = sum(r["result"]["failed"] for r in runs)
        attempted = sum(r["result"]["attempted"] for r in runs)
        print(f"set {i}: failed/attempted {failed}/{attempted}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
