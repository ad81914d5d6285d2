"""Checkers that work apart from the program.

``etl_batch`` and ``http_process`` outputs are compared with the generator's
ledger; ``curation_queries`` results cell for cell with DuckDB running each
query's SQL twin.  Each checker returns a list of problems (empty = correct).
Each has a self-check that feeds it a planted wrong answer built from a real
good one and confirms that the checker rejects it.

    python3 perfbench/check.py <tables dir> <threads> <query>...

writes the pickled DuckDB answers of the named queries to stdout.
"""

from __future__ import annotations

import copy
import csv
import glob
import json
import math
import os
import pickle
import sys
from decimal import Decimal

from gen import Ledger


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


# --- etl_batch ---------------------------------------------------------------

def read_batch_outputs(out_dir: str) -> dict:
    """Everything ``check_batch`` reads from a ``run_batch`` output directory,
    read with the standard library and pyarrow only."""
    import pyarrow.parquet as pq

    parts = sorted(glob.glob(os.path.join(out_dir, "cleaned_output", "*.csv")))
    rows = []
    for p in parts:
        with open(p, newline="", encoding="utf-8") as fh:
            rows.extend(csv.DictReader(fh, escapechar="\\"))
    with open(os.path.join(out_dir, "processing_metadata.json")) as fh:
        metadata = json.load(fh)
    with open(os.path.join(out_dir, "dynamic_schema.json")) as fh:
        schema = json.load(fh)
    rowstore = sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in glob.glob(
            os.path.join(out_dir, "rowstore", "processed_data", "*", "*.parquet")
        )
    )
    return {"csv_rows": rows, "metadata": metadata, "schema": schema,
            "rowstore_rows": rowstore}


def check_batch(items_by_type: dict, outputs: dict, ledger: Ledger) -> list[str]:
    problems = []
    want_types = {k: v for k, v in ledger.records.items() if v}
    if items_by_type != want_types:
        problems.append(f"items_by_type {items_by_type} != {want_types}")
    md = outputs["metadata"]
    if md.get("total_items") != ledger.total:
        problems.append(f"metadata total_items {md.get('total_items')} != {ledger.total}")
    if md.get("items_by_type") != want_types:
        problems.append("metadata items_by_type differs from the ledger")
    rows = outputs["csv_rows"]
    if len(rows) != ledger.total:
        problems.append(f"csv rows {len(rows)} != {ledger.total}")
    if any(r.get("total_items") != str(ledger.total) for r in rows):
        problems.append("csv total_items differs from the row count")
    by_type: dict[str, int] = {}
    for r in rows:
        by_type[r.get("type")] = by_type.get(r.get("type"), 0) + 1
    if by_type != want_types:
        problems.append(f"csv rows per type {by_type} != {want_types}")
    for key, want in ledger.sums.items():
        got = sum(float(r[key]) for r in rows if r.get(key))
        if not _close(got, want):
            problems.append(f"csv sum({key}) {got} != {want}")
    schema = outputs["schema"]
    want_keys = set(ledger.key_counts) | {"type", "source_index", "title", "word_count"}
    if set(schema) != want_keys:
        problems.append(f"schema keys {sorted(set(schema) ^ want_keys)} differ")
    for key, n in ledger.key_counts.items():
        got = schema.get(key, {}).get("present_in")
        if got != n:
            problems.append(f"schema present_in[{key}] {got} != {n}")
    if outputs["rowstore_rows"] != ledger.total:
        problems.append(f"rowstore rows {outputs['rowstore_rows']} != {ledger.total}")
    return problems


def self_check_batch(items_by_type: dict, outputs: dict, ledger: Ledger) -> list[str]:
    """Plant wrong answers into a good result; each must be rejected."""
    bad_items = dict(items_by_type)
    bad_items["json"] = bad_items.get("json", 0) + 1
    bad_outputs = copy.deepcopy(outputs)
    key = next(iter(ledger.sums))
    for r in bad_outputs["csv_rows"]:
        if r.get(key):
            r[key] = str(float(r[key]) + 1)
            break
    bad_schema = copy.deepcopy(outputs)
    bad_schema["schema"][key]["present_in"] += 1
    trials = {
        "items_by_type": check_batch(bad_items, outputs, ledger),
        "csv sum": check_batch(items_by_type, bad_outputs, ledger),
        "present_in": check_batch(items_by_type, bad_schema, ledger),
    }
    return [f"batch checker accepted a wrong {k}" for k, p in trials.items() if not p]


# --- http_process ------------------------------------------------------------

def check_response(status: int, body: dict, ledger: Ledger, dotted: bool) -> list[str]:
    if status != 200 or not body.get("success"):
        return [f"status {status}: {str(body.get('error'))[:200]}"]
    problems = []
    data = body.get("data", [])
    if len(data) != ledger.total:
        problems.append(f"rows {len(data)} != {ledger.total}")
    if any(r.get("total_items") != ledger.total for r in data):
        problems.append("total_items differs from the row count")
    by_type: dict[str, int] = {}
    for r in data:
        by_type[r.get("type")] = by_type.get(r.get("type"), 0) + 1
    want_types = {k: v for k, v in ledger.records.items() if v}
    if by_type != want_types:
        problems.append(f"rows per type {by_type} != {want_types}")
    if not dotted:
        types = body.get("types", {})
        for key, tag in ledger.expected_tags().items():
            if types.get(key) != tag:
                problems.append(f"type tag of {key}: {types.get(key)} != {tag}")
    return problems


def self_check_response(body: dict, ledger: Ledger) -> list[str]:
    short = dict(body, data=body["data"][1:])
    retagged = dict(body, types={k: "string" if v != "string" else "number"
                                 for k, v in body["types"].items()})
    out = []
    if not check_response(200, short, ledger, False):
        out.append("http checker accepted a response with a row missing")
    if ledger.key_kinds and not check_response(200, retagged, ledger, False):
        out.append("http checker accepted wrong type tags")
    if not check_response(500, body, ledger, False):
        out.append("http checker accepted a 500")
    return out


# --- curation_queries --------------------------------------------------------

def canon_cell(v):
    """Type-aware canonical cell: 1 (int) and 1.0 (float) stay different."""
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        return None if math.isnan(v) else ("f", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, Decimal):
        return ("d", v.normalize())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(canon_cell(x) for x in v))
    if isinstance(v, dict):
        return ("m", tuple(sorted((k, canon_cell(x)) for k, x in v.items())))
    return ("o", repr(v))


def canon_table(columns: list[str], rows: list) -> tuple:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted(
        (tuple(canon_cell(r[i]) for i in order) for r in rows), key=repr
    )
    return tuple(columns[i] for i in order), body


def oracle_answers(tables: str, queries: list[str], threads: int) -> dict:
    """Each query's canonical answer from DuckDB running its SQL twin over
    the parquet tables in ``tables``."""
    import duckdb
    from etl_pipeline2_0_spark.plans.registry import oracle_sql_map

    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for f in sorted(os.listdir(tables)):
        con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{tables}/{f}')")
    sqls = oracle_sql_map()
    want = {}
    for q in queries:
        rel = con.sql(sqls[q])
        want[q] = canon_table(rel.columns, rel.fetchall())
    con.close()
    return want


def check_query(name: str, got: tuple, want: tuple) -> list[str]:
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return [f"{name}: columns {gc} != {wc}"]
    if len(gr) != len(wr):
        return [f"{name}: {len(gr)} rows != {len(wr)}"]
    bad = [i for i, (a, b) in enumerate(zip(gr, wr)) if a != b]
    if bad:
        return [f"{name}: row {bad[0]} {gr[bad[0]]} != {wr[bad[0]]}"]
    return []


def self_check_query(name: str, got: tuple) -> list[str]:
    cols, rows = got
    out = []
    if not rows:
        return out
    # 1 vs 1.0: the same number with another type must be rejected.
    retyped = []
    for row in rows:
        r = list(row)
        for i, c in enumerate(r):
            if c and c[0] == "i":
                r[i] = ("f", float(c[1]))
                break
            if c and c[0] == "f":
                r[i] = ("i", int(c[1])) if c[1] == int(c[1]) else ("f", c[1] + 1)
                break
        retyped.append(tuple(r))
    if retyped != rows and not check_query(name, got, (cols, retyped)):
        out.append(f"query checker accepted a retyped cell in {name}")
    if not check_query(name, got, (cols, rows[1:])):
        out.append(f"query checker accepted a missing row in {name}")
    return out


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    tables, threads, *queries = sys.argv[1:]
    sys.stdout.buffer.write(pickle.dumps(oracle_answers(tables, queries, int(threads))))
