"""Seeded input generators and the ledgers the checkers compare against.

Every generator takes a ``random.Random`` (or a seed) and returns the inputs
the program receives plus a ledger of what was planted.  The ledger is
computed here, from the planting itself, following the engine's documented
record semantics (``operators/detect.py``, ``operators/extract.py``):

- one ``<html><body><p>…</p></body></html>`` block yields 3 html records
  (the html, body and p patterns each match once);
- each JSON object yields 1 json record; a ``type`` key is overwritten by
  the engine tag, nested objects flatten to ``parent_child`` columns;
- each plain-text line longer than 5 characters yields 1 text record;
- a base64 data-URI line yields 1 media record and, because only html and
  json blocks are removed before the residual-text split, 1 text record.

Blocks are unique within a document (every block carries a serial number),
because detection de-duplicates identical blocks per document.
"""

from __future__ import annotations

import base64
import json
import os
import random
from datetime import datetime, timedelta

WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark a "
    "the line sort window data column order join small customer query big "
    "stream group filter vector"
).split()

# JSON shapes: flat, nested (depth 2, the detector's limit) and with arrays.
# Key names are unique across shapes so no key is widened to another type.
# Each field: (kind, maker) where kind is the frontend tag the API reports.
_SCHEMAS = {
    "user": {
        "id": "int", "name": "str", "age": "int", "active": "bool",
        "type": "str",
    },
    "order": {
        "order_id": "int", "amount": "float", "items": "list",
        "customer": {"city": "str", "zip": "int"},
    },
    "metric": {
        "sensor": "str", "reading": "float", "labels": "list",
        "geo": {"lat": "float", "lon": "float"},
    },
    "event": {
        "event": "str", "ts": "int",
        "payload": {"bytes": "int", "ok": "bool"},
    },
}
SCHEMA_NAMES = sorted(_SCHEMAS)
_TAG = {"int": "number", "float": "number", "str": "string", "bool": "boolean",
        "list": "array"}

# A payload whose JSON keys contain a dot.  It does not depend on the seed:
# every request that carries it fails today (normalize_union selects the
# flattened name unquoted, so ``user.id`` resolves as a struct path).
DOTTED_PAYLOAD = (
    '{"user.id": 41, "name": "dotted key one"}\n'
    '{"user.id": 42, "name": "dotted key two"}\n'
    "a plain line that follows the dotted records\n"
)


def _value(rng: random.Random, kind: str, serial: int):
    if kind == "int":
        return rng.randint(0, 100000)
    if kind == "float":
        return round(rng.uniform(-500.0, 5000.0), 2)
    if kind == "str":
        return f"{rng.choice(WORDS)} {rng.choice(WORDS)} {serial}"
    if kind == "bool":
        return rng.random() < 0.5
    return [rng.choice(WORDS) for _ in range(rng.randint(1, 4))]


def _json_object(rng: random.Random, schema: str, serial: int) -> tuple[dict, dict]:
    """One JSON record and its flattened leaves ``{column: (kind, value)}``.

    Each top-level field is dropped with probability 0.2 (the first field
    always stays, so the object is never empty), so ``present_in`` differs
    per key."""
    obj: dict = {}
    leaves: dict = {}
    for i, (k, kind) in enumerate(_SCHEMAS[schema].items()):
        if i > 0 and rng.random() < 0.2:
            continue
        if isinstance(kind, dict):
            sub = {}
            for sk, skind in kind.items():
                sub[sk] = _value(rng, skind, serial)
                leaves[f"{k}_{sk}"] = (skind, sub[sk])
            obj[k] = sub
        else:
            # The first field carries the serial: objects stay unique.
            obj[k] = serial if i == 0 and kind == "int" else _value(rng, kind, serial)
            if k != "type":
                leaves[k] = (kind, obj[k])
    return obj, leaves


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


class Ledger:
    """What a generated document set should produce."""

    def __init__(self) -> None:
        self.records = {"html": 0, "json": 0, "text": 0, "media": 0}
        self.key_counts: dict[str, int] = {}
        self.key_kinds: dict[str, str] = {}
        self.sums: dict[str, float] = {}

    def add_json(self, leaves: dict) -> None:
        self.records["json"] += 1
        for col, (kind, v) in leaves.items():
            self.key_counts[col] = self.key_counts.get(col, 0) + 1
            self.key_kinds[col] = kind
            if kind in ("int", "float"):
                self.sums[col] = self.sums.get(col, 0) + v

    @property
    def total(self) -> int:
        return sum(self.records.values())

    def expected_tags(self) -> dict[str, str]:
        return {k: _TAG[kind] for k, kind in self.key_kinds.items()}

    def to_dict(self) -> dict:
        return {"records": dict(self.records), "total": self.total,
                "key_counts": dict(self.key_counts), "sums": dict(self.sums),
                "tags": self.expected_tags()}


def document(rng: random.Random, n_blocks: int, ledger: Ledger, serial0: int = 0,
             schemas: list[str] | None = None) -> str:
    """One mixed-format document of ``n_blocks`` blocks, one per line."""
    schemas = schemas or SCHEMA_NAMES
    lines = []
    for i in range(n_blocks):
        serial = serial0 + i
        r = rng.random()
        if r < 0.45:
            obj, leaves = _json_object(rng, rng.choice(schemas), serial)
            lines.append(json.dumps(obj))
            ledger.add_json(leaves)
        elif r < 0.65:
            lines.append(
                f"<html><body><p>{_words(rng, 4, 30)} n{serial}</p></body></html>"
            )
            ledger.records["html"] += 3
        elif r < 0.9:
            lines.append(f"line {serial} {_words(rng, 3, 25)}")
            ledger.records["text"] += 1
        else:
            mime = rng.choice(["image/png", "image/jpeg", "text/plain"])
            raw = serial.to_bytes(4, "big") + rng.randbytes(rng.randint(20, 120))
            lines.append(f"data:{mime};base64,{base64.b64encode(raw).decode()}")
            ledger.records["media"] += 1
            ledger.records["text"] += 1
    return "\n".join(lines) + "\n"


def dotted_ledger() -> Ledger:
    """What ``DOTTED_PAYLOAD`` should produce once dotted keys work: its
    rows per kind (its keys' column names are left to the fix)."""
    ledger = Ledger()
    ledger.records.update(json=2, text=1)
    return ledger


def batch_corpus(seed: int, out_dir: str, n_files: int, blocks_per_file: int) -> Ledger:
    """The ``etl_batch`` input: ``n_files`` mixed-format files in ``out_dir``."""
    rng = random.Random(f"etl-{seed}")
    ledger = Ledger()
    os.makedirs(out_dir, exist_ok=True)
    for f in range(n_files):
        text = document(rng, blocks_per_file, ledger, serial0=f * blocks_per_file)
        with open(os.path.join(out_dir, f"part-{f:03d}.txt"), "w", encoding="utf-8") as fh:
            fh.write(text)
    return ledger


def payloads(seed: int, n: int) -> list[tuple[str, Ledger]]:
    """``http_process`` bodies: sizes from hundreds of bytes to tens of KB and
    a different random subset of JSON shapes per body, so consecutive
    requests infer different schemas.  Even-numbered bodies are small (2 to
    22 blocks) and odd-numbered ones large (90 to 256), so any four
    consecutive bodies hold two of each, whatever the seed."""
    rng = random.Random(f"http-{seed}")
    out = []
    for i in range(n):
        ledger = Ledger()
        lo, hi = (1.5, 4.5) if i % 2 == 0 else (6.5, 8.0)
        n_blocks = int(2 ** rng.uniform(lo, hi))
        shapes = rng.sample(SCHEMA_NAMES, rng.randint(1, len(SCHEMA_NAMES)))
        body = document(rng, n_blocks, ledger, schemas=shapes)
        out.append((body, ledger))
    return out


# --- curation tables ---------------------------------------------------------

def _write_parquet(path: str, columns: dict, schema) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(columns, schema=schema), path)


def curation_tables(seed: int, out_dir: str, n_docs: int, n_orders: int) -> None:
    """TPC-H-shaped ``customer``/``orders``/``lineitem`` and a ``documents``
    corpus (word soup over a 31-word vocabulary with planted near-duplicates),
    in the column layout the registry queries read."""
    import pyarrow as pa

    rng = random.Random(f"tables-{seed}")
    os.makedirs(out_dir, exist_ok=True)

    texts: list[str] = []
    for i in range(n_docs):
        if texts and rng.random() < 0.15:  # near-duplicate of an earlier doc
            words = rng.choice(texts).split(" ")
            for _ in range(rng.randint(0, 3)):
                words[rng.randrange(len(words))] = rng.choice(WORDS)
            texts.append(" ".join(words))
        else:
            texts.append(_words(rng, 20, 90))
    _write_parquet(
        os.path.join(out_dir, "documents.parquet"),
        {
            "doc_id": list(range(n_docs)),
            "text": texts,
            "lang": [rng.choice(["en", "de", "fr", "es", "zh"]) for _ in texts],
            "source": [f"src{rng.randrange(20)}" for _ in texts],
            "n_chars": [len(t) for t in texts],
        },
        pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                   ("lang", pa.string()), ("source", pa.string()),
                   ("n_chars", pa.int64())]),
    )

    n_cust = max(10, n_orders // 10)
    segments = ["HOUSEHOLD", "BUILDING", "MACHINERY", "AUTOMOBILE", "FURNITURE"]
    _write_parquet(
        os.path.join(out_dir, "customer.parquet"),
        {
            "c_custkey": list(range(n_cust)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": [rng.randrange(25) for _ in range(n_cust)],
            "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)],
            "c_mktsegment": [rng.choice(segments) for _ in range(n_cust)],
        },
        pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                   ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                   ("c_mktsegment", pa.string())]),
    )

    day0 = datetime(1995, 1, 1)
    o_date = [day0 + timedelta(days=rng.randrange(2400)) for _ in range(n_orders)]
    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate")}
    totals = []
    for o in range(n_orders):
        total = 0.0
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            price = round(qty * rng.uniform(900.0, 2100.0), 2)
            total += price
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(2000))
            li["l_suppkey"].append(rng.randrange(100))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(price)
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(o_date[o] + timedelta(days=rng.randint(1, 120)))
        totals.append(round(total, 2))
    ts = pa.timestamp("us")
    _write_parquet(
        os.path.join(out_dir, "orders.parquet"),
        {
            "o_orderkey": list(range(n_orders)),
            "o_custkey": [rng.randrange(n_cust) for _ in range(n_orders)],
            "o_orderstatus": [rng.choice("FOP") for _ in range(n_orders)],
            "o_totalprice": totals,
            "o_orderdate": o_date,
            "o_orderpriority": [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                            "4-NOT SPECIFIED", "5-LOW"])
                                for _ in range(n_orders)],
        },
        pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                   ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                   ("o_orderdate", ts), ("o_orderpriority", pa.string())]),
    )
    _write_parquet(
        os.path.join(out_dir, "lineitem.parquet"),
        li,
        pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                   ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                   ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                   ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                   ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                   ("l_shipdate", ts)]),
    )
