"""HTTP-API-layer parity (reference entry point 2, SURVEY.md §3).

The reference's Flask handler (app.py:51-140) is: payload → pipeline →
per-column frontend type tags (app.py:79-94) → row-wise JSON-safe
serialization (NaN→null, lists passed through, app.py:100-121) → response
``{success, data, types}``; blank payloads are rejected (app.py:61-62).

The HTTP framing itself is out of engine scope (SURVEY.md §7 non-goals);
``process_payload`` is the complete handler body, callable from any web
layer.  It runs the pipeline once, through ``run_batch``: the ordered rows
are collected inside the run, while its one persisted frame is still
cached, and the type tags are read from the output schema alone, which
starts no job.  The payload's frame is built in the JVM and run in one
partition: a request runs no Python worker and no exchange.  Unlike the
reference it is driver-light: the only collected object is the final
normalized table of ONE payload (bounded by payload size, the same object
the reference holds in pandas), not any intermediate.
"""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import SparkSession

from etl_pipeline2_0_spark.operators.normalize import sorted_output
from etl_pipeline2_0_spark.operators.schema_report import frontend_type_tags
from etl_pipeline2_0_spark.pipeline import run_batch


def _json_safe(v: Any) -> Any:
    """NaN/Inf → None; arrays → lists; everything else passes through
    (app.py:100-121 semantics)."""
    if v is None:
        return None
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return None
    if isinstance(v, (list, tuple)):
        return [_json_safe(x) for x in v]
    return v


def process_payload(spark: SparkSession, payload: str) -> dict[str, Any]:
    """The reference's ``POST /process`` body, minus Flask.

    Returns ``{"success": True, "data": [row dicts], "types": {col: tag},
    "schema": report}`` or ``{"success": False, "error": ...}`` for blank
    input (the 400 path).
    """
    if payload is None or not payload.strip():
        return {"success": False, "error": "Empty input data"}
    result = run_batch(spark, payloads=[payload])
    types = frontend_type_tags(sorted_output(result["normalized"]))
    data = [
        {k: _json_safe(v) for k, v in row.asDict(recursive=True).items()}
        for row in result["rows"]
    ]
    return {
        "success": True,
        "data": data,
        "types": types,
        "schema": result["schema"],
    }
