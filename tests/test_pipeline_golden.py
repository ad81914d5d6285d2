"""End-to-end golden tests: the full pipeline on the F-MIX fixture."""

from __future__ import annotations

import csv
import glob
import json
import os
import re
import uuid

from etl_pipeline2_0_spark.api import process_payload
from etl_pipeline2_0_spark.operators.detect import detect_blocks
from etl_pipeline2_0_spark.operators.extract import KIND_ORDER, extract_records
from etl_pipeline2_0_spark.operators.normalize import sorted_output, union_by_name
from etl_pipeline2_0_spark.operators.schema_report import (
    frontend_type_tags,
    infer_schema_report,
)
from etl_pipeline2_0_spark.pipeline import _extracted, count_by_type, run_batch
from etl_pipeline2_0_spark.sources.documents import (
    documents_from_strings,
    read_documents,
)
from tests.conftest import (
    EXPECTED_DATA_FIELDS,
    EXPECTED_ROWS,
    EXPECTED_TABLE_COLUMNS,
)


def test_golden_end_to_end(spark, golden_doc):
    result = run_batch(spark, payloads=[golden_doc])
    normalized = result["normalized"]
    rows = normalized.collect()
    assert len(rows) == EXPECTED_ROWS  # 3 html + 9 json + 15 text
    assert result["items_by_type"] == {"html": 3, "json": 9, "text": 15}
    # Universal columns + lexicographic data columns (P3), after provenance.
    cols = [c for c in normalized.columns if c not in ("doc_id", "ordinal")]
    assert cols == EXPECTED_TABLE_COLUMNS
    # W1/F9: every row carries the global count as a bigint.
    assert {r["total_items"] for r in rows} == {EXPECTED_ROWS}


def test_golden_display_order(spark, golden_doc):
    result = run_batch(spark, payloads=[golden_doc])
    ordered = sorted_output(result["normalized"]).collect()
    kinds = [r["type"] for r in ordered]
    # O1: html block precedes json precedes text.
    assert kinds == ["html"] * 3 + ["json"] * 9 + ["text"] * 15
    # W2: source_index is the per-kind detection ordinal.
    assert [r["source_index"] for r in ordered[:3]] == ["html_0", "html_1", "html_2"]
    assert ordered[3]["source_index"] == "json_0"
    assert ordered[-1]["source_index"] == "text_14"


def test_golden_schema_report(spark, golden_doc):
    docs = spark.createDataFrame([("d0", golden_doc)], "doc_id string, content string")
    report = run_batch(spark, docs=docs)["schema"]
    # 18 fields: type, source_index, title, word_count + 14 data fields
    assert len(report) == 18
    assert set(EXPECTED_DATA_FIELDS) <= set(report)
    assert "title" in report and "word_count" in report  # pre-drop quirk (S6)
    # F-EMP fields: present in exactly the 3 employee records, nullable
    # because other records lack them.
    assert report["employee_id"]["present_in"] == 3
    assert report["employee_id"]["nullable"] is True
    assert report["employee_id"]["type"] == ["int"]
    assert report["completion"]["type"] == ["float"]
    assert report["name"]["type"] == ["str"]
    # Engine columns present in every record.
    assert report["type"]["present_in"] == EXPECTED_ROWS
    assert report["type"]["nullable"] is False


def test_schema_dynamism(spark):
    # The browser tests' key property: differently-shaped payloads must
    # yield different inferred schemas (diagnostic.html:88-92).
    prod = (
        '{"product_name": "Laptop", "price": 1299.99, "in_stock": true,'
        ' "categories": ["electronics", "computers"], "rating": 4.5}'
    )
    user = '{"name": "Alice", "age": 30, "active": true}'
    r1 = run_batch(spark, payloads=[prod])
    r2 = run_batch(spark, payloads=[user])
    assert set(r1["normalized"].columns) != set(r2["normalized"].columns)
    # F-PROD arrays stay arrays (never stringified) and tag as 'array'.
    tags = frontend_type_tags(r1["normalized"])
    assert tags["categories"] == "array"
    assert tags["price"] == "number"
    assert tags["in_stock"] == "boolean"


def test_nested_flatten(spark):
    # F-NEST: nested dicts flatten with `_` separator; arrays preserved.
    # Depth-2 object (the detector's JSON pattern only matches whole objects
    # up to depth 2 — SURVEY.md §7 wrinkle 5).
    doc = '{"a": {"b": 1, "tags": ["x", "y"]}, "d": "s"}'
    result = run_batch(spark, payloads=[doc])
    row = result["normalized"].first()
    assert row["a_b"] == 1
    assert list(row["a_tags"]) == ["x", "y"]
    assert row["d"] == "s"


def test_deep_flatten_direct(spark):
    # E8 flatten recurses to any depth when applied to an already-parsed
    # struct column (arrays stop recursion).
    from etl_pipeline2_0_spark.operators.extract import flatten_struct_columns

    df = spark.sql(
        "select named_struct('b', named_struct('c', 1), 'tags', array('x','y')) as a, 's' as d"
    )
    flat = flatten_struct_columns(df)
    assert flat.columns == ["a_b_c", "a_tags", "d"]
    assert flat.first()["a_b_c"] == 1


def test_depth3_json_matches_inner_object(spark):
    # Faithful wrinkle-5 semantics: a depth-3 object is not matched whole;
    # the inner depth-2 object is extracted and the husk becomes text.
    doc = '{"a": {"b": {"c": 1}, "tags": ["x", "y"]}, "d": "s"}'
    result = run_batch(spark, payloads=[doc])
    assert result["items_by_type"] == {"json": 1, "text": 1}
    row = result["normalized"].where("type = 'json'").first()
    assert row["b_c"] == 1


def test_engine_column_collision(spark):
    # A JSON `type` key is overwritten by the engine tag (reference
    # semantics: record['type'] = 'json' post-flatten).
    doc = '{"maintenance_id": "M001", "type": "scheduled", "impact": "high"}'
    result = run_batch(spark, payloads=[doc])
    row = result["normalized"].first()
    assert row["type"] == "json"
    assert row["maintenance_id"] == "M001"


def test_sinks_roundtrip(spark, golden_doc, tmp_path):
    out = str(tmp_path / "out")
    result = run_batch(
        spark, payloads=[golden_doc], out_dir=out, use_rowstore=True
    )
    schema_file = os.path.join(out, "dynamic_schema.json")
    meta_file = os.path.join(out, "processing_metadata.json")
    assert os.path.exists(schema_file) and os.path.exists(meta_file)
    with open(meta_file) as f:
        meta = json.load(f)
    assert meta["total_items"] == EXPECTED_ROWS
    assert meta["items_by_type"] == {"html": 3, "json": 9, "text": 15}
    # CSV: header + 27 rows in one part file.
    csv_df = spark.read.option("header", "true").csv(os.path.join(out, "cleaned_output"))
    assert csv_df.count() == EXPECTED_ROWS
    # Row store: one JSON blob per record, partitioned by data_type (S8).
    store = spark.read.parquet(os.path.join(out, "rowstore", "processed_data"))
    assert store.count() == EXPECTED_ROWS
    blob = json.loads(store.first()["data_json"])
    assert "type" in blob and "source_index" in blob


def test_multi_document_batch(spark, golden_doc):
    # Unlike the reference (one file per run + a cross-file accumulation
    # bug), one job processes a corpus, and W1 counts the whole batch once.
    docs = spark.createDataFrame(
        [("a", golden_doc), ("b", '{"k": 1}')], "doc_id string, content string"
    )
    result = run_batch(spark, docs=docs)
    items = result["items_by_type"]
    assert items == {"html": 3, "json": 10, "text": 15}
    assert sum(items.values()) == EXPECTED_ROWS + 1
    totals = {r["total_items"] for r in result["normalized"].select("total_items").collect()}
    assert totals == {EXPECTED_ROWS + 1}
    # The lazy form counts the same records.
    assert dict(count_by_type(spark, docs).collect()) == items


def test_no_json_documents(spark):
    # A document with no JSON must not fail schema inference.
    result = run_batch(spark, payloads=["just a plain text line here"])
    assert result["items_by_type"] == {"text": 1}


def test_latin1_charset_read(spark, tmp_path):
    # S1 charset semantics (etl_pipeline.py:41-55): the reference falls back
    # to Latin-1 when strict UTF-8 decode fails; Spark's text source decodes
    # with the declared charset, so a known-Latin-1 corpus reads via the
    # explicit option and round-trips the accented bytes.
    p = tmp_path / "latin1.txt"
    content = "café au lait — prix: 3€ approximatif et détaillé"
    p.write_bytes("caf\xe9 au lait".encode("latin-1"))
    docs = read_documents(spark, str(tmp_path), charset="ISO-8859-1").collect()
    assert len(docs) == 1
    assert docs[0]["content"] == "caf\xe9 au lait"
    assert content  # silence unused warning path


def test_dotted_json_keys(spark, tmp_path):
    # A flattened JSON key may contain a dot: ``user.id`` names a column,
    # not a struct path, in the normalized select, the CSV projection of
    # array columns and the row store's JSON blob.
    doc = (
        '{"user.id": 41, "tags": ["a", "b"]}\n'
        '{"user.id": 42, "tags": ["c"]}\n'
        "a plain text line after the dotted records\n"
    )
    out = str(tmp_path / "out")
    result = run_batch(spark, payloads=[doc], out_dir=out, use_rowstore=True)
    assert result["items_by_type"] == {"json": 2, "text": 1}
    assert result["schema"]["user.id"]["present_in"] == 2
    (part,) = glob.glob(os.path.join(out, "cleaned_output", "*.csv"))
    with open(part, newline="", encoding="utf-8") as f:
        rows = list(csv.DictReader(f))
    json_rows = [r for r in rows if r["type"] == "json"]
    assert [(r["user.id"], r["tags"]) for r in json_rows] == [
        ("41", "['a', 'b']"),
        ("42", "['c']"),
    ]
    store = spark.read.parquet(os.path.join(out, "rowstore", "processed_data"))
    blobs = [json.loads(r["data_json"]) for r in store.collect()]
    assert sorted(b["user.id"] for b in blobs if b["type"] == "json") == [41, 42]

    served = process_payload(spark, doc)
    assert served["success"] is True
    assert [(r["user.id"], r["tags"]) for r in served["data"][:2]] == [
        (41, ["a", "b"]),
        (42, ["c"]),
    ]
    assert served["types"]["user.id"] == "number"


def _run_counted(spark, call) -> tuple[int, set, list[str]]:
    """Spark jobs ``call`` runs, the persisted RDDs it leaves behind, and
    the final physical plans of the SQL executions it ran."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def executions() -> dict:
        listed = store.executionsList()
        found = (listed.apply(i) for i in range(listed.size()))
        return {e.executionId(): e for e in found}

    before_cache = set(sc._jsc.getPersistentRDDs().keys())
    before_executions = set(executions())
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # Job-start events reach the status tracker through the listener bus.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    leaked = set(sc._jsc.getPersistentRDDs().keys()) - before_cache
    plans = [
        e.physicalPlanDescription()
        for i, e in executions().items()
        if i not in before_executions
    ]
    return len(sc.statusTracker().getJobIdsForGroup(group)), leaked, plans


def test_pipeline_runs_once_per_call(spark, golden_doc, tmp_path):
    # The API serves the rows run_batch collected from its own cache: it
    # must not run detect → extract → normalize a second time, and no call
    # may leave its persisted frame behind.  A request's frame is one
    # partition, so neither the report's groupBy nor the sort shuffles.
    payload_jobs, leaked, plans = _run_counted(
        spark, lambda: process_payload(spark, golden_doc)
    )
    assert not leaked
    assert any("HashAggregate" in p for p in plans)
    assert any(re.search(r"\bSort [\[(]", p) for p in plans)
    assert not [p for p in plans if "Exchange" in p]
    batch_jobs, leaked, _ = _run_counted(
        spark, lambda: run_batch(spark, payloads=[golden_doc])
    )
    assert not leaked
    assert payload_jobs <= batch_jobs
    assert payload_jobs <= 4
    out = str(tmp_path / "out")
    sink_jobs, leaked, _ = _run_counted(
        spark,
        lambda: run_batch(spark, payloads=[golden_doc], out_dir=out, use_rowstore=True),
    )
    assert not leaked
    assert sink_jobs <= 6


def test_detect_evaluated_once_per_branch(spark, golden_doc, tmp_path):
    # Exploding a block array must not add a ``size(<blocks>) > 0`` filter
    # below the generator: that filter evaluates the branch's whole detect
    # expression a second time.
    (tmp_path / "doc.txt").write_text(golden_doc, encoding="utf-8")
    sources = [
        documents_from_strings(spark, [golden_doc]),
        read_documents(spark, str(tmp_path)),
        spark.createDataFrame([("d0", golden_doc)], "doc_id string, content string"),
    ]
    for docs in sources:
        plan = _extracted(spark, docs)._jdf.queryExecution().executedPlan().toString()
        filters = [line for line in plan.splitlines() if "Filter" in line]
        assert filters, plan
        assert not [line for line in filters if "size(" in line], plan
