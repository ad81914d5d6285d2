"""Record extraction (reference operators E6–E11, SURVEY.md §2.2).

Reference behavior (citations into /root/reference):

- E6 HTML record extractor  etl_pipeline.py:117-125 — per HTML block emit
  ``{type:'html', title, word_count}`` (title text, whitespace token count of
  the tag-stripped text).
- E7 JSON record extractor  etl_pipeline.py:127-137 — parse, flatten nested
  dicts (E8), tag ``type:'json'``; parse failure → ``{error, raw[:100]}``.
- E8 Dict flattener         etl_pipeline.py:139-151 — recursive ``_``-joined
  flatten; lists preserved un-flattened.
- E9 Text record extractor  etl_pipeline.py:153-159 — ``{type:'text',
  title: first 50 chars, word_count}``.
- E10 Media record          etl_pipeline.py:161-167 — constant
  ``{type:'media', title:'Base64 Media', word_count:0}``.
- E11 Orchestrator          etl_pipeline.py:169-195 — fixed kind order
  html→json→text→media, ``source_index = f"{kind}_{idx}"``.

Spark-first design:

- HTML title/text extraction is **native regex** (``regexp_extract`` +
  tag-strip ``regexp_replace``), not an HTML-parser UDF — the reference used
  BeautifulSoup, but its two outputs (title string, whitespace word count)
  are regular-language extractable, and staying native keeps the hot path in
  whole-stage codegen.  If a full parser is ever required, swap in an
  Arrow-batched pandas UDF behind the same column contract.
- JSON uses the reference's own two-pass shape: pass 1 infers the batch
  schema (``spark.read.json`` over the extracted bodies — distributed
  inference with per-partition merge), pass 2 parses with ``from_json`` and
  flattens nested structs at plan time (pure projection codegen, no UDF).
- ``source_index`` ordinals come from ``posexplode`` — per-document detection
  order, no window function, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

KIND_ORDER = ["html", "json", "text", "media"]  # E11 fixed kind order

TITLE_MAX_LEN = 50  # E9/O3: text titles truncated to 50 chars


def _word_count(text: Column) -> Column:
    """Whitespace token count, ``len(s.split())`` exactly — empty tokens
    filtered because SQL TRIM strips only spaces and edge-whitespace splits
    yield empties (see functions/text.py token_count)."""
    return F.size(F.filter(F.split(text, r"\s+"), lambda t: F.length(t) > 0))


# Malformed-HTML hardening (still pure regex — every construct below is a
# regular language):
# - comments stripped FIRST, so a comment containing tags or `>` (even a
#   commented-out `</html>` or `<script>`) never leaks text or breaks the
#   tag pattern (bs4 drops comment content the same way);
# - CDATA sections dropped whole (html.parser treats them as bogus
#   declarations and emits nothing);
# - the tag pattern skips `>` inside quoted attribute values
#   (`<div title="a>b">` strips as ONE tag, where a naive `<[^>]+>` leaves
#   `b">` behind).
_HTML_COMMENT = r"(?s)<!--.*?-->"
_HTML_CDATA = r"(?s)<!\[CDATA\[.*?\]\]>"
_HTML_TAG = r"(?s)<[^>\"']*(?:\"[^\"]*\"[^>\"']*|'[^']*'[^>\"']*)*>"


def strip_html_tags(body: Column) -> Column:
    """Visible text of an HTML fragment: drop comments, CDATA and
    script/style subtrees, then strip all tags (quote-aware).  Regex-based
    equivalent of ``soup.get_text()`` for the word-count purpose (E6);
    tests/test_html_robustness.py runs the differential against a stdlib
    ``html.parser`` oracle on malformed inputs.  Known deviation: character
    entities (``&amp;``) stay literal — a parser would unescape them."""
    no_comment = F.regexp_replace(body, _HTML_COMMENT, " ")
    no_cdata = F.regexp_replace(no_comment, _HTML_CDATA, " ")
    no_script = F.regexp_replace(
        no_cdata, r"(?is)<(script|style)[^>]*>.*?</\1>", " "
    )
    return F.regexp_replace(no_script, _HTML_TAG, " ")


def html_title(body: Column) -> Column:
    """First ``<title>`` element's text, or '' when absent (E6).

    Comments are stripped first so a commented-out ``<title>`` is never
    picked (bs4 parity).  Pinned deviation: an UNCLOSED ``<title>`` yields
    '' here, where lenient parsers swallow the rest of the document as
    title text — the empty string is the deterministic, bounded choice."""
    no_comment = F.regexp_replace(body, _HTML_COMMENT, " ")
    return F.trim(
        F.regexp_extract(no_comment, r"(?is)<title[^>]*>(.*?)</title>", 1)
    )


def _explode_kind(detected: DataFrame, kind: str, blocks_col: str) -> DataFrame:
    """One row per detected block of one kind, with E11's ``source_index``.

    ``posexplode`` gives the 0-based per-document detection ordinal without a
    shuffle; ``source_index`` is ``{kind}_{ordinal}``.  The ``_outer`` form
    plus a null-ordinal filter yields the same rows, but keeps Catalyst's
    ``InferFiltersFromGenerate`` from adding a ``size(<blocks>) > 0`` filter
    below the generator, which would evaluate the block array's whole detect
    expression a second time.
    """
    return detected.select(
        "doc_id",
        F.posexplode_outer(blocks_col).alias("ordinal", "body"),
    ).where(F.col("ordinal").isNotNull()).withColumns(
        {
            "type": F.lit(kind),
            "source_index": F.concat_ws("_", F.lit(kind), F.col("ordinal")),
        }
    )


def html_records(detected: DataFrame) -> DataFrame:
    """E6: one record per HTML block with title + word_count."""
    exploded = _explode_kind(detected, "html", "html_blocks")
    return exploded.select(
        "doc_id",
        "type",
        "source_index",
        "ordinal",
        html_title(F.col("body")).alias("title"),
        _word_count(strip_html_tags(F.col("body"))).alias("word_count"),
    )


def text_records(detected: DataFrame) -> DataFrame:
    """E9: one record per residual text line (title = first 50 chars)."""
    exploded = _explode_kind(detected, "text", "text_blocks")
    return exploded.select(
        "doc_id",
        "type",
        "source_index",
        "ordinal",
        F.substring("body", 1, TITLE_MAX_LEN).alias("title"),
        _word_count(F.col("body")).alias("word_count"),
    )


def media_records(detected: DataFrame) -> DataFrame:
    """E10: constant record per base64 hit (payload never decoded)."""
    exploded = _explode_kind(detected, "media", "b64_blocks")
    return exploded.select(
        "doc_id",
        "type",
        "source_index",
        "ordinal",
        F.lit("Base64 Media").alias("title"),
        F.lit(0).alias("word_count"),
    )


def _flatten_select(schema: T.StructType, prefix_path: list[str] | None = None) -> list[Column]:
    """E8 at plan time: recursive struct flatten with ``_``-joined aliases.

    Arrays stop recursion (lists preserved un-flattened, matching
    etl_pipeline.py:146-148); scalars pass through.  Pure projection — the
    flatten is decided from the schema, so Catalyst sees plain column
    references and prunes/pushes down normally.
    """
    prefix_path = prefix_path or []
    cols: list[Column] = []
    for field in schema.fields:
        path = prefix_path + [field.name]
        if isinstance(field.dataType, T.StructType):
            cols.extend(_flatten_select(field.dataType, path))
        else:
            ref = ".".join(f"`{p}`" for p in path)
            cols.append(F.col(ref).alias("_".join(path)))
    return cols


def flatten_struct_columns(df: DataFrame) -> DataFrame:
    """Apply E8's flatten to every struct column of ``df``."""
    out_cols: list[Column] = []
    for field in df.schema.fields:
        if isinstance(field.dataType, T.StructType):
            out_cols.extend(_flatten_select(field.dataType, [field.name]))
        else:
            out_cols.append(F.col(f"`{field.name}`"))
    return df.select(*out_cols)


def _infer_json_schema(spark: SparkSession, bodies: DataFrame) -> T.StructType:
    """Distributed JSON schema inference over a one-string-column DataFrame.

    Stays JVM-side: hands the Dataset[String] straight to the Scala JSON
    reader, so block bodies are never pickled through Python (the
    ``df.rdd.map`` formulation ships every body driver←→Python — profiled
    ~2× the whole pipeline's cost).  Falls back to the RDD path if the
    internal handle is unavailable.
    """
    import json as _json

    try:
        jds = getattr(bodies._jdf, "as")(
            spark._jvm.org.apache.spark.sql.Encoders.STRING()
        )
        jschema = spark._jsparkSession.read.json(jds).schema()
        return T.StructType.fromJson(_json.loads(jschema.json()))
    except Exception:  # pragma: no cover - py4j internals moved
        return spark.read.json(bodies.rdd.map(lambda r: r[0])).schema


def json_records(spark: SparkSession, detected: DataFrame) -> DataFrame:
    """E7+E8: parse every detected JSON block against the batch-inferred
    schema, flatten nested structs, tag engine columns.

    Two-pass, mirroring the reference's extract-then-infer design: pass 1 is
    ``spark.read.json`` over the block bodies (distributed schema inference —
    per-partition schema merge, the Spark-native analog of the reference's
    whole-dataset key scan), pass 2 is a single ``from_json`` projection.

    Detection already filtered to valid JSON (E3), so the reference's
    invalid-JSON error record (etl_pipeline.py:136-137) cannot occur here.
    """
    exploded = _explode_kind(detected, "json", "json_blocks")
    bodies = exploded.select("body")
    inferred = _infer_json_schema(spark, bodies)
    if not inferred.fields:
        # No JSON blocks in the corpus (or none with keys).
        return exploded.select("doc_id", "type", "source_index", "ordinal")
    # Drop Spark's corrupt-record bookkeeping column if inference added one,
    # and any data field colliding with an engine column: the reference
    # overwrites a JSON `type` key with the engine tag after flattening
    # (record['type'] = 'json'), so colliding fields are lost there too.
    engine_cols = {"doc_id", "type", "source_index", "ordinal"}
    data_fields = [
        f
        for f in inferred.fields
        if not f.name.startswith("_corrupt") and f.name not in engine_cols
    ]
    inferred = T.StructType(data_fields)
    parsed = exploded.withColumn("rec", F.from_json("body", inferred))
    flat = parsed.select("doc_id", "type", "source_index", "ordinal", "rec.*")
    flat = flatten_struct_columns(flat)
    # A *nested* field can still flatten to an engine-column name
    # (e.g. {"source": {"index": 1}} → source_index); keep the first
    # (engine) occurrence, mirroring the reference's overwrite semantics.
    counts: dict[str, int] = {}
    renamed: list[str] = []
    for c in flat.columns:
        n = counts.get(c, 0)
        counts[c] = n + 1
        renamed.append(c if n == 0 else f"__dup{n}__{c}")
    dupes = [c for c in renamed if c.startswith("__dup")]
    return flat.toDF(*renamed).drop(*dupes) if dupes else flat


def extract_records(spark: SparkSession, detected: DataFrame) -> dict[str, DataFrame]:
    """E11: per-kind record DataFrames in the fixed kind order.

    Returned as a dict (html → json → text → media) so the pipeline can
    union them in order; each frame carries the engine columns ``type``,
    ``source_index``, ``ordinal`` plus kind-specific fields.
    """
    return {
        "html": html_records(detected),
        "json": json_records(spark, detected),
        "text": text_records(detected),
        "media": media_records(detected),
    }
