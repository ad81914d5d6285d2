"""Shared helpers used by two or more llm_* plan modules.

Split mechanically from plans/llm_ops.py (r16 maintainability pass);
``plans.llm_ops`` re-exports everything, so both import paths work.
Same conventions as ``plans.relational``: every SQL-expressible query
has an exact DuckDB twin (identical aliases); engine-hash/pandas-UDF
queries have no twin and are censused in registry.ROWS_ONLY_CENSUS.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from etl_pipeline2_0_spark.functions import (
    dedup,
    multimodal,
    retrieval,
    similarity,
    text,
)
from etl_pipeline2_0_spark.sources.tables import load_table



# ----------------------------------------------------------- text analysis -

_MARKER_SQL = {
    lang: "|".join(markers) for lang, markers in text.LANG_MARKERS.items()
}


_STOPS_SQL = ", ".join(f"'{s}'" for s in text.EN_STOPWORDS)
