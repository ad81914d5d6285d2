from etl_pipeline2_0_spark.operators.detect import detect_blocks
from etl_pipeline2_0_spark.operators.extract import extract_records
from etl_pipeline2_0_spark.operators.normalize import normalize_union
from etl_pipeline2_0_spark.operators.schema_report import infer_schema_report

__all__ = ["detect_blocks", "extract_records", "normalize_union", "infer_schema_report"]
