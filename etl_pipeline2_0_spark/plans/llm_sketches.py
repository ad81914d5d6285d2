"""Sketch calibration plans: CMS error/heavy-hitters and the Bloom FPR sizing curve.

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



def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Count-min-sketch heavy hitters: the exact top-20 corpus tokens with
    # their sketch estimates side by side — the accuracy harness for the
    # fixed-memory frequency pass that would feed the dedup doc-freq caps
    # at 100 TB (the hll_accuracy pattern, applied to frequencies).
    from etl_pipeline2_0_spark.functions import sketches

    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower("text"), r"\W+"), lambda t: F.length(t) > 0
            )
        ).alias("item")
    )
    sk = sketches.cms_sketch(occ, depth=4, width=256)
    exact = (
        occ.groupBy(F.col("item"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("item"))
        .limit(20)
        # bounded 20-row frame consumed by the probe AND the final join
        # — without a barrier the full explode+aggregate+TakeOrdered
        # runs twice per action (r17 optimization, guide §2.4)
        .localCheckpoint(eager=False)
    )
    est = sketches.cms_estimate(exact.select("item"), sk, depth=4, width=256)
    return exact.join(est, "item").select(
        F.col("item").alias("token"), "exact_cnt", "cms_est"
    )


SQL_CMS_HEAVY_HITTERS = r"""
WITH occ AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                            x -> length(x) > 0)) AS tok
  FROM documents
), rows_ AS (
  SELECT unnest([0, 1, 2, 3]) AS row
), cells AS (
  SELECT row,
         CAST('0x' || substring(md5(CAST(row AS VARCHAR) || ':' || tok),
                                1, 15) AS BIGINT) % 256 AS bucket
  FROM occ CROSS JOIN rows_
), sketch AS (
  SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM cells GROUP BY row, bucket
), exact AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_cnt
  FROM occ GROUP BY tok
  QUALIFY ROW_NUMBER() OVER (ORDER BY exact_cnt DESC, tok) <= 20
), probes AS (
  SELECT tok, exact_cnt, row,
         CAST('0x' || substring(md5(CAST(row AS VARCHAR) || ':' || tok),
                                1, 15) AS BIGINT) % 256 AS bucket
  FROM exact CROSS JOIN rows_
)
SELECT tok AS token, exact_cnt, MIN(cnt) AS cms_est
FROM probes JOIN sketch USING (row, bucket)
GROUP BY tok, exact_cnt
"""


# ------------------------------------------------------ bloom FPR curve ----


def q_bloom_fpr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bloom sizing table for the decontamination prefilter: the same
    # %97 eval split and 3-shingles as bloom_contamination, measured at
    # four filter widths — realized FPR + fill per width, the numbers
    # that size the broadcast filter before a 100 TB run.
    from etl_pipeline2_0_spark.functions import sketches

    docs = load_table(spark, sf_dir, "documents")
    eval_sh = docs.where(F.col("doc_id") % 97 == 0).select(
        F.explode(dedup.token_shingles(F.col("text"), 3)).alias("item")
    )
    cand = docs.where(F.col("doc_id") % 97 != 0).select(
        F.explode(dedup.token_shingles(F.col("text"), 3)).alias("item")
    )
    return sketches.bloom_fpr_curve(
        cand, eval_sh, num_hashes=4, widths=(1024, 2048, 4096, 8192)
    )


# One hash per (row, shingle), re-bucketed per width — the sweep costs
# one modulus per width, not one md5 per width.
SQL_BLOOM_FPR_CURVE = r"""
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> length(x) > 0) AS toks
  FROM documents
), tok_rows AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord
  FROM tok
), sh0 AS (
  SELECT doc_id, tok || ' ' || LEAD(tok, 1) OVER w || ' '
           || LEAD(tok, 2) OVER w AS shingle
  FROM tok_rows WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
), sh AS (
  SELECT DISTINCT doc_id, shingle FROM sh0 WHERE shingle IS NOT NULL
), eval_sh AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
), cand AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 <> 0
), rows_ AS (
  SELECT unnest([0, 1, 2, 3]) AS row
), widths AS (
  SELECT unnest([1024, 2048, 4096, 8192]) AS num_bits
), eh AS (
  SELECT CAST('0x' || substring(md5(CAST(row AS VARCHAR) || ':' || shingle),
                                1, 15) AS BIGINT) AS h
  FROM eval_sh CROSS JOIN rows_
), bloom AS (
  SELECT DISTINCT num_bits, h % num_bits AS bit FROM eh CROSS JOIN widths
), ch AS (
  SELECT shingle, CAST('0x' || substring(md5(CAST(row AS VARCHAR) || ':'
                                             || shingle), 1, 15) AS BIGINT)
           AS h
  FROM cand CROSS JOIN rows_
), probes AS (
  SELECT num_bits, shingle, h % num_bits AS bit FROM ch CROSS JOIN widths
), hits AS (
  SELECT p.num_bits, p.shingle, COUNT(*) AS n_set
  FROM probes p JOIN bloom b ON p.num_bits = b.num_bits AND p.bit = b.bit
  GROUP BY 1, 2
), lab AS (
  SELECT cw.num_bits, cw.shingle,
         (COALESCE(n_set, 0) = 4) AS maybe,
         (e.shingle IS NOT NULL) AS is_true
  FROM (SELECT num_bits, shingle FROM cand CROSS JOIN widths) cw
  LEFT JOIN hits ON cw.num_bits = hits.num_bits
                AND cw.shingle = hits.shingle
  LEFT JOIN eval_sh e ON cw.shingle = e.shingle
), bstats AS (
  SELECT num_bits, COUNT(*) AS n_bits_set FROM bloom GROUP BY num_bits
)
SELECT CAST(l.num_bits AS INT) AS num_bits,
       CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT)
         AS n_true_present,
       CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST(SUM(CASE WHEN maybe AND NOT is_true THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos,
       ROUND(SUM(CASE WHEN maybe AND NOT is_true THEN 1 ELSE 0 END) * 1.0
             / GREATEST(COUNT(*) - SUM(CASE WHEN is_true THEN 1 ELSE 0 END),
                        1), 6) AS fpr,
       CAST(MAX(n_bits_set) AS BIGINT) AS n_bits_set,
       ROUND(MAX(n_bits_set) * 1.0 / l.num_bits, 6) AS fill_ratio
FROM lab l JOIN bstats ON l.num_bits = bstats.num_bits
GROUP BY l.num_bits
"""


# ------------------------------------------------------ CMS error curve ----


def q_cms_error_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Count-min sizing table over the corpus SHINGLE stream at
    # DOC-frequency grain — exactly the key space and grain the dedup
    # doc-freq caps probe (the token vocab here is only ~31 keys and
    # saturates any width): realized overestimate distribution at three
    # widths, the cap feed's accuracy/memory tradeoff, measured
    # (bloom_fpr_curve's companion for frequencies).
    from etl_pipeline2_0_spark.functions import sketches

    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(
        F.explode(dedup.token_shingles(F.col("text"), 3)).alias("item")
    )
    return sketches.cms_error_curve(
        occ, depth=4, widths=(1024, 4096, 16384)
    )


# One md5 per (row, token); each width re-buckets with one modulus; the
# sketch builds from the exact count table (identical arithmetic to
# streaming the occurrences — a size-s key adds s to its bucket).
SQL_CMS_ERROR_CURVE = r"""
WITH tokr AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> length(x) > 0) AS toks
  FROM documents
), tok_rows AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord
  FROM tokr
), sh0 AS (
  SELECT doc_id,
         tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w
           AS tok
  FROM tok_rows WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
), occ AS (
  -- per-doc DISTINCT shingles: the stream is DOC-frequency grain,
  -- matching dedup.token_shingles (and the doc-freq caps' semantics)
  SELECT DISTINCT doc_id, tok FROM sh0 WHERE tok IS NOT NULL
), exact AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_cnt FROM occ GROUP BY tok
), rows_ AS (
  SELECT unnest([0, 1, 2, 3]) AS row
), widths AS (
  SELECT unnest([1024, 4096, 16384]) AS width
), th AS (
  SELECT tok, true_cnt, row,
         CAST('0x' || substring(md5(CAST(row AS VARCHAR) || ':' || tok),
                                1, 15) AS BIGINT) AS h
  FROM exact CROSS JOIN rows_
), cells AS (
  SELECT width, row, h % width AS bucket,
         CAST(SUM(true_cnt) AS BIGINT) AS cnt
  FROM th CROSS JOIN widths
  GROUP BY width, row, bucket
), est AS (
  SELECT t.width, tok, true_cnt, MIN(cnt) AS cms_est
  FROM (SELECT width, tok, true_cnt, row, h % width AS bucket
        FROM th CROSS JOIN widths) t
  JOIN cells ON t.width = cells.width AND t.row = cells.row
            AND t.bucket = cells.bucket
  GROUP BY t.width, tok, true_cnt
)
SELECT CAST(width AS INT) AS width,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(CASE WHEN cms_est = true_cnt THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact,
       ROUND(SUM(cms_est - true_cnt) * 1.0 / GREATEST(COUNT(*), 1), 6)
         AS mean_err,
       CAST(MAX(cms_est - true_cnt) AS BIGINT) AS max_err
FROM est GROUP BY width
"""
