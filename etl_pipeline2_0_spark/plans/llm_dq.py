"""Data-quality / observability plans: integrity, profiling, drift, snapshots, and the dataset report card.

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
from etl_pipeline2_0_spark.plans.llm_common import (
    _MARKER_SQL,
    _STOPS_SQL,
)



# ------------------------------------------------------- snapshot diff ----


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Crawl-over-crawl delta: snapshot A drops doc_id % 11 = 3 (docs that
    # will look "added" in B), snapshot B drops doc_id % 13 = 5 ("removed")
    # and rewrites text for doc_id % 17 = 0 ("changed"); everything else is
    # "unchanged" and filtered out of the report.
    docs = load_table(spark, sf_dir, "documents")
    snap_a = docs.where(F.col("doc_id") % 11 != 3)
    snap_b = docs.where(F.col("doc_id") % 13 != 5).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 17 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return dedup.snapshot_diff(snap_a, snap_b).where(F.col("status") != "unchanged")


SQL_SNAPSHOT_DIFF = """
WITH a AS (
  SELECT doc_id, md5(COALESCE(text, '')) AS hash_a
  FROM documents WHERE doc_id % 11 <> 3
), b AS (
  SELECT doc_id,
         md5(COALESCE(CASE WHEN doc_id % 17 = 0 THEN text || ' v2'
                           ELSE text END, '')) AS hash_b
  FROM documents WHERE doc_id % 13 <> 5
)
SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
       CASE WHEN a.doc_id IS NULL THEN 'added'
            WHEN b.doc_id IS NULL THEN 'removed'
            WHEN hash_a <> hash_b THEN 'changed'
            ELSE 'unchanged' END AS status,
       hash_a, hash_b
FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
WHERE (CASE WHEN a.doc_id IS NULL THEN 'added'
            WHEN b.doc_id IS NULL THEN 'removed'
            WHEN hash_a <> hash_b THEN 'changed'
            ELSE 'unchanged' END) <> 'unchanged'
"""


def q_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Peak concurrent 5-minute sessions per event type (sweep-line over
    # derived [ts, ts+5min) intervals, two-level distributed prefix sum).
    from etl_pipeline2_0_spark.functions import intervals

    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "event_type",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("end_ts"),
    )
    return intervals.max_concurrency(iv, key_cols=["event_type"])


SQL_MAX_CONCURRENCY = """
WITH iv AS (
  SELECT event_type, ts AS s, ts + INTERVAL 5 MINUTE AS e
  FROM events WHERE ts IS NOT NULL
), deltas AS (
  SELECT event_type, s AS t, 1 AS d FROM iv
  UNION ALL
  SELECT event_type, e AS t, -1 AS d FROM iv
), run AS (
  SELECT event_type,
         SUM(d) OVER (PARTITION BY event_type ORDER BY t, d
                      ROWS UNBOUNDED PRECEDING) AS c
  FROM deltas
)
SELECT event_type, CAST(MAX(c) AS BIGINT) AS max_concurrent
FROM run GROUP BY event_type
"""


def q_corpus_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Distribution drift between two corpus snapshots: Population Stability
    # Index (public credit-scoring/ML-monitoring metric) of the per-source
    # token-count distribution, over fixed-width bins with Laplace
    # smoothing.  Snapshot B is derived deterministically (doc_id % 13 = 5
    # dropped; text doubled for doc_id % 7 = 0 — a real length shift), the
    # same synthesis convention as snapshot_diff.
    #
    # PSI = sum over bins (q - p) * ln(q / p), with p/q the smoothed bin
    # shares ((c + 0.5) / (N + 0.5 * K), K = bins observed for the source).
    #
    # Scale: both snapshots reduce to (source, bin) counts in ONE
    # conditional aggregate over the tagged union; per-source totals are a
    # tiny broadcast; the PSI sum is over ≤ #bins rows per source.
    from etl_pipeline2_0_spark.functions.dq import corpus_drift_psi

    docs = load_table(spark, sf_dir, "documents")
    snap_b = docs.where(F.col("doc_id") % 13 != 5).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" "), F.col("text")),
        ).otherwise(F.col("text")),
    )
    return corpus_drift_psi(docs, snap_b)


SQL_CORPUS_DRIFT_PSI = r"""
WITH a AS (
  SELECT source,
         LEAST(CAST(floor(len(list_filter(regexp_split_to_array(text, '[ \x09\x0A\x0D\x0B\x0C]+'),
                                          x -> length(x) > 0)) / 8) AS INT),
               15) AS bin
  FROM documents
), b AS (
  SELECT source,
         LEAST(CAST(floor(len(list_filter(regexp_split_to_array(
                  CASE WHEN doc_id % 7 = 0 THEN text || ' ' || text
                       ELSE text END, '[ \x09\x0A\x0D\x0B\x0C]+'),
                  x -> length(x) > 0)) / 8) AS INT),
               15) AS bin
  FROM documents WHERE doc_id % 13 <> 5
), tagged AS (
  SELECT source, bin, 'a' AS snap FROM a
  UNION ALL
  SELECT source, bin, 'b' AS snap FROM b
), counts AS (
  SELECT source, bin,
         SUM(CASE WHEN snap = 'a' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN snap = 'b' THEN 1 ELSE 0 END) AS cb
  FROM tagged GROUP BY source, bin
), totals AS (
  SELECT source, SUM(ca) AS na, SUM(cb) AS nb, COUNT(*) AS k_bins
  FROM counts GROUP BY source
)
SELECT c.source,
       ROUND(SUM(((cb + 0.5) / (nb + 0.5 * k_bins) - (ca + 0.5) / (na + 0.5 * k_bins))
                 * ln(((cb + 0.5) / (nb + 0.5 * k_bins))
                      / ((ca + 0.5) / (na + 0.5 * k_bins)))), 6) AS psi,
       CAST(MAX(k_bins) AS BIGINT) AS n_bins
FROM counts c JOIN totals t ON c.source = t.source
GROUP BY c.source
"""


def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Data-quality observability: events whose value is a >3-sigma outlier
    # within its event type.  Moments come from DECIMAL-exact sums (the
    # house decimal-aggregation rule): sum and sum-of-squares over
    # DECIMAL(18,2)/DECIMAL(38,4) are order-independent and bit-identical
    # across engines, so the doubles derived from them (mean, variance, z)
    # are too — a raw double stddev would be shuffle-order-dependent.
    ev = load_table(spark, sf_dir, "events")
    d = F.col("value").cast("decimal(18,2)")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d).alias("s1"),
        F.sum((d * d).cast("decimal(38,4)")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = (F.col("s2").cast("double") - F.col("n") * mean * mean) / (
        F.col("n") - 1
    )
    z = (F.col("value") - mean) / F.sqrt(var)
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where(F.abs(z) > 3.0)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 6).alias("z"),
        )
    )


SQL_VALUE_OUTLIERS = """
WITH stats AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(18,2))) AS s1,
         SUM(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
                  AS DECIMAL(38,4))) AS s2
  FROM events GROUP BY event_type
)
SELECT event_id, e.event_type, value,
       ROUND((value - CAST(s1 AS DOUBLE) / n)
             / sqrt((CAST(s2 AS DOUBLE) - n * (CAST(s1 AS DOUBLE) / n)
                                            * (CAST(s1 AS DOUBLE) / n))
                    / (n - 1)), 6) AS z
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE ABS((value - CAST(s1 AS DOUBLE) / n)
          / sqrt((CAST(s2 AS DOUBLE) - n * (CAST(s1 AS DOUBLE) / n)
                                         * (CAST(s1 AS DOUBLE) / n))
                 / (n - 1))) > 3.0
"""


def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Column-profiling observability: per-column null count, exact distinct
    # count, and null fraction for the documents table, long format.
    #
    # Shape: one column-pruned aggregate PER COLUMN, unioned — each scan
    # reads exactly its own parquet column (total I/O = the table once),
    # and there is no Expand blow-up from stacking countDistincts into a
    # single aggregate.  Wide values (text) are md5'd BEFORE the distinct
    # so the shuffle carries 32-byte digests, never document bodies —
    # the exact_dedup discipline applied to profiling.
    docs = load_table(spark, sf_dir, "documents")

    def prof(col: str, hashed: bool = False):
        v = F.md5(F.col(col)) if hashed else F.col(col)
        return docs.agg(
            F.lit(col).alias("col_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)).alias("n_nulls"),
            F.count_distinct(v).alias("n_distinct"),
        )

    parts = [
        prof("doc_id"),
        prof("text", hashed=True),
        prof("lang"),
        prof("source"),
        prof("n_chars"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "col_name",
        "n_rows",
        "n_nulls",
        "n_distinct",
        F.round(F.col("n_nulls") / F.col("n_rows"), 6).alias("null_frac"),
    )


SQL_PROFILE_COLUMNS = """
WITH p AS (
  SELECT 'doc_id' AS col_name, COUNT(*) AS n_rows,
         SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS n_nulls,
         COUNT(DISTINCT doc_id) AS n_distinct
  FROM documents
  UNION ALL
  SELECT 'text', COUNT(*),
         SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END),
         COUNT(DISTINCT md5(text))
  FROM documents
  UNION ALL
  SELECT 'lang', COUNT(*),
         SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END),
         COUNT(DISTINCT lang)
  FROM documents
  UNION ALL
  SELECT 'source', COUNT(*),
         SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END),
         COUNT(DISTINCT source)
  FROM documents
  UNION ALL
  SELECT 'n_chars', COUNT(*),
         SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END),
         COUNT(DISTINCT n_chars)
  FROM documents
)
SELECT col_name, n_rows, CAST(n_nulls AS BIGINT) AS n_nulls, n_distinct,
       ROUND(n_nulls * 1.0 / n_rows, 6) AS null_frac
FROM p
"""


def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Referential-integrity audit: orphan counts for the star schema's
    # child->parent keys — the data-quality gate a warehouse runs after
    # every load.  Each pair is one LEFT ANTI join on the key (digest-size
    # shuffle; the parent side reduces to distinct keys first).
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")

    def audit(child, ckey, parent, pkey, name):
        orphans = child.select(F.col(ckey)).join(
            parent.select(F.col(pkey).alias(ckey)).distinct(), ckey, "anti"
        )
        return child.agg(
            F.lit(name).alias("relation"),
            F.count(F.lit(1)).alias("n_child"),
        ).crossJoin(
            F.broadcast(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
        )

    pairs = [
        audit(li, "l_orderkey", orders, "o_orderkey", "lineitem->orders"),
        audit(li, "l_partkey", part, "p_partkey", "lineitem->part"),
        audit(li, "l_suppkey", supp, "s_suppkey", "lineitem->supplier"),
        audit(orders, "o_custkey", cust, "c_custkey", "orders->customer"),
    ]
    out = pairs[0]
    for p in pairs[1:]:
        out = out.unionByName(p)
    return out.select(
        "relation",
        "n_child",
        "n_orphans",
        F.round(F.col("n_orphans") / F.col("n_child"), 6).alias("orphan_frac"),
    )


SQL_FK_INTEGRITY = """
WITH a AS (
  SELECT 'lineitem->orders' AS relation,
         (SELECT COUNT(*) FROM lineitem) AS n_child,
         (SELECT COUNT(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
  UNION ALL
  SELECT 'lineitem->part',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM part p
                            WHERE p.p_partkey = l.l_partkey))
  UNION ALL
  SELECT 'lineitem->supplier',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM supplier s
                            WHERE s.s_suppkey = l.l_suppkey))
  UNION ALL
  SELECT 'orders->customer',
         (SELECT COUNT(*) FROM orders),
         (SELECT COUNT(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey))
)
SELECT relation, n_child, n_orphans,
       ROUND(n_orphans * 1.0 / n_child, 6) AS orphan_frac
FROM a
"""


# ---------------------------------------------- histogram quantiles ------


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Quantiles of l_extendedprice from a 128-bin mergeable histogram
    # sketch — the fixed-memory alternative to the exact percentile
    # aggregate (error ≤ one bin width, pinned by test).
    from etl_pipeline2_0_spark.functions import sketches

    li = load_table(spark, sf_dir, "lineitem")
    sk = sketches.hist_sketch(li, "l_extendedprice", 900.0, 105000.0, 128)
    return sketches.hist_quantiles(sk, 900.0, 105000.0, 128)


SQL_HIST_QUANTILES = r"""
WITH binned AS (
  SELECT LEAST(GREATEST(CAST(floor(
           (CAST(l_extendedprice AS DOUBLE) - 900.0)
           / ((105000.0 - 900.0) / 128)) AS INT), 0), 127) AS bin
  FROM lineitem WHERE l_extendedprice IS NOT NULL
), sk AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt FROM binned GROUP BY 1
), tot AS (
  SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM sk
), cum AS (
  SELECT bin, cnt,
         CAST(SUM(cnt) OVER (ORDER BY bin) AS DOUBLE) AS cum
  FROM sk
), qs AS (
  SELECT unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS q
), hit AS (
  SELECT q, bin, cnt, cum - cnt AS cum_before, n
  FROM cum CROSS JOIN tot CROSS JOIN qs
  WHERE cum >= q * n
  QUALIFY ROW_NUMBER() OVER (PARTITION BY q ORDER BY bin) = 1
)
SELECT q,
       ROUND(900.0 + (bin + (q * n - cum_before) / cnt)
             * ((105000.0 - 900.0) / 128), 6) AS estimate
FROM hit
"""


# ------------------------------------------- per-domain quality rollup ---


def q_domain_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RefinedWeb/FineWeb-style DOMAIN-granularity triage: per-source
    # volume, mean composite quality, exact-dup rate, and a flagged
    # verdict (below-median quality or dup rate > 0.2).
    from etl_pipeline2_0_spark.functions import dq

    docs = load_table(spark, sf_dir, "documents")
    return dq.domain_quality_rollup(docs)


SQL_DOMAIN_QUALITY_ROLLUP = rf"""
WITH base AS (
  SELECT doc_id, source, md5(text) AS h,
    len(list_filter(regexp_split_to_array(text, '[ \x09\x0A\x0D\x0B\x0C]+'),
                    x -> length(x) > 0)) AS n_tokens,
    regexp_replace(text, '[ \x09\x0A\x0D\x0B\x0C]+', '', 'g') AS compact,
    list_filter(regexp_split_to_array(lower(text), '\W+'),
                x -> length(x) > 0) AS toks
  FROM documents
), ratios AS (
  SELECT doc_id, source, h, n_tokens,
    CASE WHEN LENGTH(compact) = 0 THEN 0.0
         ELSE (LENGTH(compact) - LENGTH(regexp_replace(compact, '\W', '', 'g')))
              / LENGTH(compact) END AS punct_ratio,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE len(list_filter(toks, x -> x IN ({_STOPS_SQL}))) / len(toks)
         END AS stopword_ratio
  FROM base
), scored AS (
  SELECT doc_id, source, h, n_tokens,
    ROUND((LEAST(n_tokens / 100.0, 1.0) + LEAST(stopword_ratio * 4, 1.0)
           + (1.0 - LEAST(punct_ratio * 4, 1.0))) / 3, 6) AS quality
  FROM ratios
), per_dom AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         ROUND(AVG(quality), 6) AS avg_quality,
         ROUND(1.0 - COUNT(DISTINCT h) * 1.0 / COUNT(*), 6) AS dup_rate
  FROM scored GROUP BY source
), med AS (
  SELECT quantile_cont(avg_quality, 0.5) AS m FROM per_dom
)
SELECT source, n_docs, n_tokens, avg_quality, dup_rate,
       (avg_quality < med.m OR dup_rate > 0.2) AS flagged
FROM per_dom CROSS JOIN med
"""


def q_kanon_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # k-anonymity audit (Sweeney 2002) over the release-reviewer quasi-
    # identifiers (lang, source, 256-char length bucket): equivalence-
    # class sizes from ONE corpus aggregate, then the k sweep runs over
    # the bounded class frame — the residual re-identification risk
    # table next to pii_redact's direct-identifier scrub.
    from etl_pipeline2_0_spark.functions import dq

    docs = load_table(spark, sf_dir, "documents")
    return dq.kanon_audit(docs)


SQL_KANON_AUDIT = r"""
WITH cls AS (
  SELECT lang, source, CAST(FLOOR(n_chars / 256.0) AS BIGINT) AS bkt,
         CAST(COUNT(*) AS BIGINT) AS s
  FROM documents GROUP BY 1, 2, 3
), sweep AS (
  SELECT s, k
  FROM cls CROSS JOIN (SELECT UNNEST([2, 5, 10, 20]) AS k)
)
SELECT CAST(k AS INT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(CASE WHEN s < k THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_below_k,
       CAST(SUM(CASE WHEN s < k THEN s ELSE 0 END) AS BIGINT)
         AS rows_below_k,
       SUM(CASE WHEN s < k THEN s ELSE 0 END) * 1.0
         / GREATEST(SUM(s), 1) AS pct_rows_below
FROM sweep GROUP BY k
"""


def q_ldiversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Distinct l-diversity audit (Machanavajjhala et al. 2007) over the
    # (source, 256-char length bucket) classes with lang as the
    # sensitive attribute — the attribute-disclosure table next to
    # kanon_audit (which measures class SIZE; this measures class
    # VALUE diversity).  One corpus aggregate + a bounded l sweep.
    from etl_pipeline2_0_spark.functions import dq

    docs = load_table(spark, sf_dir, "documents")
    return dq.ldiversity_audit(docs)


SQL_LDIVERSITY_AUDIT = r"""
WITH cls AS (
  SELECT source, CAST(FLOOR(n_chars / 256.0) AS BIGINT) AS bkt,
         CAST(COUNT(*) AS BIGINT) AS s,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS ld
  FROM documents GROUP BY 1, 2
), sweep AS (
  SELECT s, ld, l
  FROM cls CROSS JOIN (SELECT UNNEST([2, 3, 5]) AS l)
)
SELECT CAST(l AS INT) AS l,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(CASE WHEN ld < l THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_below_l,
       CAST(SUM(CASE WHEN ld < l THEN s ELSE 0 END) AS BIGINT)
         AS rows_below_l,
       SUM(CASE WHEN ld < l THEN s ELSE 0 END) * 1.0
         / GREATEST(SUM(s), 1) AS pct_rows_below
FROM sweep GROUP BY l
"""


def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # t-closeness audit (Li et al. 2007) over the (source, 256-char
    # length bucket) classes with lang as the sensitive attribute —
    # the value-SKEW leg of the privacy tripod (kanon_audit = class
    # size, ldiversity_audit = value count, this = distributional
    # distance).  Each class's TVD-vs-global rides an exact integer
    # ratio num/(2*s*G); the t verdict is integer cross-multiplication
    # against rational thresholds 0.1/0.2/0.3/0.5, so the oracle is
    # tolerance-free.  One corpus aggregate to the cell grain; all
    # later stages run on the bounded cell frame.
    from etl_pipeline2_0_spark.functions import dq

    docs = load_table(spark, sf_dir, "documents")
    return dq.t_closeness_audit(docs)


SQL_T_CLOSENESS_AUDIT = r"""
WITH cells AS (
  SELECT source, CAST(FLOOR(n_chars / 256.0) AS BIGINT) AS bkt,
         lang AS sv, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2, 3
), gdist AS (
  SELECT sv, CAST(SUM(c) AS BIGINT) AS g FROM cells GROUP BY 1
), tot AS (
  SELECT CAST(SUM(g) AS BIGINT) AS gt FROM gdist
), sizes AS (
  SELECT source, bkt, CAST(SUM(c) AS BIGINT) AS s
  FROM cells GROUP BY 1, 2
), obs AS (
  SELECT c.source, c.bkt,
         CAST(SUM(ABS(c.c * t.gt - g.g * z.s)) AS BIGINT) AS num_obs,
         CAST(SUM(g.g) AS BIGINT) AS g_obs
  FROM cells c
  JOIN gdist g ON c.sv = g.sv
  JOIN sizes z ON c.source = z.source AND c.bkt = z.bkt
  CROSS JOIN tot t
  GROUP BY 1, 2
), cls AS (
  SELECT z.s,
         o.num_obs + (t.gt - o.g_obs) * z.s AS num,
         2 * z.s * t.gt AS den
  FROM obs o
  JOIN sizes z ON o.source = z.source AND o.bkt = z.bkt
  CROSS JOIN tot t
), sweep AS (
  SELECT s, num, den, tn, td
  FROM cls CROSS JOIN (VALUES (1, 10), (1, 5), (3, 10), (1, 2)) ts(tn, td)
)
SELECT tn * 1.0 / td AS t,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(CASE WHEN num * td > den * tn THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_above_t,
       CAST(SUM(CASE WHEN num * td > den * tn THEN s ELSE 0 END) AS BIGINT)
         AS rows_above_t,
       SUM(CASE WHEN num * td > den * tn THEN s ELSE 0 END) * 1.0
         / GREATEST(SUM(s), 1) AS pct_rows_above,
       MAX(num * 1.0 / den) AS max_tvd
FROM sweep GROUP BY tn, td
"""


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Datasheet-style report card (Gebru et al. 2021): volume, token-
    # length quantiles, exact-dup rate, language/source shares, mean
    # heuristic quality — one narrow projection + four bounded
    # aggregates, unioned into a tidy (section, metric, scope, value).
    from etl_pipeline2_0_spark.functions import dq

    docs = load_table(spark, sf_dir, "documents")
    return dq.dataset_card(docs)


SQL_DATASET_CARD = rf"""
WITH raw AS (
  SELECT source AS src, text,
    len(regexp_extract_all(lower(text), '\b({_MARKER_SQL["en"]})\b')) AS en,
    len(regexp_extract_all(lower(text), '\b({_MARKER_SQL["es"]})\b')) AS es,
    len(regexp_extract_all(lower(text), '\b({_MARKER_SQL["fr"]})\b')) AS fr,
    len(regexp_extract_all(lower(text), '\b({_MARKER_SQL["de"]})\b')) AS de,
    len(list_filter(regexp_split_to_array(text, '[ \x09\x0A\x0D\x0B\x0C]+'),
                    x -> length(x) > 0)) AS tc,
    LENGTH(text) AS nc,
    md5(text) AS h,
    regexp_replace(text, '[ \x09\x0A\x0D\x0B\x0C]+', '', 'g') AS compact,
    list_filter(regexp_split_to_array(lower(text), '\W+'),
                x -> length(x) > 0) AS toks
  FROM documents
), base AS MATERIALIZED (
  SELECT src,
    CASE
      WHEN GREATEST(en, es, fr, de) = 0 THEN 'und'
      WHEN en = GREATEST(en, es, fr, de) THEN 'en'
      WHEN es = GREATEST(en, es, fr, de) THEN 'es'
      WHEN fr = GREATEST(en, es, fr, de) THEN 'fr'
      ELSE 'de' END AS lang,
    tc, nc, h,
    (LEAST(tc / 100.0, 1.0)
     + LEAST((CASE WHEN len(toks) = 0 THEN 0.0
                   ELSE len(list_filter(toks, x -> x IN ({_STOPS_SQL})))
                        * 1.0 / len(toks) END) * 4, 1.0)
     + (1.0 - LEAST((CASE WHEN LENGTH(compact) = 0 THEN 0.0
                          ELSE (LENGTH(compact)
                                - LENGTH(regexp_replace(compact, '\W', '',
                                                        'g')))
                               * 1.0 / LENGTH(compact) END) * 4, 1.0))
    ) / 3 AS q
  FROM raw
), agg AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(tc) AS DOUBLE) AS tok,
         CAST(SUM(nc) AS DOUBLE) AS nchr,
         ROUND(AVG(tc), 6) AS avg_tc,
         ROUND(1.0 - COUNT(DISTINCT h) * 1.0 / COUNT(*), 6) AS dup,
         ROUND(AVG(q), 6) AS mq,
         ROUND(quantile_cont(tc, 0.25), 6) AS p25,
         ROUND(quantile_cont(tc, 0.5), 6) AS p50,
         ROUND(quantile_cont(tc, 0.75), 6) AS p75,
         ROUND(quantile_cont(tc, 0.95), 6) AS p95
  FROM base
), tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM base)
SELECT 'volume' AS section, 'n_docs' AS metric, 'corpus' AS scope,
       n AS value FROM agg
UNION ALL SELECT 'volume', 'n_tokens', 'corpus', tok FROM agg
UNION ALL SELECT 'volume', 'n_chars', 'corpus', nchr FROM agg
UNION ALL SELECT 'length', 'mean_doc_tokens', 'corpus', avg_tc FROM agg
UNION ALL SELECT 'length', 'p25_tokens', 'corpus', p25 FROM agg
UNION ALL SELECT 'length', 'p50_tokens', 'corpus', p50 FROM agg
UNION ALL SELECT 'length', 'p75_tokens', 'corpus', p75 FROM agg
UNION ALL SELECT 'length', 'p95_tokens', 'corpus', p95 FROM agg
UNION ALL SELECT 'dedup', 'exact_dup_rate', 'corpus', dup FROM agg
UNION ALL SELECT 'quality', 'mean_quality', 'corpus', mq FROM agg
UNION ALL
SELECT 'volume', 'doc_share', src,
       ROUND(COUNT(*) * 1.0 / (SELECT t FROM tot), 6)
FROM base GROUP BY src
UNION ALL
SELECT 'language', 'doc_share', lang,
       ROUND(COUNT(*) * 1.0 / (SELECT t FROM tot), 6)
FROM base GROUP BY lang
"""
