"""Data-selection and mixing plans: DSIR/DoReMi/UniMax, budgets, quotas, splits, shards, and the anneal-phase allocation.

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



def q_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pretraining dataset mixing: resample the corpus toward a target
    # language distribution (en-heavy) with deterministic md5-threshold
    # sampling.  See functions/mixing.py for the scale design.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.mix_sources(
        docs,
        weights={"en": 0.5, "es": 0.15, "fr": 0.15, "de": 0.1, "zh": 0.1},
        total_rows=250,
        key_col="lang",
    )


SQL_MIX_SOURCES = r"""
WITH counts AS (
  SELECT lang, COUNT(*) AS n_group FROM documents GROUP BY lang
), rated AS (
  SELECT d.doc_id, d.lang,
         least(1.0,
               CASE d.lang
                 WHEN 'en' THEN 0.5 WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.15
                 WHEN 'de' THEN 0.1 WHEN 'zh' THEN 0.1 ELSE 0.0
               END * 250.0 / c.n_group) AS rate
  FROM documents d JOIN counts c USING (lang)
)
SELECT doc_id, lang, ROUND(rate, 6) AS keep_rate
FROM rated
WHERE '0' || substr(md5(doc_id || ':' || lang), 1, 15)
      < lpad(lower(to_hex(CAST(floor(rate * 1152921504606846976) AS BIGINT))), 16, '0')
"""


def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic global corpus shuffle: md5-hash rank + rank%16 shard
    # assignment — a narrow projection, no Spark shuffle at all (the one
    # real shuffle happens at write time, partitioned by shard_id).
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return mixing.shuffle_shards(docs, n_shards=16)


SQL_SHUFFLE_SHARDS = """
SELECT doc_id, h AS shuffle_rank, CAST(h % 16 AS INT) AS shard_id
FROM (SELECT doc_id,
             CAST('0x' || substr(md5(doc_id || ':'), 1, 15) AS BIGINT) AS h
      FROM documents)
"""


# ------------------------------------------------- curriculum bucketing -


def q_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Easy→hard curriculum assignment by token count, quintile buckets —
    # thresholds reduce to one broadcast row, assignment is narrow; the
    # 100 TB ordering story is partition-by-bucket + hash rank, never a
    # global sort.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.curriculum_buckets(
        docs, text.token_count(F.col("text")).cast("double"), "doc_id",
        n_buckets=5,
    )


SQL_CURRICULUM_BUCKETS = r"""
WITH scored AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(text, '[ \x09\x0A\x0D\x0B\x0C]+'),
                              x -> length(x) > 0)) AS DOUBLE) AS score
  FROM documents
), thr AS (
  SELECT quantile_cont(score, [0.2, 0.4, 0.6, 0.8]) AS thrs FROM scored
)
SELECT doc_id, score,
  CAST(COALESCE(len(list_filter(thrs, t -> score >= t)), 0) AS INT) AS bucket
FROM scored CROSS JOIN thr
"""


def q_assign_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic train/val/test assignment over the corpus.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.assign_splits(docs).select("doc_id", "split")


def _sql_assign_splits() -> str:
    # The twin's CASE bounds come from the same helper the Spark op uses,
    # so both engines compare bit-identical hex literals.
    from etl_pipeline2_0_spark.functions.mixing import split_thresholds

    pairs = split_thresholds({"train": 0.9, "val": 0.05, "test": 0.05})
    whens = "\n            ".join(
        f"WHEN hx < '{bound}' THEN '{name}'" for name, bound in pairs[:-1]
    )
    return f"""
WITH h AS (
  SELECT doc_id,
         '0' || substring(md5(CAST(doc_id AS VARCHAR) || ':'), 1, 15) AS hx
  FROM documents
)
SELECT doc_id,
       CASE {whens}
            ELSE '{pairs[-1][0]}' END AS split
FROM h
"""


SQL_ASSIGN_SPLITS = _sql_assign_splits()


def q_temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # mT5/XLM-R temperature sampling weights over per-source token masses
    # (α=0.5): the principled "up-sample low-resource sources" rule whose
    # output feeds mix_sources.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.temperature_mix_weights(docs, alpha=0.5, epoch_docs=10_000)


SQL_TEMPERATURE_MIX_WEIGHTS = r"""
WITH sizes AS (
  SELECT source,
         CAST(SUM(len(list_filter(regexp_split_to_array(text, '[ \x09\x0A\x0D\x0B\x0C]+'),
                                  x -> length(x) > 0))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), powered AS (
  SELECT source, n_tokens, POW(CAST(n_tokens AS DOUBLE), 0.5) AS p FROM sizes
), tot AS (
  SELECT SUM(p) AS t FROM powered
)
SELECT source, n_tokens, ROUND(p / t, 6) AS weight,
       CAST(FLOOR(10000 * p / t) AS BIGINT) AS expected_docs
FROM powered CROSS JOIN tot
"""


def q_moore_lewis(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Moore-Lewis 2010 cross-entropy-difference selection: in-domain LM
    # trained on the src0 slice (the DSIR target convention), general LM
    # on the whole corpus; keep candidates whose per-char logp delta
    # clears 0 — the perplexity-space complement of dsir_weights.
    docs = load_table(spark, sf_dir, "documents")
    return text.moore_lewis_select(
        docs, docs.where(F.col("source") == "src0"),
        prefix_len=200, threshold=0.0,
    )


SQL_MOORE_LEWIS = r"""
WITH d_all AS (
  SELECT doc_id, source, lower(substring(text, 1, 200)) AS t
  FROM documents
  WHERE length(substring(text, 1, 200)) >= 2
), bg AS (
  SELECT doc_id, source,
         substring(t, CAST(i AS INT), 2) AS big,
         substring(t, CAST(i AS INT), 1) AS ctx
  FROM d_all CROSS JOIN (SELECT unnest(range(1, 200)) AS i) s
  WHERE i <= length(t) - 1
), bg_t AS MATERIALIZED (
  SELECT big, ctx FROM bg WHERE source = 'src0'
), bc_t AS (SELECT big, COUNT(*) AS bc FROM bg_t GROUP BY 1),
cc_t AS (SELECT ctx, COUNT(*) AS cc FROM bg_t GROUP BY 1),
a_t AS (SELECT COUNT(DISTINCT substring(big, 2, 1)) AS alpha FROM bg_t),
bc_g AS (SELECT big, COUNT(*) AS bc FROM bg GROUP BY 1),
cc_g AS (SELECT ctx, COUNT(*) AS cc FROM bg GROUP BY 1),
a_g AS (SELECT COUNT(DISTINCT substring(big, 2, 1)) AS alpha FROM bg),
scored AS (
  SELECT bg.doc_id,
    COUNT(*) AS n_bigrams,
    ROUND(AVG(ln((COALESCE(t.bc, 0) + 1.0)
                 / (COALESCE(ct.cc, 0) + a_t.alpha))), 6) AS logp_target,
    ROUND(AVG(ln((COALESCE(g.bc, 0) + 1.0)
                 / (COALESCE(cg.cc, 0) + a_g.alpha))), 6) AS logp_general
  FROM bg
  LEFT JOIN bc_t t USING (big)
  LEFT JOIN cc_t ct ON bg.ctx = ct.ctx
  LEFT JOIN bc_g g ON bg.big = g.big
  LEFT JOIN cc_g cg ON bg.ctx = cg.ctx
  CROSS JOIN a_t CROSS JOIN a_g
  GROUP BY bg.doc_id
)
SELECT doc_id, n_bigrams, logp_target, logp_general,
       ROUND(logp_target - logp_general, 6) AS ce_delta,
       ROUND(logp_target - logp_general, 6) >= 0.0 AS keep
FROM scored
"""


def q_assign_splits_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Leakage-safe (group-aware) splitting: hash the SOURCE, not the doc,
    # so every doc of a domain lands in the same split — near-dups within
    # a domain can't straddle train/val (standard ML-hygiene variant;
    # same assign_splits machinery with the group as the hash key).
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.assign_splits(
        docs, weights={"train": 0.8, "val": 0.2}, id_col="source"
    ).select("doc_id", "source", "split")


def _sql_assign_splits_grouped() -> str:
    from etl_pipeline2_0_spark.functions.mixing import split_thresholds

    (_, t_train), _ = split_thresholds({"train": 0.8, "val": 0.2})
    return f"""
SELECT doc_id, source,
       CASE WHEN '0' || substring(md5(CAST(source AS VARCHAR) || ':'), 1, 15)
                 < '{t_train}'
            THEN 'train' ELSE 'val' END AS split
FROM documents
"""


SQL_ASSIGN_SPLITS_GROUPED = _sql_assign_splits_grouped()


def q_interleave_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Ratio-faithful interleaving keys over three weighted sources; the
    # remaining sources take the minimum weight.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("source").isin("src0", "src1", "src2")
    )
    return mixing.interleave_key(
        docs, {"src0": 2.0, "src1": 1.0, "src2": 0.5}
    ).select("doc_id", "source", "src_rank", "ileave_key")


SQL_INTERLEAVE_KEY = """
WITH ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':'),
                                           1, 15) AS BIGINT),
                    doc_id
         ) AS src_rank
  FROM documents WHERE source IN ('src0', 'src1', 'src2')
)
SELECT doc_id, source, CAST(src_rank AS BIGINT) AS src_rank,
       ROUND(src_rank / (CASE source WHEN 'src0' THEN 2.0
                                     WHEN 'src1' THEN 1.0
                                     ELSE 0.5 END), 6) AS ileave_key
FROM ranked
"""


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DSIR importance log-weights (Xie et al. 2023): hashed unigram+bigram
    # features, target = the src0 slice (the "domain" being selected for),
    # raw = the whole corpus.  Portable md5 buckets → full DuckDB twin.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.dsir_log_weights(
        docs, docs.where(F.col("source") == "src0"), num_buckets=2048
    )


# Shared DSIR CTE chain: portable md5-hex15 bucket of every unigram and
# bigram OCCURRENCE (counts matter — no DISTINCT), add-1-smoothed
# target/raw log-ratio per bucket, per-doc feature-sum.
_SQL_DSIR_CTES = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> length(x) > 0) AS toks
  FROM documents
), tok_rows AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord
  FROM toks
), bigrams AS (
  SELECT doc_id, tok || ' ' || LEAD(tok, 1) OVER w AS g
  FROM tok_rows WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
), grams AS (
  SELECT doc_id, tok AS g FROM tok_rows
  UNION ALL
  SELECT doc_id, g FROM bigrams WHERE g IS NOT NULL
), feats AS (
  SELECT doc_id,
         CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) % 2048 AS bucket
  FROM grams
), raw_c AS (
  SELECT bucket, COUNT(*) AS c_raw FROM feats GROUP BY bucket
), tgt_c AS (
  SELECT bucket, COUNT(*) AS c_tgt
  FROM feats JOIN documents USING (doc_id)
  WHERE source = 'src0' GROUP BY bucket
), dist AS (
  SELECT COALESCE(r.bucket, t.bucket) AS bucket,
         COALESCE(c_raw, 0) AS c_raw, COALESCE(c_tgt, 0) AS c_tgt
  FROM raw_c r FULL OUTER JOIN tgt_c t ON r.bucket = t.bucket
), tot AS (
  SELECT SUM(c_raw) AS t_raw, SUM(c_tgt) AS t_tgt FROM dist
), ratio AS (
  SELECT bucket,
         ln((c_tgt + 1.0) / (t_tgt + 2048.0))
           - ln((c_raw + 1.0) / (t_raw + 2048.0)) AS log_ratio
  FROM dist CROSS JOIN tot
), weights AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_features,
         ROUND(SUM(log_ratio), 6) AS log_weight
  FROM feats JOIN ratio USING (bucket)
  GROUP BY doc_id
)
"""

SQL_DSIR_WEIGHTS = _SQL_DSIR_CTES + "SELECT * FROM weights"


def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DSIR's resampling step: 100 docs without replacement ∝ exp(weight)
    # via deterministic-portable Gumbel-top-k (md5-uniform noise).
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.dsir_gumbel_sample(
        docs, docs.where(F.col("source") == "src0"), k=100, num_buckets=2048
    )


def _sql_dsir_sample(salt: str = "", k: int = 100) -> str:
    # Generated from the SAME salt and hex15 space the Spark side uses
    # (mixing._HEX15_SPACE) — one source of truth, so changing either in
    # mixing.dsir_gumbel_sample can't silently break the twin (advisor
    # r10).  ``salt`` must be SQL-literal-safe (registry uses default "").
    from etl_pipeline2_0_spark.functions.mixing import _HEX15_SPACE

    space = float(_HEX15_SPACE) + 2.0
    return _SQL_DSIR_CTES + f"""
SELECT doc_id, log_weight,
       ROUND(log_weight - ln(-ln(
         (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':{salt}'),
               1, 15) AS BIGINT) + 1.0) / {space:.1f}
       )), 6) AS sample_key
FROM weights
ORDER BY sample_key DESC, doc_id
LIMIT {k}
"""


SQL_DSIR_SAMPLE = _sql_dsir_sample()


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Split-leakage audit: assign the standard deterministic train/val/
    # test splits, then measure each VAL doc's shingle containment against
    # the TRAIN side — near-dup leakage across the split boundary is
    # exactly what makes validation loss lie.  Pure composition:
    # assign_splits → contamination_check, both already oracled.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    s = mixing.assign_splits(docs)
    train = s.where(F.col("split") == "train")
    val = s.where(F.col("split") == "val")
    return dedup.contamination_check(train, val, k=3).select(
        F.col("eval_id").alias("doc_id"),
        "n_shingles",
        "n_contaminated",
        "containment",
    )


def _sql_split_leakage() -> str:
    from etl_pipeline2_0_spark.functions.mixing import split_thresholds

    pairs = split_thresholds({"train": 0.9, "val": 0.05, "test": 0.05})
    whens = "\n            ".join(
        f"WHEN hx < '{bound}' THEN '{name}'" for name, bound in pairs[:-1]
    )
    return f"""
WITH s AS (
  SELECT doc_id, text,
         CASE {whens}
              ELSE '{pairs[-1][0]}' END AS split
  FROM (
    SELECT doc_id, text,
           '0' || substring(md5(CAST(doc_id AS VARCHAR) || ':'), 1, 15) AS hx
    FROM documents
  )
), tok AS (
  SELECT doc_id, split,
         list_filter(regexp_split_to_array(lower(text), '\\W+'),
                     x -> length(x) > 0) AS toks
  FROM s WHERE split IN ('train', 'val')
), tok_rows AS (
  SELECT doc_id, split, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord
  FROM tok
), sh3 AS (
  SELECT doc_id, split,
         tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w AS shingle
  FROM tok_rows WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
), sh AS (
  SELECT DISTINCT doc_id, split, shingle FROM sh3 WHERE shingle IS NOT NULL
), train_sh AS (
  SELECT DISTINCT shingle FROM sh WHERE split = 'train'
), val_sh AS (
  SELECT doc_id, shingle FROM sh WHERE split = 'val'
)
SELECT v.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN t.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       ROUND(SUM(CASE WHEN t.shingle IS NOT NULL THEN 1 ELSE 0 END)
               / CAST(COUNT(*) AS DOUBLE), 6) AS containment
FROM val_sh v LEFT JOIN train_sh t USING (shingle)
GROUP BY v.doc_id
"""


SQL_SPLIT_LEAKAGE = _sql_split_leakage()


# --------------------------------------------- DoReMi domain reweighting -

# One source of truth for the EG hyperparameters: the Spark call and the
# generated twin both read these (the advisor-r10 DSIR-salt lesson).
_DOREMI = {"steps": 10, "eta": 1.0, "smooth": 0.01}


def q_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.doremi_weights(docs, **_DOREMI)


def _sql_doremi_weights(steps: int, eta: float, smooth: float) -> str:
    # The LM-score CTEs are SQL_LM_SCORE's, re-inlined (the CCNet twin
    # pattern); the EG loop is a k-step MATERIALIZED CTE chain (the BPE
    # twin lesson: DuckDB inlines multi-referenced CTEs exponentially
    # otherwise).  exp() runs once in `base`; the loop itself is pure
    # rational arithmetic, so the engines agree at 6 dp.
    chain = []
    prev = "w0"
    for i in range(1, steps + 1):
        chain.append(
            f""", w{i} AS MATERIALIZED (
  SELECT domain, loss, excess, nd, boost,
         (1.0 - {smooth}) * w * boost / SUM(w * boost) OVER ()
           + {smooth} / nd AS w
  FROM {prev}
)"""
        )
        prev = f"w{i}"
    steps_sql = "".join(chain)
    return rf"""
WITH d AS (
  SELECT doc_id, lower(substring(text, 1, 200)) AS t FROM documents
  WHERE length(substring(text, 1, 200)) >= 2
), bg AS (
  SELECT doc_id, substring(t, CAST(i AS INT), 2) AS big,
         substring(t, CAST(i AS INT), 1) AS ctx
  FROM d CROSS JOIN (SELECT unnest(range(1, 200)) AS i) s
  WHERE i <= length(t) - 1
), bc AS (
  SELECT big, COUNT(*) AS bc FROM bg GROUP BY 1
), cc AS (
  SELECT ctx, COUNT(*) AS cc FROM bg GROUP BY 1
), a AS (
  SELECT COUNT(DISTINCT substring(big, 2, 1)) AS alpha FROM bg
), scores AS (
  SELECT bg.doc_id,
         ROUND(AVG(ln((bc.bc + 1.0) / (cc.cc + a.alpha))), 6) AS avg_logp
  FROM bg JOIN bc USING (big) JOIN cc ON bg.ctx = cc.ctx CROSS JOIN a
  GROUP BY bg.doc_id
), dom AS (
  SELECT source AS domain, AVG(-avg_logp) AS loss
  FROM scores JOIN documents USING (doc_id) GROUP BY 1
), base AS MATERIALIZED (
  SELECT domain, loss,
         GREATEST(loss - MIN(loss) OVER (), 0.0) AS excess,
         CAST(COUNT(*) OVER () AS DOUBLE) AS nd,
         exp({eta} * GREATEST(loss - MIN(loss) OVER (), 0.0)) AS boost
  FROM dom
), w0 AS MATERIALIZED (
  SELECT domain, loss, excess, nd, boost, 1.0 / nd AS w FROM base
){steps_sql}
SELECT domain, ROUND(loss, 6) AS loss, ROUND(excess, 6) AS excess,
       ROUND(w, 6) AS weight
FROM {prev}
"""


SQL_DOREMI_WEIGHTS = _sql_doremi_weights(**_DOREMI)


# ------------------------------------------------ UniMax allocation ------


def q_unimax_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # UniMax (Chung et al. 2023): epoch-capped waterfilling of a one-epoch
    # token budget across languages.  At these corpus shares (en ≈ 2.7×
    # the others) the four small languages hit the 1.2-epoch cap and
    # English absorbs the remaining budget — the cut lands mid-list, so
    # both branches of the closed form carry driver rows.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.unimax_allocation(
        docs, group_col="lang", budget_frac=1.0, epoch_cap=1.2
    )


SQL_UNIMAX_ALLOC = r"""
WITH per AS (
  SELECT lang AS grp,
         CAST(SUM(len(list_filter(
             regexp_split_to_array(COALESCE(text, ''),
                                   '[ \x09\x0A\x0D\x0B\x0C]+'),
             x -> length(x) > 0))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n_tokens) AS DOUBLE) AS total,
         CAST(COUNT(*) AS INT) AS L
  FROM per
), flagged AS (
  SELECT *,
         (cap_tokens * (L - idx + 1) <= B - cum_before) AS flag
  FROM (
    SELECT grp, n_tokens, L,
           1.2 * n_tokens AS cap_tokens,
           1.0 * total AS B,
           CAST(ROW_NUMBER() OVER (ORDER BY 1.2 * n_tokens, grp) AS INT)
             AS idx,
           COALESCE(SUM(1.2 * n_tokens) OVER (
               ORDER BY 1.2 * n_tokens, grp
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
             AS cum_before
    FROM per CROSS JOIN tot
  )
), cut AS (
  SELECT MIN(CASE WHEN NOT flag THEN idx END) AS f FROM flagged
), pool AS (
  SELECT SUM(CASE WHEN f IS NULL OR idx < f
                  THEN cap_tokens ELSE 0.0 END) AS spent_caps,
         CAST(SUM(CASE WHEN f IS NOT NULL AND idx >= f
                       THEN 1 ELSE 0 END) AS INT) AS n_uncapped
  FROM flagged CROSS JOIN cut
)
SELECT grp AS lang, n_tokens,
       ROUND(cap_tokens, 6) AS cap_tokens,
       ROUND(CASE WHEN f IS NULL OR idx < f THEN cap_tokens
                  WHEN n_uncapped > 0
                  THEN (B - spent_caps) / n_uncapped
                  ELSE 0.0 END, 6) AS alloc_tokens,
       ROUND(CASE WHEN n_tokens > 0 THEN
               (CASE WHEN f IS NULL OR idx < f THEN cap_tokens
                     WHEN n_uncapped > 0
                     THEN (B - spent_caps) / n_uncapped
                     ELSE 0.0 END) / n_tokens
             ELSE 0.0 END, 6) AS epochs,
       (f IS NULL OR idx < f) AS capped
FROM flagged CROSS JOIN cut CROSS JOIN pool
"""


# ------------------------------------------ data-constrained planner -----


def q_data_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Muennighoff et al. 2023 repeat-decay planner at 4 requested epochs
    # and the paper's fitted R* = 15.4.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.data_budget_plan(
        docs, group_col="source", epochs=4.0, r_star=15.4
    )


SQL_DATA_BUDGET_PLAN = r"""
WITH per AS (
  SELECT source,
         CAST(SUM(len(list_filter(
             regexp_split_to_array(COALESCE(text, ''),
                                   '[ \x09\x0A\x0D\x0B\x0C]+'),
             x -> length(x) > 0))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
)
SELECT source, n_tokens,
       ROUND(4.0 * n_tokens, 6) AS requested_tokens,
       ROUND(1.0 * n_tokens
             + n_tokens * 15.4 * (1.0 - exp(-(4.0 - 1.0) / 15.4)), 6)
         AS effective_tokens,
       ROUND((1.0 * n_tokens
              + n_tokens * 15.4 * (1.0 - exp(-(4.0 - 1.0) / 15.4)))
             / (4.0 * n_tokens), 6) AS efficiency
FROM per
"""


# ----------------------------------------------- stratified sample -------


def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic 40-per-language quota sample (md5-rank draw) —
    # distinct from the TPC-H part-table stratified_sample entry.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.stratified_sample(
        docs, group_col="lang", quota=40
    )


SQL_QUOTA_SAMPLE = r"""
SELECT lang, doc_id, CAST(ROW_NUMBER() OVER (
         PARTITION BY lang
         ORDER BY md5(CAST(doc_id AS VARCHAR) || ':'), doc_id
       ) AS INT) AS rnk
FROM documents
QUALIFY rnk <= 40
"""


# -------------------------------------------- domain concentration -------


def q_domain_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One-row concentration dashboard over per-source token shares:
    # HHI, entropy, effective domains, Gini, top share.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.domain_concentration(docs, group_col="source")


SQL_DOMAIN_CONCENTRATION = r"""
WITH per AS (
  SELECT source AS grp,
         CAST(SUM(len(list_filter(
             regexp_split_to_array(COALESCE(text, ''),
                                   '[ \x09\x0A\x0D\x0B\x0C]+'),
             x -> length(x) > 0))) AS DOUBLE) AS n_tokens
  FROM documents GROUP BY 1
), tot AS (
  SELECT SUM(n_tokens) AS total FROM per
), ranked AS (
  SELECT n_tokens / total AS p,
         CAST(ROW_NUMBER() OVER (ORDER BY n_tokens / total, grp)
              AS DOUBLE) AS i
  FROM per CROSS JOIN tot
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       ROUND(SUM(p * p), 6) AS hhi,
       ROUND(-SUM(p * ln(p)), 6) AS entropy,
       ROUND(exp(-SUM(p * ln(p))), 6) AS effective_groups,
       ROUND((2 * SUM(i * p) - (COUNT(*) + 1)) / COUNT(*), 6) AS gini,
       ROUND(MAX(p), 6) AS top_share
FROM ranked
"""


def q_anneal_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-phase (pretrain + anneal) mix allocation: 90% of a 1M-token
    # budget token-proportional across all sources, the final 10% only
    # on sources whose mean lexical-diversity quality beats the corpus
    # mean — the public midtraining-anneal recipe as one corpus pass +
    # bounded-frame arithmetic, every number exact-integer.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.anneal_mix_plan(docs, budget_tokens=1_000_000, anneal_pct=10)


SQL_ANNEAL_MIX_PLAN = r"""
WITH per_doc AS (
  SELECT source AS grp,
         len(list_filter(regexp_split_to_array(lower(text), '\W+'),
                         x -> length(x) > 0)) AS nw,
         len(list_distinct(list_filter(regexp_split_to_array(lower(text), '\W+'),
                                       x -> length(x) > 0))) AS nd
  FROM documents
), pd AS (
  SELECT grp, nw,
         CASE WHEN nw > 0 THEN (1000 * nd) // nw ELSE 0 END AS q_pm
  FROM per_doc
), per AS (
  SELECT grp,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(nw) AS BIGINT) AS n_tokens,
         CAST(SUM(q_pm) AS BIGINT) AS su
  FROM pd GROUP BY grp
), tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS t_tokens,
         CAST(SUM(su) AS BIGINT) AS t_su,
         CAST(SUM(n_docs) AS BIGINT) AS t_docs
  FROM per
), flagged AS (
  SELECT p.grp, p.n_docs, p.n_tokens, p.su, t.t_tokens,
         (p.su * t.t_docs >= t.t_su * p.n_docs) AS hq
  FROM per p, tot t
), hqt AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN hq THEN n_tokens ELSE 0 END), 0) AS BIGINT)
           AS hq_tokens
  FROM flagged
), alloc AS (
  SELECT f.grp, f.n_docs, f.n_tokens,
         f.su / f.n_docs AS mean_quality_pm,
         f.hq,
         CAST((900000 * f.n_tokens) // f.t_tokens AS BIGINT) AS main_tokens,
         CAST(CASE WHEN f.hq AND h.hq_tokens > 0
                   THEN (100000 * f.n_tokens) // h.hq_tokens
                   ELSE 0 END AS BIGINT) AS anneal_tokens
  FROM flagged f, hqt h
)
SELECT grp AS source, n_docs, n_tokens, mean_quality_pm,
       hq AS is_high_quality, main_tokens, anneal_tokens,
       main_tokens + anneal_tokens AS total_tokens
FROM alloc
ORDER BY grp
"""


# ------------------------------------------------------ corpus overlap ----


def q_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cross-source shingle-containment matrix — the inter-source
    # duplication estimate read before mixing corpora (containment_a =
    # shared shingle vocabulary as a fraction of source A's).
    docs = load_table(spark, sf_dir, "documents")
    return dedup.corpus_overlap(docs, group_col="source", k=3)


SQL_CORPUS_OVERLAP = r"""
WITH docs AS (
  SELECT doc_id AS id, source AS grp, lower(text) AS t FROM documents
), toks AS (
  SELECT id, grp, list_filter(regexp_split_to_array(t, '\W+'),
                              x -> length(x) > 0) AS toks
  FROM docs
), tok_rows AS (
  SELECT id, grp, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord
  FROM toks
), sh0 AS (
  SELECT id, grp,
         tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w
           AS shingle
  FROM tok_rows WINDOW w AS (PARTITION BY id ORDER BY ord)
), sh AS (
  SELECT DISTINCT grp, shingle FROM sh0 WHERE shingle IS NOT NULL
), sizes AS (
  SELECT grp, COUNT(*) AS n_sh FROM sh GROUP BY grp
), inter AS (
  SELECT a.grp AS group_a, b.grp AS group_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.grp < b.grp
  GROUP BY a.grp, b.grp
)
SELECT group_a, group_b, CAST(n_common AS BIGINT) AS n_common,
       ROUND(n_common * 1.0 / sa.n_sh, 6) AS containment_a,
       ROUND(n_common * 1.0 / sb.n_sh, 6) AS containment_b,
       ROUND(n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON group_a = sa.grp
JOIN sizes sb ON group_b = sb.grp
"""


# --------------------------------------------------- epoch decay curve ----


def q_epoch_decay_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The data_budget_plan formula swept over 1/2/4/8/16 repeat epochs —
    # the "is another epoch still worth compute" curve per source.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.epoch_decay_curve(
        docs, group_col="source", epochs=(1.0, 2.0, 4.0, 8.0, 16.0),
        r_star=15.4,
    )


SQL_EPOCH_DECAY_CURVE = r"""
WITH per AS (
  SELECT source,
         CAST(SUM(len(list_filter(
             regexp_split_to_array(COALESCE(text, ''),
                                   '[ \x09\x0A\x0D\x0B\x0C]+'),
             x -> length(x) > 0))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
), swept AS (
  SELECT source, n_tokens, e.epochs
  FROM per CROSS JOIN
       (SELECT UNNEST([1.0, 2.0, 4.0, 8.0, 16.0]) AS epochs) e
)
SELECT source, epochs, n_tokens,
       ROUND(epochs * n_tokens, 6) AS requested_tokens,
       ROUND(LEAST(epochs, 1.0) * n_tokens
             + n_tokens * 15.4
               * (1.0 - exp(-GREATEST(epochs - 1.0, 0.0) / 15.4)), 6)
         AS effective_tokens,
       ROUND(CASE WHEN epochs * n_tokens > 0 THEN
               (LEAST(epochs, 1.0) * n_tokens
                + n_tokens * 15.4
                  * (1.0 - exp(-GREATEST(epochs - 1.0, 0.0) / 15.4)))
               / (epochs * n_tokens)
             ELSE 0.0 END, 6) AS efficiency
FROM swept
"""


def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Priority sampling (Duffield, Lund & Thorup, JACM 2007): the
    # deterministic weighted sample without replacement + the DLT
    # unbiased subset-sum estimator, weighted by word count.  The
    # md5-uniform and the priority are each ONE IEEE double division —
    # bit-identical cross-engine, no transcendental (the reason this
    # beats exponential-race A-ES sampling for a portable pipeline).
    from etl_pipeline2_0_spark.functions import mixing
    from etl_pipeline2_0_spark.functions import text as tx

    docs = load_table(spark, sf_dir, "documents")
    weighted = docs.withColumn(
        "n_words", F.size(tx.tokens(F.col("text")))
    )
    return mixing.priority_sample(
        weighted, weight_col="n_words", k=32, id_col="doc_id"
    )


SQL_PRIORITY_SAMPLE = r"""
WITH s AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '\W+'),
                              x -> length(x) > 0)) AS DOUBLE) AS weight,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '\W+'),
                              x -> length(x) > 0)) AS DOUBLE)
           / ((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':'),
                                      1, 15) AS BIGINT) + 1)
              / 1152921504606846976.0) AS priority
  FROM documents
), top AS (
  SELECT doc_id, weight, priority,
         CAST(ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS INT)
           AS rank
  FROM s
  QUALIFY rank <= 33
), tau AS (
  SELECT COALESCE(MAX(CASE WHEN rank = 33 THEN priority END), 0.0) AS tau
  FROM top
)
SELECT rank, doc_id, weight, priority,
       GREATEST(weight, tau) AS est_weight
FROM top CROSS JOIN tau
WHERE rank <= 32
ORDER BY rank
"""


def q_priority_sample_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The sample-size sizing sweep for priority sampling — per k, the
    # DLT total-weight estimate vs the exact corpus total, from ONE
    # scored pass and one bounded top-(max k + 1) frame; per-item
    # estimates sum as micro-unit integers (order-free), rel_err is one
    # exact division.  The tenth measured sizing curve.
    from etl_pipeline2_0_spark.functions import mixing
    from etl_pipeline2_0_spark.functions import text as tx

    docs = load_table(spark, sf_dir, "documents")
    weighted = docs.withColumn(
        "n_words", F.size(tx.tokens(F.col("text")))
    )
    return mixing.priority_sample_curve(
        weighted, weight_col="n_words", ks=(8, 16, 32, 64),
        id_col="doc_id",
    )


SQL_PRIORITY_SAMPLE_CURVE = r"""
WITH s AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '\W+'),
                              x -> length(x) > 0)) AS DOUBLE) AS weight,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '\W+'),
                              x -> length(x) > 0)) AS DOUBLE)
           / ((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':'),
                                      1, 15) AS BIGINT) + 1)
              / 1152921504606846976.0) AS priority
  FROM documents
), ranked AS (
  SELECT weight, priority,
         CAST(ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS INT)
           AS rank
  FROM s
  QUALIFY rank <= 65
), taus AS (
  SELECT
    COALESCE(MAX(CASE WHEN rank = 9 THEN priority END), 0.0) AS tau8,
    COALESCE(MAX(CASE WHEN rank = 17 THEN priority END), 0.0) AS tau16,
    COALESCE(MAX(CASE WHEN rank = 33 THEN priority END), 0.0) AS tau32,
    COALESCE(MAX(CASE WHEN rank = 65 THEN priority END), 0.0) AS tau64
  FROM ranked
), est AS (
  SELECT
    COALESCE(SUM(CASE WHEN rank <= 8 THEN
      CAST(ROUND(GREATEST(weight, tau8) * 1000000.0) AS BIGINT) END), 0)
      AS est8,
    COALESCE(SUM(CASE WHEN rank <= 16 THEN
      CAST(ROUND(GREATEST(weight, tau16) * 1000000.0) AS BIGINT) END), 0)
      AS est16,
    COALESCE(SUM(CASE WHEN rank <= 32 THEN
      CAST(ROUND(GREATEST(weight, tau32) * 1000000.0) AS BIGINT) END), 0)
      AS est32,
    COALESCE(SUM(CASE WHEN rank <= 64 THEN
      CAST(ROUND(GREATEST(weight, tau64) * 1000000.0) AS BIGINT) END), 0)
      AS est64,
    CAST(COALESCE(SUM(CASE WHEN rank <= 8 THEN 1 END), 0) AS BIGINT) AS n8,
    CAST(COALESCE(SUM(CASE WHEN rank <= 16 THEN 1 END), 0) AS BIGINT) AS n16,
    CAST(COALESCE(SUM(CASE WHEN rank <= 32 THEN 1 END), 0) AS BIGINT) AS n32,
    CAST(COALESCE(SUM(CASE WHEN rank <= 64 THEN 1 END), 0) AS BIGINT) AS n64,
    MAX(tau8) AS t8, MAX(tau16) AS t16, MAX(tau32) AS t32, MAX(tau64) AS t64
  FROM ranked CROSS JOIN taus
), tot AS (
  SELECT CAST(SUM(CAST(len(list_filter(
           regexp_split_to_array(lower(text), '\W+'),
           x -> length(x) > 0)) AS BIGINT)) AS BIGINT) AS true_total
  FROM documents
)
SELECT v.k, v.n AS n_sampled, v.tau,
       CAST(v.e AS BIGINT) AS est_total_u, t.true_total,
       (v.e - t.true_total * 1000000)
         / (t.true_total * 1000000.0) AS rel_err
FROM est, tot t, LATERAL (
  VALUES (CAST(8 AS INT), est.n8, est.t8, est.est8),
         (CAST(16 AS INT), est.n16, est.t16, est.est16),
         (CAST(32 AS INT), est.n32, est.t32, est.est32),
         (CAST(64 AS INT), est.n64, est.t64, est.est64)
) v(k, n, tau, e)
ORDER BY v.k
"""


def q_temperature_mix_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The α-sweep behind temperature_mix_weights: per candidate α, mix
    # flatness (min/max weight, effective source count) vs the maximum
    # tail up-sample factor — the twelfth measured sizing curve.  The
    # fixture's 20 sources are near-equal, so the row PLANTS a
    # deterministic power-law skew (mass = tokens · (idx+1)², idx from
    # the source name; ~400:1 spread — mirrored in SQL) so the sweep
    # reads like a production multilingual mix, not uniform noise.
    from etl_pipeline2_0_spark.functions import mixing, text as TX

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "mass",
        TX.token_count(F.col("text"))
        * F.pow(
            F.substring(F.col("source"), 4, 10).cast("int") + F.lit(1),
            F.lit(2.0),
        ).cast("bigint"),
    )
    return mixing.temperature_mix_curve(
        docs, alphas=(0.2, 0.3, 0.5, 0.7, 1.0), mass_col="mass"
    )


SQL_TEMPERATURE_MIX_CURVE = r"""
WITH sizes AS (
  SELECT source,
         CAST(SUM(len(list_filter(regexp_split_to_array(text, '[ \x09\x0A\x0D\x0B\x0C]+'),
                                  x -> length(x) > 0))
                  * CAST(POW(CAST(substring(source, 4) AS INT) + 1, 2.0)
                         AS BIGINT)) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), a(alpha) AS (
  VALUES (0.2), (0.3), (0.5), (0.7), (1.0)
), fan AS (
  SELECT source, n_tokens, alpha,
         POW(CAST(n_tokens AS DOUBLE), alpha) AS p
  FROM sizes CROSS JOIN a
), tot AS (
  SELECT alpha, SUM(p) AS t FROM fan GROUP BY alpha
), w AS (
  SELECT f.source, f.alpha,
         CAST(ROUND(f.p / t.t * 1000000.0) AS BIGINT) AS w_u
  FROM fan f JOIN tot t USING (alpha)
), nat AS (
  SELECT source, w_u AS nat_u FROM w WHERE alpha = 1.0
)
SELECT w.alpha,
       CAST(COUNT(*) AS BIGINT) AS n_sources,
       ROUND(MIN(w_u) / 1000000.0, 6) AS min_weight,
       ROUND(MAX(w_u) / 1000000.0, 6) AS max_weight,
       ROUND(1000000000000.0 / SUM(w_u * w_u), 6) AS eff_sources,
       ROUND(MAX(w_u * 1.0 / nat_u), 6) AS max_upsample
FROM w JOIN nat USING (source)
GROUP BY w.alpha
ORDER BY w.alpha
"""
