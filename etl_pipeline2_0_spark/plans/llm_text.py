"""Text-analysis and corpus-quality plans: lang-ID, quality scoring, Gopher/C4/CCNet batteries, filters and their ablations.

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
from etl_pipeline2_0_spark.pipeline import count_by_type
from etl_pipeline2_0_spark.sources.tables import load_table
from etl_pipeline2_0_spark.plans.llm_common import (
    _MARKER_SQL,
    _STOPS_SQL,
)



def q_lang_id_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(text.lang_id(F.col("text")).alias("pred_lang"))
        .groupBy("pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


SQL_LANG_ID_COUNTS = rf"""
WITH scored AS (
  SELECT
    len(regexp_extract_all(lower(text), '\b({_MARKER_SQL["en"]})\b')) AS en,
    len(regexp_extract_all(lower(text), '\b({_MARKER_SQL["es"]})\b')) AS es,
    len(regexp_extract_all(lower(text), '\b({_MARKER_SQL["fr"]})\b')) AS fr,
    len(regexp_extract_all(lower(text), '\b({_MARKER_SQL["de"]})\b')) AS de
  FROM documents
)
SELECT CASE
    WHEN GREATEST(en, es, fr, de) = 0 THEN 'und'
    WHEN en = GREATEST(en, es, fr, de) THEN 'en'
    WHEN es = GREATEST(en, es, fr, de) THEN 'es'
    WHEN fr = GREATEST(en, es, fr, de) THEN 'fr'
    ELSE 'de' END AS pred_lang,
  COUNT(*) AS n_docs
FROM scored GROUP BY 1
"""


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        text.token_count(t).cast("bigint").alias("n_tokens"),
        F.round(text.punct_ratio(t), 6).alias("punct_ratio"),
        F.round(text.stopword_ratio(t), 6).alias("stopword_ratio"),
        text.quality_score(t).alias("quality"),
    )

SQL_QUALITY_SCORES = rf"""
WITH base AS (
  SELECT doc_id,
    len(list_filter(regexp_split_to_array(text, '[ \x09\x0A\x0D\x0B\x0C]+'),
                    x -> length(x) > 0)) AS n_tokens,
    regexp_replace(text, '[ \x09\x0A\x0D\x0B\x0C]+', '', 'g') AS compact,
    list_filter(regexp_split_to_array(lower(text), '\W+'),
                x -> length(x) > 0) AS toks
  FROM documents
), ratios AS (
  SELECT doc_id, n_tokens,
    CASE WHEN LENGTH(compact) = 0 THEN 0.0
         ELSE (LENGTH(compact) - LENGTH(regexp_replace(compact, '\W', '', 'g')))
              / LENGTH(compact) END AS punct_ratio,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE len(list_filter(toks, x -> x IN ({_STOPS_SQL}))) / len(toks)
         END AS stopword_ratio
  FROM base
)
SELECT doc_id, n_tokens,
  ROUND(punct_ratio, 6) AS punct_ratio,
  ROUND(stopword_ratio, 6) AS stopword_ratio,
  ROUND((LEAST(n_tokens / 100.0, 1.0) + LEAST(stopword_ratio * 4, 1.0)
         + (1.0 - LEAST(punct_ratio * 4, 1.0))) / 3, 6) AS quality
FROM ratios
"""


def q_token_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    wc = text.token_count(F.col("text"))
    return (
        docs.select("source", wc.alias("wc"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("wc").alias("total_tokens"),
            (F.sum("wc").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        )
    )


SQL_TOKEN_STATS_BY_SOURCE = r"""
WITH t AS (
  SELECT source,
    len(list_filter(regexp_split_to_array(text, '[ \x09\x0A\x0D\x0B\x0C]+'),
                    x -> length(x) > 0)) AS wc
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(wc) AS BIGINT) AS total_tokens,
  CAST(SUM(wc) AS DOUBLE) / COUNT(*) AS avg_tokens
FROM t GROUP BY source
"""


# --------------------------------------------- document extraction pipeline -


def q_extract_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship A2 aggregate (items_by_type) over the
    document pipeline applied to the ``documents`` table as a corpus."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), F.col("text").alias("content")
    )
    return count_by_type(spark, docs)


# The synthetic corpus contains no HTML/JSON/base64 (word-soup text), so the
# pipeline's output is exactly the >5-char text-line records — asserted by
# this oracle; the mixed-format paths are pinned by the pytest goldens.
SQL_EXTRACT_DOC_STATS = (
    "SELECT 'text' AS type, COUNT(*) AS n_records FROM documents "
    "WHERE LENGTH(TRIM(text)) > 5"
)


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PII scrub (email/phone/IPv4 → typed tags).  The synthetic corpus has
    # no PII, so the query plants deterministic doc_id-derived PII first —
    # both engines build the identical input string, so the oracle checks
    # the actual redaction behavior, not a no-op.
    docs = load_table(spark, sf_dir, "documents")
    planted = F.concat(
        F.substring("text", 1, 80),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or 10."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(".0.7 tel 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-1234"),
    )
    return docs.select(
        "doc_id", text.redact_pii(planted).alias("redacted")
    )


SQL_PII_REDACT = r"""
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        SUBSTRING(text, 1, 80) || ' contact user' || CAST(doc_id AS VARCHAR)
          || '@mail.example.com or 10.' || CAST(doc_id % 200 AS VARCHAR)
          || '.0.7 tel 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
          || '-1234',
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g'),
    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted
FROM documents
"""


def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Token-repetition quality signal (boilerplate/spam filter): fraction
    # of repeated tokens and top-token share per document.  Ratios divide
    # identical integers in both engines — exact, no tolerance needed.
    docs = load_table(spark, sf_dir, "documents")
    return text.repetition_stats(docs, "text", "doc_id")


SQL_REPETITION_SCORE = """
WITH cnt AS (
  SELECT doc_id, tok, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY doc_id, tok
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       1.0 - COUNT(*) / CAST(SUM(c) AS DOUBLE) AS rep_ratio,
       MAX(c) / CAST(SUM(c) AS DOUBLE) AS top_share
FROM cnt GROUP BY doc_id
"""


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Web-corpus URL normalization: parse host/path/query-param, strip the
    # www. prefix, group by registrable domain — the dedup/attribution key
    # for crawled corpora.  URLs are synthesized deterministically from
    # (source, doc_id, lang) so both engines parse identical inputs;
    # parse_url is JVM-native, the oracle re-derives with RE2 regexes.
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://www."),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?ref="),
        F.col("lang"),
    )
    host = F.parse_url(url, F.lit("HOST"))
    return (
        docs.select(
            "doc_id",
            F.regexp_replace(host, r"^www\.", "").alias("domain"),
            F.parse_url(url, F.lit("PATH")).alias("path"),
            F.parse_url(url, F.lit("QUERY"), F.lit("ref")).alias("ref_param"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("ref_param").alias("n_langs"),
            F.min("path").alias("first_path"),
        )
    )


SQL_URL_NORMALIZE = r"""
WITH parsed AS (
  SELECT doc_id,
    regexp_replace(
      regexp_extract('https://www.' || source || '.example.com/docs/'
                       || CAST(doc_id AS VARCHAR) || '?ref=' || lang,
                     'https?://([^/?#]+)', 1),
      '^www\.', '') AS domain,
    regexp_extract('https://www.' || source || '.example.com/docs/'
                     || CAST(doc_id AS VARCHAR) || '?ref=' || lang,
                   'https?://[^/?#]+(/[^?#]*)', 1) AS path,
    lang AS ref_param
  FROM documents
)
SELECT domain, COUNT(*) AS n_urls,
       COUNT(DISTINCT ref_param) AS n_langs,
       MIN(path) AS first_path
FROM parsed GROUP BY domain
"""


def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The composed training-data quality gate (each term is individually
    # oracled; this query pins the composition).  Shared with the streaming
    # path: text.quality_gate is pure narrow expressions, batch ≡ stream.
    docs = load_table(spark, sf_dir, "documents")
    return text.quality_gate(docs, "text", "doc_id")


SQL_CORPUS_FILTER = rf"""
WITH base AS (
  SELECT doc_id,
    len(list_filter(regexp_split_to_array(text, '[ \x09\x0A\x0D\x0B\x0C]+'),
                    x -> length(x) > 0)) AS n_tokens,
    regexp_replace(text, '[ \x09\x0A\x0D\x0B\x0C]+', '', 'g') AS compact,
    list_filter(regexp_split_to_array(lower(text), '\W+'),
                x -> length(x) > 0) AS toks,
    len(regexp_extract_all(lower(text), '\b({_MARKER_SQL["en"]})\b')) AS en,
    len(regexp_extract_all(lower(text), '\b({_MARKER_SQL["es"]})\b')) AS es,
    len(regexp_extract_all(lower(text), '\b({_MARKER_SQL["fr"]})\b')) AS fr,
    len(regexp_extract_all(lower(text), '\b({_MARKER_SQL["de"]})\b')) AS de
  FROM documents
), scored AS (
  SELECT doc_id, n_tokens,
    CASE
      WHEN GREATEST(en, es, fr, de) = 0 THEN 'und'
      WHEN en = GREATEST(en, es, fr, de) THEN 'en'
      WHEN es = GREATEST(en, es, fr, de) THEN 'es'
      WHEN fr = GREATEST(en, es, fr, de) THEN 'fr'
      ELSE 'de' END AS pred_lang,
    CASE WHEN LENGTH(compact) = 0 THEN 0.0
         ELSE (LENGTH(compact) - LENGTH(regexp_replace(compact, '\W', '', 'g')))
              / LENGTH(compact) END AS punct_ratio,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE len(list_filter(toks, x -> x IN ({_STOPS_SQL}))) / len(toks)
         END AS stopword_ratio
  FROM base
), q AS (
  SELECT doc_id, pred_lang, n_tokens,
    ROUND((LEAST(n_tokens / 100.0, 1.0) + LEAST(stopword_ratio * 4, 1.0)
           + (1.0 - LEAST(punct_ratio * 4, 1.0))) / 3, 6) AS quality
  FROM scored
)
SELECT doc_id, pred_lang, n_tokens, quality
FROM q WHERE pred_lang = 'en' AND quality >= 0.5 AND n_tokens >= 20
"""


def q_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pipeline observability: per-source breakdown of WHY documents fail
    # the corpus_filter quality gates (non-English / low quality / too
    # short) plus the survivors.  One narrow conditional-aggregation pass
    # over the same gate expressions corpus_filter applies — no extra
    # scan, no shuffle beyond the #sources-sized groupBy.
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    gates = docs.select(
        "source",
        (text.lang_id(t) != "en").alias("fail_lang"),
        (text.quality_score(t) < 0.5).alias("fail_quality"),
        (text.token_count(t) < 20).alias("fail_length"),
    )
    return gates.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("fail_lang").cast("bigint")).alias("n_fail_lang"),
        F.sum(F.col("fail_quality").cast("bigint")).alias("n_fail_quality"),
        F.sum(F.col("fail_length").cast("bigint")).alias("n_fail_length"),
        F.sum(
            (~F.col("fail_lang") & ~F.col("fail_quality") & ~F.col("fail_length"))
            .cast("bigint")
        ).alias("n_pass_all"),
    )


SQL_FILTER_AUDIT = rf"""
WITH base AS (
  SELECT source,
    len(list_filter(regexp_split_to_array(text, '[ \x09\x0A\x0D\x0B\x0C]+'),
                    x -> length(x) > 0)) AS n_tokens,
    regexp_replace(text, '[ \x09\x0A\x0D\x0B\x0C]+', '', 'g') AS compact,
    list_filter(regexp_split_to_array(lower(text), '\W+'),
                x -> length(x) > 0) AS toks,
    len(regexp_extract_all(lower(text), '\b({_MARKER_SQL["en"]})\b')) AS en,
    len(regexp_extract_all(lower(text), '\b({_MARKER_SQL["es"]})\b')) AS es,
    len(regexp_extract_all(lower(text), '\b({_MARKER_SQL["fr"]})\b')) AS fr,
    len(regexp_extract_all(lower(text), '\b({_MARKER_SQL["de"]})\b')) AS de
  FROM documents
), scored AS (
  SELECT source, n_tokens,
    CASE WHEN GREATEST(en, es, fr, de) = 0 THEN 'und'
         WHEN en = GREATEST(en, es, fr, de) THEN 'en'
         WHEN es = GREATEST(en, es, fr, de) THEN 'es'
         WHEN fr = GREATEST(en, es, fr, de) THEN 'fr'
         ELSE 'de' END AS pred_lang,
    CASE WHEN LENGTH(compact) = 0 THEN 0.0
         ELSE (LENGTH(compact) - LENGTH(regexp_replace(compact, '\W', '', 'g')))
              / LENGTH(compact) END AS punct_ratio,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE len(list_filter(toks, x -> x IN ({_STOPS_SQL}))) / len(toks)
         END AS stopword_ratio
  FROM base
), gates AS (
  SELECT source,
    (pred_lang <> 'en') AS fail_lang,
    (ROUND((LEAST(n_tokens / 100.0, 1.0) + LEAST(stopword_ratio * 4, 1.0)
            + (1.0 - LEAST(punct_ratio * 4, 1.0))) / 3, 6) < 0.5) AS fail_quality,
    (n_tokens < 20) AS fail_length
  FROM scored
)
SELECT source,
  COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN fail_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_lang,
  CAST(SUM(CASE WHEN fail_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_quality,
  CAST(SUM(CASE WHEN fail_length THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_length,
  CAST(SUM(CASE WHEN NOT fail_lang AND NOT fail_quality AND NOT fail_length
           THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all
FROM gates
GROUP BY source
"""


# ------------------------------------------------- vocabulary / OOV rate -


def q_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Tokenizer-coverage report: corpus top-V vocabulary (bounded,
    # broadcast) then per-source OOV occurrence rate.  V=16 against the
    # synthetic corpus's 31-token vocabulary so the OOV tail is non-trivial
    # at every SF.
    docs = load_table(spark, sf_dir, "documents")
    return text.oov_stats(docs, "text", "source", vocab_size=16)


SQL_VOCAB_OOV = r"""
WITH toks AS (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                            x -> length(x) > 0)) AS tok
  FROM documents
), tc AS (
  SELECT source, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
), gc AS (
  SELECT tok, CAST(SUM(cnt) AS BIGINT) AS total FROM tc GROUP BY 1
), vocab AS (
  SELECT tok FROM gc ORDER BY total DESC, tok LIMIT 16
)
SELECT tc.source,
  CAST(SUM(cnt) AS BIGINT) AS total_tokens,
  CAST(SUM(CASE WHEN v.tok IS NULL THEN cnt ELSE 0 END) AS BIGINT) AS oov_tokens,
  ROUND(SUM(CASE WHEN v.tok IS NULL THEN cnt ELSE 0 END) * 1.0 / SUM(cnt), 6)
    AS oov_rate
FROM tc LEFT JOIN vocab v ON tc.tok = v.tok
GROUP BY tc.source
"""


# --------------------------------------------- per-source quantile gate -


def q_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Adaptive quality gate: per-source 25th-percentile token-count
    # threshold, then kept/total under it — fixed global cutoffs either gut
    # clean sources or let noisy ones through.
    docs = load_table(spark, sf_dir, "documents")
    return text.quantile_filter_stats(
        docs, text.token_count(F.col("text")), "source", q=0.25
    )


SQL_QUANTILE_FILTER = r"""
WITH scored AS (
  SELECT source,
         len(list_filter(regexp_split_to_array(text, '[ \x09\x0A\x0D\x0B\x0C]+'),
                         x -> length(x) > 0)) AS score
  FROM documents
), thr AS (
  SELECT source, quantile_cont(score, 0.25) AS thr FROM scored GROUP BY 1
)
SELECT s.source,
  ROUND(MAX(t.thr), 6) AS threshold,
  COUNT(*) AS n_total,
  CAST(SUM(CASE WHEN s.score >= t.thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  ROUND(SUM(CASE WHEN s.score >= t.thr THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
    AS kept_rate
FROM scored s JOIN thr t ON s.source IS NOT DISTINCT FROM t.source
GROUP BY s.source
"""


# ------------------------------------------- char-bigram LM quality proxy -


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CCNet/KenLM-style perplexity proxy from a corpus-trained character
    # bigram LM with add-one smoothing; first 200 chars per doc.  The LM
    # tables broadcast (≤|alphabet|² rows) so scoring adds no full shuffle.
    docs = load_table(spark, sf_dir, "documents")
    return text.char_bigram_lm_scores(docs, "text", "doc_id", prefix_len=200)


SQL_LM_SCORE = r"""
WITH d AS (
  SELECT doc_id, lower(substring(text, 1, 200)) AS t FROM documents
  WHERE length(substring(text, 1, 200)) >= 2
), bg AS (
  -- DuckDB's generate_series cannot lateral-reference d.t; a fixed
  -- 1..prefix_len-1 series + length filter is equivalent.
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
)
SELECT bg.doc_id,
  COUNT(*) AS n_bigrams,
  ROUND(AVG(ln((bc.bc + 1.0) / (cc.cc + a.alpha))), 6) AS avg_logp
FROM bg JOIN bc USING (big) JOIN cc ON bg.ctx = cc.ctx CROSS JOIN a
GROUP BY bg.doc_id
"""


def q_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    # clean_text over deterministically-dirtied corpus text (the synthetic
    # corpus is already clean, so the query injects tabs/newlines/control
    # chars to prove the semantics end-to-end on both engines).
    docs = load_table(spark, sf_dir, "documents")
    dirty = F.concat(
        F.lit(" \t"),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("\x01x\n\ny\x7f "),
        F.lit("\x0bz  "),  # VT exercises the explicit whitespace class
    )
    return docs.select(
        "doc_id",
        F.length(dirty).cast("bigint").alias("dirty_len"),
        text.clean_text(dirty).alias("clean"),
    ).withColumn(
        "n_removed", (F.col("dirty_len") - F.length("clean")).cast("bigint")
    )


SQL_TEXT_CLEAN = r"""
WITH dirty AS (
  SELECT doc_id,
         ' ' || chr(9) || COALESCE(text, '')
             || chr(1) || 'x' || chr(10) || chr(10) || 'y' || chr(127) || ' '
             || chr(11) || 'z  '
             AS d
  FROM documents
), cleaned AS (
  SELECT doc_id, CAST(length(d) AS BIGINT) AS dirty_len,
         trim(regexp_replace(
                regexp_replace(d, '[ \x09\x0A\x0D\x0B\x0C]+', ' ', 'g'),
                '[\x00-\x08\x0E-\x1F\x7F]', '', 'g')) AS clean
  FROM dirty
)
SELECT doc_id, dirty_len, clean,
       CAST(dirty_len - length(clean) AS BIGINT) AS n_removed
FROM cleaned
"""


def q_lm_score_heldout(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Leakage-free LM scoring: train the bigram LM on the deterministic
    # 'train' split (assign_splits) and score only the held-out docs —
    # the split-discipline composition a real quality pipeline runs.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    split = mixing.assign_splits(docs)
    train = split.where(F.col("split") == "train")
    heldout = split.where(F.col("split") != "train")
    return text.char_bigram_lm_scores(
        heldout, "text", "doc_id", prefix_len=200, train_df=train
    )


def _sql_lm_score_heldout() -> str:
    from etl_pipeline2_0_spark.functions.mixing import split_thresholds

    (_, t_train), *_ = split_thresholds(
        {"train": 0.9, "val": 0.05, "test": 0.05}
    )
    return rf"""
WITH split AS (
  SELECT doc_id, text,
         ('0' || substring(md5(CAST(doc_id AS VARCHAR) || ':'), 1, 15))
           < '{t_train}' AS is_train
  FROM documents
), d_tr AS (
  SELECT doc_id, lower(substring(text, 1, 200)) AS t FROM split
  WHERE is_train AND length(substring(text, 1, 200)) >= 2
), d_ho AS (
  SELECT doc_id, lower(substring(text, 1, 200)) AS t FROM split
  WHERE NOT is_train AND length(substring(text, 1, 200)) >= 2
), bg_tr AS (
  SELECT substring(t, CAST(i AS INT), 2) AS big,
         substring(t, CAST(i AS INT), 1) AS ctx
  FROM d_tr CROSS JOIN (SELECT unnest(range(1, 200)) AS i) s
  WHERE i <= length(t) - 1
), bg AS (
  SELECT doc_id, substring(t, CAST(i AS INT), 2) AS big,
         substring(t, CAST(i AS INT), 1) AS ctx
  FROM d_ho CROSS JOIN (SELECT unnest(range(1, 200)) AS i) s
  WHERE i <= length(t) - 1
), bc AS (
  SELECT big, COUNT(*) AS bc FROM bg_tr GROUP BY 1
), cc AS (
  SELECT ctx, COUNT(*) AS cc FROM bg_tr GROUP BY 1
), a AS (
  SELECT COUNT(DISTINCT substring(big, 2, 1)) AS alpha FROM bg_tr
)
SELECT bg.doc_id,
  COUNT(*) AS n_bigrams,
  ROUND(AVG(ln((COALESCE(bc.bc, 0) + 1.0) / (COALESCE(cc.cc, 0) + a.alpha))), 6)
    AS avg_logp
FROM bg LEFT JOIN bc USING (big) LEFT JOIN cc ON bg.ctx = cc.ctx CROSS JOIN a
GROUP BY bg.doc_id
"""


SQL_LM_SCORE_HELDOUT = _sql_lm_score_heldout()


def q_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Curation signal: per-document novelty = fraction of its distinct
    # shingles appearing in NO other document (1.0 = fully novel content,
    # ~0 = boilerplate).  One shingle explode -> doc-freq aggregate ->
    # per-doc conditional aggregate; the shuffle carries 8-byte shingle
    # hashes (the jaccard_pairs discipline), never shingle text.
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    sh = (
        docs.select(
            F.col("doc_id"),
            F.explode(dedup.token_shingles(F.col("text"), 3)).alias("shingle"),
        )
        .select("doc_id", F.xxhash64("shingle").alias("h"))
    )
    freq = sh.groupBy("h").agg(F.count_distinct("doc_id").alias("df"))
    return (
        sh.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_unique"),
            F.round(
                F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("novelty"),
        )
    )


SQL_DOC_NOVELTY = r"""
WITH docs AS (
  SELECT doc_id, lower(text) AS t FROM documents WHERE doc_id % 5 = 0
), toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(t, '\W+'),
                             x -> length(x) > 0) AS toks
  FROM docs
), tok_rows AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord
  FROM toks
), sh0 AS (
  SELECT doc_id,
         tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w AS shingle
  FROM tok_rows WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
), sh AS (
  SELECT DISTINCT doc_id, shingle FROM sh0 WHERE shingle IS NOT NULL
), freq AS (
  SELECT shingle, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY shingle
)
SELECT sh.doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       ROUND(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
         AS novelty
FROM sh JOIN freq USING (shingle)
GROUP BY sh.doc_id
"""


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The Gopher heuristic rule battery (Rae et al. 2021 Table A1) at the
    # paper's published thresholds — per-doc metrics + keep verdict.
    from etl_pipeline2_0_spark.functions import text

    docs = load_table(spark, sf_dir, "documents")
    return text.gopher_quality_flags(docs)


SQL_GOPHER_RULES = r"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(text, '[ \x09\x0A\x0D\x0B\x0C]+'),
                     x -> length(x) > 0) AS toks,
         string_split(text, chr(10)) AS lines,
         list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> length(x) > 0) AS wtoks
  FROM documents
), metrics AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         ROUND(CASE WHEN len(toks) = 0 THEN 0.0
               ELSE list_sum(list_transform(toks, x -> length(x))) * 1.0
                    / len(toks) END, 6) AS mean_word_len,
         ROUND(CASE WHEN len(toks) = 0 THEN 0.0
               ELSE len(regexp_extract_all(text, '(#|\.\.\.|…)')) * 1.0
                    / len(toks) END, 6) AS symbol_ratio,
         ROUND(len(list_filter(lines,
                 l -> regexp_matches(l, '^[ \x09]*[-*•]'))) * 1.0
               / len(lines), 6) AS bullet_line_frac,
         ROUND(len(list_filter(lines,
                 l -> regexp_matches(rtrim(l), '(\.\.\.|…)$'))) * 1.0
               / len(lines), 6) AS ellipsis_line_frac,
         ROUND(CASE WHEN len(toks) = 0 THEN 0.0
               ELSE len(list_filter(toks,
                      w -> regexp_matches(w, '[A-Za-z]'))) * 1.0
                    / len(toks) END, 6) AS alpha_word_frac,
         CAST(len(list_intersect(list_distinct(wtoks),
              ['the','be','to','of','and','that','have','with']))
              AS BIGINT) AS n_stopword_hits
  FROM base
)
SELECT *,
       (n_words >= 50 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_ratio <= 0.1
        AND bullet_line_frac <= 0.9
        AND ellipsis_line_frac <= 0.3
        AND alpha_word_frac >= 0.8
        AND n_stopword_hits >= 2) AS keep
FROM metrics
"""


def q_gopher_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-rule attrition for the Gopher battery (the filter_audit pattern):
    # how many docs each rule rejects, individually and overall — the
    # number a corpus build actually tunes against.  One conditional
    # aggregate over the flags frame; no second corpus pass.
    from etl_pipeline2_0_spark.functions import text

    flags = text.gopher_quality_flags(load_table(spark, sf_dir, "documents"))
    c = lambda cond, name: F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(name)  # noqa: E731
    return flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        c(~((F.col("n_words") >= 50) & (F.col("n_words") <= 100000)), "fail_word_count"),
        c(~((F.col("mean_word_len") >= 3.0) & (F.col("mean_word_len") <= 10.0)), "fail_mean_word_len"),
        c(F.col("symbol_ratio") > 0.1, "fail_symbol_ratio"),
        c(F.col("bullet_line_frac") > 0.9, "fail_bullet_lines"),
        c(F.col("ellipsis_line_frac") > 0.3, "fail_ellipsis_lines"),
        c(F.col("alpha_word_frac") < 0.8, "fail_alpha_words"),
        c(F.col("n_stopword_hits") < 2, "fail_stopwords"),
        c(~F.col("keep"), "n_rejected"),
        F.round(F.avg(F.when(F.col("keep"), 1.0).otherwise(0.0)), 6).alias("keep_rate"),
    )


def _sql_gopher_audit() -> str:
    metrics = SQL_GOPHER_RULES.strip()
    return f"""
WITH flags AS ({metrics})
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN NOT (n_words >= 50 AND n_words <= 100000)
                THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_count,
       CAST(SUM(CASE WHEN NOT (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                THEN 1 ELSE 0 END) AS BIGINT) AS fail_mean_word_len,
       CAST(SUM(CASE WHEN symbol_ratio > 0.1 THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_symbol_ratio,
       CAST(SUM(CASE WHEN bullet_line_frac > 0.9 THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_bullet_lines,
       CAST(SUM(CASE WHEN ellipsis_line_frac > 0.3 THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_ellipsis_lines,
       CAST(SUM(CASE WHEN alpha_word_frac < 0.8 THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_alpha_words,
       CAST(SUM(CASE WHEN n_stopword_hits < 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_stopwords,
       CAST(SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS n_rejected,
       ROUND(AVG(CASE WHEN keep THEN 1.0 ELSE 0.0 END), 6) AS keep_rate
FROM flags
"""


SQL_GOPHER_AUDIT = _sql_gopher_audit()


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CCNet's defining move (Wenzek et al. 2020): partition each LANGUAGE
    # by LM perplexity into head/middle/tail terciles — head feeds
    # training, tail gets dropped or down-weighted.  Pure composition of
    # oracled primitives: char-bigram lm_score + lang_id + per-group
    # exact percentiles (the quantile_filter idiom).  Bucket decisions
    # compare 6dp-ROUNDED score vs 6dp-ROUNDED thresholds so both
    # engines agree at boundaries.
    docs = load_table(spark, sf_dir, "documents")
    scored = text.char_bigram_lm_scores(docs, "text", "doc_id", prefix_len=200)
    langs = docs.select("doc_id", text.lang_id(F.col("text")).alias("lang"))
    j = scored.join(langs, "doc_id").select("doc_id", "lang", "avg_logp")
    thr = j.groupBy("lang").agg(
        F.round(F.percentile("avg_logp", 2.0 / 3), 6).alias("t_head"),
        F.round(F.percentile("avg_logp", 1.0 / 3), 6).alias("t_mid"),
    )
    return j.join(F.broadcast(thr), "lang").select(
        "doc_id",
        "lang",
        "avg_logp",
        F.when(F.col("avg_logp") >= F.col("t_head"), "head")
        .when(F.col("avg_logp") >= F.col("t_mid"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


SQL_CCNET_BUCKETS = rf"""
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
), lang_scored AS (
  SELECT doc_id,
    len(regexp_extract_all(lower(text), '\b({_MARKER_SQL["en"]})\b')) AS en,
    len(regexp_extract_all(lower(text), '\b({_MARKER_SQL["es"]})\b')) AS es,
    len(regexp_extract_all(lower(text), '\b({_MARKER_SQL["fr"]})\b')) AS fr,
    len(regexp_extract_all(lower(text), '\b({_MARKER_SQL["de"]})\b')) AS de
  FROM documents
), langs AS (
  SELECT doc_id, CASE
      WHEN GREATEST(en, es, fr, de) = 0 THEN 'und'
      WHEN en = GREATEST(en, es, fr, de) THEN 'en'
      WHEN es = GREATEST(en, es, fr, de) THEN 'es'
      WHEN fr = GREATEST(en, es, fr, de) THEN 'fr'
      ELSE 'de' END AS lang
  FROM lang_scored
), j AS (
  SELECT s.doc_id, l.lang, s.avg_logp
  FROM scores s JOIN langs l USING (doc_id)
), thr AS (
  SELECT lang,
         ROUND(quantile_cont(avg_logp, 2.0 / 3), 6) AS t_head,
         ROUND(quantile_cont(avg_logp, 1.0 / 3), 6) AS t_mid
  FROM j GROUP BY 1
)
SELECT j.doc_id, j.lang, j.avg_logp,
       CASE WHEN j.avg_logp >= t.t_head THEN 'head'
            WHEN j.avg_logp >= t.t_mid THEN 'middle'
            ELSE 'tail' END AS bucket
FROM j JOIN thr t USING (lang)
"""


# ------------------------------------- seed-trained quality classifier -


def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Calibration (reliability) table for the seed-trained NB quality
    # classifier, graded against the heuristic quality gate as the gold
    # proxy: per unit-width log-odds bin (clamped to [-3, 3]), how many
    # docs land there, how many the heuristic gate keeps, and the bin's
    # exact mean score — the monotone-agreement read a curation lead
    # checks BEFORE thresholding a classifier at corpus scale (a bin
    # where keep_rate does not rise with score flags miscalibration).
    # Exactness: score is the classifier's rounded-6dp column, so the
    # micro-unit bin sum is an order-free integer; every rate is one
    # division of exact integers.
    #
    # Scale: the classifier and the gate are their proven one-pass
    # operators; the calibration adds a doc_id equi-join and ONE
    # bounded aggregate on the <= 7-row bin key.  No window.
    docs = load_table(spark, sf_dir, "documents")
    qc = text.quality_classifier_scores(
        docs,
        docs.where(F.col("source") == "src0"),
        docs.where(F.col("source") == "src1"),
        num_buckets=4096,
    )
    gate = text.quality_gate(docs, "text", "doc_id").select(
        "doc_id", F.lit(1).alias("_gold")
    )
    j = qc.join(gate, "doc_id", "left").na.fill({"_gold": 0})
    sbin = (
        F.greatest(F.lit(-3), F.least(F.lit(3), F.floor(F.col("score"))))
        .cast("int")
        .alias("score_bin")
    )
    micro = F.round(F.col("score") * 1000000).cast("bigint")
    return (
        j.select(sbin, F.col("_gold"), micro.alias("_micro"))
        .groupBy("score_bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_gold").cast("bigint").alias("n_gold_keep"),
            (F.sum("_gold") / F.count(F.lit(1))).alias("keep_rate"),
            (
                F.sum("_micro") / (F.count(F.lit(1)) * F.lit(1000000.0))
            ).alias("mean_score"),
        )
        .orderBy("score_bin")
    )


SQL_QUALITY_CALIBRATION_TEMPLATE = """
WITH qc AS (
  SELECT * FROM (
    {qc_sql}
  )
), gate AS (
  SELECT doc_id, 1 AS gold FROM (
    {gate_sql}
  )
), j AS (
  SELECT qc.doc_id, qc.score, COALESCE(g.gold, 0) AS gold,
         CAST(GREATEST(-3, LEAST(3, FLOOR(qc.score))) AS INT) AS score_bin,
         CAST(ROUND(qc.score * 1000000) AS BIGINT) AS micro
  FROM qc LEFT JOIN gate g USING (doc_id)
)
SELECT score_bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(gold) AS BIGINT) AS n_gold_keep,
       SUM(gold) * 1.0 / COUNT(*) AS keep_rate,
       SUM(micro) / (COUNT(*) * 1000000.0) AS mean_score
FROM j GROUP BY score_bin
ORDER BY score_bin
"""


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CCNet/LLaMA-style seed classifier: src0 docs as the quality seed,
    # src1 as the reject seed, hashed-unigram NB log-odds over the whole
    # corpus.  Portable md5-hex15 buckets → exact DuckDB twin.
    docs = load_table(spark, sf_dir, "documents")
    return text.quality_classifier_scores(
        docs,
        docs.where(F.col("source") == "src0"),
        docs.where(F.col("source") == "src1"),
        num_buckets=4096,
    )


SQL_QUALITY_CLASSIFIER = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> length(x) > 0) AS toks
  FROM documents
), feats AS (
  SELECT doc_id,
         CAST('0x' || substring(md5(unnest(toks)), 1, 15) AS BIGINT)
           % 4096 AS bucket
  FROM toks
), pos_c AS (
  SELECT bucket, COUNT(*) AS c_pos
  FROM feats JOIN documents USING (doc_id)
  WHERE source = 'src0' GROUP BY 1
), neg_c AS (
  SELECT bucket, COUNT(*) AS c_neg
  FROM feats JOIN documents USING (doc_id)
  WHERE source = 'src1' GROUP BY 1
), dist AS (
  SELECT COALESCE(p.bucket, n.bucket) AS bucket,
         COALESCE(c_pos, 0) AS c_pos, COALESCE(c_neg, 0) AS c_neg
  FROM pos_c p FULL OUTER JOIN neg_c n ON p.bucket = n.bucket
), tot AS (
  SELECT SUM(c_pos) AS t_pos, SUM(c_neg) AS t_neg FROM dist
), prior AS (
  SELECT ln(SUM(CASE WHEN source = 'src0' THEN 1.0 ELSE 0 END)
            / SUM(CASE WHEN source = 'src1' THEN 1.0 ELSE 0 END))
           AS log_prior
  FROM documents
), odds AS (
  SELECT bucket,
         ln((c_pos + 1.0) / (t_pos + 4096.0))
           - ln((c_neg + 1.0) / (t_neg + 4096.0)) AS log_odds
  FROM dist CROSS JOIN tot
), scored AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_features,
         SUM(log_odds) AS evidence
  FROM feats JOIN odds USING (bucket) GROUP BY 1
)
SELECT d.doc_id, COALESCE(s.n_features, 0) AS n_features,
       ROUND(p.log_prior + COALESCE(s.evidence, 0.0), 6) AS score,
       ROUND(p.log_prior + COALESCE(s.evidence, 0.0), 6) > 0 AS label
FROM documents d LEFT JOIN scored s USING (doc_id) CROSS JOIN prior p
"""


# ------------------------------------------------- C4 rule battery -------

# The deterministic "dirtying" recipe (the q_text_clean precedent): the
# synthetic corpus has no punctuation, braces, or blocklist hits, so the
# raw battery would be constant — the advisor-r10 lesson that invisible
# rule paths hide divergence.  Literal-replace + doc_id-keyed injections
# (identical expressions in both engines) give every C4 rule real
# variance: multi-line docs, mid-text sentences, terminal-punct endings,
# braces, "lorem ipsum", a blocklisted word.
def _c4_dirty_col() -> F.Column:
    t0 = F.coalesce(F.col("text"), F.lit(""))
    t1 = F.replace(t0, F.lit(" merge "), F.lit("\n"))
    t2 = F.replace(t1, F.lit(" spark "), F.lit(". spark "))
    t3 = F.concat(
        t2, F.when(F.col("doc_id") % 3 == 0, F.lit(".")).otherwise(F.lit(""))
    )
    t4 = F.when(F.col("doc_id") % 17 == 0, F.concat(t3, F.lit(" {"))).otherwise(t3)
    t5 = F.when(
        F.col("doc_id") % 23 == 0, F.concat(F.lit("lorem ipsum "), t4)
    ).otherwise(t4)
    return F.when(
        F.col("doc_id") % 29 == 0, F.concat(t5, F.lit(" badword1"))
    ).otherwise(t5)


def q_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The C4 cleaning battery (Raffel et al. 2020 §2.2) over the dirtied
    # corpus: line-level terminal-punctuation + ≥5-word retention, page
    # rules (≥3 sentences, lorem ipsum, brace, blocklist).
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text", _c4_dirty_col()
    )
    return text.c4_quality_flags(docs)


SQL_C4_RULES = r"""
WITH dirty AS (
  SELECT doc_id,
    CASE WHEN doc_id % 29 = 0 THEN t5 || ' badword1' ELSE t5 END AS t
  FROM (
    SELECT doc_id,
      CASE WHEN doc_id % 23 = 0 THEN 'lorem ipsum ' || t4 ELSE t4 END AS t5
    FROM (
      SELECT doc_id,
        CASE WHEN doc_id % 17 = 0 THEN t3 || ' {' ELSE t3 END AS t4
      FROM (
        SELECT doc_id,
          t2 || CASE WHEN doc_id % 3 = 0 THEN '.' ELSE '' END AS t3
        FROM (
          SELECT doc_id,
            replace(replace(COALESCE(text, ''), ' merge ', chr(10)),
                    ' spark ', '. spark ') AS t2
          FROM documents
        )
      )
    )
  )
), m AS (
  SELECT doc_id,
    CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
    list_filter(
      string_split(t, chr(10)),
      ln -> regexp_matches(rtrim(ln), '[.!?"]$')
            AND len(list_filter(
                  regexp_split_to_array(ln, '[ \t\r\x0B\x0C]+'),
                  w -> length(w) > 0)) >= 5
    ) AS kept,
    CAST(len(list_filter(regexp_split_to_array(t, '[.!?]'),
                         s -> length(trim(s)) > 0)) AS BIGINT)
      AS n_sentences,
    contains(lower(t), 'lorem ipsum') AS has_lorem,
    contains(t, '{') AS has_brace,
    (contains(lower(t), 'badword1') OR contains(lower(t), 'badword2'))
      AS has_badword
  FROM dirty
)
SELECT doc_id, n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept_lines,
       n_sentences, has_lorem, has_brace, has_badword,
       COALESCE(array_to_string(kept, chr(10)), '') AS clean_text,
       (n_sentences >= 3 AND NOT has_lorem AND NOT has_brace
        AND NOT has_badword AND len(kept) > 0) AS keep
FROM m
"""


# --------------------------------------------- Zipf rank-frequency -------


def q_zipf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.zipf_token_stats(docs, top_k=100)


SQL_ZIPF_STATS = r"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                            x -> length(x) > 0)) AS token
  FROM documents
), c AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY 1
), t AS (
  SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM c
), top AS (
  SELECT token, cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT)
           AS rank
  FROM c ORDER BY cnt DESC, token LIMIT 100
), s AS (
  SELECT ROUND(covar_pop(ln(rank), ln(cnt)) / var_pop(ln(rank)), 6)
           AS slope
  FROM top
)
SELECT rank, token, cnt, ROUND(cnt / t.tot, 6) AS frac, s.slope
FROM top CROSS JOIN t CROSS JOIN s
"""


# ------------------------------------------------ Heaps' vocab growth ----


def q_heaps_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.heaps_vocab_growth(docs, n_buckets=10)


SQL_HEAPS_GROWTH = r"""
WITH mx AS (
  SELECT CAST(MAX(doc_id) AS DOUBLE) + 1.0 AS m FROM documents
), base AS (
  SELECT LEAST(CAST(floor(CAST(doc_id AS DOUBLE) * 10 / mx.m) AS INT), 9)
           AS bucket,
         list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> length(x) > 0) AS toks
  FROM documents CROSS JOIN mx
), per_bucket AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
  FROM base GROUP BY 1
), first_seen AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS new_types FROM (
    SELECT tok, MIN(bucket) AS bucket
    FROM (SELECT bucket, unnest(toks) AS tok FROM base)
    GROUP BY 1
  ) GROUP BY 1
)
SELECT p.bucket, p.n_docs, p.n_tokens,
       CAST(SUM(p.n_tokens) OVER (ORDER BY p.bucket) AS BIGINT)
         AS cum_tokens,
       COALESCE(f.new_types, 0) AS new_types,
       CAST(SUM(COALESCE(f.new_types, 0)) OVER (ORDER BY p.bucket)
         AS BIGINT) AS cum_types
FROM per_bucket p LEFT JOIN first_seen f USING (bucket)
"""


# ------------------------------------- Gopher repetition battery ---------


# Deterministic repetition dirt (the c4_rules lesson: the synthetic corpus
# is single-line and near-duplicate-free, so every rule path needs planted
# variance): ' table ' → blank line (paragraph breaks), ' merge ' →
# newline (line breaks), every 7th doc re-appends its first line (dup
# lines), every 13th its first paragraph (dup paragraphs), every 5th a
# 12-word phrase TWICE (dup 5..10-grams within one doc).
_REP_PHRASE = (
    " alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
)


def _rep_dirty_col() -> F.Column:
    t0 = F.coalesce(F.col("text"), F.lit(""))
    t1 = F.replace(t0, F.lit(" table "), F.lit("\n\n"))
    t2 = F.replace(t1, F.lit(" merge "), F.lit("\n"))
    t3 = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(t2, F.lit("\n"), F.element_at(F.split(t2, "\n"), 1)),
    ).otherwise(t2)
    t4 = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(t3, F.lit("\n\n"), F.element_at(F.split(t3, "\n\n"), 1)),
    ).otherwise(t3)
    return F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(t4, F.lit(_REP_PHRASE), F.lit(_REP_PHRASE)),
    ).otherwise(t4)


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The MassiveText repetition battery (Rae et al. 2021 Table A1,
    # repetition half) at the paper's thresholds, over the dirtied corpus.
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text", _rep_dirty_col()
    )
    return text.gopher_repetition_flags(docs)


def _sql_rep_gram_branch(n: int) -> str:
    return f"""
  SELECT doc_id, doc_chars, 'g{n}' AS kind,
         unnest(list_transform(range(1, greatest(len(toks) - {n} + 2, 1)),
                i -> array_to_string(toks[i:i + {n - 1}], ' '))) AS unit
  FROM base"""


SQL_GOPHER_REPETITION = (
    r"""
WITH dirty AS MATERIALIZED (
  SELECT doc_id,
    CASE WHEN doc_id % 5 = 0
         THEN t4 || '"""
    + _REP_PHRASE
    + _REP_PHRASE
    + r"""' ELSE t4 END AS t
  FROM (
    SELECT doc_id,
      CASE WHEN doc_id % 13 = 0
           THEN t3 || chr(10) || chr(10)
                || string_split(t3, chr(10) || chr(10))[1]
           ELSE t3 END AS t4
    FROM (
      SELECT doc_id,
        CASE WHEN doc_id % 7 = 0
             THEN t2 || chr(10) || string_split(t2, chr(10))[1]
             ELSE t2 END AS t3
      FROM (
        SELECT doc_id,
          replace(replace(COALESCE(text, ''),
                          ' table ', chr(10) || chr(10)),
                  ' merge ', chr(10)) AS t2
        FROM documents
      )
    )
  )
), base AS MATERIALIZED (
  SELECT doc_id, length(t) AS doc_chars,
         list_filter(string_split(t, chr(10)),
                     x -> length(x) > 0) AS lines,
         list_filter(string_split(t, chr(10) || chr(10)),
                     x -> length(x) > 0) AS paras,
         list_filter(regexp_split_to_array(t, '[ \x09\x0A\x0D\x0B\x0C]+'),
                     x -> length(x) > 0) AS toks
  FROM dirty
), units AS (
  SELECT doc_id, doc_chars, '_' AS kind, '' AS unit FROM base
  UNION ALL
  SELECT doc_id, doc_chars, 'L', unnest(lines) FROM base
  UNION ALL
  SELECT doc_id, doc_chars, 'P', unnest(paras) FROM base
"""
    + "".join(
        "  UNION ALL" + _sql_rep_gram_branch(n) + "\n"
        for n in range(2, 11)
    )
    + r"""), per_unit AS (
  SELECT doc_id, kind, unit, COUNT(*) AS c, MAX(doc_chars) AS doc_chars
  FROM units GROUP BY 1, 2, 3
), per_kind AS (
  SELECT doc_id, kind,
         SUM(c) AS n_units,
         COUNT(*) AS n_distinct,
         SUM(c * length(unit)) AS all_chars,
         SUM((c - 1) * length(unit)) AS rep_chars,
         SUM(CASE WHEN c >= 2 THEN c * length(unit) ELSE 0 END)
           AS dup_occ_chars,
         MAX(c * length(unit)) AS top_chars,
         MAX(doc_chars) AS doc_chars
  FROM per_unit GROUP BY 1, 2
), pivoted AS (
  SELECT doc_id,
    ROUND(COALESCE(MAX(CASE WHEN kind = 'L' THEN
      CASE WHEN n_units > 0
           THEN (n_units - n_distinct) * 1.0 / n_units ELSE 0.0 END
      END), 0.0), 6) AS dup_line_frac,
    ROUND(COALESCE(MAX(CASE WHEN kind = 'L' THEN
      CASE WHEN all_chars > 0
           THEN rep_chars * 1.0 / all_chars ELSE 0.0 END
      END), 0.0), 6) AS dup_line_char_frac,
    ROUND(COALESCE(MAX(CASE WHEN kind = 'P' THEN
      CASE WHEN n_units > 0
           THEN (n_units - n_distinct) * 1.0 / n_units ELSE 0.0 END
      END), 0.0), 6) AS dup_para_frac,
    ROUND(COALESCE(MAX(CASE WHEN kind = 'P' THEN
      CASE WHEN all_chars > 0
           THEN rep_chars * 1.0 / all_chars ELSE 0.0 END
      END), 0.0), 6) AS dup_para_char_frac,
    ROUND(COALESCE(MAX(CASE WHEN kind = 'g2' THEN
      CASE WHEN doc_chars > 0
           THEN top_chars * 1.0 / doc_chars ELSE 0.0 END
      END), 0.0), 6) AS top_2gram_char_frac,
    ROUND(COALESCE(MAX(CASE WHEN kind = 'g3' THEN
      CASE WHEN doc_chars > 0
           THEN top_chars * 1.0 / doc_chars ELSE 0.0 END
      END), 0.0), 6) AS top_3gram_char_frac,
    ROUND(COALESCE(MAX(CASE WHEN kind = 'g4' THEN
      CASE WHEN doc_chars > 0
           THEN top_chars * 1.0 / doc_chars ELSE 0.0 END
      END), 0.0), 6) AS top_4gram_char_frac,
    ROUND(COALESCE(MAX(CASE WHEN kind = 'g5' THEN
      CASE WHEN all_chars > 0
           THEN dup_occ_chars * 1.0 / all_chars ELSE 0.0 END
      END), 0.0), 6) AS dup_5gram_char_frac,
    ROUND(COALESCE(MAX(CASE WHEN kind = 'g6' THEN
      CASE WHEN all_chars > 0
           THEN dup_occ_chars * 1.0 / all_chars ELSE 0.0 END
      END), 0.0), 6) AS dup_6gram_char_frac,
    ROUND(COALESCE(MAX(CASE WHEN kind = 'g7' THEN
      CASE WHEN all_chars > 0
           THEN dup_occ_chars * 1.0 / all_chars ELSE 0.0 END
      END), 0.0), 6) AS dup_7gram_char_frac,
    ROUND(COALESCE(MAX(CASE WHEN kind = 'g8' THEN
      CASE WHEN all_chars > 0
           THEN dup_occ_chars * 1.0 / all_chars ELSE 0.0 END
      END), 0.0), 6) AS dup_8gram_char_frac,
    ROUND(COALESCE(MAX(CASE WHEN kind = 'g9' THEN
      CASE WHEN all_chars > 0
           THEN dup_occ_chars * 1.0 / all_chars ELSE 0.0 END
      END), 0.0), 6) AS dup_9gram_char_frac,
    ROUND(COALESCE(MAX(CASE WHEN kind = 'g10' THEN
      CASE WHEN all_chars > 0
           THEN dup_occ_chars * 1.0 / all_chars ELSE 0.0 END
      END), 0.0), 6) AS dup_10gram_char_frac
  FROM per_kind GROUP BY 1
)
SELECT *,
       (dup_line_frac <= 0.30 AND dup_para_frac <= 0.30
        AND dup_line_char_frac <= 0.20 AND dup_para_char_frac <= 0.20
        AND top_2gram_char_frac <= 0.20
        AND top_3gram_char_frac <= 0.18
        AND top_4gram_char_frac <= 0.16
        AND dup_5gram_char_frac <= 0.15
        AND dup_6gram_char_frac <= 0.14
        AND dup_7gram_char_frac <= 0.13
        AND dup_8gram_char_frac <= 0.12
        AND dup_9gram_char_frac <= 0.11
        AND dup_10gram_char_frac <= 0.10) AS keep
FROM pivoted
"""
)


# ------------------------------------------------- entropy stats ---------


def q_entropy_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Char/token Shannon entropy per doc — the cheap encoded-blob /
    # degenerate-repetition detector.
    docs = load_table(spark, sf_dir, "documents")
    return text.entropy_stats(docs)


SQL_ENTROPY_STATS = r"""
WITH base AS MATERIALIZED (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
             regexp_replace(COALESCE(text, ''),
                            '[ \x09\x0A\x0D\x0B\x0C]+', '', 'g'), ''),
             x -> length(x) > 0) AS chars,
         list_filter(regexp_split_to_array(COALESCE(text, ''),
                                           '[ \x09\x0A\x0D\x0B\x0C]+'),
                     x -> length(x) > 0) AS toks
  FROM documents
), units AS (
  SELECT doc_id, '_' AS kind, '' AS unit FROM base
  UNION ALL SELECT doc_id, 'C', unnest(chars) FROM base
  UNION ALL SELECT doc_id, 'T', unnest(toks) FROM base
), per_unit AS (
  SELECT doc_id, kind, unit, COUNT(*) AS c FROM units GROUP BY 1, 2, 3
), per_kind AS (
  SELECT doc_id, kind, SUM(c) AS n,
         SUM(c * ln(c)) AS clnc
  FROM per_unit GROUP BY 1, 2
)
SELECT doc_id,
  CAST(COALESCE(MAX(CASE WHEN kind = 'C' THEN n END), 0) AS BIGINT)
    AS n_chars,
  CAST(COALESCE(MAX(CASE WHEN kind = 'T' THEN n END), 0) AS BIGINT)
    AS n_tokens,
  ROUND(COALESCE(MAX(CASE WHEN kind = 'C' THEN
    CASE WHEN n > 0 THEN ln(n) - clnc / n ELSE 0.0 END END), 0.0), 6)
    AS char_entropy,
  ROUND(COALESCE(MAX(CASE WHEN kind = 'T' THEN
    CASE WHEN n > 0 THEN ln(n) - clnc / n ELSE 0.0 END END), 0.0), 6)
    AS token_entropy
FROM per_kind GROUP BY 1
"""


# ------------------------------------------- language-ID confusion -------


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Confusion audit of the n-gram language detector against the
    # labeled lang column: per (true, predicted) counts, per-true-lang
    # recall share, and the corpus-wide accuracy — the DQ rollup that
    # tells a curation run its language router is drifting.
    docs = load_table(spark, sf_dir, "documents")
    cm = (
        docs.select(
            F.col("lang"), text.lang_id(F.col("text")).alias("pred_lang")
        )
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    per_true = cm.groupBy("lang").agg(F.sum("n_docs").alias("_tl"))
    tot = cm.agg(
        F.sum("n_docs").cast("double").alias("_n"),
        F.sum(
            F.when(F.col("lang") == F.col("pred_lang"), F.col("n_docs"))
            .otherwise(F.lit(0))
        ).cast("double").alias("_ok"),
    )
    return (
        cm.join(F.broadcast(per_true), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "pred_lang",
            "n_docs",
            F.round(F.col("n_docs") / F.col("_tl"), 6).alias("frac_of_true"),
            F.round(F.col("_ok") / F.col("_n"), 6).alias("overall_accuracy"),
        )
    )


SQL_LANGID_CONFUSION = rf"""
WITH scored AS (
  SELECT lang,
    len(regexp_extract_all(lower(text), '\b({_MARKER_SQL["en"]})\b')) AS en,
    len(regexp_extract_all(lower(text), '\b({_MARKER_SQL["es"]})\b')) AS es,
    len(regexp_extract_all(lower(text), '\b({_MARKER_SQL["fr"]})\b')) AS fr,
    len(regexp_extract_all(lower(text), '\b({_MARKER_SQL["de"]})\b')) AS de
  FROM documents
), pred AS (
  SELECT lang, CASE
      WHEN GREATEST(en, es, fr, de) = 0 THEN 'und'
      WHEN en = GREATEST(en, es, fr, de) THEN 'en'
      WHEN es = GREATEST(en, es, fr, de) THEN 'es'
      WHEN fr = GREATEST(en, es, fr, de) THEN 'fr'
      ELSE 'de' END AS pred_lang
  FROM scored
), cm AS (
  SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM pred GROUP BY 1, 2
), per_true AS (
  SELECT lang, SUM(n_docs) AS tl FROM cm GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n_docs) AS DOUBLE) AS n,
         CAST(SUM(CASE WHEN lang = pred_lang THEN n_docs ELSE 0 END)
              AS DOUBLE) AS ok
  FROM cm
)
SELECT cm.lang, cm.pred_lang, cm.n_docs,
       ROUND(cm.n_docs * 1.0 / per_true.tl, 6) AS frac_of_true,
       ROUND(tot.ok / tot.n, 6) AS overall_accuracy
FROM cm JOIN per_true USING (lang) CROSS JOIN tot
"""


def q_vocab_oov_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The vocabulary-budget sizing sweep at the PRODUCTION grid
    # (64..4096): covered token mass + OOV rate per top-V cut —
    # deterministic frequency-desc/token tiebreak, exact integer sums,
    # tolerance-free oracle.  The synthetic corpus draws from only ~31
    # word TYPES, so (r15 verdict item 4) the vocabulary unit is the
    # word 1..3-gram stratum (max_n=3 — ~17k-28k types per SF,
    # honestly derived from the corpus), which makes the production V
    # grid sweep a non-degenerate coverage/OOV staircase instead of an
    # all-zero curve.
    docs = load_table(spark, sf_dir, "documents")
    return text.vocab_oov_curve(
        docs, vocab_sizes=(64, 256, 1024, 4096), max_n=3
    )


SQL_VOCAB_OOV_CURVE = r"""
WITH w AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> length(x) > 0) AS ws
  FROM documents
), toks AS (
  SELECT unnest(list_concat(list_concat(
           ws,
           list_transform(range(1, len(ws)),
                          i -> ws[i] || '_' || ws[i+1])),
           list_transform(range(1, len(ws) - 1),
                          i -> ws[i] || '_' || ws[i+1] || '_' || ws[i+2])
         )) AS tok
  FROM w
), freq AS (
  SELECT tok, COUNT(*) AS f FROM toks GROUP BY tok
), tot AS (
  SELECT CAST(SUM(f) AS BIGINT) AS total_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types
  FROM freq
), top AS (
  SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, tok ASC) AS rn
  FROM freq
  QUALIFY rn <= 4096
), s AS (
  SELECT
    CAST(COALESCE(SUM(CASE WHEN rn <= 64 THEN f END), 0) AS BIGINT) AS c64,
    CAST(COALESCE(SUM(CASE WHEN rn <= 256 THEN f END), 0) AS BIGINT) AS c256,
    CAST(COALESCE(SUM(CASE WHEN rn <= 1024 THEN f END), 0) AS BIGINT) AS c1024,
    CAST(COALESCE(SUM(CASE WHEN rn <= 4096 THEN f END), 0) AS BIGINT) AS c4096
  FROM top
)
SELECT v.vocab_size, t.n_types, t.total_tokens,
       v.c AS covered_tokens,
       (t.total_tokens - v.c) / t.total_tokens AS oov_rate
FROM s, tot t, LATERAL (
  VALUES (CAST(64 AS INT), s.c64), (CAST(256 AS INT), s.c256),
         (CAST(1024 AS INT), s.c1024), (CAST(4096 AS INT), s.c4096)
) v(vocab_size, c)
ORDER BY v.vocab_size
"""


def q_filter_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Quality-filter ablation matrix: per-filter kill counts, UNIQUE
    # (marginal) kills, and the union kill — the table that justifies
    # keeping or dropping each gate before composing a filter chain.
    # Every threshold is an integer cross-multiplication; every output
    # an integer count (pct as the exact-ratio double) — tolerance-free.
    docs = load_table(spark, sf_dir, "documents")
    return text.filter_ablation(docs)


SQL_FILTER_ABLATION = r"""
WITH s AS (
  SELECT len(list_filter(regexp_split_to_array(lower(text), '\W+'),
                         x -> length(x) > 0)) AS nw,
         len(list_distinct(list_filter(regexp_split_to_array(lower(text), '\W+'),
                                       x -> length(x) > 0))) AS nd,
         length(text) AS nc,
         length(regexp_replace(text, '\W', '', 'g')) AS tc
  FROM documents
), flags AS (
  SELECT (nw < 30) AS f1,
         (100 * nd < 40 * nw) AS f2,
         (10 * tc < 44 * nw) AS f3,
         (nc < 200) AS f4
  FROM s
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN f1 OR f2 OR f3 OR f4 THEN 1 ELSE 0 END) AS BIGINT) AS n_any,
         CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n_f1,
         CAST(SUM(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS n_f2,
         CAST(SUM(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS n_f3,
         CAST(SUM(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS n_f4,
         CAST(SUM(CASE WHEN f1 AND NOT f2 AND NOT f3 AND NOT f4 THEN 1 ELSE 0 END) AS BIGINT) AS u_f1,
         CAST(SUM(CASE WHEN f2 AND NOT f1 AND NOT f3 AND NOT f4 THEN 1 ELSE 0 END) AS BIGINT) AS u_f2,
         CAST(SUM(CASE WHEN f3 AND NOT f1 AND NOT f2 AND NOT f4 THEN 1 ELSE 0 END) AS BIGINT) AS u_f3,
         CAST(SUM(CASE WHEN f4 AND NOT f1 AND NOT f2 AND NOT f3 THEN 1 ELSE 0 END) AS BIGINT) AS u_f4
  FROM flags
)
SELECT v.filter, a.n_docs, v.n_fail, v.n_unique_fail,
       a.n_any AS n_fail_any,
       v.n_fail / a.n_docs AS pct_fail
FROM agg a, LATERAL (
  VALUES ('few_words', a.n_f1, a.u_f1),
         ('low_diversity', a.n_f2, a.u_f2),
         ('short_words', a.n_f3, a.u_f3),
         ('short_doc', a.n_f4, a.u_f4)
) v(filter, n_fail, n_unique_fail)
ORDER BY v.filter
"""


# ------------------------------------- interpolated Kneser-Ney LM scoring -


def q_kn_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Interpolated Kneser-Ney word-bigram LM (the KenLM/CCNet smoothing
    # family) trained LEAKAGE-FREE on the non-src0 slice, scoring the
    # WHOLE corpus — so the unseen-bigram / unseen-context / OOV fallback
    # paths are all exercised by the oracle, not just the seen path.
    docs = load_table(spark, sf_dir, "documents")
    return text.kneser_ney_scores(
        docs, train_df=docs.where(F.col("source") != "src0")
    )


SQL_KN_SCORE = r"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> length(x) > 0) AS toks
  FROM documents
), tok_rows AS (
  SELECT doc_id, source, unnest(toks) AS tok,
         generate_subscripts(toks, 1) AS ord
  FROM toks
), bg AS (
  SELECT doc_id, source, tok AS w1,
         LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS w2
  FROM tok_rows
), bg2 AS (
  SELECT doc_id, source, w1, w2 FROM bg WHERE w2 IS NOT NULL
), bc AS (
  SELECT w1, w2, COUNT(*) AS bc
  FROM bg2 WHERE source <> 'src0' GROUP BY 1, 2
), ctx AS (
  SELECT w1, SUM(bc) AS c1, COUNT(*) AS n1w FROM bc GROUP BY 1
), cont AS (
  SELECT w2, COUNT(*) AS n1c FROM bc GROUP BY 1
), tot AS (
  SELECT COUNT(*) AS b_types, COUNT(DISTINCT w2) AS v FROM bc
), probs AS (
  SELECT g.doc_id,
         CASE WHEN x.c1 IS NULL
              THEN (COALESCE(n.n1c, 0) + 1.0) / (t.b_types + t.v + 1.0)
              ELSE GREATEST(COALESCE(b.bc, 0) - 0.75, 0.0) / x.c1
                   + 0.75 * x.n1w / x.c1
                     * ((COALESCE(n.n1c, 0) + 1.0) / (t.b_types + t.v + 1.0))
         END AS prob
  FROM bg2 g
  LEFT JOIN bc b USING (w1, w2)
  LEFT JOIN ctx x USING (w1)
  LEFT JOIN cont n USING (w2)
  CROSS JOIN tot t
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(ln(prob)), 6) AS avg_logp
FROM probs GROUP BY doc_id
"""


# --------------------------- Cavnar-Trenkle trained language-ID confusion -


def q_langid_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Trained char-trigram rank-profile language ID (Cavnar & Trenkle
    # 1994) with an honest held-out split: profiles train on even
    # doc_ids, odd doc_ids are classified; output is the held-out
    # confusion matrix over (true, predicted) labels.
    docs = load_table(spark, sf_dir, "documents")
    pred = text.cavnar_trenkle_langid(
        docs.where(F.col("doc_id") % 2 == 1),
        train_df=docs.where(F.col("doc_id") % 2 == 0),
    )
    return pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


SQL_LANGID_RANK = r"""
WITH pref AS (
  SELECT doc_id, lang, lower(substring(text, 1, 300)) AS t
  FROM documents WHERE length(lower(substring(text, 1, 300))) >= 3
), grams AS (
  SELECT doc_id, lang, substring(t, i, 3) AS gram
  FROM pref, LATERAL (
    SELECT unnest(generate_series(1, length(t) - 2)) AS i
  )
), lang_counts AS (
  SELECT lang AS cand_lang, gram, COUNT(*) AS cnt
  FROM grams WHERE doc_id % 2 = 0 GROUP BY 1, 2
), lang_prof AS (
  SELECT cand_lang, gram,
         ROW_NUMBER() OVER (PARTITION BY cand_lang
                            ORDER BY cnt DESC, gram ASC) AS rank_lang
  FROM lang_counts
  QUALIFY rank_lang <= 100
), langs AS (
  SELECT DISTINCT cand_lang FROM lang_prof
), doc_counts AS (
  SELECT doc_id, gram, COUNT(*) AS cnt
  FROM grams WHERE doc_id % 2 = 1 GROUP BY 1, 2
), doc_prof AS (
  SELECT doc_id, gram,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY cnt DESC, gram ASC) AS rank_doc
  FROM doc_counts
  QUALIFY rank_doc <= 20
), dist AS (
  SELECT d.doc_id, l.cand_lang,
         SUM(COALESCE(ABS(d.rank_doc - p.rank_lang), 100)) AS dist
  FROM doc_prof d
  CROSS JOIN langs l
  LEFT JOIN lang_prof p
    ON p.cand_lang = l.cand_lang AND p.gram = d.gram
  GROUP BY 1, 2
), picked AS (
  SELECT doc_id, cand_lang AS pred_lang,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY dist ASC, cand_lang ASC) AS rn
  FROM dist
  QUALIFY rn = 1
)
SELECT doc.lang, p.pred_lang, CAST(COUNT(*) AS BIGINT) AS n
FROM documents doc JOIN picked p USING (doc_id)
GROUP BY 1, 2
"""


# ------------------------------------------ filter threshold calibration -


def q_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Quality-gate calibration curve (the FineWeb-Edu threshold-study
    # shape): docs and token mass kept at every candidate quality
    # threshold 0.0 .. 0.9, from ONE corpus pass + a 10-row sweep.
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        text.quality_score(F.col("text")).alias("q"),
        text.token_count(F.col("text")).alias("tc"),
    )
    return text.threshold_sweep(scored, "q", weight_col="tc")


SQL_THRESHOLD_SWEEP = rf"""
WITH base AS (
  SELECT doc_id,
    len(list_filter(regexp_split_to_array(text, '[ \x09\x0A\x0D\x0B\x0C]+'),
                    x -> length(x) > 0)) AS n_tokens,
    regexp_replace(text, '[ \x09\x0A\x0D\x0B\x0C]+', '', 'g') AS compact,
    list_filter(regexp_split_to_array(lower(text), '\W+'),
                x -> length(x) > 0) AS toks
  FROM documents
), ratios AS (
  SELECT doc_id, n_tokens,
    CASE WHEN LENGTH(compact) = 0 THEN 0.0
         ELSE (LENGTH(compact) - LENGTH(regexp_replace(compact, '\W', '', 'g')))
              / LENGTH(compact) END AS punct_ratio,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE len(list_filter(toks, x -> x IN ({_STOPS_SQL}))) / len(toks)
         END AS stopword_ratio
  FROM base
), scored AS (
  SELECT n_tokens AS tc,
    ROUND((LEAST(n_tokens / 100.0, 1.0) + LEAST(stopword_ratio * 4, 1.0)
           + (1.0 - LEAST(punct_ratio * 4, 1.0))) / 3, 6) AS q
  FROM ratios
), hist AS (
  SELECT LEAST(CAST(FLOOR(CAST(ROUND(q * 1000000) AS BIGINT) / 100000)
                    AS INT), 9) AS b,
         CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(tc) AS BIGINT) AS w
  FROM scored GROUP BY 1
), cum AS (
  SELECT b,
         SUM(n) OVER (ORDER BY b DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS kept,
         SUM(w) OVER (ORDER BY b DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS kept_w
  FROM hist
), tot AS (
  SELECT SUM(n) AS tot_n, SUM(w) AS tot_w FROM hist
), grid AS (
  SELECT unnest(generate_series(0, 9)) AS k
), filled AS (
  SELECT g.k, MAX(c.kept) AS kept, MAX(c.kept_w) AS kept_w
  FROM grid g LEFT JOIN cum c ON g.k <= c.b
  GROUP BY g.k
)
SELECT ROUND(CAST(k AS DOUBLE) * 0.1, 6) AS threshold,
       CAST(COALESCE(kept, 0) AS BIGINT) AS n_docs,
       ROUND(COALESCE(kept, 0) * 1.0 / tot_n, 6) AS frac_docs,
       CAST(COALESCE(kept_w, 0) AS BIGINT) AS n_weight,
       ROUND(COALESCE(kept_w, 0) * 1.0 / tot_w, 6) AS frac_weight
FROM filled CROSS JOIN tot
"""


def q_blocklist_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C4-style blocklist gate calibration (Raffel et al. 2020 §2.2):
    # per source, documents a word-boundary blocklist would kill plus
    # the hit volume — exact integer counts, tolerance-free oracle.
    # The term list mixes two common corpus words with one that never
    # fires, so the table shows both the kill and the zero-hit paths.
    docs = load_table(spark, sf_dir, "documents")
    return text.blocklist_screen(
        docs, terms=("merge", "agg", "xyzzy")
    )


SQL_BLOCKLIST_SCREEN = r"""
WITH s AS (
  SELECT source,
         len(list_filter(
               list_filter(regexp_split_to_array(lower(text), '\W+'),
                           x -> length(x) > 0),
               t -> t IN ('merge', 'agg', 'xyzzy'))) AS hits
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_killed,
       CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
         / CAST(COUNT(*) AS BIGINT) AS kill_rate,
       CAST(SUM(hits) AS BIGINT) AS total_hits
FROM s
GROUP BY source
ORDER BY source
"""


def q_rho_loss_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RHO-style learnability selection (Mindermann et al. 2022; the
    # RHO-1 token-level variant of Lin et al. 2024 applies the same
    # signal): per held-out doc, excess loss = loss under the CURRENT
    # model (trained on everything, has seen the doc's split) minus
    # loss under the holdout-clean REFERENCE model (trained on the
    # train split only) = logp_ref - logp_cur; the top-32 by excess
    # are the docs worth training on next (hard for the current model,
    # not intrinsically noisy — the reference scores them fine).
    # Composes the proven char-bigram LM machinery twice; both logps
    # are the established ROUND(AVG(ln(...)), 6) convention.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    split = mixing.assign_splits(docs)
    train = split.where(F.col("split") == "train")
    heldout = split.where(F.col("split") != "train")
    ref = text.char_bigram_lm_scores(
        heldout, "text", "doc_id", prefix_len=200, train_df=train
    ).select(
        "doc_id", "n_bigrams", F.col("avg_logp").alias("logp_ref")
    )
    cur = text.char_bigram_lm_scores(
        heldout, "text", "doc_id", prefix_len=200, train_df=docs
    ).select("doc_id", F.col("avg_logp").alias("logp_cur"))
    scored = ref.join(cur, "doc_id").withColumn(
        "excess_loss", F.round(F.col("logp_ref") - F.col("logp_cur"), 6)
    )
    top = scored.orderBy(
        F.col("excess_loss").desc(), F.col("doc_id")
    ).limit(32)
    # bounded-frame window (≤32 rows post-limit)
    win = Window.orderBy(F.col("excess_loss").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(win)).select(
        "rank", "doc_id", "n_bigrams", "logp_ref", "logp_cur",
        "excess_loss",
    )


def _sql_rho_loss_select() -> str:
    from etl_pipeline2_0_spark.functions.mixing import split_thresholds

    (_, t_train), *_ = split_thresholds(
        {"train": 0.9, "val": 0.05, "test": 0.05}
    )
    return rf"""
WITH split AS (
  SELECT doc_id, text,
         ('0' || substring(md5(CAST(doc_id AS VARCHAR) || ':'), 1, 15))
           < '{t_train}' AS is_train
  FROM documents
), d_all AS (
  SELECT doc_id, lower(substring(text, 1, 200)) AS t FROM split
  WHERE length(substring(text, 1, 200)) >= 2
), d_tr AS (
  SELECT doc_id, lower(substring(text, 1, 200)) AS t FROM split
  WHERE is_train AND length(substring(text, 1, 200)) >= 2
), d_ho AS (
  SELECT doc_id, lower(substring(text, 1, 200)) AS t FROM split
  WHERE NOT is_train AND length(substring(text, 1, 200)) >= 2
), bg_tr AS (
  SELECT substring(t, CAST(i AS INT), 2) AS big,
         substring(t, CAST(i AS INT), 1) AS ctx
  FROM d_tr CROSS JOIN (SELECT unnest(range(1, 200)) AS i) s
  WHERE i <= length(t) - 1
), bg_all AS (
  SELECT substring(t, CAST(i AS INT), 2) AS big,
         substring(t, CAST(i AS INT), 1) AS ctx
  FROM d_all CROSS JOIN (SELECT unnest(range(1, 200)) AS i) s
  WHERE i <= length(t) - 1
), bg AS (
  SELECT doc_id, substring(t, CAST(i AS INT), 2) AS big,
         substring(t, CAST(i AS INT), 1) AS ctx
  FROM d_ho CROSS JOIN (SELECT unnest(range(1, 200)) AS i) s
  WHERE i <= length(t) - 1
), bc_tr AS (
  SELECT big, COUNT(*) AS bc FROM bg_tr GROUP BY 1
), cc_tr AS (
  SELECT ctx, COUNT(*) AS cc FROM bg_tr GROUP BY 1
), a_tr AS (
  SELECT COUNT(DISTINCT substring(big, 2, 1)) AS alpha FROM bg_tr
), bc_all AS (
  SELECT big, COUNT(*) AS bc FROM bg_all GROUP BY 1
), cc_all AS (
  SELECT ctx, COUNT(*) AS cc FROM bg_all GROUP BY 1
), a_all AS (
  SELECT COUNT(DISTINCT substring(big, 2, 1)) AS alpha FROM bg_all
), ref AS (
  SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         ROUND(AVG(ln((COALESCE(bc_tr.bc, 0) + 1.0)
                      / (COALESCE(cc_tr.cc, 0) + a_tr.alpha))), 6)
           AS logp_ref
  FROM bg LEFT JOIN bc_tr USING (big)
          LEFT JOIN cc_tr ON bg.ctx = cc_tr.ctx
          CROSS JOIN a_tr
  GROUP BY bg.doc_id
), cur AS (
  SELECT bg.doc_id,
         ROUND(AVG(ln((COALESCE(bc_all.bc, 0) + 1.0)
                      / (COALESCE(cc_all.cc, 0) + a_all.alpha))), 6)
           AS logp_cur
  FROM bg LEFT JOIN bc_all USING (big)
          LEFT JOIN cc_all ON bg.ctx = cc_all.ctx
          CROSS JOIN a_all
  GROUP BY bg.doc_id
), scored AS (
  SELECT ref.doc_id, ref.n_bigrams, ref.logp_ref, cur.logp_cur,
         ROUND(ref.logp_ref - cur.logp_cur, 6) AS excess_loss
  FROM ref JOIN cur USING (doc_id)
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY excess_loss DESC, doc_id)
            AS INT) AS rank,
       doc_id, n_bigrams, logp_ref, logp_cur, excess_loss
FROM scored
QUALIFY rank <= 32
ORDER BY rank
"""


SQL_RHO_LOSS_SELECT = _sql_rho_loss_select()


def q_heavy_hitter_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus-wide memorization/boilerplate screen: the top-20 word
    # 8-grams by distinct-document frequency (the phrases a dedup pass
    # should have removed and a memorization audit looks for), with
    # occurrence totals — exact integer counts, tolerance-free oracle.
    docs = load_table(spark, sf_dir, "documents")
    return text.heavy_hitter_phrases(docs, n=8, top_k=20)


SQL_HEAVY_HITTER_PHRASES = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> length(x) > 0) AS ws
  FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws) - 6),
                               i -> array_to_string(ws[i:i+7], ' ')))
           AS phrase
  FROM w
), agg AS (
  SELECT phrase,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences
  FROM g
  GROUP BY phrase
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_docs DESC, phrase) AS INT)
         AS rank,
       phrase, n_docs, n_occurrences
FROM agg
QUALIFY rank <= 20
ORDER BY rank
"""


def q_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Distinct-n diversity table (Li et al. 2016 / Texygen): per
    # (source, n in 1..3), n-gram type/token ratio and hapax share —
    # the mode-collapse screen a synthetic-data pool is graded on.
    # One corpus pass (all orders from one tokenize via tagged
    # flatten), exact two-level aggregate, unrounded integer-ratio
    # divisions — tolerance-free oracle.
    docs = load_table(spark, sf_dir, "documents")
    return text.distinct_ngrams(docs, ns=(1, 2, 3))


SQL_DISTINCT_NGRAMS = r"""
WITH w AS (
  SELECT source,
         list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> length(x) > 0) AS ws
  FROM documents
), g AS (
  SELECT source, n,
         unnest(list_transform(range(1, len(ws) - n + 2),
                               i -> array_to_string(ws[i:i+n-1], ' ')))
           AS gram
  FROM w CROSS JOIN (SELECT unnest([1, 2, 3]) AS n)
  WHERE len(ws) >= n
), c AS (
  SELECT source, n, gram, CAST(COUNT(*) AS BIGINT) AS c
  FROM g GROUP BY 1, 2, 3
)
SELECT source, CAST(n AS INT) AS n,
       CAST(SUM(c) AS BIGINT) AS total_ngrams,
       CAST(COUNT(*) AS BIGINT) AS distinct_ngrams,
       COUNT(*) * 1.0 / GREATEST(SUM(c), 1) AS distinct_ratio,
       SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0
         / GREATEST(COUNT(*), 1) AS singleton_ratio
FROM c GROUP BY source, n
"""


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-source boilerplate-line removal (CCNet / RefinedWeb pre-dedup
    # pass).  The corpus is single-line by construction, so the query
    # PLANTS the boilerplate deterministically (mirrored in SQL): every
    # doc gets a per-source header + footer (df ratio 1.0 -> stripped at
    # tau=0.6) and even docs get a PROMO line (ratio ~0.5 -> kept), so
    # the table proves both the strip and the keep path at every SF.
    docs = load_table(spark, sf_dir, "documents")
    built = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.lit("HDR "),
            F.col("source"),
            F.lit(" terms of use\n"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit("PROMO "), F.col("source"), F.lit("\n")),
            ).otherwise(F.lit("")),
            F.col("text"),
            F.lit("\ncopyright footer "),
            F.col("source"),
        ).alias("text"),
    )
    return text.boilerplate_strip(built, df_ratio=0.6, min_docs=2)


SQL_BOILERPLATE_STRIP = r"""
WITH built AS (
  SELECT doc_id, source,
         'HDR ' || source || ' terms of use' || chr(10) ||
         CASE WHEN doc_id % 2 = 0
              THEN 'PROMO ' || source || chr(10) ELSE '' END ||
         text || chr(10) || 'copyright footer ' || source AS text
  FROM documents
), lines AS (
  SELECT doc_id, source,
         generate_subscripts(ls, 1) AS pos, unnest(ls) AS line
  FROM (SELECT doc_id, source, string_split(text, chr(10)) AS ls
        FROM built)
), grp AS (
  SELECT source, COUNT(DISTINCT doc_id) AS n_docs_grp
  FROM built GROUP BY source
), ldf AS (
  SELECT source, line, COUNT(DISTINCT doc_id) AS line_docs
  FROM lines GROUP BY source, line
), boiler AS (
  SELECT l.source, l.line
  FROM ldf l JOIN grp g USING (source)
  WHERE line_docs >= 2 AND line_docs * 1.0 / n_docs_grp >= 0.6
), marked AS (
  SELECT li.doc_id, li.source, li.pos, li.line,
         (b.line IS NOT NULL) AS is_b
  FROM lines li LEFT JOIN boiler b
    ON li.source = b.source AND li.line = b.line
)
SELECT doc_id, source,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler_lines,
       COALESCE(string_agg(CASE WHEN NOT is_b THEN line END,
                           chr(10) ORDER BY pos), '') AS clean_text
FROM marked GROUP BY doc_id, source
"""


def q_quality_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Length-bias audit of the corpus_filter quality gate: per 16-token
    # length bucket, the composite score decomposed into its length
    # term vs content-only terms, next to the kill rate at tau=0.5.
    docs = load_table(spark, sf_dir, "documents")
    return text.quality_length_bias(
        docs, bucket_tokens=16, max_bucket=8, threshold=0.5
    )


SQL_QUALITY_LENGTH_BIAS = rf"""
WITH base AS (
  SELECT doc_id,
    len(list_filter(regexp_split_to_array(text, '[ \x09\x0A\x0D\x0B\x0C]+'),
                    x -> length(x) > 0)) AS n_tokens,
    regexp_replace(text, '[ \x09\x0A\x0D\x0B\x0C]+', '', 'g') AS compact,
    list_filter(regexp_split_to_array(lower(text), '\W+'),
                x -> length(x) > 0) AS toks
  FROM documents
), ratios AS (
  SELECT doc_id, n_tokens,
    CASE WHEN LENGTH(compact) = 0 THEN 0.0
         ELSE (LENGTH(compact) - LENGTH(regexp_replace(compact, '\W', '', 'g')))
              / LENGTH(compact) END AS punct_ratio,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE len(list_filter(toks, x -> x IN ({_STOPS_SQL}))) / len(toks)
         END AS stopword_ratio
  FROM base
), terms AS (
  SELECT
    LEAST(CAST(FLOOR(n_tokens / 16) AS BIGINT), 8) AS bucket,
    ROUND((LEAST(n_tokens / 100.0, 1.0) + LEAST(stopword_ratio * 4, 1.0)
           + (1.0 - LEAST(punct_ratio * 4, 1.0))) / 3, 6) AS score,
    LEAST(n_tokens / 100.0, 1.0) AS length_term,
    (LEAST(stopword_ratio * 4, 1.0)
     + (1.0 - LEAST(punct_ratio * 4, 1.0))) / 2 AS content
  FROM ratios
), rows_q AS (
  SELECT bucket,
         CAST(ROUND(score * 1000000.0) AS BIGINT) AS s_u,
         CAST(ROUND(length_term * 1000000.0) AS BIGINT) AS l_u,
         CAST(ROUND(content * 1000000.0) AS BIGINT) AS c_u,
         CASE WHEN score < 0.5 THEN 1 ELSE 0 END AS kill
  FROM terms
), agg AS (
  SELECT bucket,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(s_u) AS BIGINT) AS ss,
         CAST(SUM(l_u) AS BIGINT) AS sl,
         CAST(SUM(c_u) AS BIGINT) AS sc,
         CAST(SUM(kill) AS BIGINT) AS k
  FROM rows_q GROUP BY bucket
), tot AS (SELECT SUM(n_docs) AS t FROM agg)
SELECT bucket,
       CAST(bucket * 16 AS BIGINT) AS tok_lo,
       n_docs,
       ROUND(n_docs * 1.0 / t, 6) AS share,
       ROUND(ss / 1000000.0 / n_docs, 6) AS mean_score,
       ROUND(sl / 1000000.0 / n_docs, 6) AS mean_length_term,
       ROUND(sc / 1000000.0 / n_docs, 6) AS mean_content_score,
       ROUND(k * 1.0 / n_docs, 6) AS kill_rate
FROM agg CROSS JOIN tot
ORDER BY bucket
"""


SQL_QUALITY_CALIBRATION = SQL_QUALITY_CALIBRATION_TEMPLATE.format(
    qc_sql=SQL_QUALITY_CLASSIFIER, gate_sql=SQL_CORPUS_FILTER
)
