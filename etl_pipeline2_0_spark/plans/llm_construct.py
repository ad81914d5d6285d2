"""Example-construction plans: span corruption, FIM, UL2, SFT/DPO/GRPO, chat assembly, and sequence packing.

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



def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sequence packing: documents streamed in doc_id order within each
    # source, packed into ~256-token training sequences via the two-level
    # (bucketed) exclusive prefix sum — no single-source window partition.
    # bucket_width=1024 exercises the multi-bucket carry path even at the
    # small test SFs; the output is bucket-width-invariant.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.pack_sequences(docs, budget_tokens=256, bucket_width=1024)


SQL_PACK_SEQUENCES = r"""
WITH toks AS (
  SELECT source, doc_id,
         len(list_filter(regexp_split_to_array(text, '[ \x09\x0A\x0D\x0B\x0C]+'),
                         x -> length(x) > 0)) AS n_tokens
  FROM documents
), packed AS (
  SELECT source, doc_id, n_tokens,
         CAST(floor(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256)
           AS BIGINT) AS pack_id
  FROM toks
)
SELECT source, pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM packed
GROUP BY source, pack_id
"""


def q_pack_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialized packing: same 256-token packs as pack_sequences, plus
    # the concatenated training sequence per pack.  Subset keeps the
    # string-heavy oracle cheap; assignment logic is identical to the
    # full-corpus pack_sequences (shared _assign_packs).
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    return mixing.pack_texts(docs, budget_tokens=256)


SQL_PACK_TEXTS = r"""
WITH toks AS (
  SELECT source, doc_id, text,
         len(list_filter(regexp_split_to_array(text, '[ \x09\x0A\x0D\x0B\x0C]+'),
                         x -> length(x) > 0)) AS n_tokens
  FROM documents WHERE doc_id % 5 = 0
), packed AS (
  SELECT source, doc_id, text, n_tokens,
         CAST(floor(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256)
           AS BIGINT) AS pack_id
  FROM toks
)
SELECT source, pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       string_agg(text, ' ' ORDER BY doc_id) AS seq_text
FROM packed
GROUP BY source, pack_id
"""


# --------------------------------------------- packing-efficiency audit --


def q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.pack_efficiency(docs, budget_tokens=256, bucket_width=1024)


SQL_PACK_EFFICIENCY = r"""
WITH toks AS (
  SELECT source, doc_id,
         len(list_filter(regexp_split_to_array(text, '[ \x09\x0A\x0D\x0B\x0C]+'),
                         x -> length(x) > 0)) AS n_tokens
  FROM documents
), packed AS (
  SELECT source, doc_id, n_tokens,
         CAST(floor(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256)
           AS BIGINT) AS pack_id
  FROM toks
), packs AS (
  SELECT source, pack_id, SUM(n_tokens) AS pack_tokens,
         SUM(n_tokens) / 256.0 AS fill
  FROM packed GROUP BY 1, 2
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_packs,
       CAST(SUM(pack_tokens) AS BIGINT) AS total_tokens,
       ROUND(AVG(fill), 6) AS avg_fill,
       ROUND(quantile_cont(fill, 0.1), 6) AS p10_fill,
       ROUND(quantile_cont(fill, 0.9), 6) AS p90_fill,
       ROUND(AVG(CASE WHEN fill > 1.0 THEN 1.0 ELSE 0.0 END), 6)
         AS overflow_frac,
       CAST(SUM(GREATEST(256 - pack_tokens, 0)) AS BIGINT)
         AS underfill_tokens
FROM packs GROUP BY 1
"""


def q_pack_waste_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The context-length sizing sweep for sequence packing: padding +
    # straddle + fill at 256/512/1024/2048-token contexts from ONE
    # prefix-sum pass (pack_id = prev div budget shares the prefix sum
    # across budgets) — the ninth measured sizing curve.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.pack_waste_curve(docs, budgets=(256, 512, 1024, 2048))


SQL_PACK_WASTE_CURVE = r"""
WITH toks AS (
  SELECT source, doc_id,
         len(list_filter(regexp_split_to_array(text, '[ \x09\x0A\x0D\x0B\x0C]+'),
                         x -> length(x) > 0)) AS n_tokens
  FROM documents
), pv AS (
  SELECT source, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
  FROM toks
), per AS (
  SELECT v.b AS budget_tokens, source,
         CAST(floor(prev / v.b) AS BIGINT) AS pack_id,
         CAST(SUM(n_tokens) AS BIGINT) AS pt
  FROM pv, (VALUES (256), (512), (1024), (2048)) v(b)
  GROUP BY 1, 2, 3
)
SELECT CAST(budget_tokens AS INT) AS budget_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_packs,
       CAST(SUM(pt) AS BIGINT) AS total_tokens,
       CAST(SUM(GREATEST(budget_tokens - pt, 0)) AS BIGINT) AS underfill_tokens,
       CAST(SUM(GREATEST(pt - budget_tokens, 0)) AS BIGINT) AS overflow_tokens,
       SUM(pt) / (COUNT(*) * CAST(budget_tokens AS DOUBLE)) AS fill_rate
FROM per
GROUP BY budget_tokens
ORDER BY budget_tokens
"""


# --------------------------------------- T5 span-corruption construction -


def q_span_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    # T5 denoising-objective example construction (Raffel et al. 2020
    # §3.1.4): deterministic md5-placed corruption spans -> sentinel
    # inputs + ordered targets, 5% density, spans of 1-3 tokens.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.span_corrupt(docs, density=0.05, max_span=3)


SQL_SPAN_CORRUPT = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '[ \x09\x0A\x0D\x0B\x0C]+'),
                     x -> length(x) > 0) AS toks
  FROM documents
), rows0 AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
  FROM toks WHERE len(toks) > 0
), marked AS (
  SELECT doc_id, pos, tok,
    (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
          CAST(pos AS VARCHAR) || ':s:'), 1, 15) AS BIGINT) % 1000000)
      < 50000 AS is_start,
    1 + (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
          CAST(pos AS VARCHAR) || ':l:'), 1, 15) AS BIGINT) % 3) AS span_len
  FROM rows0
), cov AS (
  SELECT doc_id, pos, tok,
    COALESCE(MAX(CASE WHEN is_start THEN pos + span_len END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) > pos,
             FALSE) AS covered
  FROM marked
), sp AS (
  SELECT doc_id, pos, tok, covered,
    covered AND NOT COALESCE(
      LAG(covered) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
      AS new_span
  FROM cov
), numbered AS (
  SELECT doc_id, pos, tok, covered, new_span,
    CAST(SUM(CASE WHEN new_span THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS INT) AS span_k
  FROM sp
), pieces AS (
  SELECT doc_id, pos, new_span,
    CASE WHEN NOT covered THEN tok
         WHEN new_span THEN '<extra_id_' || CAST(span_k AS VARCHAR) || '>'
    END AS p_in,
    CASE WHEN new_span
           THEN '<extra_id_' || CAST(span_k AS VARCHAR) || '> ' || tok
         WHEN covered THEN tok
    END AS p_tg
  FROM numbered
), agg AS (
  SELECT doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_tokens,
    CAST(SUM(CASE WHEN new_span THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
    COALESCE(string_agg(p_in, ' ' ORDER BY pos)
               FILTER (WHERE p_in IS NOT NULL), '') AS inputs,
    COALESCE(string_agg(p_tg, ' ' ORDER BY pos)
               FILTER (WHERE p_tg IS NOT NULL), '') AS tg
  FROM pieces GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_spans, inputs,
       CASE WHEN n_spans = 0 THEN ''
            ELSE tg || ' <extra_id_' || CAST(n_spans AS VARCHAR) || '>'
       END AS targets
FROM agg
"""


def q_sft_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SFT packing with loss-mask accounting: hash-cut (prompt, response)
    # examples packed to ~256 tokens per source, each pack reporting its
    # masked vs loss-bearing token split.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.sft_pack(docs, budget_tokens=256)


SQL_SFT_PACK = r"""
WITH toks AS (
  SELECT source, doc_id,
         list_filter(regexp_split_to_array(text, '[ \x09\x0A\x0D\x0B\x0C]+'),
                     x -> length(x) > 0) AS toks
  FROM documents
), ex AS (
  SELECT source, doc_id, len(toks) AS n,
         GREATEST(1, CAST(FLOOR(len(toks) / 4.0) AS INT)) AS lo
  FROM toks WHERE len(toks) >= 2
), cut AS (
  SELECT source, doc_id, n,
         lo + CAST((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                || ':cut:'), 1, 15) AS BIGINT)
                % GREATEST(n - 2 * lo + 1, 1)) AS INT) AS n_prompt
  FROM ex
), packed AS (
  SELECT source, doc_id, n, n_prompt, n - n_prompt AS n_resp,
         CAST(floor(COALESCE(SUM(n) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256)
           AS BIGINT) AS pack_id
  FROM cut
)
SELECT source, pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_examples,
       CAST(SUM(n) AS BIGINT) AS pack_tokens,
       CAST(SUM(n_prompt) AS BIGINT) AS prompt_tokens,
       CAST(SUM(n_resp) AS BIGINT) AS response_tokens,
       ROUND(SUM(n_resp) * 1.0 / SUM(n), 6) AS loss_frac
FROM packed GROUP BY source, pack_id
"""


def q_chat_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Multi-turn conversation assembly: fixed-size id blocks as
    # conversations, turns ordered by id, alternating user/assistant
    # roles, role-tagged rendering, per-role loss-mask accounting.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.chat_assemble(docs, turns_per_conv=4)


_SQL_CHAT_TURNS = r"""
WITH t AS (
  SELECT source, doc_id,
         CAST(FLOOR(doc_id / 4.0) AS BIGINT) AS conv_id,
         COALESCE(text, '') AS txt,
         len(list_filter(regexp_split_to_array(COALESCE(text, ''),
             '[ \x09\x0A\x0D\x0B\x0C]+'), x -> length(x) > 0)) AS nt
  FROM documents
), turns AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY conv_id
                                    ORDER BY doc_id) AS INT) AS turn_idx
  FROM t
), tagged AS (
  SELECT conv_id, turn_idx, source, nt, turn_idx % 2 = 1 AS is_user,
         (CASE WHEN turn_idx % 2 = 1 THEN '<|user|>'
               ELSE '<|assistant|>' END)
         || (CASE WHEN length(txt) > 0 THEN ' ' || txt ELSE '' END) AS tg
  FROM turns
), conv AS (
  SELECT conv_id,
         MIN(CASE WHEN turn_idx = 1 THEN source END) AS source,
         CAST(COUNT(*) AS BIGINT) AS n_turns,
         CAST(SUM(nt + 1) AS BIGINT) AS conv_tokens,
         CAST(SUM(CASE WHEN is_user THEN nt + 1 ELSE 1 END) AS BIGINT)
           AS masked_tokens,
         CAST(SUM(CASE WHEN NOT is_user THEN nt ELSE 0 END) AS BIGINT)
           AS loss_tokens,
         string_agg(tg, ' ' ORDER BY turn_idx) AS rendered
  FROM tagged GROUP BY conv_id
)
"""

SQL_CHAT_ASSEMBLE = (
    _SQL_CHAT_TURNS
    + """SELECT conv_id, source, n_turns, conv_tokens, masked_tokens,
       loss_tokens, rendered
FROM conv
"""
)


def q_chat_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Conversations packed whole under a 512-token budget per source,
    # each pack reporting its role-mask split (masked + loss = tokens).
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.chat_pack(docs, turns_per_conv=4, budget_tokens=512)


SQL_CHAT_PACK = (
    _SQL_CHAT_TURNS
    + """, packed AS (
  SELECT *, CAST(floor(COALESCE(SUM(conv_tokens) OVER (
      PARTITION BY source ORDER BY conv_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512)
    AS BIGINT) AS pack_id
  FROM conv
)
SELECT source, pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_conversations,
       CAST(SUM(n_turns) AS BIGINT) AS n_turns,
       CAST(SUM(conv_tokens) AS BIGINT) AS pack_tokens,
       CAST(SUM(masked_tokens) AS BIGINT) AS masked_tokens,
       CAST(SUM(loss_tokens) AS BIGINT) AS loss_tokens,
       ROUND(SUM(loss_tokens) * 1.0 / SUM(conv_tokens), 6) AS loss_frac
FROM packed GROUP BY source, pack_id
"""
)


def q_ul2_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # UL2 mixture-of-denoisers (Tay et al. 2022): R (T5 spans at
    # 0.15/3), X (extreme at 0.5/8), S (prefix-LM cut in the middle
    # half), hash-assigned per doc with the paradigm token prepended.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.ul2_mix(docs)


def _sql_ul2_span_chain(tag: str, mode: int, thr: int, span_mod: int) -> str:
    # One span-corruption CTE chain (the SQL_SPAN_CORRUPT structure)
    # restricted to the docs hash-assigned to ``mode``, with the
    # density/span literals parameterized; CTE names suffixed by tag.
    lookback = span_mod - 1
    return f"""toks{tag} AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '[ \\x09\\x0A\\x0D\\x0B\\x0C]+'),
                     x -> length(x) > 0) AS toks
  FROM documents
  WHERE (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':ul2:'),
              1, 15) AS BIGINT) % 3) = {mode}
), rows{tag} AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
  FROM toks{tag} WHERE len(toks) > 0
), marked{tag} AS (
  SELECT doc_id, pos, tok,
    (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
          CAST(pos AS VARCHAR) || ':s:'), 1, 15) AS BIGINT) % 1000000)
      < {thr} AS is_start,
    1 + (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
          CAST(pos AS VARCHAR) || ':l:'), 1, 15) AS BIGINT) % {span_mod})
      AS span_len
  FROM rows{tag}
), cov{tag} AS (
  SELECT doc_id, pos, tok,
    COALESCE(MAX(CASE WHEN is_start THEN pos + span_len END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN {lookback} PRECEDING AND CURRENT ROW) > pos,
             FALSE) AS covered
  FROM marked{tag}
), sp{tag} AS (
  SELECT doc_id, pos, tok, covered,
    covered AND NOT COALESCE(
      LAG(covered) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
      AS new_span
  FROM cov{tag}
), numbered{tag} AS (
  SELECT doc_id, pos, tok, covered, new_span,
    CAST(SUM(CASE WHEN new_span THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS INT) AS span_k
  FROM sp{tag}
), pieces{tag} AS (
  SELECT doc_id, pos, new_span,
    CASE WHEN NOT covered THEN tok
         WHEN new_span THEN '<extra_id_' || CAST(span_k AS VARCHAR) || '>'
    END AS p_in,
    CASE WHEN new_span
           THEN '<extra_id_' || CAST(span_k AS VARCHAR) || '> ' || tok
         WHEN covered THEN tok
    END AS p_tg
  FROM numbered{tag}
), agg{tag} AS (
  SELECT doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_tokens,
    CAST(SUM(CASE WHEN new_span THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
    COALESCE(string_agg(p_in, ' ' ORDER BY pos)
               FILTER (WHERE p_in IS NOT NULL), '') AS inputs,
    COALESCE(string_agg(p_tg, ' ' ORDER BY pos)
               FILTER (WHERE p_tg IS NOT NULL), '') AS tg
  FROM pieces{tag} GROUP BY doc_id
)"""


def _sql_ul2_mix(
    r_density: float = 0.15, r_span: int = 3,
    x_density: float = 0.5, x_span: int = 8,
) -> str:
    from etl_pipeline2_0_spark.functions.mixing import rate_to_units

    r_thr = rate_to_units(r_density, 1_000_000)
    x_thr = rate_to_units(x_density, 1_000_000)
    return (
        "WITH "
        + _sql_ul2_span_chain("r", 0, r_thr, r_span)
        + ",\n"
        + _sql_ul2_span_chain("x", 1, x_thr, x_span)
        + r""",
s_toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '[ \x09\x0A\x0D\x0B\x0C]+'),
                     x -> length(x) > 0) AS toks
  FROM documents
  WHERE (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':ul2:'),
              1, 15) AS BIGINT) % 3) = 2
), s_rows AS (
  SELECT doc_id, toks, len(toks) AS n,
         GREATEST(1, CAST(FLOOR(len(toks) / 4.0) AS INT)) AS lo
  FROM s_toks WHERE len(toks) >= 2
), s_cut AS (
  SELECT doc_id, toks, n,
         lo + CAST((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                || ':cut:'), 1, 15) AS BIGINT)
                % GREATEST(n - 2 * lo + 1, 1)) AS INT) AS cut
  FROM s_rows
)
SELECT doc_id, 'r' AS denoiser, n_tokens, n_spans,
       '[R] ' || inputs AS inputs,
       CASE WHEN n_spans = 0 THEN ''
            ELSE tg || ' <extra_id_' || CAST(n_spans AS VARCHAR) || '>'
       END AS targets
FROM aggr
UNION ALL
SELECT doc_id, 'x' AS denoiser, n_tokens, n_spans,
       '[X] ' || inputs AS inputs,
       CASE WHEN n_spans = 0 THEN ''
            ELSE tg || ' <extra_id_' || CAST(n_spans AS VARCHAR) || '>'
       END AS targets
FROM aggx
UNION ALL
SELECT doc_id, 's' AS denoiser, CAST(n AS BIGINT) AS n_tokens,
       CAST(0 AS BIGINT) AS n_spans,
       '[S] ' || array_to_string(toks[1:cut], ' ') AS inputs,
       array_to_string(toks[cut + 1:n], ' ') AS targets
FROM s_cut
"""
    )


SQL_UL2_MIX = _sql_ul2_mix()


# ---------------------------------------------- fill-in-middle transform -


def q_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FIM example construction (Bavarian et al. 2022) at the canonical
    # 50% rate, PSM/SPM joint 50/50, md5-deterministic cuts.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.fim_transform(docs, fim_rate=0.5)


SQL_FIM_TRANSFORM = r"""
WITH h AS (
  SELECT doc_id, text, length(text) AS L,
    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':fim:'), 1, 15)
         AS BIGINT) % 100 AS h_fim,
    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':c1:'), 1, 15)
         AS BIGINT) AS h_c1,
    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':c2:'), 1, 15)
         AS BIGINT) AS h_c2,
    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':mode:'), 1, 15)
         AS BIGINT) % 2 AS h_mode
  FROM documents
), cuts AS (
  SELECT doc_id, text, L,
         (h_fim < 50 AND L >= 3) AS do_fim, h_mode,
         LEAST(1 + h_c1 % L, 1 + h_c2 % L) AS lo,
         GREATEST(1 + h_c1 % L, 1 + h_c2 % L) AS hi
  FROM h
), parts AS (
  SELECT doc_id, text, L, do_fim, h_mode,
         substring(text, 1, lo - 1) AS prefix,
         substring(text, lo, hi - lo) AS middle,
         substring(text, hi, L - hi + 1) AS suffix
  FROM cuts
)
SELECT doc_id,
       CASE WHEN NOT do_fim THEN 'none'
            WHEN h_mode = 1 THEN 'spm' ELSE 'psm' END AS mode,
       CAST(L AS BIGINT) AS n_chars,
       CASE WHEN NOT do_fim THEN text
            WHEN h_mode = 1
              THEN '<SUF>' || suffix || '<PRE>' || prefix || '<MID>' || middle
            ELSE '<PRE>' || prefix || '<SUF>' || suffix || '<MID>' || middle
       END AS fim_text
FROM parts
"""


# ----------------------------------------------------------- DPO pairs ----


def q_dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Preference-pair construction (the public DPO best-vs-worst recipe):
    # docs sharing doc_id mod 64 play one pseudo-prompt's candidate pool,
    # scored by lexical diversity; argmax vs argmin with a 0.02 margin
    # floor so both the kept and the filtered branches carry rows.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.dpo_pairs(docs, n_groups=64, min_margin=0.02)


SQL_DPO_PAIRS = r"""
WITH base AS (
  SELECT doc_id % 64 AS group_id, doc_id,
         list_filter(regexp_split_to_array(COALESCE(text, ''),
                                           '[ \x09\x0A\x0D\x0B\x0C]+'),
                     x -> length(x) > 0) AS toks
  FROM documents
), scored AS (
  SELECT group_id, doc_id,
         CASE WHEN len(toks) > 0
              THEN ROUND(len(list_distinct(toks)) * 1.0 / len(toks), 6)
              ELSE 0.0 END AS score
  FROM base
), ranked AS (
  SELECT group_id, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY group_id
                            ORDER BY score DESC, doc_id DESC) AS rc,
         ROW_NUMBER() OVER (PARTITION BY group_id
                            ORDER BY score ASC, doc_id ASC) AS rr,
         COUNT(*) OVER (PARTITION BY group_id) AS n_candidates
  FROM scored
), ch AS (
  SELECT group_id, doc_id AS chosen_id, score AS chosen_score,
         n_candidates
  FROM ranked WHERE rc = 1
), rj AS (
  SELECT group_id, doc_id AS rejected_id, score AS rejected_score
  FROM ranked WHERE rr = 1
)
SELECT CAST(ch.group_id AS INT) AS group_id, chosen_id, rejected_id,
       chosen_score, rejected_score,
       ROUND(chosen_score - rejected_score, 6) AS margin,
       CAST(n_candidates AS BIGINT) AS n_candidates
FROM ch JOIN rj USING (group_id)
WHERE n_candidates >= 2
  AND chosen_id <> rejected_id
  AND ROUND(chosen_score - rejected_score, 6) >= 0.02
"""


def q_best_of_n_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The rejection-sampling inference-scaling curve: mean best reward
    # among the first N md5-arrival-order candidates per pseudo-prompt
    # group, N in 1/2/4/8 — what best-of-N buys before paying for
    # generation.  n_groups=4 keeps >=8 candidates per group at every
    # SF including sf0.001 (50 docs), so the curve is non-vacuous and
    # every point averages the same group set.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.best_of_n_curve(docs, ns=(1, 2, 4, 8), n_groups=4)


# Inherit dpo_pairs' base/scoring CTEs with the curve's 4-way grouping;
# the tail ranks by md5 arrival order, takes per-group conditional
# maxes, and fans the one summary row out by N literals.
SQL_BEST_OF_N_CURVE = SQL_DPO_PAIRS.split("), ranked AS (")[0].replace(
    "doc_id % 64", "doc_id % 4"
) + """), u AS (
  SELECT group_id, doc_id,
         CAST(ROUND(score * 1000000.0) AS BIGINT) AS u,
         md5(CAST(doc_id AS VARCHAR)) AS ok
  FROM scored
), ranked AS (
  SELECT group_id, u,
         ROW_NUMBER() OVER (PARTITION BY group_id
                            ORDER BY ok, doc_id) AS ra
  FROM u
), per AS (
  SELECT group_id, COUNT(*) AS n,
         MAX(CASE WHEN ra <= 1 THEN u END) AS m1,
         MAX(CASE WHEN ra <= 2 THEN u END) AS m2,
         MAX(CASE WHEN ra <= 4 THEN u END) AS m4,
         MAX(CASE WHEN ra <= 8 THEN u END) AS m8
  FROM ranked GROUP BY group_id
), el AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(m1) AS BIGINT) AS s1,
         CAST(SUM(m2) AS BIGINT) AS s2,
         CAST(SUM(m4) AS BIGINT) AS s4,
         CAST(SUM(m8) AS BIGINT) AS s8
  FROM per WHERE n >= 8
)
SELECT v.n_samples, e.k AS n_groups,
       v.su / e.k / 1000000.0 AS mean_best_reward
FROM el e, LATERAL (
  VALUES (CAST(1 AS INT), e.s1), (CAST(2 AS INT), e.s2),
         (CAST(4 AS INT), e.s4), (CAST(8 AS INT), e.s8)
) v(n_samples, su)
ORDER BY v.n_samples
"""
assert "list_distinct" in SQL_BEST_OF_N_CURVE  # scoring CTEs inherited


# ----------------------------------------------------------- best of N ----


def q_best_of_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rejection-sampling selection (best-of-N / Llama-2 RSFT): the
    # dpo_pairs grouping and scoring with the top-3 kept per group —
    # rnk 1 provably equals dpo_pairs' chosen candidate (shared
    # id-descending tiebreak).
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.best_of_n(docs, n=3, n_groups=64)


# Reuse the dpo_pairs base/scoring CTEs verbatim; only the ranking tail
# differs (top-n keep instead of argmax/argmin pairing).
SQL_BEST_OF_N = SQL_DPO_PAIRS.split("), ranked AS (")[0] + """), ranked AS (
  SELECT group_id, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY group_id
                            ORDER BY score DESC, doc_id DESC) AS rnk
  FROM scored
)
SELECT CAST(group_id AS INT) AS group_id, doc_id, score,
       CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 3
"""
assert "list_distinct" in SQL_BEST_OF_N  # scoring CTEs really inherited


# ------------------------------------------------------ GRPO advantage ----


def q_grpo_advantage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Group-relative advantage normalization (the public GRPO recipe):
    # per pseudo-prompt group, each candidate's reward z-scored against
    # its group's mean/std — the third RL-data product mined from the
    # SAME scored pool as dpo_pairs / best_of_n (identical groups,
    # identical rewards, consistent rankings).
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    return mixing.grpo_advantage(docs, n_groups=64)


# Inherit dpo_pairs' base/scoring CTEs verbatim; the tail converts the
# 6dp reward to exact micro-unit BIGINTs, aggregates integer sums per
# group, and derives mean/std/advantage by the same fixed op sequence as
# the Spark side (see mixing.grpo_advantage's determinism note).  The
# positivity test runs on DuckDB's exact HUGEINT sums (mirroring Spark's
# DECIMAL(38,0) — both exact, both overflow-free); the EMITTED numerator
# is the identical fixed-order double expression both engines evaluate.
SQL_GRPO_ADVANTAGE = SQL_DPO_PAIRS.split("), ranked AS (")[0] + """), u AS (
  SELECT group_id, doc_id,
         CAST(ROUND(score * 1000000.0) AS BIGINT) AS u
  FROM scored
), stats AS (
  SELECT group_id,
         SUM(u) AS su, SUM(u * u) AS sq,
         COUNT(*) AS n
  FROM u GROUP BY group_id
), stats_d AS (
  SELECT group_id, su, sq, n,
         CAST(n AS DOUBLE) * CAST(sq AS DOUBLE)
           - CAST(su AS DOUBLE) * CAST(su AS DOUBLE) AS num
  FROM stats
)
SELECT CAST(u.group_id AS INT) AS group_id, u.doc_id,
       u.u / 1000000.0 AS reward,
       (t.su * 1.0 / t.n) / 1000000.0 AS group_mean,
       SQRT(t.num / CAST(t.n * t.n AS DOUBLE)) / 1000000.0 AS group_std,
       (u.u - t.su * 1.0 / t.n)
             / SQRT(t.num / CAST(t.n * t.n AS DOUBLE)) AS advantage,
       CAST(t.n AS BIGINT) AS n_candidates
FROM u JOIN stats_d t USING (group_id)
WHERE t.n >= 2 AND t.n * t.sq > t.su * t.su AND t.num > 0
"""
assert "list_distinct" in SQL_GRPO_ADVANTAGE  # scoring CTEs really inherited


# -------------------------------------------------------------- chat lint ----


def q_chat_lint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Conversation-data validity report over a synthesized turns frame
    # with PLANTED irregularities (7-cycle role override breaks
    # alternation/first/last; 13-cycle blanks a turn) so every check
    # carries a non-vacuous count — the DQ gate before chat_assemble.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents")
    turns = docs.select(
        (F.col("doc_id") / 5).cast("bigint").alias("conv_id"),
        (F.pmod(F.col("doc_id"), 5) + 1).cast("int").alias("turn_idx"),
        F.when(F.pmod(F.col("doc_id"), 7) == 3, F.lit("user"))
        .when(F.pmod(F.col("doc_id"), 2) == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        F.when(F.pmod(F.col("doc_id"), 13) == 0, F.lit("   "))
        .otherwise(F.coalesce(F.col("text"), F.lit("")))
        .alias("text"),
    )
    return mixing.chat_lint(turns)


SQL_CHAT_LINT = r"""
WITH t AS (
  SELECT CAST(FLOOR(doc_id / 5.0) AS BIGINT) AS conv_id,
         CAST(doc_id % 5 + 1 AS INT) AS turn_idx,
         CASE WHEN doc_id % 7 = 3 THEN 'user'
              WHEN doc_id % 2 = 0 THEN 'user'
              ELSE 'assistant' END AS role,
         CASE WHEN doc_id % 13 = 0 THEN '   '
              ELSE COALESCE(text, '') END AS txt
  FROM documents
), per AS (
  SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
         list(role ORDER BY turn_idx) AS roles,
         MAX(CASE WHEN length(trim(txt)) = 0 THEN 1 ELSE 0 END)
           AS has_empty
  FROM t GROUP BY conv_id
), flags AS (
  SELECT CASE WHEN roles[1] <> 'user' THEN 1 ELSE 0 END
           AS not_user_first,
         CASE WHEN roles[-1] <> 'assistant' THEN 1 ELSE 0 END
           AS not_assistant_last,
         CASE WHEN len(list_filter(range(1, len(roles)),
                                   i -> roles[i] = roles[i + 1])) > 0
              THEN 1 ELSE 0 END AS role_repeat,
         has_empty AS empty_turn,
         CASE WHEN n_turns < 2 THEN 1 ELSE 0 END AS single_turn
  FROM per
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_conversations,
         CAST(SUM(not_user_first) AS BIGINT) AS not_user_first,
         CAST(SUM(not_assistant_last) AS BIGINT) AS not_assistant_last,
         CAST(SUM(role_repeat) AS BIGINT) AS role_repeat,
         CAST(SUM(empty_turn) AS BIGINT) AS empty_turn,
         CAST(SUM(single_turn) AS BIGINT) AS single_turn
  FROM flags
)
SELECT "check", n_fail, n_conversations,
       n_fail * 1.0 / GREATEST(n_conversations, 1) AS fail_rate
FROM (
  SELECT 'not_user_first' AS "check", not_user_first AS n_fail,
         n_conversations FROM agg
  UNION ALL SELECT 'not_assistant_last', not_assistant_last,
         n_conversations FROM agg
  UNION ALL SELECT 'role_repeat', role_repeat, n_conversations FROM agg
  UNION ALL SELECT 'empty_turn', empty_turn, n_conversations FROM agg
  UNION ALL SELECT 'single_turn', single_turn, n_conversations FROM agg
)
"""


def q_needle_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Needle-in-a-haystack long-context eval construction (the public
    # NIAH protocol): splice the fixed needle sentence into every tenth
    # document at depth fractions 0/25/50/75/100% of the token stream —
    # the (context, depth) grid a long-context eval runner probes.
    # Pure string surgery, no shuffle; the reconstruction property
    # (dropping the needle tokens restores the original) is test-pinned.
    from etl_pipeline2_0_spark.functions import mixing

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 10 == 0
    )
    return mixing.needle_insert(docs)


SQL_NEEDLE_INSERT = r"""
WITH tokd AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '[ \x09\x0A\x0D\x0B\x0C]+'),
                     x -> length(x) > 0) AS toks
  FROM documents WHERE doc_id % 10 = 0
), sized AS (
  SELECT doc_id, toks, len(toks) AS n FROM tokd WHERE len(toks) >= 8
), placed AS (
  SELECT doc_id, d.depth_pct,
         CAST((d.depth_pct * n) // 100 AS INT) AS insert_pos, n, toks
  FROM sized
  CROSS JOIN (SELECT UNNEST([0, 25, 50, 75, 100]) AS depth_pct) d
)
SELECT doc_id, CAST(depth_pct AS INT) AS depth_pct, insert_pos,
       CAST(n AS BIGINT) AS n_tokens,
       array_to_string(
         list_concat(
           list_concat(
             list_slice(toks, 1, insert_pos),
             ['The', 'special', 'magic', 'number', 'is', '4242424.']),
           list_slice(toks, insert_pos + 1, n)),
         ' ') AS text_with_needle
FROM placed
"""
