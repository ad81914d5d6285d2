"""Dedup plans: exact/minhash/simhash/winnow/CDC/substring dedup, decontamination, and their measured quality/sizing rows.

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


# ------------------------------------------------------------- exact dedup -


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs).select("doc_id", "content_hash")


SQL_DEDUP_EXACT = (
    "SELECT MIN(doc_id) AS doc_id, md5(text) AS content_hash "
    "FROM documents GROUP BY md5(text)"
)


def q_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Prefix-keyed grouping so the synthetic corpus (no exact dups) still
    # produces non-trivial duplicate groups.
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 20).alias("text")
    )
    return dedup.duplicate_groups(docs)


SQL_DUP_GROUPS = """
SELECT md5(SUBSTRING(text, 1, 20)) AS content_hash, COUNT(*) AS dup_count,
       MIN(doc_id) AS keeper_id
FROM documents GROUP BY md5(SUBSTRING(text, 1, 20)) HAVING COUNT(*) > 1
"""


# ----------------------------------------------------------- n-gram dedup -


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    return dedup.jaccard_pairs(docs, k=3, threshold=0.01).select(
        "id_a", "id_b", "jaccard"
    )


SQL_NGRAM_JACCARD = r"""
WITH docs AS (
  SELECT doc_id AS id, lower(text) AS t FROM documents WHERE doc_id % 10 = 0
), toks AS (
  SELECT id, list_filter(regexp_split_to_array(t, '\W+'), x -> length(x) > 0) AS toks
  FROM docs
), tok_rows AS (
  SELECT id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord FROM toks
), sh0 AS (
  SELECT id, tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w AS shingle
  FROM tok_rows WINDOW w AS (PARTITION BY id ORDER BY ord)
), sh AS (
  SELECT DISTINCT id, shingle FROM sh0 WHERE shingle IS NOT NULL
), sizes AS (
  SELECT id, COUNT(*) AS n FROM sh GROUP BY id
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       ROUND(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.01
"""


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # xxhash64-based — no DuckDB twin; pytest pins recall vs exact Jaccard.
    # Full corpus (no subset): 8 bands × 2 rows ≈ 90% recall at J=0.5
    # (empirically 100% on this corpus — near-dups are all high-J) while the
    # J≈0.01 noise floor collides at ~8e-4, so candidates stay ~linear.
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_near_duplicates(
        docs, k=3, num_hashes=16, bands=8, threshold=0.5
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pandas-UDF SimHash — no DuckDB twin.  max_hamming=3 (the family
    # default and the portable twin's setting): the earlier radius-20
    # geometry violated the pigeonhole exactness precondition
    # (max_hamming < blocks) that hamming_pairs now enforces.
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    return dedup.simhash_near_duplicates(docs, max_hamming=3, blocks=4)


# Signature CTE shared by the LSH twins: sig[p] = sign bit of the dot
# product against plane p, coeff(p, i) exactly as similarity._rp_plane_coeffs
# computes it driver-side (same md5, same 60-bit hex prefix, same IEEE
# double ops; list_reduce is the same left fold as Spark's F.aggregate).
_SQL_SIG_CTE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sig AS (
  SELECT vec_id, v,
    list_transform(range(16), p ->
      CASE WHEN list_reduce(
        list_transform(v, (x, i) ->
          x * ((CAST('0x' || substr(md5(CAST(p AS VARCHAR) || ':' ||
                 CAST(i - 1 AS VARCHAR)), 1, 15) AS BIGINT) % 2000003)
               / 1000001.5 - 1)),
        (a, b) -> a + b) >= 0
      THEN 1 ELSE 0 END) AS sig
  FROM e
),
q AS (SELECT vec_id AS query_id, v AS qv, sig AS qsig FROM sig WHERE vec_id < 8),
lsh_scored AS (
  SELECT query_id, c.vec_id AS neighbor_id,
    ROUND(list_inner_product(qv, c.v) /
      (SQRT(list_inner_product(qv, qv)) * SQRT(list_inner_product(c.v, c.v))), 6)
      AS cosine_sim
  FROM sig c CROSS JOIN q
  WHERE c.vec_id <> query_id
    AND length(list_filter(range(16), p -> qsig[p + 1] = c.sig[p + 1])) >= 10
),
lsh_topk AS (
  SELECT query_id, neighbor_id, cosine_sim,
    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         ORDER BY cosine_sim DESC, neighbor_id) AS INT) AS rnk
  FROM lsh_scored QUALIFY rnk <= 5
)
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", text.fingerprint_md5(F.col("text")).alias("fingerprint")
    )


SQL_FINGERPRINT = "SELECT doc_id, md5(text) AS fingerprint FROM documents"


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rolling-hash (winnowing, SIGMOD'03) copy detection with the portable
    # md5-prefix gram hash, so the ENTIRE pipeline — gram hashing, sliding
    # window min, doc-frequency skew guard, pair join — replays exactly in
    # DuckDB SQL (window functions over unnested grams).
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    return dedup.winnow_overlap_pairs(
        docs, k=8, window=4, min_shared=5, max_doc_freq=10, portable_hash=True
    )


SQL_WINNOW_OVERLAP = """
WITH d AS (
  SELECT doc_id AS id, text FROM documents
  WHERE doc_id % 10 = 0 AND LENGTH(text) >= 8
), grams AS (
  SELECT id, i - 1 AS pos, substring(md5(substring(text, i, 8)), 1, 16) AS h
  FROM d, UNNEST(generate_series(1, GREATEST(LENGTH(text) - 7, 1))) AS t(i)
), wins AS (
  SELECT id, pos,
         MIN(h) OVER (PARTITION BY id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         COUNT(*) OVER (PARTITION BY id) AS n_grams
  FROM grams
), fps AS (
  SELECT DISTINCT id, fp FROM wins WHERE pos <= GREATEST(n_grams - 4, 0)
), filt AS (
  SELECT id, fp FROM (
    SELECT id, fp, COUNT(*) OVER (PARTITION BY fp) AS df FROM fps
  ) WHERE df <= 10
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS shared_fingerprints
FROM filt a JOIN filt b ON a.fp = b.fp AND a.id < b.id
GROUP BY a.id, b.id
HAVING COUNT(*) >= 5
"""


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Benchmark decontamination: every 97th doc plays the eval set; its
    # 3-token shingle containment against the rest of the corpus flags
    # leaked eval content.  Containment (not Jaccard) because a short eval
    # doc embedded in one long training doc is exactly the leak hunted.
    docs = load_table(spark, sf_dir, "documents")
    eval_set = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    return dedup.contamination_check(corpus, eval_set, k=3)


SQL_CONTAMINATION_CHECK = r"""
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> length(x) > 0) AS toks
  FROM documents
), tok_rows AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord
  FROM tok
), sh3 AS (
  SELECT doc_id,
         tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w AS shingle
  FROM tok_rows WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
), sh AS (
  SELECT DISTINCT doc_id, shingle FROM sh3 WHERE shingle IS NOT NULL
), corpus_sh AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 <> 0
), eval_sh AS (
  SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 97 = 0
)
SELECT eval_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN c.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       ROUND(SUM(CASE WHEN c.shingle IS NOT NULL THEN 1 ELSE 0 END)
               / CAST(COUNT(*) AS DOUBLE), 6) AS containment
FROM eval_sh e LEFT JOIN corpus_sh c USING (shingle)
GROUP BY eval_id
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental dedup: the %5==0 slice plays the NEW crawl batch, the rest
    # the existing corpus.  The generator's dup pairs are uniform over
    # doc_id, so ~2/5 of them straddle this split — non-vacuous at every SF.
    docs = load_table(spark, sf_dir, "documents")
    new_batch = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    return dedup.jaccard_pairs_incremental(new_batch, corpus, k=3, threshold=0.3)


SQL_DEDUP_INCREMENTAL = r"""
WITH docs AS (
  SELECT doc_id AS id, doc_id % 5 = 0 AS is_new, lower(text) AS t FROM documents
), toks AS (
  SELECT id, is_new,
         list_filter(regexp_split_to_array(t, '\W+'), x -> length(x) > 0) AS toks
  FROM docs
), tok_rows AS (
  SELECT id, is_new, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord
  FROM toks
), sh0 AS (
  SELECT id, is_new,
         tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w AS shingle
  FROM tok_rows WINDOW w AS (PARTITION BY id ORDER BY ord)
), sh AS (
  SELECT DISTINCT id, is_new, shingle FROM sh0 WHERE shingle IS NOT NULL
), sizes AS (
  SELECT id, COUNT(*) AS n FROM sh GROUP BY id
), inter AS (
  SELECT n.id AS new_id, c.id AS corpus_id, COUNT(*) AS n_common
  FROM sh n JOIN sh c ON n.shingle = c.shingle
  WHERE n.is_new AND NOT c.is_new
  GROUP BY n.id, c.id
)
SELECT new_id, corpus_id,
       ROUND(n_common * 1.0 / (sn.n + sc.n - n_common), 6) AS jaccard
FROM inter JOIN sizes sn ON new_id = sn.id JOIN sizes sc ON corpus_id = sc.id
WHERE n_common * 1.0 / (sn.n + sc.n - n_common) >= 0.3
"""


# ------------------------------------------------- dedup clustering / tfidf -


def q_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Near-duplicate PAIRS → duplicate CLUSTERS: connected components over
    # the n-gram Jaccard graph (iterative min-label propagation; the DuckDB
    # twin computes the same fixpoint with a recursive CTE).
    # Subset is doc_id % 3 == 2: the generator's dup pairs are uniform over
    # doc_id, so a 1/3 subset keeps both endpoints of ~1/9 of pairs — 3-4
    # pairs at sf<=0.01, 26 at sf0.1 (the old %10 subset kept ZERO pairs
    # at driver scale, making the fixpoint check vacuous).
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 2)
    pairs = dedup.jaccard_pairs(docs, k=3, threshold=0.3)
    return dedup.connected_components(pairs)


SQL_DUP_COMPONENTS = r"""
WITH RECURSIVE docs AS (
  SELECT doc_id AS id, lower(text) AS t FROM documents WHERE doc_id % 3 = 2
), toks AS (
  SELECT id, list_filter(regexp_split_to_array(t, '\W+'), x -> length(x) > 0) AS toks
  FROM docs
), tok_rows AS (
  SELECT id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord FROM toks
), sh0 AS (
  SELECT id, tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w AS shingle
  FROM tok_rows WINDOW w AS (PARTITION BY id ORDER BY ord)
), sh AS (
  SELECT DISTINCT id, shingle FROM sh0 WHERE shingle IS NOT NULL
), sizes AS (
  SELECT id, COUNT(*) AS n FROM sh GROUP BY id
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
), pairs AS (
  SELECT id_a, id_b
  FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
  WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.3
), und AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach(node, label) AS (
  SELECT DISTINCT src, src FROM und
  UNION
  SELECT u.src, r.label FROM reach r JOIN und u ON u.dst = r.node
)
SELECT node, CAST(MIN(label) AS BIGINT) AS component
FROM reach GROUP BY node
"""


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The near-dup pipeline's END PRODUCT: the post-dedup corpus — every
    # doc except non-representative members of near-duplicate clusters
    # (keep the min-id doc per component).  pairs → components → anti-join.
    # %3==2 subset (not %10): keeps dup-pair endpoints so the anti-join
    # actually drops rows at driver scale — see q_dup_components.
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 2)
    pairs = dedup.jaccard_pairs(docs, k=3, threshold=0.3)
    comp = dedup.connected_components(pairs)
    drop = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(drop, "doc_id", "left_anti").select("doc_id")


SQL_DEDUP_CANONICAL = r"""
WITH RECURSIVE docs AS (
  SELECT doc_id AS id, lower(text) AS t FROM documents WHERE doc_id % 3 = 2
), toks AS (
  SELECT id, list_filter(regexp_split_to_array(t, '\W+'), x -> length(x) > 0) AS toks
  FROM docs
), tok_rows AS (
  SELECT id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord FROM toks
), sh0 AS (
  SELECT id, tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w AS shingle
  FROM tok_rows WINDOW w AS (PARTITION BY id ORDER BY ord)
), sh AS (
  SELECT DISTINCT id, shingle FROM sh0 WHERE shingle IS NOT NULL
), sizes AS (
  SELECT id, COUNT(*) AS n FROM sh GROUP BY id
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
), pairs AS (
  SELECT id_a, id_b
  FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
  WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.3
), und AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach(node, label) AS (
  SELECT DISTINCT src, src FROM und
  UNION
  SELECT u.src, r.label FROM reach r JOIN und u ON u.dst = r.node
), comp AS (
  SELECT node, MIN(label) AS component FROM reach GROUP BY node
)
SELECT d.id AS doc_id FROM docs d
WHERE d.id NOT IN (SELECT node FROM comp WHERE node <> component)
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Quality-aware canonicalization: same pairs→components machinery as
    # dedup_canonical, but the keeper is the LONGEST cluster member (token
    # count, id tiebreak) — the curation-grade "keep the best copy" rule
    # rather than the arbitrary min-id.
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 2)
    return dedup.dedup_keep_best(
        docs.select("doc_id", "text"), k=3, threshold=0.3
    ).select(
        "doc_id",
        F.col("component").cast("bigint").alias("component"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "keep",
    )


SQL_DEDUP_KEEP_BEST = r"""
WITH RECURSIVE docs AS (
  SELECT doc_id AS id, lower(text) AS t, text AS raw FROM documents
  WHERE doc_id % 3 = 2
), toks AS (
  SELECT id, list_filter(regexp_split_to_array(t, '\W+'), x -> length(x) > 0) AS toks
  FROM docs
), tok_rows AS (
  SELECT id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord FROM toks
), sh0 AS (
  SELECT id, tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w AS shingle
  FROM tok_rows WINDOW w AS (PARTITION BY id ORDER BY ord)
), sh AS (
  SELECT DISTINCT id, shingle FROM sh0 WHERE shingle IS NOT NULL
), sizes AS (
  SELECT id, COUNT(*) AS n FROM sh GROUP BY id
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
), pairs AS (
  SELECT id_a, id_b
  FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
  WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.3
), und AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach(node, label) AS (
  SELECT DISTINCT src, src FROM und
  UNION
  SELECT u.src, r.label FROM reach r JOIN und u ON u.dst = r.node
), comp AS (
  SELECT node, MIN(label) AS component FROM reach GROUP BY node
), wc AS (
  SELECT id, len(list_filter(regexp_split_to_array(raw, '[ \x09\x0A\x0D\x0B\x0C]+'),
                             x -> length(x) > 0)) AS n_tokens
  FROM docs
), allc AS (
  SELECT d.id, COALESCE(c.component, d.id) AS component
  FROM docs d LEFT JOIN comp c ON d.id = c.node
), ranked AS (
  SELECT f.id, f.component, w.n_tokens,
         ROW_NUMBER() OVER (PARTITION BY f.component
                            ORDER BY w.n_tokens DESC, f.id) AS rn
  FROM allc f JOIN wc w ON f.id = w.id
)
SELECT id AS doc_id, CAST(component AS BIGINT) AS component,
       CAST(n_tokens AS INT) AS n_tokens, rn = 1 AS keep
FROM ranked
"""


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus-level repeated-span removal (C4/RefinedWeb boilerplate op):
    # 3-word spans occurring in > 5 distinct docs are dropped from every
    # document; survivors reassembled in order.  See functions/dedup.py
    # dedup_spans for the scale design (no word-level shuffle; two
    # span-text-keyed shuffles total).
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_spans(
        docs.select("doc_id", "text"), k_words=3, max_doc_freq=5
    )


SQL_DEDUP_SPANS = r"""
WITH parts AS (
  SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS w FROM documents
), spans AS (
  SELECT doc_id, seq.s AS span_id,
         array_to_string(w[(seq.s*3+1):(seq.s*3+3)], ' ') AS span_text
  FROM parts,
       unnest(range(0, greatest(CAST(ceil(len(w) / 3.0) AS BIGINT), 1))) AS seq(s)
), freq AS (
  SELECT span_text, COUNT(DISTINCT doc_id) AS df FROM spans GROUP BY span_text
), flagged AS (
  SELECT spans.doc_id, spans.span_id, spans.span_text, freq.df
  FROM spans JOIN freq USING (span_text)
)
SELECT doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN df > 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       COALESCE(
         string_agg(CASE WHEN df <= 5 THEN span_text END, ' ' ORDER BY span_id),
         ''
       ) AS kept_text
FROM flagged
GROUP BY doc_id
"""


def q_dedup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact-substring dedup (Lee et al. 2022): erase every token covered
    # by an 8-token run that also appears verbatim in another document —
    # all copies scrubbed, token-granular, df >= 2.  The distributed
    # k-gram formulation of the paper's suffix-array scan; see
    # functions/dedup.py dedup_substrings for the scale design.
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_substrings(docs.select("doc_id", "text"), k=8)


def _sql_dedup_substrings(k: int = 8) -> str:
    # Generated so ``k`` is single-sourced with the registry call.
    return f"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(COALESCE(text, ''),
                     '[ \\x09\\x0A\\x0D\\x0B\\x0C]+'),
                     x -> length(x) > 0) AS toks
  FROM documents
), grams AS (
  SELECT doc_id, s,
         array_to_string(toks[s : s + {k} - 1], ' ') AS gram
  FROM (SELECT doc_id, toks,
               unnest(range(1, len(toks) - {k} + 2)) AS s
        FROM base WHERE len(toks) >= {k})
), dup AS (
  SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
), covered AS (
  SELECT DISTINCT doc_id, s + i AS pos
  FROM (SELECT doc_id, s, unnest(range(0, {k})) AS i
        FROM grams JOIN dup USING (gram))
), tok_rows AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
  FROM base
), kept AS (
  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         string_agg(t.tok, ' ' ORDER BY t.pos) AS kept_text
  FROM tok_rows t ANTI JOIN covered c
    ON t.doc_id = c.doc_id AND t.pos = c.pos
  GROUP BY t.doc_id
)
SELECT b.doc_id,
       CAST(len(b.toks) AS BIGINT) AS n_tokens,
       CAST(len(b.toks) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(k.kept_text, '') AS kept_text
FROM base b LEFT JOIN kept k USING (doc_id)
"""


SQL_DEDUP_SUBSTRINGS = _sql_dedup_substrings()


def q_dedup_spans_intra(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Within-document repeated-span trimming (template/nav-block removal):
    # keep the first occurrence of each 2-word span per doc.  Doc-keyed
    # shuffles only — see functions/dedup.py dedup_spans_intra.
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_spans_intra(docs.select("doc_id", "text"), k_words=2)


SQL_DEDUP_SPANS_INTRA = r"""
WITH parts AS (
  SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS w FROM documents
), spans AS (
  SELECT doc_id, seq.s AS span_id,
         array_to_string(w[(seq.s*2+1):(seq.s*2+2)], ' ') AS span_text
  FROM parts,
       unnest(range(0, greatest(CAST(ceil(len(w) / 2.0) AS BIGINT), 1))) AS seq(s)
), first AS (
  SELECT doc_id, span_text, MIN(span_id) AS first_id, COUNT(*) AS n_occ
  FROM spans GROUP BY doc_id, span_text
)
SELECT doc_id,
       CAST(SUM(n_occ) AS BIGINT) AS n_spans,
       COUNT(*) AS n_unique,
       COALESCE(string_agg(span_text, ' ' ORDER BY first_id), '') AS dedup_text
FROM first
GROUP BY doc_id
"""


# ---------------------------------------------- dedup-rate observability -


def q_dedup_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Curation observability: per-source exact-duplication rate over a
    # 20-char prefix key (the synthetic corpus has no full-text dups, same
    # device as q_dup_groups).  One (source, key) aggregate with map-side
    # combine, then a #sources-row rollup — no join, no window.
    docs = load_table(spark, sf_dir, "documents")
    per_key = (
        docs.select("source", F.md5(F.substring("text", 1, 20)).alias("k"))
        .groupBy("source", "k")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return per_key.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_unique"),
        F.round(
            (F.sum("c") - F.count(F.lit(1))).cast("double") / F.sum("c"), 6
        ).alias("dup_rate"),
    )


SQL_DEDUP_RATE_REPORT = """
WITH per_key AS (
  SELECT source, md5(SUBSTRING(text, 1, 20)) AS k, COUNT(*) AS c
  FROM documents GROUP BY 1, 2
)
SELECT source,
  CAST(SUM(c) AS BIGINT) AS n_docs,
  CAST(COUNT(*) AS BIGINT) AS n_unique,
  ROUND((SUM(c) - COUNT(*)) * 1.0 / SUM(c), 6) AS dup_rate
FROM per_key GROUP BY source
"""


def q_minhash_pairs_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The portable-hash MinHash pipeline: identical plan shape to
    # minhash_pairs (banded equi-join, semi-join-pruned verify) but with
    # the md5-hex15 hash family, so the WHOLE shingle->minhash->band->
    # verify pipeline carries an exact DuckDB twin — the rows-only
    # minhash_pairs keeps the fast xxhash64 family; this query proves the
    # pipeline's logic end-to-end against ANSI SQL.
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_near_duplicates(
        docs, k=3, num_hashes=16, bands=8, threshold=0.5, portable=True
    )


def _sql_minhash_portable(
    num_hashes: int = 16, bands: int = 8, threshold: float = 0.5,
    max_bucket: int = 1000,
) -> str:
    # Generated so the per-permutation md5 literals and band slicing match
    # the Spark op exactly for any geometry.
    r = num_hashes // bands
    mins = ",\n         ".join(
        f"MIN(CAST('0x' || substring(md5('{j}:' || b), 1, 15) AS BIGINT)) AS s{j}"
        for j in range(num_hashes)
    )
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT id, {bi} AS band, md5("
        + " || ',' || ".join(f"CAST(s{bi * r + o} AS VARCHAR)" for o in range(r))
        + ") AS bucket FROM sig"
        for bi in range(bands)
    )
    return rf"""
WITH docs AS (
  SELECT doc_id AS id, lower(text) AS t FROM documents
), toks AS (
  SELECT id, list_filter(regexp_split_to_array(t, '\W+'), x -> length(x) > 0) AS toks
  FROM docs
), tok_rows AS (
  SELECT id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord FROM toks
), sh0 AS (
  SELECT id, tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w AS shingle
  FROM tok_rows WINDOW w AS (PARTITION BY id ORDER BY ord)
), sh AS (
  SELECT DISTINCT id, shingle FROM sh0 WHERE shingle IS NOT NULL
), base AS (
  SELECT id, substring(md5(shingle), 1, 15) AS b FROM sh
), sig AS (
  SELECT id,
         {mins}
  FROM base GROUP BY id
), banded0 AS (
{band_selects}
), banded AS (
  SELECT id, band, bucket FROM (
    SELECT id, band, bucket,
           COUNT(*) OVER (PARTITION BY band, bucket) AS bn
    FROM banded0
  ) WHERE bn <= {max_bucket}
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
), sizes AS (
  SELECT id, COUNT(*) AS n FROM sh GROUP BY id
), inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh a ON a.id = c.id_a
  JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
), scored AS (
  SELECT id_a, id_b,
         ROUND(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
  FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
)
SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= {threshold}
"""


SQL_MINHASH_PAIRS_PORTABLE = _sql_minhash_portable()


def _recall_table(
    probe: DataFrame, member: DataFrame, n_probe_col: str,
    n_hit_col: str, rate_col: str,
) -> DataFrame:
    """Shared single-pass membership summary for the recall/precision
    metric family (r17 optimization, guide §2.4): ONE left join of the
    probe pair set against the DISTINCT member pair set replaces the
    previous ``probe.crossJoin(broadcast(probe.join(member, "semi").agg(...)))``
    shape, whose two consumers of ``probe`` re-executed the whole exact
    all-pairs truth subtree twice per action (no exchange reuse across
    the semi and the cross).  Values are unchanged, including the
    empty-probe edge: ``sum(when(...))`` over zero rows is NULL exactly
    like the old ``max(n_found)`` over an empty cross — matching the
    oracle's ``SUM(CASE ...) FROM truth``.
    """
    hit = F.sum(F.when(F.col("_hit").isNotNull(), 1).otherwise(0))
    return (
        probe.join(
            F.broadcast(member.distinct().withColumn("_hit", F.lit(1))),
            ["id_a", "id_b"],
            "left",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias(n_probe_col),
            hit.cast("bigint").alias(n_hit_col),
            F.round(
                hit / F.greatest(F.count(F.lit(1)), F.lit(1)), 6
            ).alias(rate_col),
        )
    )


def q_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Dedup-quality metric: recall of the (portable-hash) MinHash-LSH
    # pipeline against the exact n-gram-Jaccard ground truth at the same
    # threshold — the ann_recall pattern applied to the dedup family, and
    # fully oracled because both sides are.  Subset keeps the exact
    # all-pairs ground truth affordable at any SF; band geometry
    # (16 hashes x 8 bands of 2) puts expected recall >= 0.9 at J = 0.5.
    # Subset %2 (not the usual %10): the planted near-dup pairs land on
    # random id pairs, and %2 is the sparsest subset that still catches
    # true pairs at EVERY SF incl. the driver's sf0.01 (6 there) — %10
    # leaves sf0.01 with zero true pairs and a vacuous metric.
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 2 == 0)
    truth = dedup.jaccard_pairs(docs, k=3, threshold=0.5).select("id_a", "id_b")
    found = dedup.minhash_near_duplicates(
        docs, k=3, num_hashes=16, bands=8, threshold=0.5, portable=True
    ).select("id_a", "id_b")
    return _recall_table(truth, found, "n_true_pairs", "n_recalled", "recall")


SQL_MINHASH_RECALL = (
    _sql_minhash_portable()
    .replace("FROM documents\n", "FROM documents WHERE doc_id % 2 = 0\n", 1)
    .rstrip()
    .replace(
        ")\nSELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.5",
        """), found AS (
  SELECT id_a, id_b FROM scored WHERE jaccard >= 0.5
), truth AS (
  SELECT id_a, id_b FROM scored_truth WHERE jaccard_true >= 0.5
), agg AS (
  SELECT COUNT(*) AS n_true_pairs,
         SUM(CASE WHEN EXISTS (SELECT 1 FROM found f
                               WHERE f.id_a = truth.id_a
                                 AND f.id_b = truth.id_b)
                  THEN 1 ELSE 0 END) AS n_recalled
  FROM truth
)
SELECT CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
       CAST(n_recalled AS BIGINT) AS n_recalled,
       ROUND(n_recalled * 1.0 / GREATEST(n_true_pairs, 1), 6) AS recall
FROM agg""",
    )
    .replace(
        "), cand AS (",
        """), truth_inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
), scored_truth AS (
  SELECT id_a, id_b,
         ROUND(n_common * 1.0 / (sa2.n + sb2.n - n_common), 6) AS jaccard_true
  FROM truth_inter
  JOIN (SELECT id, COUNT(*) AS n FROM sh GROUP BY id) sa2 ON id_a = sa2.id
  JOIN (SELECT id, COUNT(*) AS n FROM sh GROUP BY id) sb2 ON id_b = sb2.id
), cand AS (""",
    )
)


def q_dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Dup-cluster observability: the size distribution of near-duplicate
    # clusters (how much of the corpus is pairwise dups vs big template
    # families — the number that decides dedup strategy at scale).
    comps = q_dup_components(spark, sf_dir)
    sizes = comps.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            "n_clusters",
        )
    )


SQL_DUP_CLUSTER_STATS = f"""
WITH comp AS ({SQL_DUP_COMPONENTS}),
sizes AS (
  SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size, COUNT(*) AS n_clusters
FROM sizes GROUP BY cluster_size
"""


def q_simhash_pairs_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SimHash near-dup under the md5-portable native-expression hasher:
    # same pigeonhole chunk equi-join as simhash_pairs, but the WHOLE
    # pipeline (hash, ±1 votes, signature, banding, Hamming verify) is
    # ANSI-expressible — graduating the SimHash family to a full oracle
    # (the xxhash64+numpy simhash_pairs stays the fast path).
    # max_hamming=3 with blocks=4 satisfies the pigeonhole EXACTNESS
    # precondition (max_hamming < blocks, dedup.hamming_pairs) — the r8
    # advisor caught that the earlier max_hamming=8 setting silently
    # missed pairs at distance 4-8 whose differing bits straddled all
    # four chunks.  3 is also the family default (simhash_near_duplicates
    # and the Manku et al. 64-bit setting), so fast path and portable
    # oracle now share the same distance semantics.
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.simhash60_portable(docs)
    return dedup.hamming_pairs(
        sigs, id_col="id", sig_col="simhash", max_hamming=3, blocks=4
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def _sql_simhash_portable(max_hamming: int = 8, blocks: int = 4) -> str:
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(60)
    )
    assemble = "\n           + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(60)
    )
    bits_per = 64 // blocks
    mask = (1 << bits_per) - 1
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT id, {c} AS chunk_idx,"
        f" (simhash >> {c * bits_per}) & {mask} AS chunk_val FROM sig"
        for c in range(blocks)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id AS id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                            x -> length(x) > 0)) AS tok
  FROM documents
), hashes AS (
  SELECT id, CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT) AS h FROM toks
), votes AS (
  SELECT id,
         {votes}
  FROM hashes GROUP BY id
), sig AS (
  SELECT id,
         CAST({assemble}
           AS BIGINT) AS simhash
  FROM votes
), banded AS (
{band_selects}
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a
  JOIN banded b
    ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val AND a.id < b.id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
FROM cand JOIN sig sa ON id_a = sa.id JOIN sig sb ON id_b = sb.id
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {max_hamming}
"""


SQL_SIMHASH_PAIRS_PORTABLE = _sql_simhash_portable(max_hamming=3, blocks=4)


def q_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Decontamination at sketch scale: the eval set (every 97th doc, the
    # contamination_check convention) ships as a ≤4096-row Bloom-bit
    # relation instead of its shingle set; each training doc reports its
    # shingle count, the bloom-flagged count, and the EXACT contaminated
    # count side by side — the false-positive overhead is the visible
    # difference, and false negatives are structurally impossible.
    from etl_pipeline2_0_spark.functions import sketches

    docs = load_table(spark, sf_dir, "documents")
    eval_set = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    # Both shingle frames feed two consumers each (eval: bloom bits + the
    # exact side; corpus: the candidate set + the per-doc rollup) — lazy
    # barriers materialize each tokenizer pass once (the jaccard_pairs
    # discipline; measured ~2× on this query at sf0.1).
    eval_sh = (
        eval_set.select(
            F.explode(dedup.token_shingles(F.col("text"), 3)).alias("item")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    pairs = corpus.select(
        "doc_id", F.explode(dedup.token_shingles(F.col("text"), 3)).alias("item")
    ).localCheckpoint(eager=False)
    bloom = sketches.bloom_build(eval_sh, num_hashes=4, num_bits=4096)
    verdicts = sketches.bloom_probe(
        pairs.select("item").distinct(), bloom, num_hashes=4, num_bits=4096
    )
    exact = eval_sh.withColumn("_in_eval", F.lit(1))
    return (
        pairs.join(verdicts, "item")
        .join(exact.select("item", "_in_eval"), "item", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("maybe_present"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_bloom_flagged"),
            F.sum(F.coalesce(F.col("_in_eval"), F.lit(0)))
            .cast("bigint")
            .alias("n_exact_contaminated"),
        )
    )


SQL_BLOOM_CONTAMINATION = r"""
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
), pairs AS (
  SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0
), rows_ AS (
  SELECT unnest([0, 1, 2, 3]) AS row
), bloom AS (
  SELECT DISTINCT
         CAST('0x' || substring(md5(CAST(row AS VARCHAR) || ':' || shingle),
                                1, 15) AS BIGINT) % 4096 AS bit
  FROM eval_sh CROSS JOIN rows_
), cand AS (
  SELECT DISTINCT shingle FROM pairs
), probes AS (
  SELECT shingle, row,
         CAST('0x' || substring(md5(CAST(row AS VARCHAR) || ':' || shingle),
                                1, 15) AS BIGINT) % 4096 AS bit
  FROM cand CROSS JOIN rows_
), verdicts AS (
  SELECT c.shingle,
         COALESCE(h.n_set, 0) = 4 AS maybe_present
  FROM cand c LEFT JOIN (
    SELECT shingle, COUNT(*) AS n_set
    FROM probes JOIN bloom USING (bit)
    GROUP BY shingle
  ) h ON c.shingle = h.shingle
)
SELECT p.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN v.maybe_present THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bloom_flagged,
       CAST(SUM(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact_contaminated
FROM pairs p
JOIN verdicts v ON p.shingle = v.shingle
LEFT JOIN eval_sh e ON p.shingle = e.shingle
GROUP BY p.doc_id
"""


# ------------------------------------------------ line-level exact dedup -


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MassiveText/RefinedWeb exact line dedup: boilerplate lines (shared
    # across >1 distinct docs) removed from every doc, order-preserving
    # reassembly.  The synthetic corpus has no cross-doc duplicate lines
    # (verified), so this row proves the split→count→anti-join→rebuild
    # plan parity end-to-end; the drop path is pinned by the planted
    # boilerplate fixtures in tests/test_functions.py.
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_lines(docs)


SQL_DEDUP_LINES = r"""
WITH ls AS (
  SELECT doc_id, string_split(text, chr(10)) AS arr FROM documents
), lines AS (
  SELECT doc_id, unnest(arr) AS line, generate_subscripts(arr, 1) AS pos
  FROM ls
), hot AS (
  SELECT line FROM lines WHERE length(trim(line)) >= 10
  GROUP BY line HAVING COUNT(DISTINCT doc_id) > 1
), kept AS (
  SELECT doc_id, pos, line FROM lines
  WHERE line NOT IN (SELECT line FROM hot)
), tot AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM lines GROUP BY 1
), reb AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS text
  FROM kept GROUP BY 1
)
SELECT t.doc_id, t.n_lines,
       CAST(t.n_lines - COALESCE(r.n_kept, 0) AS BIGINT) AS n_dropped,
       COALESCE(r.text, '') AS text
FROM tot t LEFT JOIN reb r USING (doc_id)
"""


# ------------------------------------------- edit-distance near-dup ------


def q_edit_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PassJoin edit-distance self-join (Li et al. 2011) over 24-char doc
    # prefixes: all pairs within Levenshtein distance 2, candidates from
    # the chunk/substring equi-join, exact-verified.
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 24).alias("text")
    )
    return dedup.edit_distance_pairs(docs, max_dist=2)


SQL_EDIT_NEARDUP = r"""
WITH s AS MATERIALIZED (
  SELECT doc_id, substring(text, 1, 24) AS s,
         length(substring(text, 1, 24)) AS L
  FROM documents
  WHERE length(substring(text, 1, 24)) >= 3
), chunks AS (
  SELECT doc_id AS id_a, i, L AS grid_len,
         substring(s, CAST(floor((i - 1) * L / 3) AS INT) + 1,
                   CAST(floor(i * L / 3) AS INT)
                   - CAST(floor((i - 1) * L / 3) AS INT)) AS piece
  FROM s CROSS JOIN (SELECT unnest(range(1, 4)) AS i)
), subs AS (
  SELECT doc_id AS id_b, i, lp AS grid_len,
         substring(s, q, CAST(floor(i * lp / 3) AS INT)
                          - CAST(floor((i - 1) * lp / 3) AS INT)) AS piece
  FROM s
  CROSS JOIN (SELECT unnest(range(1, 4)) AS i)
  CROSS JOIN (SELECT unnest(range(-2, 3)) AS dl)
  CROSS JOIN (SELECT unnest(range(-2, 3)) AS dq)
  , LATERAL (SELECT L + dl AS lp) t1
  , LATERAL (SELECT CAST(floor((i - 1) * lp / 3) AS INT) + 1 + dq AS q) t2
  WHERE lp >= 3
    AND q >= 1
    AND CAST(floor(i * lp / 3) AS INT)
        - CAST(floor((i - 1) * lp / 3) AS INT) >= 1
    AND q + (CAST(floor(i * lp / 3) AS INT)
             - CAST(floor((i - 1) * lp / 3) AS INT)) - 1 <= L
), cand AS (
  SELECT DISTINCT LEAST(c.id_a, u.id_b) AS id_a,
                  GREATEST(c.id_a, u.id_b) AS id_b
  FROM chunks c JOIN subs u
    ON c.i = u.i AND c.grid_len = u.grid_len AND c.piece = u.piece
  WHERE c.id_a <> u.id_b
)
SELECT cand.id_a, cand.id_b,
       CAST(levenshtein(a.s, b.s) AS INT) AS dist
FROM cand
JOIN s a ON a.doc_id = cand.id_a
JOIN s b ON b.doc_id = cand.id_b
WHERE abs(a.L - b.L) <= 2 AND levenshtein(a.s, b.s) <= 2
"""


def q_minhash_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The complement of minhash_recall: what fraction of the LSH
    # pipeline's reported pairs are TRUE near-dups (exact Jaccard >= t).
    # Because the pipeline exact-verifies every candidate, precision is
    # 1.0 BY CONTRACT — this row is the external trip-wire that flips
    # the moment a future change ships estimate-only pairs (the failure
    # mode that silently deletes non-duplicates at 100 TB).  The
    # variance-bearing companion is minhash_band_efficiency (candidate
    # selectivity).  Same subset, geometry, and portable hashes as the
    # recall metric, so the numbers are directly comparable.
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 2 == 0
    )
    truth = dedup.jaccard_pairs(docs, k=3, threshold=0.5).select(
        "id_a", "id_b"
    )
    found = dedup.minhash_near_duplicates(
        docs, k=3, num_hashes=16, bands=8, threshold=0.5, portable=True
    ).select("id_a", "id_b")
    return _recall_table(found, truth, "n_found", "n_correct", "precision")


# Same CTE chain as the recall twin; only the outer aggregate flips
# (count over FOUND, membership probe against TRUTH).
SQL_MINHASH_PRECISION = SQL_MINHASH_RECALL.replace(
    """), agg AS (
  SELECT COUNT(*) AS n_true_pairs,
         SUM(CASE WHEN EXISTS (SELECT 1 FROM found f
                               WHERE f.id_a = truth.id_a
                                 AND f.id_b = truth.id_b)
                  THEN 1 ELSE 0 END) AS n_recalled
  FROM truth
)
SELECT CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
       CAST(n_recalled AS BIGINT) AS n_recalled,
       ROUND(n_recalled * 1.0 / GREATEST(n_true_pairs, 1), 6) AS recall
FROM agg""",
    """), agg AS (
  SELECT COUNT(*) AS n_found,
         SUM(CASE WHEN EXISTS (SELECT 1 FROM truth t
                               WHERE t.id_a = found.id_a
                                 AND t.id_b = found.id_b)
                  THEN 1 ELSE 0 END) AS n_correct
  FROM found
)
SELECT CAST(n_found AS BIGINT) AS n_found,
       CAST(n_correct AS BIGINT) AS n_correct,
       ROUND(n_correct * 1.0 / GREATEST(n_found, 1), 6) AS precision
FROM agg""",
)
assert SQL_MINHASH_PRECISION != SQL_MINHASH_RECALL


def q_minhash_band_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Band-geometry observability: how many LSH candidate pairs survive
    # exact verification.  minhash_precision pins the verified OUTPUT at
    # 1.0 (the pipeline contract); this measures the CANDIDATE stream's
    # selectivity — the number that says whether bands are too loose
    # (verification compute wasted) or too tight (recall at risk) before
    # a 100 TB run.
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 2 == 0
    )
    sigs = dedup.minhash_signatures(docs, "text", "doc_id", 3, 16, True)
    # ONE candidate subtree for both the count and the verify consumer
    # (r17 optimization, guide §2.4): previously `verified` re-ran the
    # whole signatures→banding chain via minhash_near_duplicates.
    cand = dedup.lsh_candidate_pairs(sigs, 8, 2, 1000, True).localCheckpoint(
        eager=False
    )
    verified = dedup.minhash_verify_candidates(docs, cand, k=3, threshold=0.5)
    return (
        cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
        .crossJoin(
            F.broadcast(
                verified.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_verified")
                )
            )
        )
        .select(
            "n_candidates",
            "n_verified",
            F.round(
                F.col("n_verified")
                / F.greatest(F.col("n_candidates"), F.lit(1)),
                6,
            ).alias("efficiency"),
        )
    )


SQL_MINHASH_BAND_EFFICIENCY = (
    _sql_minhash_portable()
    .replace("FROM documents\n", "FROM documents WHERE doc_id % 2 = 0\n", 1)
    .rstrip()
    .replace(
        ")\nSELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.5",
        """), agg AS (
  SELECT (SELECT COUNT(*) FROM cand) AS n_candidates,
         (SELECT COUNT(*) FROM scored WHERE jaccard >= 0.5) AS n_verified
)
SELECT CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_verified AS BIGINT) AS n_verified,
       ROUND(n_verified * 1.0 / GREATEST(n_candidates, 1), 6) AS efficiency
FROM agg""",
    )
)
assert "n_candidates" in SQL_MINHASH_BAND_EFFICIENCY


def q_minhash_est_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The third leg of the LSH quality tripod: recall/precision measure
    # the banded BLOCKING; this calibrates the ESTIMATOR — per exact-J
    # decile, how many candidate pairs' signature-agreement estimate
    # (matches/16) stays within 1, 2, 4 hash-agreements of exact
    # Jaccard.  All-integer identities (|err| <= t/H <=>
    # |matches*un - H*inter| <= t*un) -> tolerance-free oracle.  Same
    # %2 subset and portable md5 hashes as the recall/precision rows.
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 2 == 0
    )
    return dedup.minhash_estimator_error(docs, k=3, num_hashes=16)


def _sql_minhash_est_error(num_hashes: int = 16) -> str:
    # Generated so the per-permutation md5 literals match
    # dedup.minhash_signatures(portable=True) for any H.
    mins = ",\n         ".join(
        f"MIN(CAST('0x' || substring(md5('{j}:' || b), 1, 15) AS BIGINT)) AS s{j}"
        for j in range(num_hashes)
    )
    eqsum = " + ".join(
        f"CASE WHEN a.s{j} = b.s{j} THEN 1 ELSE 0 END"
        for j in range(num_hashes)
    )
    return rf"""
WITH docs AS (
  SELECT doc_id AS id, lower(text) AS t FROM documents WHERE doc_id % 2 = 0
), toks AS (
  SELECT id, list_filter(regexp_split_to_array(t, '\W+'), x -> length(x) > 0) AS toks
  FROM docs
), tok_rows AS (
  SELECT id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord FROM toks
), sh0 AS (
  SELECT id, tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w AS shingle
  FROM tok_rows WINDOW w AS (PARTITION BY id ORDER BY ord)
), sh AS (
  SELECT DISTINCT id, shingle FROM sh0 WHERE shingle IS NOT NULL
), base AS (
  SELECT id, substring(md5(shingle), 1, 15) AS b FROM sh
), sig AS (
  SELECT id,
         {mins}
  FROM base GROUP BY id
), sizes AS (
  SELECT id, COUNT(*) AS n FROM sh GROUP BY id
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS nc
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
), scored AS (
  SELECT i.id_a, i.id_b, i.nc, sa.n + sb.n - i.nc AS un
  FROM inter i
  JOIN sizes sa ON i.id_a = sa.id
  JOIN sizes sb ON i.id_b = sb.id
  WHERE 10 * i.nc >= sa.n + sb.n - i.nc
), m AS (
  SELECT s.nc, s.un, ({eqsum}) AS matches
  FROM scored s JOIN sig a ON a.id = s.id_a JOIN sig b ON b.id = s.id_b
)
SELECT CAST((10 * nc) // un AS INT) AS j_bin,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN ABS(matches * un - {num_hashes} * nc) <= 1 * un THEN 1 ELSE 0 END) AS BIGINT) AS within_1,
       CAST(SUM(CASE WHEN ABS(matches * un - {num_hashes} * nc) <= 2 * un THEN 1 ELSE 0 END) AS BIGINT) AS within_2,
       CAST(SUM(CASE WHEN ABS(matches * un - {num_hashes} * nc) <= 4 * un THEN 1 ELSE 0 END) AS BIGINT) AS within_4
FROM m GROUP BY 1 ORDER BY 1
"""


SQL_MINHASH_EST_ERROR = _sql_minhash_est_error()


# ---------------------------------- cross-corpus MinHash decontamination -


def q_minhash_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    # GPT-3/Llama-style fuzzy decontamination: even doc_ids play the
    # training corpus, odd doc_ids the eval/benchmark set; banded MinHash
    # LSH between the two sides, exact-Jaccard verified (md5-portable
    # hash family end-to-end -> full DuckDB twin).
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_decontaminate(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
        num_hashes=16,
        bands=8,
        threshold=0.5,
        portable=True,
    )


def _sql_minhash_decontam(
    num_hashes: int = 16, bands: int = 8, threshold: float = 0.5,
    max_bucket: int = 1000,
    train_pred: str = "t.id % 2 = 0", eval_pred: str = "e.id % 2 = 1",
) -> str:
    # Same generated signature/banding CTEs as _sql_minhash_portable
    # (one geometry, one hash family); the pair join becomes even-side ×
    # odd-side instead of canonical self-join, and the bucket cap counts
    # across BOTH sides (= the whole corpus, since the sides partition it).
    r = num_hashes // bands
    mins = ",\n         ".join(
        f"MIN(CAST('0x' || substring(md5('{j}:' || b), 1, 15) AS BIGINT)) AS s{j}"
        for j in range(num_hashes)
    )
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT id, {bi} AS band, md5("
        + " || ',' || ".join(f"CAST(s{bi * r + o} AS VARCHAR)" for o in range(r))
        + ") AS bucket FROM sig"
        for bi in range(bands)
    )
    return rf"""
WITH docs AS (
  SELECT doc_id AS id, lower(text) AS t FROM documents
), toks AS (
  SELECT id, list_filter(regexp_split_to_array(t, '\W+'), x -> length(x) > 0) AS toks
  FROM docs
), tok_rows AS (
  SELECT id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord FROM toks
), sh0 AS (
  SELECT id, tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w AS shingle
  FROM tok_rows WINDOW w AS (PARTITION BY id ORDER BY ord)
), sh AS (
  SELECT DISTINCT id, shingle FROM sh0 WHERE shingle IS NOT NULL
), base AS (
  SELECT id, substring(md5(shingle), 1, 15) AS b FROM sh
), sig AS (
  SELECT id,
         {mins}
  FROM base GROUP BY id
), banded0 AS (
{band_selects}
), banded AS (
  SELECT id, band, bucket FROM (
    SELECT id, band, bucket,
           COUNT(*) OVER (PARTITION BY band, bucket) AS bn
    FROM banded0
  ) WHERE bn <= {max_bucket}
), cand AS (
  SELECT DISTINCT e.id AS eval_id, t.id AS train_id
  FROM banded t
  JOIN banded e ON t.band = e.band AND t.bucket = e.bucket
  WHERE {train_pred} AND {eval_pred}
), sizes AS (
  SELECT id, COUNT(*) AS n FROM sh GROUP BY id
), inter AS (
  SELECT c.eval_id, c.train_id, COUNT(*) AS n_common
  FROM cand c
  JOIN sh a ON a.id = c.train_id
  JOIN sh b ON b.id = c.eval_id AND b.shingle = a.shingle
  GROUP BY c.eval_id, c.train_id
), scored AS (
  SELECT eval_id, train_id,
         ROUND(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON train_id = sa.id
  JOIN sizes sb ON eval_id = sb.id
)
SELECT eval_id, train_id, jaccard FROM scored WHERE jaccard >= {threshold}
"""


SQL_MINHASH_DECONTAM = _sql_minhash_decontam()


def q_decontam_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The four-eyes decontamination DECISION TABLE on ONE unified split
    # (eval = every 97th doc, the contamination_check convention) and
    # ONE direction (dirty-EVAL, the GPT-3 appendix-C reading: which
    # benchmark docs leak from the training side): three detection legs
    # of increasing laxity —
    #   13gram_exact:        >= 1 shared 13-gram (the strict published
    #                        screen; misses paraphrase)
    #   minhash_j0.5:        fuzzy shingle Jaccard >= 0.5 via banded LSH
    #   3gram_contain_0.8:   3-shingle containment >= 0.8 (catches a
    #                        short eval doc embedded in a long train doc)
    # One row per leg: (method, n_eval, n_dirty, dirty_rate) with the
    # SAME denominator, so the three rates read as one severity curve.
    # On THIS corpus the reading is instructive: the strict legs agree
    # (13gram == minhash == the planted dup mass, 2/52 at sf0.1) while
    # 3-gram containment saturates at 1.0 — a ~31-word vocabulary makes
    # nearly every 3-gram of every eval doc appear somewhere in 5k
    # training docs, i.e. the lax screen's threshold is corpus-
    # dependent and must be calibrated (exactly what the report makes
    # visible before anyone ships a decontamination config).
    # (The embedding leg lives on the embeddings table with its own id
    # space — semantic_decontam reports it separately.)
    #
    # Scale: each leg is its proven operator (broadcast-pruned shingle
    # joins / banded LSH); the report adds only 1-row aggregates and a
    # 3-row union.  The eval-doc count rides a broadcast.
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    n_eval = eval_df.agg(F.count(F.lit(1)).cast("bigint").alias("n_eval"))

    a = dedup.contamination_check(corpus, eval_df, k=3)
    dirty_a = a.where(F.col("containment") >= 0.8).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dirty")
    )
    b = dedup.contamination_check(corpus, eval_df, k=13)
    dirty_b = b.where(F.col("n_contaminated") > 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dirty")
    )
    c = dedup.minhash_decontaminate(
        corpus, eval_df, num_hashes=16, bands=8, threshold=0.5, portable=True
    )
    dirty_c = c.select("eval_id").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dirty")
    )

    # r18 optimization (guide §2.6 — overlap independent jobs): the
    # three legs are INDEPENDENT detection passes, but fusing them into
    # one action stacked their trees into a single plan whose driver-
    # side analysis/scheduling cost ~2x the legs' own compute (r17
    # measured: legs sum 2.7 s standalone vs 6.5 s fused; per-leg LAZY
    # barriers made it worse, 14 s, because the union action still
    # analyzed the stacked tree).  Materializing each bounded 1-row
    # aggregate EAGERLY from a small driver thread pool runs the legs
    # as concurrent Spark jobs (each with its own small plan) and the
    # report tail then unions four 1-row checkpointed frames — values
    # identical, everything recomputed from parquet per invocation.
    from concurrent.futures import ThreadPoolExecutor

    def _materialize(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True)

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_n = pool.submit(_materialize, n_eval)
        f_a = pool.submit(_materialize, dirty_a)
        f_b = pool.submit(_materialize, dirty_b)
        f_c = pool.submit(_materialize, dirty_c)
        n_eval = f_n.result()
        legs = [
            ("13gram_exact", f_b.result()),
            ("3gram_contain_0.8", f_a.result()),
            ("minhash_j0.5", f_c.result()),
        ]
    parts = [
        d.crossJoin(F.broadcast(n_eval)).select(
            F.lit(name).alias("method"),
            "n_eval",
            "n_dirty",
            (F.col("n_dirty") / F.col("n_eval")).alias("dirty_rate"),
        )
        for name, d in legs
    ]
    out = parts[0]
    for pdf in parts[1:]:
        out = out.unionByName(pdf)
    return out


def _sql_contain_leg(k: int) -> str:
    """k-shingle eval-vs-corpus containment on the %97 split (the
    SQL_CONTAMINATION_CHECK construction generalized over k; containment
    ROUNDed to 6dp exactly like the Spark column so the >= 0.8 gate
    cannot flip on a borderline doc)."""
    leads = " || ' ' || ".join(
        ["tok"] + [f"LEAD(tok, {i}) OVER w" for i in range(1, k)]
    )
    return rf"""
  SELECT eval_id,
         CAST(COUNT(*) AS BIGINT) AS n_shingles,
         CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
           AS n_contaminated,
         ROUND(SUM(CASE WHEN hit THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS containment
  FROM (
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\W+'),
                         x -> length(x) > 0) AS toks
      FROM documents
    ), tok_rows AS (
      SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord
      FROM tok
    ), shk AS (
      SELECT doc_id, {leads} AS shingle
      FROM tok_rows WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
    ), sh AS (
      SELECT DISTINCT doc_id, shingle FROM shk WHERE shingle IS NOT NULL
    ), corpus_sh AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 <> 0
    ), eval_sh AS (
      SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 97 = 0
    )
    SELECT e.eval_id, (c.shingle IS NOT NULL) AS hit
    FROM eval_sh e LEFT JOIN corpus_sh c USING (shingle)
  )
  GROUP BY eval_id
"""


SQL_DECONTAM_REPORT = rf"""
WITH n_eval AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_eval FROM documents WHERE doc_id % 97 = 0
), leg3 AS (
{_sql_contain_leg(3)}
), leg13 AS (
{_sql_contain_leg(13)}
), mh AS (
  SELECT * FROM (
    {_sql_minhash_decontam(train_pred="t.id % 97 <> 0", eval_pred="e.id % 97 = 0")}
  )
), dirty AS (
  SELECT '13gram_exact' AS method,
         CAST(COUNT(*) AS BIGINT) AS n_dirty
  FROM leg13 WHERE n_contaminated > 0
  UNION ALL
  SELECT '3gram_contain_0.8',
         CAST(COUNT(*) AS BIGINT)
  FROM leg3 WHERE containment >= 0.8
  UNION ALL
  SELECT 'minhash_j0.5',
         CAST(COUNT(DISTINCT eval_id) AS BIGINT)
  FROM mh
)
SELECT d.method, n.n_eval, d.n_dirty,
       d.n_dirty * 1.0 / n.n_eval AS dirty_rate
FROM dirty d CROSS JOIN n_eval n
"""


# ---------------------------------------------------------- soft dedup ----


def q_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reweighting alternative to hard near-dedup (SoftDedup, He et al.
    # 2024; the D4/FineWeb duplicate-signal ablations): same subset,
    # shingling, and 0.3-Jaccard graph as dup_components, but every
    # cluster member survives at sampling weight 1/cluster_size.
    # n_effective's integer identity (clusters + unclustered docs) makes
    # the corpus-mass accounting exact — no float fold to drift.
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 2
    )
    pairs = dedup.jaccard_pairs(docs, k=3, threshold=0.3)
    return dedup.soft_dedup_weights(docs, pairs)


# Reuse the dup_components recursive-CTE chain verbatim; the tail turns
# components into per-doc sampling weights.
SQL_SOFT_DEDUP = (
    SQL_DUP_COMPONENTS.rsplit("SELECT node", 1)[0]
    + """, comp AS (
  SELECT node, MIN(label) AS component FROM reach GROUP BY node
), csizes AS (
  SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component
), doc_cluster AS (
  SELECT node, cluster_size FROM comp JOIN csizes USING (component)
), stats AS (
  SELECT (SELECT COUNT(*) FROM docs) AS n_docs,
         (SELECT COUNT(*) FROM comp) AS n_members,
         (SELECT COUNT(DISTINCT component) FROM comp) AS n_clusters
)
SELECT d.id AS doc_id,
       CAST(COALESCE(dc.cluster_size, 1) AS BIGINT) AS cluster_size,
       ROUND(1.0 / COALESCE(dc.cluster_size, 1), 6) AS weight,
       CAST(n_docs - n_members + n_clusters AS BIGINT) AS n_effective,
       ROUND((n_docs - n_members + n_clusters) * 1.0 / n_docs, 6)
         AS effective_frac
FROM docs d
LEFT JOIN doc_cluster dc ON d.id = dc.node
CROSS JOIN stats
"""
)


# ------------------------------------------------------- simhash recall ----


def q_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Recall of the portable-SimHash pipeline (Hamming <= 3) against the
    # exact n-gram-Jaccard ground truth at J >= 0.5 — minhash_recall's
    # companion for the OTHER near-dup family, closing the quality-metric
    # asymmetry (MinHash had recall/precision/band-efficiency; SimHash
    # had only pair parity).  Same %2 subset as minhash_recall so the
    # two recalls are directly comparable on the same truth set.
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 2 == 0
    )
    truth = dedup.jaccard_pairs(docs, k=3, threshold=0.5).select(
        "id_a", "id_b"
    )
    sigs = dedup.simhash60_portable(docs)
    found = dedup.hamming_pairs(
        sigs, id_col="id", sig_col="simhash", max_hamming=3, blocks=4
    ).select("id_a", "id_b")
    return _recall_table(truth, found, "n_true_pairs", "n_recalled", "recall")


# The portable-simhash chain with the %2 subset; the truth chain is the
# dup_components shingle construction (namespaced t*) at J >= 0.5 with
# the minhash_recall 6dp rounding.
SQL_SIMHASH_RECALL = (
    _sql_simhash_portable(max_hamming=3, blocks=4)
    .replace("FROM documents\n", "FROM documents WHERE doc_id % 2 = 0\n", 1)
    .rstrip()
)

# Exact n-gram-Jaccard ground truth (the dup_components shingle chain,
# namespaced t*) at J >= 0.5 on the %2 subset + the recall aggregate —
# shared by every fingerprint-family recall metric (simhash, winnow) so
# their numbers are computed on the IDENTICAL truth set.
_SQL_JACCARD_TRUTH_RECALL_TAIL = r""", tdocs AS (
  SELECT doc_id AS id, lower(text) AS t FROM documents WHERE doc_id % 2 = 0
), ttoks AS (
  SELECT id, list_filter(regexp_split_to_array(t, '\W+'),
                         x -> length(x) > 0) AS toks
  FROM tdocs
), ttok_rows AS (
  SELECT id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord
  FROM ttoks
), tsh0 AS (
  SELECT id,
         tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w
           AS shingle
  FROM ttok_rows WINDOW w AS (PARTITION BY id ORDER BY ord)
), tsh AS (
  SELECT DISTINCT id, shingle FROM tsh0 WHERE shingle IS NOT NULL
), tsizes AS (
  SELECT id, COUNT(*) AS n FROM tsh GROUP BY id
), tinter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
  FROM tsh a JOIN tsh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
), truth AS (
  SELECT id_a, id_b
  FROM tinter JOIN tsizes sa2 ON id_a = sa2.id
              JOIN tsizes sb2 ON id_b = sb2.id
  WHERE ROUND(n_common * 1.0 / (sa2.n + sb2.n - n_common), 6) >= 0.5
), agg AS (
  SELECT COUNT(*) AS n_true_pairs,
         SUM(CASE WHEN EXISTS (SELECT 1 FROM found f
                               WHERE f.id_a = truth.id_a
                                 AND f.id_b = truth.id_b)
                  THEN 1 ELSE 0 END) AS n_recalled
  FROM truth
)
SELECT CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
       CAST(n_recalled AS BIGINT) AS n_recalled,
       ROUND(n_recalled * 1.0 / GREATEST(n_true_pairs, 1), 6) AS recall
FROM agg"""

SQL_SIMHASH_RECALL = SQL_SIMHASH_RECALL.rsplit("SELECT id_a, id_b,", 1)[
    0
] + """, found AS (
  SELECT id_a, id_b
  FROM cand JOIN sig sa ON id_a = sa.id JOIN sig sb ON id_b = sb.id
  WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
)""" + _SQL_JACCARD_TRUTH_RECALL_TAIL
assert "bit_count" in SQL_SIMHASH_RECALL and "tinter" in SQL_SIMHASH_RECALL


# -------------------------------------------------------- winnow recall ----


def q_winnow_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Recall of the winnowing copy-detector (k=8 char grams, window 4,
    # >= 5 shared fingerprints) against the same exact-Jaccard truth set
    # as minhash_recall/simhash_recall — the third fingerprint family
    # measured on the identical truth, so a dedup-strategy decision can
    # read all three recalls side by side.  Winnowing screens for
    # VERBATIM shared runs, so its recall on token-level near-dups is
    # expected to sit below MinHash — that gap is the measurement.
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 2 == 0
    )
    truth = dedup.jaccard_pairs(docs, k=3, threshold=0.5).select(
        "id_a", "id_b"
    )
    found = dedup.winnow_overlap_pairs(
        docs, k=8, window=4, min_shared=5, max_doc_freq=10,
        portable_hash=True,
    ).select("id_a", "id_b")
    return _recall_table(truth, found, "n_true_pairs", "n_recalled", "recall")


# The winnow chain on the %2 subset; the shared truth tail guarantees
# the identical truth set as the other fingerprint recalls.
SQL_WINNOW_RECALL = (
    SQL_WINNOW_OVERLAP.replace(
        "WHERE doc_id % 10 = 0", "WHERE doc_id % 2 = 0", 1
    ).rstrip()
)

SQL_WINNOW_RECALL = SQL_WINNOW_RECALL.rsplit("SELECT a.id AS id_a,", 1)[
    0
] + """, found AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM filt a JOIN filt b ON a.fp = b.fp AND a.id < b.id
  GROUP BY a.id, b.id
  HAVING COUNT(*) >= 5
)""" + _SQL_JACCARD_TRUTH_RECALL_TAIL
assert "fp" in SQL_WINNOW_RECALL and "tinter" in SQL_WINNOW_RECALL
assert "% 2 = 0" in SQL_WINNOW_RECALL


# ------------------------------------------------------- dedup manifest ----


def q_dedup_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deletion lineage of the layered exact -> near dedup run on the
    # dup-dense %3==2 subset: (dropped_id, keeper_id, reason).  The
    # synthetic corpus has exact dups only at sf0.1 (one group in this
    # subset), so below that the exact branch proves plan parity
    # end-to-end and its drop path is pinned by the planted fixtures in
    # tests/test_functions.py (the dedup_lines precedent); the near
    # branch carries live rows at every SF.
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 2
    )
    return dedup.dedup_manifest(docs, k=3, threshold=0.3)


SQL_DEDUP_MANIFEST = SQL_DEDUP_CANONICAL.replace(
    """WITH RECURSIVE docs AS (
  SELECT doc_id AS id, lower(text) AS t FROM documents WHERE doc_id % 3 = 2
)""",
    """WITH RECURSIVE base AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 = 2
), ex AS (
  SELECT id, MIN(id) OVER (PARTITION BY md5(text)) AS keeper FROM base
), exact_drop AS (
  SELECT id AS dropped_id, keeper AS keeper_id FROM ex WHERE id <> keeper
), docs AS (
  SELECT b.id, lower(b.text) AS t FROM base b
  WHERE b.id NOT IN (SELECT dropped_id FROM exact_drop)
)""",
    1,
).replace(
    """SELECT d.id AS doc_id FROM docs d
WHERE d.id NOT IN (SELECT node FROM comp WHERE node <> component)""",
    """SELECT e.dropped_id,
       COALESCE(c.component, e.keeper_id) AS keeper_id,
       'exact' AS reason
FROM exact_drop e LEFT JOIN comp c ON e.keeper_id = c.node
UNION ALL
SELECT node AS dropped_id, component AS keeper_id, 'near' AS reason
FROM comp WHERE node <> component""",
    1,
)
assert "exact_drop" in SQL_DEDUP_MANIFEST
assert "'near'" in SQL_DEDUP_MANIFEST


# ---------------------------------------------------- jaccard histogram ----


def q_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The threshold-tuning curve: candidate-pair mass per 0.1 Jaccard
    # bin over EVERY pair sharing a shingle, on the dup-dense subset —
    # read before committing a dedup threshold.  On this corpus the
    # curve is the textbook cliff (≈1k background pairs in bin 0.0 at
    # sf0.01, then nothing until the planted near-dups at 0.9) — the
    # shape that says any threshold in the gap is safe.
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 2
    )
    return dedup.jaccard_histogram(docs, k=3, min_jaccard=0.0)


# Shares the dup_components shingle/intersection chain; the tail bins
# the 6dp-rounded Jaccard with the IEEE-edge snap (see
# dedup.jaccard_histogram).
SQL_JACCARD_HISTOGRAM = r"""
WITH docs AS (
  SELECT doc_id AS id, lower(text) AS t FROM documents WHERE doc_id % 3 = 2
), toks AS (
  SELECT id, list_filter(regexp_split_to_array(t, '\W+'),
                         x -> length(x) > 0) AS toks
  FROM docs
), tok_rows AS (
  SELECT id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord
  FROM toks
), sh0 AS (
  SELECT id,
         tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w
           AS shingle
  FROM tok_rows WINDOW w AS (PARTITION BY id ORDER BY ord)
), sh AS (
  SELECT DISTINCT id, shingle FROM sh0 WHERE shingle IS NOT NULL
), sizes AS (
  SELECT id, COUNT(*) AS n FROM sh GROUP BY id
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
), scored AS (
  SELECT ROUND(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
  FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
)
SELECT FLOOR(ROUND(jaccard * 10, 6)) / 10.0 AS bin_lo,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM scored WHERE jaccard >= 0.0
GROUP BY 1
"""


# --------------------------------------------------- LSH geometry sweep ----


def _sql_lsh_geometry_sweep(
    num_hashes: int = 16,
    geometries: "tuple[tuple[int, int], ...]" = ((8, 2), (4, 4), (2, 8)),
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> str:
    """Generated like _sql_minhash_portable, but banding the SAME
    signature CTE under every geometry and aggregating one row per
    geometry; the multi-referenced sh/sig/truth/cand CTEs are
    MATERIALIZED (the DuckDB CTE-inlining trap)."""
    prefix = _sql_minhash_portable(
        num_hashes, geometries[0][0], threshold, max_bucket
    ).split("), banded0 AS (")[0]
    prefix = prefix.replace(
        "SELECT doc_id AS id, lower(text) AS t FROM documents",
        "SELECT doc_id AS id, lower(text) AS t FROM documents"
        " WHERE doc_id % 2 = 0",
        1,
    ).replace("), sh AS (", "), sh AS MATERIALIZED (", 1).replace(
        "), sig AS (", "), sig AS MATERIALIZED (", 1
    )
    parts = [prefix + ")"]
    truth = """, tsizes AS (
  SELECT id, COUNT(*) AS n FROM sh GROUP BY id
), tinter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
), truth AS MATERIALIZED (
  SELECT id_a, id_b
  FROM tinter JOIN tsizes sa2 ON id_a = sa2.id
              JOIN tsizes sb2 ON id_b = sb2.id
  WHERE ROUND(n_common * 1.0 / (sa2.n + sb2.n - n_common), 6)
        >= {thr}
)""".format(thr=threshold)
    parts.append(truth)
    selects = []
    for gi, (bands, rpb) in enumerate(geometries):
        band_selects = "\n  UNION ALL\n".join(
            "  SELECT id, {bi} AS band, md5(".format(bi=bi)
            + " || ',' || ".join(
                "CAST(s{j} AS VARCHAR)".format(j=bi * rpb + o)
                for o in range(rpb)
            )
            + ") AS bucket FROM sig"
            for bi in range(bands)
        )
        parts.append(""", banded{gi}0 AS (
{band_selects}
), banded{gi} AS (
  SELECT id, band, bucket FROM (
    SELECT id, band, bucket,
           COUNT(*) OVER (PARTITION BY band, bucket) AS bn
    FROM banded{gi}0
  ) WHERE bn <= {cap}
), cand{gi} AS MATERIALIZED (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded{gi} a
  JOIN banded{gi} b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
)""".format(gi=gi, band_selects=band_selects, cap=max_bucket))
        selects.append("""SELECT {bands} AS bands, {rpb} AS rows_per_band,
       (SELECT COUNT(*) FROM cand{gi}) AS n_candidates,
       (SELECT COUNT(*) FROM truth) AS n_true_pairs,
       (SELECT COUNT(*) FROM cand{gi} c
        JOIN truth t ON c.id_a = t.id_a AND c.id_b = t.id_b)
         AS n_found""".format(bands=bands, rpb=rpb, gi=gi))
    union = "\nUNION ALL\n".join(selects)
    tail = """
SELECT CAST(bands AS INT) AS bands,
       CAST(rows_per_band AS INT) AS rows_per_band,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
       CAST(n_found AS BIGINT) AS n_found,
       ROUND(n_found * 1.0 / GREATEST(n_true_pairs, 1), 6) AS recall,
       ROUND(n_found * 1.0 / GREATEST(n_candidates, 1), 6) AS efficiency
FROM (
{union}
)
""".format(union=union)
    return "".join(parts) + tail


def q_lsh_geometry_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The LSH tuning table: at a fixed 16-hash signature budget, the
    # (bands x rows) split decides the recall/candidate-volume tradeoff
    # (8x2 loose ... 2x8 strict); this measures all three on the same
    # exact-Jaccard truth (the %2 metric subset) so the geometry is
    # picked from data, not the textbook S-curve alone.
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 2 == 0
    )
    return dedup.lsh_geometry_sweep(
        docs, k=3, num_hashes=16,
        geometries=((8, 2), (4, 4), (2, 8)), threshold=0.5,
        max_bucket=1000,
    )


SQL_LSH_GEOMETRY_SWEEP = _sql_lsh_geometry_sweep(
    16, ((8, 2), (4, 4), (2, 8)), 0.5, 1000
)
assert "cand2" in SQL_LSH_GEOMETRY_SWEEP
assert "MATERIALIZED" in SQL_LSH_GEOMETRY_SWEEP


# ---------------------------------------------- shingle DF histogram ----


def q_shingle_df_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Doc-frequency distribution of the shingle space on power-of-two
    # buckets — the evidence the dedup `max_doc_freq` caps (and the CMS
    # width choice) are tuned against: a heavy tail here is exactly the
    # boilerplate the caps must drop before the banded joins.
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(dedup.token_shingles(F.col("text"), 3)).alias("shingle"),
    )
    df_tbl = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    # power-of-two bucket: floor(log2(df)) → bucket_lo = 2^k (df=1 → 1,
    # 2-3 → 2, 4-7 → 4, ...); integer-exact in both engines.
    bucket = F.pow(
        F.lit(2.0), F.floor(F.log2(F.col("df").cast("double")))
    ).cast("bigint")
    return (
        df_tbl.groupBy(bucket.alias("df_bucket_lo"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum("df").cast("bigint").alias("n_postings"),
            F.max("df").cast("bigint").alias("max_df"),
        )
    )


SQL_SHINGLE_DF_HISTOGRAM = r"""
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
           AS shingle
  FROM tok_rows WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
), sh AS (
  SELECT DISTINCT doc_id, shingle FROM sh0 WHERE shingle IS NOT NULL
), dft AS (
  SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY shingle
)
SELECT CAST(POW(2.0, FLOOR(LOG2(CAST(df AS DOUBLE)))) AS BIGINT)
         AS df_bucket_lo,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(df) AS BIGINT) AS n_postings,
       CAST(MAX(df) AS BIGINT) AS max_df
FROM dft GROUP BY 1
"""


# ------------------------------------------------------ CDC dedup curve ----


def q_cdc_dedup_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Content-defined-chunking dedup sizing table (FastCDC family):
    # md5-portable rolling boundaries at three mask widths from ONE gram
    # pass; measures the chunk-level storage-dedup ratio the snapshot
    # layer would realize at each expected chunk size.  Subset keeps the
    # gram-grain oracle cheap at any SF (plan shape identical).
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 0)
    return dedup.cdc_dedup_curve(docs, window=8, mask_bits=(4, 5, 6))


SQL_CDC_DEDUP_CURVE = r"""
WITH d AS (
  SELECT doc_id AS id, COALESCE(text, '') AS t,
         length(COALESCE(text, '')) AS n
  FROM documents WHERE doc_id % 4 = 0
), widths AS (SELECT * FROM (VALUES (4, 16), (5, 32), (6, 64)) w(b, mask)),
grams AS (
  SELECT id, n, i,
         CAST('0x' || substring(md5(substring(t, CAST(i AS INT), 8)), 1, 15)
              AS BIGINT) AS h
  FROM d, UNNEST(range(1, greatest(n - 7, 0) + 1)) AS u(i)
  WHERE n >= 8
),
cuts AS (
  SELECT g.id, w.b, g.i + 7 AS off
  FROM grams g CROSS JOIN widths w
  WHERE g.h % w.mask = 0 AND g.i + 7 < g.n
),
offs AS (
  SELECT d.id, w.b, d.t, d.n,
         COALESCE(list_sort(list(c.off) FILTER (WHERE c.off IS NOT NULL)),
                  []) AS offs
  FROM d CROSS JOIN widths w
  LEFT JOIN cuts c ON c.id = d.id AND c.b = w.b
  GROUP BY d.id, w.b, d.t, d.n
),
chunks0 AS (
  SELECT b,
         UNNEST(list_transform(range(1, len(offs) + 2), j ->
           substring(t,
             CAST(CASE WHEN j = 1 THEN 1 ELSE offs[j - 1] + 1 END AS INT),
             CAST((CASE WHEN j = len(offs) + 1 THEN n ELSE offs[j] END)
               - (CASE WHEN j = 1 THEN 1 ELSE offs[j - 1] + 1 END) + 1
               AS INT))))
           AS chunk
  FROM offs
),
ch AS (
  SELECT b, md5(chunk) AS h, CAST(length(chunk) AS BIGINT) AS clen
  FROM chunks0 WHERE length(chunk) > 0
),
tot AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         CAST(SUM(clen) AS BIGINT) AS total_chars
  FROM ch GROUP BY b
),
unq AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS n_unique_chunks,
         CAST(SUM(clen) AS BIGINT) AS unique_chars
  FROM (SELECT b, h, MIN(clen) AS clen FROM ch GROUP BY b, h)
  GROUP BY b
)
SELECT CAST(t.b AS INT) AS mask_bits,
       CAST(POW(2.0, t.b) AS BIGINT) AS expected_chunk_chars,
       t.n_chunks, u.n_unique_chunks, t.total_chars, u.unique_chars,
       t.total_chars * 1.0 / u.unique_chars AS dedup_ratio,
       t.total_chars * 1.0 / t.n_chunks AS mean_chunk_len
FROM tot t JOIN unq u USING (b)
"""


# ---------------------------------------------------------- ROUGE screen ----


def q_rouge_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Self-instruct instruction-dedup screen: max bigram recall vs any
    # earlier (smaller-id) doc, keep under 0.7 — the asymmetric-overlap
    # complement of the Jaccard family.  Subset keeps the pair-grain
    # oracle cheap; the pool is the subset's own earlier docs.
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    return dedup.rouge_screen(docs, n=2, threshold=0.7, max_doc_freq=50)


SQL_ROUGE_SCREEN = r"""
WITH tokr AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> length(x) > 0) AS toks
  FROM documents WHERE doc_id % 5 = 0
), tok_rows AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord
  FROM tokr
), sh0 AS (
  SELECT doc_id, tok || ' ' || LEAD(tok, 1) OVER w AS s
  FROM tok_rows WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
), sh AS (
  SELECT DISTINCT doc_id, s FROM sh0 WHERE s IS NOT NULL
), counts AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams FROM sh GROUP BY doc_id
), capped AS (
  SELECT doc_id, s FROM (
    SELECT doc_id, s, COUNT(*) OVER (PARTITION BY s) AS dfreq FROM sh
  ) WHERE dfreq <= 50
), shared AS (
  SELECT a.doc_id AS id, b.doc_id AS pool_id,
         CAST(COUNT(*) AS BIGINT) AS shared
  FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id > b.doc_id
  GROUP BY 1, 2
), best AS (
  SELECT s.id, s.pool_id, s.shared * 1.0 / c.n_ngrams AS recall
  FROM shared s JOIN counts c ON c.doc_id = s.id
  QUALIFY ROW_NUMBER() OVER (PARTITION BY s.id
                             ORDER BY recall DESC, s.pool_id) = 1
)
SELECT d.doc_id,
       COALESCE(c.n_ngrams, 0) AS n_ngrams,
       b.pool_id AS match_id,
       COALESCE(b.recall, 0.0) AS max_recall,
       COALESCE(b.recall, 0.0) < 0.7 AS keep
FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
LEFT JOIN counts c USING (doc_id)
LEFT JOIN best b ON b.id = d.doc_id
"""


# ------------------------------------------------ decontam n-gram curve ----


def q_contamination_ngram_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The decontamination match-length sweep (GPT-3's 13-gram standard
    # bracketed by 8 and 20): contaminated-doc rate per n against the
    # every-97th-doc benchmark — the evidence the threshold choice
    # cites.  Same corpus/benchmark split as contamination_check.
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    return dedup.contamination_ngram_curve(corpus, bench, ns=(8, 13, 20))


def _sql_contam_curve(ns: "tuple[int, ...]" = (8, 13, 20)) -> str:
    def gram(n: int) -> str:
        parts = ["tok"] + [f"LEAD(tok, {j}) OVER w" for j in range(1, n)]
        return " || ' ' || ".join(parts)

    bb = "\n  UNION ALL ".join(
        f"SELECT {n} AS n, s FROM (SELECT {gram(n)} AS s FROM btok"
        " WINDOW w AS (PARTITION BY doc_id ORDER BY ord))"
        " WHERE s IS NOT NULL"
        for n in ns
    )
    cb = "\n  UNION ALL ".join(
        f"SELECT doc_id, {n} AS n, s FROM (SELECT doc_id, {gram(n)} AS s"
        " FROM ctok WINDOW w AS (PARTITION BY doc_id ORDER BY ord))"
        " WHERE s IS NOT NULL"
        for n in ns
    )
    vals = ", ".join(f"({n})" for n in ns)
    return rf"""
WITH b AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
                             x -> length(x) > 0) AS toks
  FROM documents WHERE doc_id % 97 = 0
), btok AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord
  FROM b
), c AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'),
                             x -> length(x) > 0) AS toks
  FROM documents WHERE doc_id % 97 <> 0
), ctok AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord
  FROM c
), bsh AS (
  SELECT DISTINCT n, s FROM ({bb})
), csh AS (
  {cb}
), flagged AS (
  SELECT csh.n, CAST(COUNT(DISTINCT csh.doc_id) AS BIGINT)
           AS n_contaminated
  FROM csh JOIN bsh ON bsh.n = csh.n AND bsh.s = csh.s
  GROUP BY csh.n
), bcounts AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS n_benchmark_ngrams
  FROM bsh GROUP BY n
), nd AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM c
)
SELECT CAST(v.n AS INT) AS n,
       COALESCE(bc.n_benchmark_ngrams, 0) AS n_benchmark_ngrams,
       nd.n_docs,
       COALESCE(f.n_contaminated, 0) AS n_contaminated,
       COALESCE(f.n_contaminated, 0) * 1.0 / GREATEST(nd.n_docs, 1)
         AS contamination_rate
FROM (VALUES {vals}) v(n)
LEFT JOIN bcounts bc ON bc.n = v.n
LEFT JOIN flagged f ON f.n = v.n
CROSS JOIN nd
"""


SQL_CONTAMINATION_NGRAM_CURVE = _sql_contam_curve((8, 13, 20))


def q_cross_source_dedup_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # Exact-dup concentration, source x source: dup groups with copies
    # in both sources (diagonal: >=2 copies inside the source) + total
    # pair counts — the triage table before choosing which feed to
    # dedup first; md5 content hashes, exact integers, tolerance-free.
    # The synthetic corpus has almost no native exact dups (zero groups
    # at sf0.001 — the matrix would oracle-match trivially on empty),
    # so the query PLANTS deterministic copies the way
    # semdedup_eps_curve plants its band: every doc_id % 37 == 5 doc
    # mirrors into a 'mirror' source (cross-source mass) and every
    # doc_id % 53 == 7 doc duplicates within its own source (diagonal
    # mass); both engines derive the same augmented frame.
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    mirror = docs.where(F.col("doc_id") % 37 == 5).select(
        (F.col("doc_id") + F.lit(1000000000)).alias("doc_id"),
        "text",
        F.lit("mirror").alias("source"),
    )
    intra = docs.where(F.col("doc_id") % 53 == 7).select(
        (F.col("doc_id") + F.lit(2000000000)).alias("doc_id"),
        "text",
        "source",
    )
    aug = docs.unionByName(mirror).unionByName(intra)
    return dedup.cross_source_dedup_matrix(aug)


SQL_CROSS_SOURCE_DEDUP_MATRIX = r"""
WITH aug AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000000, text, 'mirror' AS source
  FROM documents WHERE doc_id % 37 = 5
  UNION ALL
  SELECT doc_id + 2000000000, text, source
  FROM documents WHERE doc_id % 53 = 7
), gs AS (
  SELECT md5(COALESCE(text, '')) AS h, source AS src, COUNT(*) AS n
  FROM aug
  GROUP BY 1, 2
), dup_gs AS (
  SELECT gs.* FROM gs
  JOIN (SELECT h FROM gs GROUP BY h HAVING SUM(n) >= 2) t USING (h)
), cross_pairs AS (
  SELECT a.src AS src_a, b.src AS src_b,
         CAST(COUNT(*) AS BIGINT) AS n_dup_groups,
         CAST(SUM(a.n * b.n) AS BIGINT) AS n_dup_pairs
  FROM dup_gs a JOIN dup_gs b ON a.h = b.h AND a.src < b.src
  GROUP BY 1, 2
), diag AS (
  SELECT src AS src_a, src AS src_b,
         CAST(COUNT(*) AS BIGINT) AS n_dup_groups,
         CAST(SUM(n * (n - 1) / 2) AS BIGINT) AS n_dup_pairs
  FROM dup_gs
  WHERE n >= 2
  GROUP BY 1, 2
)
SELECT * FROM cross_pairs
UNION ALL
SELECT * FROM diag
ORDER BY src_a, src_b
"""
