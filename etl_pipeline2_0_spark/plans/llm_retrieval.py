"""Retrieval (RAG) plans: chunking, BM25, RRF fusion, and the measured ranking-quality rows.

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



# ------------------------------------------------------ retrieval (RAG) ---


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Context-window chunking: 32-token chunks, 8-token overlap.  Subset
    # keeps the oracle cheap; the Spark plan shape (narrow, shuffle-free)
    # is identical on the full corpus.
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 25 == 0)
    return retrieval.chunk_documents(docs, chunk_tokens=32, overlap_tokens=8)


SQL_CHUNK_DOCUMENTS = r"""
WITH docs AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> length(x) > 0) AS toks
  FROM documents WHERE doc_id % 25 = 0
), starts AS (
  SELECT doc_id, toks,
         unnest(range(0, len(toks), 24)) AS start,
         generate_subscripts(range(0, len(toks), 24), 1) - 1 AS chunk_id
  FROM docs WHERE len(toks) > 0
)
SELECT doc_id,
       CAST(chunk_id AS INT) AS chunk_id,
       CAST(start AS BIGINT) AS start_token,
       CAST(len(toks[start + 1 : start + 32]) AS BIGINT) AS n_tokens,
       array_to_string(toks[start + 1 : start + 32], ' ') AS chunk_text
FROM starts
"""


# The bench/driver query set: fixed term lists drawn from the synthetic
# corpus vocabulary (a query workload is external input by nature; literals
# keep both engines bit-identical).
_BM25_QUERIES = [
    (0, ["spark", "join"]),
    (1, ["window", "agg", "stream"]),
    (2, ["merge", "sort"]),
    (3, ["data", "table", "scan"]),
]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    return retrieval.bm25_topk(docs, _BM25_QUERIES, top_k=5)


SQL_BM25_TOPK = r"""
WITH q(query_id, term) AS (
  VALUES (0, 'spark'), (0, 'join'),
         (1, 'window'), (1, 'agg'), (1, 'stream'),
         (2, 'merge'), (2, 'sort'),
         (3, 'data'), (3, 'table'), (3, 'scan')
), base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> length(x) > 0) AS toks
  FROM documents WHERE doc_id % 5 = 0
), lens AS (
  SELECT doc_id, len(toks) AS dl FROM base
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM lens
), postings AS (
  SELECT b.doc_id, t.term, COUNT(*) AS tf
  FROM base b, unnest(b.toks) AS u(term)
  JOIN (SELECT DISTINCT term FROM q) t ON u.term = t.term
  GROUP BY b.doc_id, t.term
), df AS (
  SELECT term, COUNT(*) AS df FROM postings GROUP BY term
), scored AS (
  SELECT q.query_id, p.doc_id,
         ROUND(SUM(
           ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (p.tf * 2.2)
           / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))
         ), 6) AS score
  FROM postings p
  JOIN q ON p.term = q.term
  JOIN df ON p.term = df.term
  JOIN lens l ON p.doc_id = l.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, p.doc_id
), ranked AS (
  SELECT query_id, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rnk
  FROM scored
)
SELECT CAST(query_id AS INT) AS query_id, doc_id, score,
       CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 5
"""


def q_similar_docs_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hybrid more-like-this: BM25 over each query doc's top-5 tf terms
    # fused with exact cosine over its embedding via RRF (k=60).
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return retrieval.similar_docs_rrf(
        docs, emb, n_queries=8, top_m_terms=5, k_each=10, top_k=5
    )


SQL_SIMILAR_DOCS_RRF = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> length(x) > 0) AS toks
  FROM documents
), qtf AS (
  SELECT doc_id AS query_id, u.term, COUNT(*) AS tf
  FROM base, unnest(toks) AS u(term)
  WHERE doc_id < 8 GROUP BY doc_id, u.term
), qterms AS (
  SELECT query_id, term FROM (
    SELECT query_id, term,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY tf DESC, term) AS r
    FROM qtf
  ) WHERE r <= 5
), lens AS (
  SELECT doc_id, len(toks) AS dl FROM base
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM lens
), postings AS (
  SELECT b.doc_id, t.term, COUNT(*) AS tf
  FROM base b, unnest(b.toks) AS u(term)
  JOIN (SELECT DISTINCT term FROM qterms) t ON u.term = t.term
  GROUP BY b.doc_id, t.term
), df AS (
  SELECT term, COUNT(*) AS df FROM postings GROUP BY term
), bm25 AS (
  SELECT q.query_id, p.doc_id,
         ROUND(SUM(
           ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (p.tf * 2.2)
           / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))
         ), 6) AS score
  FROM postings p
  JOIN qterms q ON p.term = q.term
  JOIN df ON p.term = df.term
  JOIN lens l ON p.doc_id = l.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, p.doc_id
), lex AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rnk
  FROM bm25 QUALIFY rnk <= 10
), lexx AS (
  SELECT * FROM lex WHERE query_id <> doc_id
), e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8
), cos AS (
  SELECT query_id, a.vec_id AS doc_id,
    ROUND(list_inner_product(qv, a.v) /
      (SQRT(list_inner_product(qv, qv)) * SQRT(list_inner_product(a.v, a.v))), 6)
      AS sim
  FROM e a CROSS JOIN q WHERE a.vec_id <> query_id
), sem AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, doc_id) AS rnk
  FROM cos QUALIFY rnk <= 10
), unioned AS (
  SELECT query_id, doc_id, rnk FROM lexx
  UNION ALL
  SELECT query_id, doc_id, rnk FROM sem
), fused AS (
  SELECT query_id, doc_id,
         ROUND(SUM(CAST(1 AS DOUBLE) / (60 + rnk)), 6) AS rrf_score
  FROM unioned GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, rrf_score,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY rrf_score DESC, doc_id) AS INT) AS rnk
FROM fused QUALIFY rnk <= 5
"""


def q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Positional-index phrase retrieval: documents containing the exact
    # adjacent token phrase "table part" with occurrence counts — the
    # positional primitive bm25's bag-of-terms ranking cannot express.
    from etl_pipeline2_0_spark.functions import retrieval

    docs = load_table(spark, sf_dir, "documents")
    return retrieval.phrase_match(docs, ["table", "part"])


SQL_PHRASE_MATCH = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> length(x) > 0) AS l
  FROM documents
), postings AS (
  SELECT doc_id, i - 1 AS pos, l[i] AS tok
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(l))) AS i)
), p0 AS (
  SELECT doc_id, pos FROM postings WHERE tok = 'table'
), p1 AS (
  SELECT doc_id, pos FROM postings WHERE tok = 'part'
)
SELECT p0.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM p0 JOIN p1 ON p0.doc_id = p1.doc_id AND p1.pos = p0.pos + 1
GROUP BY p0.doc_id
"""


# ------------------------------------------------- retrieval pairs -------


def q_retrieval_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Contrastive training-pair mining for retriever models (the DPR /
    # sentence-transformers recipe, public): per query, BM25 rank the
    # corpus, take the top ranks as positives and a deterministic
    # deeper-rank band as HARD negatives (lexically related but
    # non-top — the negatives that actually teach a dense retriever).
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 5 == 0
    )
    ranked = retrieval.bm25_topk(docs, _BM25_QUERIES, top_k=25)
    return ranked.where(
        (F.col("rnk") <= 2) | ((F.col("rnk") >= 20) & (F.col("rnk") <= 25))
    ).select(
        "query_id",
        "doc_id",
        "score",
        "rnk",
        F.when(F.col("rnk") <= 2, F.lit("pos"))
        .otherwise(F.lit("neg"))
        .alias("label"),
    )


# Reuse the BM25 CTE chain verbatim; only the final projection differs.
SQL_RETRIEVAL_PAIRS = (
    SQL_BM25_TOPK.rsplit("SELECT CAST(query_id AS INT)", 1)[0]
    + """SELECT CAST(query_id AS INT) AS query_id, doc_id, score,
       CAST(rnk AS INT) AS rnk,
       CASE WHEN rnk <= 2 THEN 'pos' ELSE 'neg' END AS label
FROM ranked WHERE rnk <= 2 OR (rnk >= 20 AND rnk <= 25)
"""
)


def q_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Measured ranking quality for the lexical retriever — the row the
    # r13 verdict flagged as the last approximate family without one:
    # nDCG@5 + MRR@5 of bm25_topk against a PLANTED graded truth,
    # rel(q, d) = #distinct query terms contained in d (deterministic,
    # engine-portable, and exactly the containment signal BM25 is
    # supposed to surface — the gap between 1.0 and the measured nDCG
    # is tf/length normalization reordering equal-containment docs).
    # Same corpus subset, query workload, and k as q_bm25_topk, so the
    # two rows read together.
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 5 == 0
    )
    ranked = retrieval.bm25_topk(docs, _BM25_QUERIES, top_k=5)
    qterms = spark.createDataFrame(
        [(qid, t) for qid, terms in _BM25_QUERIES for t in terms],
        "query_id int, term string",
    )
    rel = (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(text.tokens(F.col("text")))).alias(
                "term"
            ),
        )
        .join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("rel"))
    )
    return retrieval.ranking_quality(ranked, rel, k=5)


# Reuse the BM25 CTE chain, then grade against term containment.
SQL_RETRIEVAL_NDCG = (
    SQL_BM25_TOPK.rsplit("SELECT CAST(query_id AS INT)", 1)[0]
    + """, rel AS (
  SELECT q.query_id, d.doc_id, COUNT(DISTINCT q.term) AS rel
  FROM base d, unnest(d.toks) AS u(term)
  JOIN q ON u.term = q.term
  GROUP BY q.query_id, d.doc_id
), dcg AS (
  SELECT r.query_id,
         SUM((POW(2.0, COALESCE(rel.rel, 0)) - 1)
             / log2(r.rnk + 1.0)) AS dcg,
         MIN(CASE WHEN COALESCE(rel.rel, 0) > 0 THEN r.rnk END) AS frr
  FROM ranked r
  LEFT JOIN rel ON r.query_id = rel.query_id AND r.doc_id = rel.doc_id
  WHERE r.rnk <= 5
  GROUP BY r.query_id
), ideal AS (
  SELECT query_id, rel,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY rel DESC, doc_id) AS irnk
  FROM rel WHERE rel > 0
), idcg AS (
  SELECT query_id,
         SUM(CASE WHEN irnk <= 5
                  THEN (POW(2.0, rel) - 1) / log2(irnk + 1.0) END) AS idcg,
         COUNT(*) AS n_relevant
  FROM ideal GROUP BY query_id
)
SELECT CAST(i.query_id AS INT) AS query_id,
       CAST(i.n_relevant AS BIGINT) AS n_relevant,
       ROUND(CASE WHEN i.idcg > 0
                  THEN COALESCE(d.dcg, 0) / i.idcg ELSE 0 END, 6) AS ndcg,
       ROUND(COALESCE(1.0 / d.frr, 0), 6) AS mrr
FROM idcg i LEFT JOIN dcg d ON i.query_id = d.query_id
"""
)


def q_rrf_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Ranking quality of the HYBRID retriever: nDCG@5 + MRR@5 of the
    # RRF-fused more-like-this ranking against a semantic graded truth —
    # rel = 11 − exact-cosine rank for each query doc's true top-10
    # neighbors.  Measures how much semantic ordering survives fusion
    # with the lexical ranker (the deliberate tension: the lexical half
    # pulls the list toward term overlap; this row quantifies the cost
    # in the fused list — the hybrid-retriever tuning number).
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    fused = retrieval.similar_docs_rrf(
        docs, emb, n_queries=8, top_m_terms=5, k_each=10, top_k=5
    )
    sem = similarity.cosine_topk(
        emb, emb.where(F.col("vec_id") < 8), k=10, id_col="vec_id"
    )
    rel = sem.select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        (F.lit(11) - F.col("rnk")).alias("rel"),
    )
    return retrieval.ranking_quality(fused, rel, k=5)


# Reuse the full hybrid-RRF CTE chain; grade the fused list against the
# cosine ranking already computed in its `sem` CTE.
SQL_RRF_NDCG = (
    SQL_SIMILAR_DOCS_RRF.rsplit("SELECT query_id, doc_id, rrf_score", 1)[0]
    + """, fused_rnk AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY rrf_score DESC, doc_id) AS rnk
  FROM fused QUALIFY rnk <= 5
), rel AS (
  SELECT query_id, doc_id, CAST(11 - rnk AS DOUBLE) AS rel FROM sem
), dcg AS (
  SELECT r.query_id,
         SUM((POW(2.0, COALESCE(rel.rel, 0)) - 1)
             / log2(r.rnk + 1.0)) AS dcg,
         MIN(CASE WHEN COALESCE(rel.rel, 0) > 0 THEN r.rnk END) AS frr
  FROM fused_rnk r
  LEFT JOIN rel ON r.query_id = rel.query_id AND r.doc_id = rel.doc_id
  GROUP BY r.query_id
), ideal AS (
  SELECT query_id, rel,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY rel DESC, doc_id) AS irnk
  FROM rel WHERE rel > 0
), idcg AS (
  SELECT query_id,
         SUM(CASE WHEN irnk <= 5
                  THEN (POW(2.0, rel) - 1) / log2(irnk + 1.0) END) AS idcg,
         COUNT(*) AS n_relevant
  FROM ideal GROUP BY query_id
)
SELECT CAST(i.query_id AS INT) AS query_id,
       CAST(i.n_relevant AS BIGINT) AS n_relevant,
       ROUND(CASE WHEN i.idcg > 0
                  THEN COALESCE(d.dcg, 0) / i.idcg ELSE 0 END, 6) AS ndcg,
       ROUND(COALESCE(1.0 / d.frr, 0), 6) AS mrr
FROM idcg i LEFT JOIN dcg d ON i.query_id = d.query_id
"""
)


# -------------------------------------------- sentence-boundary chunking -


def q_sentence_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Semantic (sentence-integral) RAG chunking at a 40-token budget —
    # the boundary-respecting alternative to the sliding window.
    docs = load_table(spark, sf_dir, "documents")
    return retrieval.sentence_chunk(docs, budget_tokens=40)


SQL_SENTENCE_CHUNK = r"""
WITH raw AS (
  SELECT doc_id, trim(unnest(regexp_extract_all(text, '[^.!?]+[.!?]*'))) AS sent,
         generate_subscripts(regexp_extract_all(text, '[^.!?]+[.!?]*'), 1)
           AS pos
  FROM documents
), sents AS (
  SELECT doc_id, pos, sent,
         len(list_filter(regexp_split_to_array(sent,
                         '[ \x09\x0A\x0D\x0B\x0C]+'),
                         x -> length(x) > 0)) AS n_tok
  FROM raw WHERE length(sent) > 0
), assigned AS (
  SELECT doc_id, pos, sent, n_tok,
         CAST(FLOOR(COALESCE(SUM(n_tok) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / 40) AS INT) AS chunk_id
  FROM sents
)
SELECT doc_id, chunk_id,
       CAST(COUNT(*) AS BIGINT) AS n_sentences,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       string_agg(sent, ' ' ORDER BY pos) AS chunk_text
FROM assigned GROUP BY doc_id, chunk_id
"""


# ------------------------------------------ contrastive crop-pair mining -


def q_crop_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Contriever/ICT positive pairs: two deterministic 16-token crops
    # per document with overlap accounting.
    docs = load_table(spark, sf_dir, "documents")
    return retrieval.crop_pairs(docs, crop_tokens=16)


SQL_CROP_PAIRS = r"""
WITH tokd AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '[ \x09\x0A\x0D\x0B\x0C]+'),
                     x -> length(x) > 0) AS toks
  FROM documents
), sized AS (
  SELECT doc_id, toks, len(toks) - 16 + 1 AS span
  FROM tokd WHERE len(toks) >= 16
), starts AS (
  SELECT doc_id, toks,
    CAST(1 + CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':a:'),
                   1, 15) AS BIGINT) % span AS INT) AS a_start,
    CAST(1 + CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':b:'),
                   1, 15) AS BIGINT) % span AS INT) AS b_start
  FROM sized
)
SELECT doc_id, a_start, b_start,
       CAST(GREATEST(0, LEAST(a_start, b_start) + 16
                        - GREATEST(a_start, b_start)) AS INT)
         AS overlap_tokens,
       array_to_string(list_slice(toks, a_start, a_start + 15), ' ')
         AS crop_a,
       array_to_string(list_slice(toks, b_start, b_start + 15), ' ')
         AS crop_b
FROM starts
"""


def q_rm3_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RM3 pseudo-relevance-feedback expansion table over the bench
    # query workload: top-5 BM25 docs feed the relevance model, alpha
    # 0.5 interpolation, top-8 terms per query.  Weights are NANO-unit
    # integers (exact, order-free ranking key).
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 5 == 0
    )
    return retrieval.rm3_expansion_terms(
        docs, _BM25_QUERIES, fb_k=5, fb_terms=8, alpha=0.5
    )


def q_bm25_rm3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Full two-pass RM3 retrieval: BM25 -> feedback model -> weighted
    # BM25 re-retrieval with the 8-term expanded queries.
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 5 == 0
    )
    return retrieval.bm25_rm3_topk(
        docs, _BM25_QUERIES, fb_k=5, fb_terms=8, alpha=0.5, top_k=5
    )


_SQL_RM3_PREFIX = r"""
WITH q(query_id, term) AS (
  VALUES (0, 'spark'), (0, 'join'),
         (1, 'window'), (1, 'agg'), (1, 'stream'),
         (2, 'merge'), (2, 'sort'),
         (3, 'data'), (3, 'table'), (3, 'scan')
), base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> length(x) > 0) AS toks
  FROM documents WHERE doc_id % 5 = 0
), lens AS (
  SELECT doc_id, len(toks) AS dl FROM base
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM lens
), postings AS (
  SELECT b.doc_id, t.term, COUNT(*) AS tf
  FROM base b, unnest(b.toks) AS u(term)
  JOIN (SELECT DISTINCT term FROM q) t ON u.term = t.term
  GROUP BY b.doc_id, t.term
), df1 AS (
  SELECT term, COUNT(*) AS df FROM postings GROUP BY term
), scored1 AS (
  SELECT q.query_id, p.doc_id,
         ROUND(SUM(
           ln(1 + (s.n_docs - df1.df + 0.5) / (df1.df + 0.5))
           * ((p.tf * 2.2)
              / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)))
         ), 6) AS score
  FROM postings p
  JOIN q ON p.term = q.term
  JOIN df1 ON p.term = df1.term
  JOIN lens l ON p.doc_id = l.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, p.doc_id
), fb AS (
  SELECT query_id, doc_id,
         CAST(ROUND(score * 1000000.0) AS BIGINT) AS score_micro
  FROM (SELECT query_id, doc_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS rnk
        FROM scored1)
  WHERE rnk <= 5
), ssum AS (
  SELECT query_id, SUM(score_micro) AS ssum_micro
  FROM fb GROUP BY query_id
), fbp AS (
  SELECT f.query_id, f.doc_id, u.term, COUNT(*) AS tf,
         MIN(len(b.toks)) AS dl,
         MIN(f.score_micro) AS score_micro,
         MIN(s.ssum_micro) AS ssum_micro
  FROM fb f
  JOIN base b ON f.doc_id = b.doc_id
  JOIN ssum s ON f.query_id = s.query_id,
       unnest(b.toks) AS u(term)
  GROUP BY f.query_id, f.doc_id, u.term
), prel AS (
  SELECT query_id, term,
         SUM(CAST(ROUND(
           ((0.5 * (tf * 1.0 / dl))
            * (score_micro * 1.0 / ssum_micro)) * 1000000000.0
         ) AS BIGINT)) AS rel_nano
  FROM fbp GROUP BY query_id, term
), nq AS (
  SELECT query_id, COUNT(*) AS n_q FROM q GROUP BY query_id
), pq AS (
  SELECT q.query_id, q.term,
         CAST(ROUND((0.5 * 1000000000.0) / n.n_q) AS BIGINT)
           AS orig_nano
  FROM q JOIN nq n USING (query_id)
), merged AS (
  SELECT COALESCE(pr.query_id, pq.query_id) AS query_id,
         COALESCE(pr.term, pq.term) AS term,
         COALESCE(orig_nano, 0) + COALESCE(rel_nano, 0) AS w_nano
  FROM prel pr FULL JOIN pq
    ON pr.query_id = pq.query_id AND pr.term = pq.term
), exp AS (
  SELECT query_id, term, w_nano, rnk
  FROM (SELECT query_id, term, w_nano,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY w_nano DESC, term) AS rnk
        FROM merged WHERE w_nano > 0)
  WHERE rnk <= 8
)
"""


SQL_RM3_EXPANSION = _SQL_RM3_PREFIX + r"""
SELECT CAST(query_id AS INT) AS query_id, term,
       CAST(w_nano AS BIGINT) AS w_nano,
       CAST(rnk AS INT) AS rnk
FROM exp
"""


SQL_BM25_RM3_TOPK = _SQL_RM3_PREFIX + r""",
postings2 AS (
  SELECT b.doc_id, t.term, COUNT(*) AS tf
  FROM base b, unnest(b.toks) AS u(term)
  JOIN (SELECT DISTINCT term FROM exp) t ON u.term = t.term
  GROUP BY b.doc_id, t.term
), df2 AS (
  SELECT term, COUNT(*) AS df FROM postings2 GROUP BY term
), scored2 AS (
  SELECT e.query_id, p.doc_id,
         ROUND(SUM(
           (e.w_nano / 1000000000.0)
           * (ln(1 + (s.n_docs - df2.df + 0.5) / (df2.df + 0.5))
              * ((p.tf * 2.2)
                 / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))))
         ), 6) AS score
  FROM postings2 p
  JOIN exp e ON p.term = e.term
  JOIN df2 ON p.term = df2.term
  JOIN lens l ON p.doc_id = l.doc_id
  CROSS JOIN stats s
  GROUP BY e.query_id, p.doc_id
)
SELECT CAST(query_id AS INT) AS query_id, doc_id, score,
       CAST(rnk AS INT) AS rnk
FROM (SELECT query_id, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rnk
      FROM scored2)
WHERE rnk <= 5
"""


def q_retrieval_ndcg_rm3(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The ranker DECISION TABLE (r16 verdict item 6): nDCG@5 + MRR@5 for
    # all three lexical rankers — plain BM25, two-pass BM25+RM3
    # pseudo-relevance feedback, and Dirichlet query likelihood — on the
    # same corpus subset and workload, one row per (ranker, query).
    # Grading: rel(q, d) = TOTAL occurrences of original-query terms in
    # d, scored with LINEAR gain (the original Järvelin & Kekäläinen
    # form).  retrieval_ndcg's distinct-term containment grade SATURATES
    # here (hundreds of docs tie at max rel, so every ranker's top-5
    # scores 1.0 and the table cannot discriminate — measured at all 3
    # SFs); raw tf-mass grades make the ideal list the 5 highest-tf
    # docs, which a length-normalized tf-saturating ranker does NOT
    # trivially surface (bm25 measures 0.77-0.98 across queries at
    # sf0.001), so the three rankers genuinely separate.  This measures
    # the RM3 family's actual claim ("feedback re-weighting changes
    # what the ranking surfaces") the way minhash_recall / ann_recall
    # measure theirs, instead of shipping the rankers with
    # exact-arithmetic oracles only.
    #
    # Scale: the three rankers share the broadcast-pruned postings
    # shape (query terms broadcast, postings equi-joined); the grading
    # joins are per-query frames of ≤ k rows.  The truth table is
    # computed once and fanned out to three graders — at corpus scale
    # it would be localCheckpoint'd like the RM3 feedback set; here it
    # is a bounded aggregate (#queries × matched docs).
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 5 == 0
    )
    qterms = spark.createDataFrame(
        [(qid, t) for qid, terms in _BM25_QUERIES for t in terms],
        "query_id int, term string",
    )
    # ONE tokenized-corpus projection shared by the truth table and all
    # THREE rankers (r17 optimization, guide §2.4 — the rankers each
    # rebuilt it, the RM3 chain several times over).
    base = retrieval.tokenized_base(docs).localCheckpoint(eager=False)
    # r18 optimization (guide §2.4 — remove duplicate passes outright):
    # ONE pruned postings table serves the bm25 scorer, the Dirichlet-QL
    # scorer (byte-identical construction in both) AND the relevance
    # truth — rel(q, d) = Σ_{t∈q} tf(t, d) is a re-aggregation of the
    # same (doc, term, tf) rows the rankers score from, so the corpus
    # explode+join+aggregate runs once instead of four times.
    term_set = qterms.select("term").distinct()
    postings = retrieval.bm25_postings(base, term_set).localCheckpoint(
        eager=False
    )
    rel = (
        postings.join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("tf").alias("rel"))
        # The truth table is consumed TWICE per grader (dcg join + ideal
        # ranking) across THREE graders = six executions of the corpus
        # tokenize+aggregate without a barrier (r17 optimization, guide
        # §2.4); the frame is bounded (#queries × matched docs).
        .localCheckpoint(eager=False)
    )
    # The plain bm25 ranking IS RM3's feedback retrieval (same corpus,
    # queries, k1/b, and top_k == fb_k == 5), so it is computed once,
    # cut (bounded: #queries × 5 rows), graded as ranker #1 AND handed
    # to the RM3 chain as its first pass (r18, guide §2.4).
    bm25_ranked = retrieval.bm25_topk(
        docs, _BM25_QUERIES, top_k=5, base=base, postings=postings
    ).localCheckpoint(eager=False)
    rankers = [
        ("bm25", bm25_ranked),
        (
            "bm25_rm3",
            retrieval.bm25_rm3_topk(
                docs, _BM25_QUERIES, fb_k=5, fb_terms=8, alpha=0.5, top_k=5,
                base=base, first_pass=bm25_ranked,
            ),
        ),
        (
            "ql_dirichlet",
            retrieval.ql_dirichlet_topk(
                docs, _BM25_QUERIES, top_k=5, mu=300.0, base=base,
                postings=postings,
            ),
        ),
    ]
    parts = [
        retrieval.ranking_quality(ranked, rel, k=5, gain="linear").select(
            F.lit(name).alias("ranker"),
            "query_id",
            "n_relevant",
            "ndcg",
            "mrr",
        )
        for name, ranked in rankers
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# Compose the proven CTE chains: the RM3 prefix (which itself embeds the
# first-pass BM25 `scored1`), the RM3 second-pass `scored2`, and the
# Dirichlet-QL `scored_ql`, then grade all three against the shared
# containment truth exactly as SQL_RETRIEVAL_NDCG does.
SQL_RETRIEVAL_NDCG_RM3 = _SQL_RM3_PREFIX + r""",
postings2 AS (
  SELECT b.doc_id, t.term, COUNT(*) AS tf
  FROM base b, unnest(b.toks) AS u(term)
  JOIN (SELECT DISTINCT term FROM exp) t ON u.term = t.term
  GROUP BY b.doc_id, t.term
), df2 AS (
  SELECT term, COUNT(*) AS df FROM postings2 GROUP BY term
), scored2 AS (
  SELECT e.query_id, p.doc_id,
         ROUND(SUM(
           (e.w_nano / 1000000000.0)
           * (ln(1 + (s.n_docs - df2.df + 0.5) / (df2.df + 0.5))
              * ((p.tf * 2.2)
                 / (p.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))))
         ), 6) AS score
  FROM postings2 p
  JOIN exp e ON p.term = e.term
  JOIN df2 ON p.term = df2.term
  JOIN lens l ON p.doc_id = l.doc_id
  CROSS JOIN stats s
  GROUP BY e.query_id, p.doc_id
), tot AS (
  SELECT CAST(SUM(dl) AS BIGINT) AS c_tokens FROM lens
), cf AS (
  SELECT term, CAST(SUM(tf) AS BIGINT) AS cf
  FROM postings GROUP BY term
), grouped AS (
  SELECT q.query_id, p.doc_id,
         SUM(ln(1.0 + p.tf
                / (300.0 * (cf.cf * 1.0 / t.c_tokens)))) AS m,
         MIN(l.dl) AS dl
  FROM postings p
  JOIN q ON p.term = q.term
  JOIN cf ON p.term = cf.term
  JOIN lens l ON p.doc_id = l.doc_id
  CROSS JOIN tot t
  GROUP BY q.query_id, p.doc_id
), scored_ql AS (
  SELECT g.query_id, g.doc_id,
         ROUND(g.m + n.n_q * ln(300.0 / (g.dl + 300.0)), 6) AS score
  FROM grouped g JOIN nq n USING (query_id)
), ranked_all AS (
  SELECT ranker, query_id, doc_id, rnk FROM (
    SELECT ranker, query_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY ranker, query_id
                              ORDER BY score DESC, doc_id) AS rnk
    FROM (
      SELECT 'bm25' AS ranker, query_id, doc_id, score FROM scored1
      UNION ALL
      SELECT 'bm25_rm3' AS ranker, query_id, doc_id, score FROM scored2
      UNION ALL
      SELECT 'ql_dirichlet' AS ranker, query_id, doc_id, score
      FROM scored_ql
    )
  ) WHERE rnk <= 5
), rel AS (
  SELECT q.query_id, d.doc_id,
         CAST(COUNT(*) AS DOUBLE) AS rel
  FROM base d, unnest(d.toks) AS u(term)
  JOIN q ON u.term = q.term
  GROUP BY q.query_id, d.doc_id
), dcg AS (
  SELECT r.ranker, r.query_id,
         SUM(COALESCE(rel.rel, 0) / log2(r.rnk + 1.0)) AS dcg,
         MIN(CASE WHEN COALESCE(rel.rel, 0) > 0 THEN r.rnk END) AS frr
  FROM ranked_all r
  LEFT JOIN rel ON r.query_id = rel.query_id AND r.doc_id = rel.doc_id
  GROUP BY r.ranker, r.query_id
), ideal AS (
  SELECT query_id, rel,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY rel DESC, doc_id) AS irnk
  FROM rel WHERE rel > 0
), idcg AS (
  SELECT query_id,
         SUM(CASE WHEN irnk <= 5
                  THEN rel / log2(irnk + 1.0) END) AS idcg,
         COUNT(*) AS n_relevant
  FROM ideal GROUP BY query_id
), rankers(ranker) AS (
  VALUES ('bm25'), ('bm25_rm3'), ('ql_dirichlet')
)
SELECT k.ranker,
       CAST(i.query_id AS INT) AS query_id,
       CAST(i.n_relevant AS BIGINT) AS n_relevant,
       ROUND(CASE WHEN i.idcg > 0
                  THEN COALESCE(d.dcg, 0) / i.idcg ELSE 0 END, 6) AS ndcg,
       ROUND(COALESCE(1.0 / d.frr, 0), 6) AS mrr
FROM idcg i CROSS JOIN rankers k
LEFT JOIN dcg d ON d.ranker = k.ranker AND d.query_id = i.query_id
"""


def q_ql_dirichlet_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Dirichlet query-likelihood over the same workload/subset as
    # bm25_topk — the LM-based ranker next to the tf-idf-based one
    # (mu=300, ~the corpus's mean doc length).
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 5 == 0
    )
    return retrieval.ql_dirichlet_topk(
        docs, _BM25_QUERIES, top_k=5, mu=300.0
    )


SQL_QL_DIRICHLET_TOPK = r"""
WITH q(query_id, term) AS (
  VALUES (0, 'spark'), (0, 'join'),
         (1, 'window'), (1, 'agg'), (1, 'stream'),
         (2, 'merge'), (2, 'sort'),
         (3, 'data'), (3, 'table'), (3, 'scan')
), base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> length(x) > 0) AS toks
  FROM documents WHERE doc_id % 5 = 0
), lens AS (
  SELECT doc_id, len(toks) AS dl FROM base
), tot AS (
  SELECT CAST(SUM(dl) AS BIGINT) AS c_tokens FROM lens
), nq AS (
  SELECT query_id, COUNT(*) AS n_q FROM q GROUP BY query_id
), postings AS (
  SELECT b.doc_id, t.term, COUNT(*) AS tf
  FROM base b, unnest(b.toks) AS u(term)
  JOIN (SELECT DISTINCT term FROM q) t ON u.term = t.term
  GROUP BY b.doc_id, t.term
), cf AS (
  SELECT term, CAST(SUM(tf) AS BIGINT) AS cf
  FROM postings GROUP BY term
), grouped AS (
  SELECT q.query_id, p.doc_id,
         SUM(ln(1.0 + p.tf
                / (300.0 * (cf.cf * 1.0 / t.c_tokens)))) AS m,
         MIN(l.dl) AS dl
  FROM postings p
  JOIN q ON p.term = q.term
  JOIN cf ON p.term = cf.term
  JOIN lens l ON p.doc_id = l.doc_id
  CROSS JOIN tot t
  GROUP BY q.query_id, p.doc_id
), scored AS (
  SELECT g.query_id, g.doc_id,
         ROUND(g.m + n.n_q * ln(300.0 / (g.dl + 300.0)), 6) AS score
  FROM grouped g JOIN nq n USING (query_id)
)
SELECT CAST(query_id AS INT) AS query_id, doc_id, score,
       CAST(rnk AS INT) AS rnk
FROM (SELECT query_id, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rnk
      FROM scored)
WHERE rnk <= 5
"""
