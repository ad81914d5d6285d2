"""Similarity/ANN/embedding plans: cosine/LSH/IVF/PQ top-k, recalls, embedding diagnostics, semantic dedup and selection.

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
from etl_pipeline2_0_spark.plans.llm_dedup import (
    _SQL_SIG_CTE,
)



# ------------------------------------------------------------- similarity -


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, emb.where(F.col("vec_id") < 8), k=5)


SQL_ANN_TOPK = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
scored AS (
  SELECT query_id, a.vec_id AS neighbor_id,
    ROUND(list_inner_product(qv, a.v) /
      (SQRT(list_inner_product(qv, qv)) * SQRT(list_inner_product(a.v, a.v))), 6)
      AS cosine_sim
  FROM e a CROSS JOIN q WHERE a.vec_id <> query_id
)
SELECT query_id, neighbor_id, cosine_sim,
  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       ORDER BY cosine_sim DESC, neighbor_id) AS INT) AS rnk
FROM scored QUALIFY rnk <= 5
"""


def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    # k-NN weak supervision over the embeddings table's label column:
    # majority label of each query's 5 exact cosine neighbors.
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_label_vote(emb, emb.where(F.col("vec_id") < 8), k=5)


SQL_KNN_LABEL_VOTE = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
scored AS (
  SELECT query_id, a.vec_id AS neighbor_id, a.label AS nbr_label,
    ROUND(list_inner_product(qv, a.v) /
      (SQRT(list_inner_product(qv, qv)) * SQRT(list_inner_product(a.v, a.v))), 6)
      AS cosine_sim
  FROM e a CROSS JOIN q WHERE a.vec_id <> query_id
), topk AS (
  SELECT query_id, nbr_label
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cosine_sim DESC, neighbor_id) AS rnk
        FROM scored)
  WHERE rnk <= 5
), votes AS (
  SELECT query_id, nbr_label, COUNT(*) AS votes
  FROM topk GROUP BY query_id, nbr_label
)
SELECT query_id, CAST(nbr_label AS BIGINT) AS pred_label, votes
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY votes DESC, nbr_label ASC NULLS LAST) AS r
      FROM votes)
WHERE r = 1
"""


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic RP-LSH.  The md5-derived plane coefficients (r8) are
    # reproducible in ANSI SQL, so this has a full DuckDB twin: the oracle
    # recomputes the signatures via the same md5 formula and applies the
    # bit-match filter directly (banding is pigeonhole-lossless w.r.t.
    # that filter, so the naive form is the same result set).
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.rp_lsh_topk(
        emb, emb.where(F.col("vec_id") < 8), k=5, min_bit_matches=10
    )

SQL_ANN_LSH_TOPK = _SQL_SIG_CTE + """
SELECT query_id, neighbor_id, cosine_sim, rnk FROM lsh_topk
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ANN quality metric: per-query recall@k of the LSH candidate path
    # against the exact cosine ground truth — converts the hashed family's
    # quality from "shape pinned" to "measured" (and, with the md5-portable
    # planes, the whole metric is DuckDB-oracle-able).  Deterministic: both
    # sides share the fixed hashing and the (sim desc, neighbor_id) tiebreak.
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 8)
    exact = similarity.cosine_topk(emb, q, k=5).select("query_id", "neighbor_id")
    approx = similarity.rp_lsh_topk(emb, q, k=5, min_bit_matches=10).select(
        "query_id", "neighbor_id"
    )
    hits = (
        approx.join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        q.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(5.0), 6).alias(
                "recall_at_k"
            ),
        )
    )


SQL_ANN_RECALL = _SQL_SIG_CTE + """
, exact_topk AS (
  SELECT query_id, neighbor_id
  FROM (
    SELECT query_id, c.vec_id AS neighbor_id,
      ROUND(list_inner_product(qv, c.v) /
        (SQRT(list_inner_product(qv, qv)) * SQRT(list_inner_product(c.v, c.v))), 6)
        AS cosine_sim,
      ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY ROUND(list_inner_product(qv, c.v) /
          (SQRT(list_inner_product(qv, qv)) * SQRT(list_inner_product(c.v, c.v))), 6)
          DESC, c.vec_id) AS rnk
    FROM e c CROSS JOIN q WHERE c.vec_id <> query_id
  ) WHERE rnk <= 5
),
hits AS (
  SELECT l.query_id, COUNT(*) AS n_hits
  FROM lsh_topk l JOIN exact_topk x
    ON l.query_id = x.query_id AND l.neighbor_id = x.neighbor_id
  GROUP BY l.query_id
)
SELECT q.query_id, ROUND(COALESCE(n_hits, 0) / 5.0, 6) AS recall_at_k
FROM q LEFT JOIN hits ON q.query_id = hits.query_id
"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF coarse-quantized ANN — xxhash64-seeded centroids → no DuckDB twin;
    # pytest pins recall vs the exact brute-force baseline.
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb, emb.where(F.col("vec_id") < 8), k=5, n_centroids=16, n_probe=4
    )


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") % 4 == 0)
    # min_bit_matches=0 → exact pairwise within the subset (the LSH pruning
    # path is exercised by q_ann_lsh_topk; here the oracle needs exactness).
    return similarity.embedding_near_duplicates(
        emb, threshold=0.3, min_bit_matches=0
    )


SQL_EMBED_NEARDUP = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE vec_id % 4 = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  ROUND(list_inner_product(a.v, b.v) /
    (SQRT(list_inner_product(a.v, a.v)) * SQRT(list_inner_product(b.v, b.v))), 6)
    AS cosine_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_inner_product(a.v, b.v) /
  (SQRT(list_inner_product(a.v, a.v)) * SQRT(list_inner_product(b.v, b.v))) >= 0.3
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 25 == 0)
    return text.tfidf_top_terms(docs, top_k=3)


SQL_TFIDF_TOP_TERMS = r"""
WITH docs AS (
  SELECT doc_id, lower(text) AS t FROM documents WHERE doc_id % 25 = 0
), toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(t, '\W+'), x -> length(x) > 0) AS toks
  FROM docs
), term_rows AS (
  SELECT doc_id, unnest(toks) AS term FROM toks
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM term_rows GROUP BY doc_id, term
), docfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM docs
), scored AS (
  SELECT doc_id, term,
         ROUND(tf * (ln((n_docs + 1) * 1.0 / (df + 1)) + 1.0), 6) AS score
  FROM tf JOIN docfreq USING (term) CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, term, score, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= 3
"""


# ----------------------------------------------- SemDeDup semantic dedup -


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SemDeDup-style cluster-scoped embedding dedup (pandas-UDF centroid
    # assignment — no DuckDB twin; value-pinned by goldens).  Threshold
    # 0.35 because the synthetic embeddings top out at cosine ≈0.51 (same
    # reason q_embed_neardup probes at 0.3).
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(emb, threshold=0.35, n_centroids=16)


def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF quality metric: per-query recall@k of the coarse-quantized probe
    # path vs the exact cosine ground truth — the IVF twin of ann_recall
    # (which measures the LSH path).  The xxhash64-seeded centroids make
    # the ranking deterministic but not ANSI-expressible -> rows-only,
    # value-pinned by goldens at three SFs.
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 8)
    exact = similarity.cosine_topk(emb, q, k=5).select("query_id", "neighbor_id")
    approx = similarity.ivf_topk(
        emb, q, k=5, n_centroids=16, n_probe=4
    ).select("query_id", "neighbor_id")
    hits = (
        approx.join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        q.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(5.0), 6).alias(
                "recall_at_k"
            ),
        )
    )


def q_embedding_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EMBEDDING-space drift: PSI over portable-IVF cluster occupancy — the
    # semantic companion of corpus_drift_psi's token-length drift.  The
    # reference snapshot (even vec_ids) trains the md5-portable centroids;
    # the "current" snapshot (odd vec_ids, dimension 0 shifted +1.0 — a
    # deterministic direction change, since global scaling would be
    # cosine-invariant) is assigned to the SAME centroids, and occupancy
    # histograms feed the shared PSI core (functions/dq.psi_from_bins).
    # Catches what length/token stats cannot: topical/representational
    # shift between crawls at any corpus size (both snapshots reduce to
    # 16-bin histograms).
    from etl_pipeline2_0_spark.functions.dq import psi_from_bins

    emb = load_table(spark, sf_dir, "embeddings")
    ref = emb.where(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    )
    cur = emb.where(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(i == 0, x + F.lit(1.0)).otherwise(
                x.cast("double")
            ),
        ).alias("c_vec"),
    )
    cents = similarity.portable_centroids(ref, 16)
    a_bins = similarity.portable_assign(ref, cents).select(
        F.lit("all").alias("source"), F.col("cluster").alias("bin")
    )
    b_bins = similarity.portable_assign(cur, cents).select(
        F.lit("all").alias("source"), F.col("cluster").alias("bin")
    )
    return psi_from_bins(a_bins, b_bins)


SQL_EMBEDDING_DRIFT_PSI = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ref AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0),
cur AS (
  SELECT vec_id,
         list_transform(v, (x, i) -> CASE WHEN i = 1 THEN x + 1.0 ELSE x END)
           AS v
  FROM e WHERE vec_id % 2 = 1
), h AS (
  SELECT vec_id, v,
         CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)
           AS hh
  FROM ref
), cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY hh, vec_id) AS INT) AS centroid_id,
         v AS cv
  FROM h
  QUALIFY centroid_id <= 16
), assign_a AS (
  SELECT a.vec_id, c.centroid_id AS cluster
  FROM ref a CROSS JOIN cents c
  QUALIFY ROW_NUMBER() OVER (
      PARTITION BY a.vec_id
      ORDER BY ROUND(list_inner_product(a.v, c.cv) /
                     (SQRT(list_inner_product(a.v, a.v))
                      * SQRT(list_inner_product(c.cv, c.cv))), 6) DESC,
               c.centroid_id) = 1
), assign_b AS (
  SELECT b.vec_id, c.centroid_id AS cluster
  FROM cur b CROSS JOIN cents c
  QUALIFY ROW_NUMBER() OVER (
      PARTITION BY b.vec_id
      ORDER BY ROUND(list_inner_product(b.v, c.cv) /
                     (SQRT(list_inner_product(b.v, b.v))
                      * SQRT(list_inner_product(c.cv, c.cv))), 6) DESC,
               c.centroid_id) = 1
), tagged AS (
  SELECT 'a' AS snap, cluster FROM assign_a
  UNION ALL
  SELECT 'b' AS snap, cluster FROM assign_b
), counts AS (
  SELECT cluster AS bin,
         SUM(CASE WHEN snap = 'a' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN snap = 'b' THEN 1 ELSE 0 END) AS cb
  FROM tagged GROUP BY cluster
), tot AS (
  SELECT SUM(ca) AS na, SUM(cb) AS nb, COUNT(*) AS k FROM counts
)
SELECT 'all' AS source,
       ROUND(SUM(((cb + 0.5) / (nb + 0.5 * k) - (ca + 0.5) / (na + 0.5 * k))
                 * ln(((cb + 0.5) / (nb + 0.5 * k))
                      / ((ca + 0.5) / (na + 0.5 * k)))), 6) AS psi,
       CAST(MAX(k) AS BIGINT) AS n_bins
FROM counts CROSS JOIN tot
"""


def q_ann_ivf_topk_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF under the md5-portable relational construction (hash-sampled
    # centroids, windowed argmax assignment) — graduates the IVF family
    # from rows-only to a full DuckDB oracle, the rp_lsh/MinHash/SimHash
    # portability move applied to coarse quantization.  The xxhash64+Lloyd
    # ivf_topk stays the production fast path.
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk_portable(
        emb, emb.where(F.col("vec_id") < 8), k=5, n_centroids=16, n_probe=4
    )


# Shared portable-IVF construction (see similarity.ivf_topk_portable):
# centroids = the 16 corpus vectors with smallest md5-hex15(id), numbered
# in hash order; assignment/probes by 6dp-rounded cosine with centroid-id
# tiebreak; probes equi-join the assignment on cluster.
_SQL_IVF_PORTABLE_CTE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
h AS (
  SELECT vec_id, v,
         CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)
           AS hh
  FROM e
), cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY hh, vec_id) AS INT) AS centroid_id,
         v AS cv
  FROM h
  QUALIFY centroid_id <= 16
), assign_scored AS (
  SELECT a.vec_id AS neighbor_id, a.v, c.centroid_id,
         ROUND(list_inner_product(a.v, c.cv) /
               (SQRT(list_inner_product(a.v, a.v))
                * SQRT(list_inner_product(c.cv, c.cv))), 6) AS sim
  FROM e a CROSS JOIN cents c
), assigned AS (
  SELECT neighbor_id, v, centroid_id AS cluster
  FROM assign_scored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY neighbor_id
                             ORDER BY sim DESC, centroid_id) = 1
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8
), probe_scored AS (
  SELECT query_id, qv, c.centroid_id,
         ROUND(list_inner_product(qv, c.cv) /
               (SQRT(list_inner_product(qv, qv))
                * SQRT(list_inner_product(c.cv, c.cv))), 6) AS sim
  FROM q CROSS JOIN cents c
), probes AS (
  SELECT query_id, qv, centroid_id AS cluster
  FROM probe_scored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY sim DESC, centroid_id) <= 4
), ivf_scored AS (
  SELECT p.query_id, a.neighbor_id,
         ROUND(list_inner_product(p.qv, a.v) /
               (SQRT(list_inner_product(p.qv, p.qv))
                * SQRT(list_inner_product(a.v, a.v))), 6) AS cosine_sim
  FROM probes p JOIN assigned a USING (cluster)
  WHERE a.neighbor_id <> p.query_id
), ivf_topk AS (
  SELECT query_id, neighbor_id, cosine_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine_sim DESC, neighbor_id) AS INT) AS rnk
  FROM ivf_scored
  QUALIFY rnk <= 5
)
"""

SQL_ANN_IVF_TOPK_PORTABLE = _SQL_IVF_PORTABLE_CTE + """
SELECT query_id, neighbor_id, cosine_sim, rnk FROM ivf_topk
"""


def q_ann_ivf_recall_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Recall@k of the PORTABLE IVF path vs the exact cosine ground truth —
    # the measured-quality metric for the oracled IVF construction (the
    # ann_recall pattern), itself fully oracled: quantization quality is
    # now externally checkable end-to-end, not just shape-pinned.
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 8)
    exact = similarity.cosine_topk(emb, q, k=5).select("query_id", "neighbor_id")
    approx = similarity.ivf_topk_portable(
        emb, q, k=5, n_centroids=16, n_probe=4
    ).select("query_id", "neighbor_id")
    hits = (
        approx.join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        q.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(5.0), 6).alias(
                "recall_at_k"
            ),
        )
    )


SQL_ANN_IVF_RECALL_PORTABLE = _SQL_IVF_PORTABLE_CTE + """
, exact_topk AS (
  SELECT query_id, neighbor_id
  FROM (
    SELECT query_id, a.vec_id AS neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
             ROUND(list_inner_product(qv, a.v) /
               (SQRT(list_inner_product(qv, qv))
                * SQRT(list_inner_product(a.v, a.v))), 6) DESC,
             a.vec_id) AS INT) AS rnk
    FROM e a CROSS JOIN q WHERE a.vec_id <> query_id
  ) WHERE rnk <= 5
), hits AS (
  SELECT i.query_id, COUNT(*) AS n_hits
  FROM ivf_topk i JOIN exact_topk x
    ON i.query_id = x.query_id AND i.neighbor_id = x.neighbor_id
  GROUP BY i.query_id
)
SELECT q.query_id,
       ROUND(COALESCE(n_hits, 0) / 5.0, 6) AS recall_at_k
FROM q LEFT JOIN hits ON q.query_id = hits.query_id
"""


def q_ann_probe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The IVF probe-count tuning curve (the faiss nprobe trade-off):
    # recall@5 + candidate volume per n_probe in {1, 2, 4, 8} over the
    # portable quantizer, vs exact cosine truth on the bench query
    # slice — the THIRTEENTH measured sizing curve, and the one an IVF
    # deployment actually sweeps before fixing its operating point
    # (ann_ivf_recall_portable pins that single point; this prices the
    # whole knob).  One scoring pass at the largest budget; smaller
    # budgets re-rank the p <= P subset via literal fan-out.
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 8)
    return similarity.ann_probe_recall_curve(
        emb, q, k=5, n_centroids=16, probe_budgets=(1, 2, 4, 8)
    )


SQL_ANN_PROBE_RECALL_CURVE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
h AS (
  SELECT vec_id, v,
         CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)
           AS hh
  FROM e
), cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY hh, vec_id) AS INT) AS centroid_id,
         v AS cv
  FROM h
  QUALIFY centroid_id <= 16
), assign_scored AS (
  SELECT a.vec_id AS neighbor_id, a.v, c.centroid_id,
         ROUND(list_inner_product(a.v, c.cv) /
               (SQRT(list_inner_product(a.v, a.v))
                * SQRT(list_inner_product(c.cv, c.cv))), 6) AS sim
  FROM e a CROSS JOIN cents c
), assigned AS (
  SELECT neighbor_id, v, centroid_id AS cluster
  FROM assign_scored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY neighbor_id
                             ORDER BY sim DESC, centroid_id) = 1
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8
), probe_scored AS (
  SELECT query_id, qv, c.centroid_id,
         ROUND(list_inner_product(qv, c.cv) /
               (SQRT(list_inner_product(qv, qv))
                * SQRT(list_inner_product(c.cv, c.cv))), 6) AS sim
  FROM q CROSS JOIN cents c
), probes AS (
  SELECT query_id, qv, centroid_id AS cluster, p
  FROM (
    SELECT query_id, qv, centroid_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY sim DESC, centroid_id) AS INT) AS p
    FROM probe_scored
  ) WHERE p <= 8
), cand AS (
  SELECT p.query_id, a.neighbor_id, p.p,
         ROUND(list_inner_product(p.qv, a.v) /
               (SQRT(list_inner_product(p.qv, p.qv))
                * SQRT(list_inner_product(a.v, a.v))), 6) AS cosine_sim
  FROM probes p JOIN assigned a USING (cluster)
  WHERE a.neighbor_id <> p.query_id
), swept AS (
  SELECT c.query_id, c.neighbor_id, c.p, c.cosine_sim, b.n_probe
  FROM cand c CROSS JOIN (SELECT UNNEST([1, 2, 4, 8]) AS n_probe) b
  WHERE c.p <= b.n_probe
), topk AS (
  SELECT n_probe, query_id, neighbor_id
  FROM (
    SELECT n_probe, query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY n_probe, query_id
                ORDER BY cosine_sim DESC, neighbor_id) AS rnk
    FROM swept
  ) WHERE rnk <= 5
), exact_topk AS (
  SELECT query_id, neighbor_id
  FROM (
    SELECT query_id, a.vec_id AS neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
             ROUND(list_inner_product(qv, a.v) /
               (SQRT(list_inner_product(qv, qv))
                * SQRT(list_inner_product(a.v, a.v))), 6) DESC,
             a.vec_id) AS INT) AS rnk
    FROM e a CROSS JOIN q WHERE a.vec_id <> query_id
  ) WHERE rnk <= 5
), nq AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM q
), hits AS (
  SELECT t.n_probe, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM topk t JOIN exact_topk x
    ON t.query_id = x.query_id AND t.neighbor_id = x.neighbor_id
  GROUP BY t.n_probe
), vol AS (
  SELECT n_probe, CAST(COUNT(*) AS BIGINT) AS n_candidates
  FROM swept GROUP BY n_probe
)
SELECT CAST(v.n_probe AS INT) AS n_probe,
       nq.n_queries,
       v.n_candidates,
       v.n_candidates * 1.0 / nq.n_queries AS avg_candidates,
       CAST(COALESCE(hi.n_hits, 0) AS BIGINT) AS n_hits,
       COALESCE(hi.n_hits, 0) / (5.0 * nq.n_queries) AS recall_at_k
FROM vol v CROSS JOIN nq LEFT JOIN hits hi ON v.n_probe = hi.n_probe
ORDER BY n_probe
"""


def q_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Label-quality metric: does the 5-NN majority label agree with each
    # query's OWN label?  (Self is excluded from the neighbor set, so this
    # is honest leave-one-out agreement — the standard probe for label
    # noise in embedding space.)
    emb = load_table(spark, sf_dir, "embeddings")
    preds = similarity.knn_label_vote(emb, emb.where(F.col("vec_id") < 8), k=5)
    truth = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").cast("bigint").alias("true_label"),
    )
    return preds.join(truth, "query_id").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum(
            F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
        ).cast("bigint").alias("n_correct"),
        F.round(
            F.sum(
                F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
            )
            / F.count(F.lit(1)),
            6,
        ).alias("accuracy"),
    )


SQL_KNN_ACCURACY = f"""
WITH pred AS ({SQL_KNN_LABEL_VOTE}),
truth AS (
  SELECT vec_id AS query_id, CAST(label AS BIGINT) AS true_label
  FROM embeddings WHERE vec_id < 8
)
SELECT COUNT(*) AS n_queries,
       CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       ROUND(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS accuracy
FROM pred JOIN truth USING (query_id)
"""


def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lexical document similarity: cosine over sparse TF-IDF vectors (the
    # classic IR doc-doc similarity) — completes the similarity triple
    # next to set-based Jaccard and embedding cosine.  Same idf form as
    # tfidf_top_terms.  Relational shape: one shared-term equi-join prunes
    # the pair space (docs sharing no term never meet); norms are per-doc
    # aggregates; no cross join.
    #
    # max_df VOCABULARY cap (the r8 verdict's one weak flag): a term with
    # document frequency df contributes df²/2 rows to the postings join,
    # so one stopword-grade term with df=n is a quadratic blowup — on
    # exactly the terms TF-IDF weights near zero anyway.  Terms past the
    # absolute cap are pruned from the vocabulary BEFORE weights/norms
    # (sklearn's max_df semantics), bounding join fan-out at
    # |vocab|·max_df² — the same degenerate-key discipline as LSH's
    # max_bucket_size (dedup.py) and jaccard's max_doc_freq.  256 is
    # above any fixture-scale df (sf≤0.01 results are bit-identical to
    # the uncapped form — property-pinned in test_functions.py) and
    # bounds the worst term at 32k pair rows at any corpus size.
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    return text.tfidf_cosine_pairs(
        docs, text_col="text", id_col="doc_id", max_df=256, min_cosine=0.5
    )


SQL_TFIDF_COSINE_PAIRS = r"""
WITH docs AS (
  SELECT doc_id, lower(text) AS t FROM documents WHERE doc_id % 10 = 0
), term_rows AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(t, '\W+'),
                                    x -> length(x) > 0)) AS term
  FROM docs
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM term_rows GROUP BY doc_id, term
), n AS (
  SELECT COUNT(*) AS n_docs FROM docs
), dft AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
  HAVING COUNT(*) <= 256
), weighted AS (
  SELECT doc_id, term,
         tf * (ln((n_docs + 1) * 1.0 / (df + 1)) + 1.0) AS w
  FROM tf JOIN dft USING (term) CROSS JOIN n
), norms AS (
  SELECT doc_id, SQRT(SUM(w * w)) AS nrm FROM weighted GROUP BY doc_id
), dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.w * b.w) AS dot
  FROM weighted a JOIN weighted b
    ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), scored AS (
  SELECT id_a, id_b, ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
  FROM dots
  JOIN norms na ON id_a = na.doc_id
  JOIN norms nb ON id_b = nb.doc_id
)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.5
"""


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Product-quantization ANN (Jégou et al. 2011) under the repo's
    # portable construction: md5-hash-sampled codewords, relational
    # argmin encoding, ADC scoring that scans only the M-codes table —
    # the compression path that makes billion-vector ANN feasible.
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_topk(
        emb, emb.where(F.col("vec_id") < 8), k=5,
        n_subspaces=16, n_codes=64, dim=64,
    )


# Shared PQ CTE chain (mirrors similarity.pq_codebook/pq_encode/pq_topk):
# seeds = smallest-md5 corpus rows; codebook = their 4×16-dim slices;
# encoding = per (vector, subspace) argmin-L2 codeword; ADC = query-to-
# codeword partial distances summed over subspaces via the (m, code) join.
_SQL_PQ_CTES = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
h AS (
  SELECT vec_id, v,
         CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)
           AS hh
  FROM e
), seeds AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY hh, vec_id) AS INT) AS code, v
  FROM h
  QUALIFY code <= 64
), ms AS (
  SELECT unnest(range(1, 17)) AS m
), cb AS (
  SELECT m, code, v[(m - 1) * 4 + 1 : m * 4] AS cw
  FROM seeds CROSS JOIN ms
), sub AS (
  SELECT vec_id, m, v[(m - 1) * 4 + 1 : m * 4] AS sub
  FROM e CROSS JOIN ms
), enc_scored AS (
  SELECT vec_id, m, code,
         ROUND(list_inner_product(sub, sub) + list_inner_product(cw, cw)
               - 2 * list_inner_product(sub, cw), 6) AS d
  FROM sub JOIN cb USING (m)
), codes AS (
  SELECT vec_id, m, code FROM enc_scored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, code) = 1
), dtab AS (
  SELECT s.vec_id AS query_id, s.m, cb.code,
         ROUND(list_inner_product(s.sub, s.sub)
               + list_inner_product(cb.cw, cb.cw)
               - 2 * list_inner_product(s.sub, cb.cw), 6) AS pd
  FROM sub s JOIN cb ON s.m = cb.m
  WHERE s.vec_id < 8
), pq_scored AS (
  SELECT d.query_id, c.vec_id AS neighbor_id, ROUND(SUM(pd), 6) AS adc_dist
  FROM codes c JOIN dtab d ON c.m = d.m AND c.code = d.code
  WHERE c.vec_id <> d.query_id
  GROUP BY d.query_id, c.vec_id
), pq_topk AS (
  SELECT query_id, neighbor_id, adc_dist,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY adc_dist, neighbor_id) AS INT) AS rnk
  FROM pq_scored
  QUALIFY rnk <= 5
)
"""

SQL_ANN_PQ_TOPK = _SQL_PQ_CTES + """
SELECT query_id, neighbor_id, adc_dist, rnk FROM pq_topk
"""


def q_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Recall@5 of the PQ/ADC path vs the EXACT L2 top-k (PQ's native
    # metric) — the measured-quality companion, fully oracled like
    # ann_ivf_recall_portable.
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 8)
    qs = q.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = (
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("cv"),
        )
        .crossJoin(F.broadcast(qs))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(similarity.l2sq(F.col("qv"), F.col("cv")), 6).alias("d"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d"), F.col("neighbor_id"))
    exact = (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id")
    )
    approx = similarity.pq_topk(
        emb, q, k=5, n_subspaces=16, n_codes=64, dim=64
    ).select("query_id", "neighbor_id")
    hits = (
        approx.join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        q.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(5.0), 6
            ).alias("recall_at_k"),
        )
    )


SQL_ANN_PQ_RECALL = _SQL_PQ_CTES + """
, exact_topk AS (
  SELECT query_id, neighbor_id
  FROM (
    SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             ROUND(list_inner_product(q.v, q.v)
                   + list_inner_product(a.v, a.v)
                   - 2 * list_inner_product(q.v, a.v), 6),
             a.vec_id) AS INT) AS rnk
    FROM e a CROSS JOIN (SELECT vec_id, v FROM e WHERE vec_id < 8) q
    WHERE a.vec_id <> q.vec_id
  ) WHERE rnk <= 5
), hits AS (
  SELECT p.query_id, COUNT(*) AS n_hits
  FROM pq_topk p JOIN exact_topk x
    ON p.query_id = x.query_id AND p.neighbor_id = x.neighbor_id
  GROUP BY p.query_id
)
SELECT q.vec_id AS query_id,
       ROUND(COALESCE(n_hits, 0) / 5.0, 6) AS recall_at_k
FROM (SELECT vec_id FROM e WHERE vec_id < 8) q
LEFT JOIN hits ON q.vec_id = hits.query_id
"""


# ----------------------------------------------- D4 prototypicality ------


def q_prototypicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # D4 prototype pruning (Tirumala et al. 2023) under the md5-portable
    # IVF construction: drop the 20% most-prototypical of each cluster.
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.prototypicality(emb, n_centroids=16, drop_frac=0.2)


SQL_PROTOTYPICALITY = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
h AS (
  SELECT vec_id, v,
         CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)
           AS hh
  FROM e
), cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY hh, vec_id) AS INT) AS centroid_id,
         v AS cv
  FROM h
  QUALIFY centroid_id <= 16
), assign_scored AS (
  SELECT a.vec_id, c.centroid_id,
         ROUND(list_inner_product(a.v, c.cv) /
               (SQRT(list_inner_product(a.v, a.v))
                * SQRT(list_inner_product(c.cv, c.cv))), 6) AS sim
  FROM e a CROSS JOIN cents c
), assigned AS (
  SELECT vec_id, centroid_id AS cluster, sim
  FROM assign_scored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, centroid_id) = 1
), ranked AS (
  SELECT vec_id, cluster, sim AS proto_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY cluster
              ORDER BY sim DESC, vec_id) AS INT) AS proto_rank,
         CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT)
           AS cluster_size
  FROM assigned
)
SELECT *,
       ROUND(proto_rank * 1.0 / cluster_size, 6) AS proto_pct,
       (ROUND(proto_rank * 1.0 / cluster_size, 6) > 0.2) AS keep
FROM ranked
"""


# ------------------------------------------------ k-center coreset -------


def q_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Greedy farthest-point k-center selection (Gonzalez 1985) over the
    # embeddings corpus — the diversity-sampling coreset baseline.
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.kcenter_coreset(emb, k=6)


def _sql_kcenter(k: int = 6) -> str:
    # k-step materialized CTE chain (the BPE-twin pattern: multi-
    # referenced iterative CTEs must be AS MATERIALIZED or DuckDB
    # inlines them exponentially).  Each step excludes the just-picked
    # id, mirroring the engine exactly.
    def cos(row: str, cent: str) -> str:
        return (
            f"ROUND(1 - list_inner_product({row}.v, {cent}.cv)"
            f" / (SQRT(list_inner_product({row}.v, {row}.v))"
            f" * SQRT(list_inner_product({cent}.cv, {cent}.cv))), 6)"
        )

    parts = [
        "WITH e AS MATERIALIZED (SELECT vec_id,"
        " CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "h AS (SELECT vec_id, v, CAST('0x' ||"
        " substring(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)"
        " AS hh FROM e)",
        "c1 AS MATERIALIZED (SELECT vec_id, v AS cv FROM h"
        " QUALIFY ROW_NUMBER() OVER (ORDER BY hh, vec_id) = 1)",
        "d1 AS MATERIALIZED (SELECT e.vec_id, e.v,"
        f" {cos('e', 'c1')} AS md"
        " FROM e CROSS JOIN c1 WHERE e.vec_id <> c1.vec_id)",
    ]
    for j in range(2, k + 1):
        parts.append(
            f"c{j} AS MATERIALIZED (SELECT vec_id, v AS cv, md"
            f" FROM d{j - 1}"
            " QUALIFY ROW_NUMBER() OVER (ORDER BY md DESC, vec_id) = 1)"
        )
        if j < k:
            parts.append(
                f"d{j} AS MATERIALIZED (SELECT d.vec_id, d.v,"
                f" LEAST(d.md, {cos('d', f'c{j}')}) AS md"
                f" FROM d{j - 1} d CROSS JOIN c{j}"
                f" WHERE d.vec_id <> c{j}.vec_id)"
            )
    selects = [
        "SELECT CAST(1 AS INT) AS rnk, vec_id,"
        " CAST(0.0 AS DOUBLE) AS sel_dist FROM c1"
    ] + [
        f"SELECT CAST({j} AS INT), vec_id, md FROM c{j}"
        for j in range(2, k + 1)
    ]
    return ",\n".join(parts) + "\n" + "\nUNION ALL ".join(selects)


SQL_KCENTER_CORESET = _sql_kcenter(6)


def q_semdedup_eps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The SemDeDup threshold sizing sweep at the PRODUCTION grid
    # (Abbas et al. 2023 operate at eps 0.9+): per candidate eps,
    # vectors the cluster-scoped keep-lowest-id rule would drop — fully
    # oracled via the portable coarse quantizer the cluster_profile/
    # prototypicality family proves.  The synthetic corpus's max
    # pairwise cosine is ~0.51, so (r15 verdict item 4) the query
    # PLANTS a deterministic high-cosine band the way
    # multimodal_neardup_recall plants its copies: for every
    # vec_id % 16 == 1 vector v, a copy with coordinate 0 bumped by
    # t·‖v‖ — cos(v, copy) = (1 + t·c0)/sqrt(1 + 2t·c0 + t²) ≈
    # 1/sqrt(1+t²) for near-orthogonal c0 — with t cycling
    # {0.426, 0.2506, 0.1004} (targets ≈0.92 / 0.97 / 0.995), so the
    # 0.90/0.95/0.99/0.999 grid sweeps a non-degenerate staircase
    # (each eps keeps one more planted band).  Copies take
    # vec_id + 10^9, so the lower-id rule keeps every original.  The
    # planting arithmetic is one narrow projection mirrored exactly in
    # the SQL twin (float→double casts, in-order folds).
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select(F.col("vec_id"), v.alias("v"))
    nrm = F.sqrt(
        F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    t = (
        F.when(F.expr("(vec_id div 16) % 3") == 0, F.lit(0.426))
        .when(F.expr("(vec_id div 16) % 3") == 1, F.lit(0.2506))
        .otherwise(F.lit(0.1004))
    )
    planted = base.where(F.col("vec_id") % 16 == 1).select(
        (F.col("vec_id") + F.lit(1000000000)).alias("vec_id"),
        F.concat(
            F.array(F.element_at(F.col("v"), 1) + t * nrm),
            F.slice(F.col("v"), 2, F.size(F.col("v")) - 1),
        ).alias("v"),
    )
    return similarity.semdedup_eps_curve(
        base.unionByName(planted),
        n_centroids=16,
        eps_values=(0.90, 0.95, 0.99, 0.999),
        vec_col="v",
        id_col="vec_id",
    )


# Same portable centroid/assignment construction as
# _SQL_IVF_PORTABLE_CTE, but over the augmented corpus (base ∪ planted
# high-cosine band — the `planted` CTE mirrors the Spark projection
# exactly); the tail builds cluster-scoped lower-id pairs, each
# vector's max cosine, and the eps sweep over one summary row.
SQL_SEMDEDUP_EPS_CURVE = """
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), planted AS (
  SELECT vec_id + 1000000000 AS vec_id,
         list_prepend(
           v[1] + (CASE (vec_id // 16) % 3 WHEN 0 THEN 0.426
                   WHEN 1 THEN 0.2506 ELSE 0.1004 END)
                 * SQRT(list_inner_product(v, v)),
           v[2:]) AS v
  FROM base WHERE vec_id % 16 = 1
), e AS (
  SELECT vec_id, v FROM base UNION ALL SELECT vec_id, v FROM planted
), h AS (
  SELECT vec_id, v,
         CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)
           AS hh
  FROM e
), cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY hh, vec_id) AS INT) AS centroid_id,
         v AS cv
  FROM h
  QUALIFY centroid_id <= 16
), assign_scored AS (
  SELECT a.vec_id AS neighbor_id, a.v, c.centroid_id,
         ROUND(list_inner_product(a.v, c.cv) /
               (SQRT(list_inner_product(a.v, a.v))
                * SQRT(list_inner_product(c.cv, c.cv))), 6) AS sim
  FROM e a CROSS JOIN cents c
), assigned AS (
  SELECT neighbor_id, v, centroid_id AS cluster
  FROM assign_scored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY neighbor_id
                             ORDER BY sim DESC, centroid_id) = 1
), pairs AS (
  SELECT b.neighbor_id AS id_b,
         ROUND(list_inner_product(a.v, b.v) /
               (SQRT(list_inner_product(a.v, a.v))
                * SQRT(list_inner_product(b.v, b.v))), 6) AS cs
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.neighbor_id < b.neighbor_id
), best AS (
  SELECT id_b, MAX(cs) AS mx FROM pairs GROUP BY id_b
), agg AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM assigned) AS n_vecs,
         CAST(COALESCE(SUM(CASE WHEN mx >= 0.9 THEN 1 ELSE 0 END), 0) AS BIGINT) AS d0,
         CAST(COALESCE(SUM(CASE WHEN mx >= 0.95 THEN 1 ELSE 0 END), 0) AS BIGINT) AS d1,
         CAST(COALESCE(SUM(CASE WHEN mx >= 0.99 THEN 1 ELSE 0 END), 0) AS BIGINT) AS d2,
         CAST(COALESCE(SUM(CASE WHEN mx >= 0.999 THEN 1 ELSE 0 END), 0) AS BIGINT) AS d3
  FROM best
)
SELECT v.eps, a.n_vecs, v.nd AS n_dropped,
       a.n_vecs - v.nd AS n_kept,
       v.nd / a.n_vecs AS drop_rate
FROM agg a, LATERAL (
  VALUES (CAST(0.9 AS DOUBLE), a.d0), (CAST(0.95 AS DOUBLE), a.d1),
         (CAST(0.99 AS DOUBLE), a.d2), (CAST(0.999 AS DOUBLE), a.d3)
) v(eps, nd)
ORDER BY v.eps
"""


def q_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Embedding-space decontamination sweep — the paraphrase-robust leg
    # of the decontamination family (the lexical legs: contamination_
    # check / bloom_contamination / minhash_decontam / contamination_
    # ngram_curve).  Benchmark split = vec_id % 16 == 2; train = the
    # rest.  Because the synthetic corpus's natural max pairwise cosine
    # is ~0.51, the query PLANTS paraphrase leaks the way
    # semdedup_eps_curve plants its bands: for every THIRD benchmark
    # vector (vec_id % 48 == 2) a copy with coordinate 0 bumped by
    # 0.2506*||v|| (cos ~ 0.97) joins the TRAIN side under id + 10^9 —
    # so the 0.90/0.95/0.99 sweep shows the staircase (planted leaks
    # caught at 0.90/0.95, excluded at 0.99, natural pairs never).
    # Fully oracled via the shared portable md5 quantizer; the planting
    # arithmetic mirrors the proven semdedup twin exactly.
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select(F.col("vec_id"), v.alias("v"))
    bench = base.where(F.col("vec_id") % 16 == 2)
    nrm = F.sqrt(
        F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    planted = base.where(F.col("vec_id") % 48 == 2).select(
        (F.col("vec_id") + F.lit(1000000000)).alias("vec_id"),
        F.concat(
            F.array(F.element_at(F.col("v"), 1) + F.lit(0.2506) * nrm),
            F.slice(F.col("v"), 2, F.size(F.col("v")) - 1),
        ).alias("v"),
    )
    train = base.where(F.col("vec_id") % 16 != 2).unionByName(planted)
    return similarity.semantic_decontam(
        train,
        bench,
        n_centroids=16,
        eps_values=(0.90, 0.95, 0.99),
        vec_col="v",
        id_col="vec_id",
    )


# Same portable centroid/assignment construction as the semdedup twin,
# seeded over train UNION bench; the tail is the cluster-scoped
# train x bench max-cosine aggregate and the eps sweep.
SQL_SEMANTIC_DECONTAM = """
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), bench AS (
  SELECT vec_id, v FROM base WHERE vec_id % 16 = 2
), planted AS (
  SELECT vec_id + 1000000000 AS vec_id,
         list_prepend(
           v[1] + 0.2506 * SQRT(list_inner_product(v, v)),
           v[2:]) AS v
  FROM base WHERE vec_id % 48 = 2
), train AS (
  SELECT vec_id, v FROM base WHERE vec_id % 16 <> 2
  UNION ALL SELECT vec_id, v FROM planted
), u AS (
  SELECT vec_id, v FROM train UNION ALL SELECT vec_id, v FROM bench
), h AS (
  SELECT vec_id, v,
         CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)
           AS hh
  FROM u
), cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY hh, vec_id) AS INT) AS centroid_id,
         v AS cv
  FROM h
  QUALIFY centroid_id <= 16
), assign_scored AS (
  SELECT a.vec_id, a.v, c.centroid_id,
         ROUND(list_inner_product(a.v, c.cv) /
               (SQRT(list_inner_product(a.v, a.v))
                * SQRT(list_inner_product(c.cv, c.cv))), 6) AS sim
  FROM u a CROSS JOIN cents c
), assigned AS (
  SELECT vec_id, v, centroid_id AS cluster
  FROM assign_scored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, centroid_id) = 1
), ta AS (
  SELECT vec_id AS id_t, v AS vt, cluster FROM assigned
  WHERE vec_id >= 1000000000 OR vec_id % 16 <> 2
), ba AS (
  SELECT vec_id AS id_b, v AS vb, cluster FROM assigned
  WHERE vec_id < 1000000000 AND vec_id % 16 = 2
), best AS (
  SELECT id_t,
         MAX(ROUND(list_inner_product(vt, vb) /
                   (SQRT(list_inner_product(vt, vt))
                    * SQRT(list_inner_product(vb, vb))), 6)) AS mx
  FROM ta JOIN ba USING (cluster)
  GROUP BY id_t
), agg AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ta) AS n_train,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM ba) AS n_bench,
         CAST(COALESCE(SUM(CASE WHEN mx >= 0.9 THEN 1 ELSE 0 END), 0) AS BIGINT) AS d0,
         CAST(COALESCE(SUM(CASE WHEN mx >= 0.95 THEN 1 ELSE 0 END), 0) AS BIGINT) AS d1,
         CAST(COALESCE(SUM(CASE WHEN mx >= 0.99 THEN 1 ELSE 0 END), 0) AS BIGINT) AS d2
  FROM best
)
SELECT s.eps, a.n_train, a.n_bench, s.nc AS n_contaminated,
       s.nc / a.n_train AS contamination_rate
FROM agg a, LATERAL (
  VALUES (CAST(0.9 AS DOUBLE), a.d0), (CAST(0.95 AS DOUBLE), a.d1),
         (CAST(0.99 AS DOUBLE), a.d2)
) s(eps, nc)
ORDER BY s.eps
"""


def q_embed_norm_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-vector normalization-drift histogram: squared-L2 buckets in
    # hundredths from exact micro-unit integer sums — the per-vector
    # complement of embed_dim_stats, read before any cosine operator.
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embed_norm_hist(emb)


SQL_EMBED_NORM_HIST = r"""
WITH s AS (
  SELECT CAST(list_sum(
           list_transform(embedding,
             x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                  * CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
         ) AS BIGINT) AS sq
  FROM embeddings
), b AS (
  SELECT sq // 10000000000 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_vectors,
         MIN(sq) AS min_sq_u,
         MAX(sq) AS max_sq_u
  FROM s GROUP BY 1
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       bucket / 100.0 AS sq_norm_lo,
       n_vectors,
       min_sq_u,
       max_sq_u,
       n_vectors / (SELECT SUM(n_vectors) FROM b) AS share
FROM b
ORDER BY bucket
"""


# ------------------------------------------ MMR diverse top-k selection --


def q_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Maximal Marginal Relevance (Carbonell & Goldstein 1998): diverse
    # top-6 against the vec_id-0 query embedding at the canonical
    # lambda = 0.7; candidates are the rest of the embeddings table.
    from etl_pipeline2_0_spark.functions import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.mmr_select(
        emb.where(F.col("vec_id") != 0),
        emb.where(F.col("vec_id") == 0),
        k=6,
        lam=0.7,
    )


def _sql_mmr(k: int = 6, lam: float = 0.7) -> str:
    # k-step materialized CTE chain (the kcenter-twin pattern).  The
    # (1 - lam) literal is emitted via repr from the SAME Python float
    # the Spark side uses, so e.g. lam=0.7 yields 0.30000000000000004 in
    # BOTH engines — a hand-written 0.3 would silently diverge at 6 dp.
    lam_r, one_m_lam_r = repr(float(lam)), repr(1.0 - float(lam))

    def cos(row: str, cent: str, cv: str = "cv") -> str:
        return (
            f"ROUND(list_inner_product({row}.v, {cent}.{cv})"
            f" / (SQRT(list_inner_product({row}.v, {row}.v))"
            f" * SQRT(list_inner_product({cent}.{cv}, {cent}.{cv}))), 6)"
        )

    score = f"ROUND({lam_r} * rel - {one_m_lam_r} * ms, 6)"
    parts = [
        "WITH e AS MATERIALIZED (SELECT vec_id,"
        " CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "q AS (SELECT v AS cv FROM e WHERE vec_id = 0)",
        "p AS MATERIALIZED (SELECT e.vec_id, e.v,"
        f" {cos('e', 'q')} AS rel"
        " FROM e CROSS JOIN q WHERE e.vec_id <> 0)",
        "c1 AS MATERIALIZED (SELECT vec_id, v AS cv, rel FROM p"
        " QUALIFY ROW_NUMBER() OVER (ORDER BY rel DESC, vec_id) = 1)",
        "d1 AS MATERIALIZED (SELECT p.vec_id, p.v, p.rel,"
        f" {cos('p', 'c1')} AS ms"
        " FROM p CROSS JOIN c1 WHERE p.vec_id <> c1.vec_id)",
    ]
    for j in range(2, k + 1):
        parts.append(
            f"c{j} AS MATERIALIZED (SELECT vec_id, v AS cv, rel,"
            f" {score} AS score FROM d{j - 1}"
            f" QUALIFY ROW_NUMBER() OVER (ORDER BY {score} DESC, vec_id)"
            " = 1)"
        )
        if j < k:
            parts.append(
                f"d{j} AS MATERIALIZED (SELECT d.vec_id, d.v, d.rel,"
                f" GREATEST(d.ms, {cos('d', f'c{j}')}) AS ms"
                f" FROM d{j - 1} d CROSS JOIN c{j}"
                f" WHERE d.vec_id <> c{j}.vec_id)"
            )
    selects = [
        "SELECT CAST(1 AS INT) AS rnk, vec_id, rel AS relevance,"
        f" ROUND({lam_r} * rel, 6) AS score FROM c1"
    ] + [
        f"SELECT CAST({j} AS INT), vec_id, rel, score FROM c{j}"
        for j in range(2, k + 1)
    ]
    return ",\n".join(parts) + "\n" + "\nUNION ALL ".join(selects)


SQL_MMR_SELECT = _sql_mmr(6, 0.7)


# -------------------------------------------- margin-based bitext mining -


def q_bitext_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LASER/CCMatrix margin mining: labels 0-4 play the source language,
    # 5-9 the target; ratio margin over k=4 cross-side neighbors.
    from etl_pipeline2_0_spark.functions import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.bitext_mine(
        emb.where(F.col("label") < 5),
        emb.where(F.col("label") >= 5),
        k=4,
        margin_threshold=1.0,
    )


SQL_BITEXT_MINE = r"""
WITH s AS (
  SELECT vec_id AS src_id, CAST(embedding AS DOUBLE[]) AS sv
  FROM embeddings WHERE label < 5
), t AS (
  SELECT vec_id AS tgt_id, CAST(embedding AS DOUBLE[]) AS tv
  FROM embeddings WHERE label >= 5
), pairs AS MATERIALIZED (
  SELECT src_id, tgt_id,
         ROUND(list_inner_product(sv, tv)
               / (SQRT(list_inner_product(sv, sv))
                  * SQRT(list_inner_product(tv, tv))), 6) AS cos
  FROM s CROSS JOIN t
), ms AS (
  SELECT src_id, AVG(cos) AS m_s FROM (
    SELECT src_id, cos,
           ROW_NUMBER() OVER (PARTITION BY src_id
                              ORDER BY cos DESC, tgt_id ASC) AS rn
    FROM pairs
  ) WHERE rn <= 4 GROUP BY src_id
), mt AS (
  SELECT tgt_id, AVG(cos) AS m_t FROM (
    SELECT tgt_id, cos,
           ROW_NUMBER() OVER (PARTITION BY tgt_id
                              ORDER BY cos DESC, src_id ASC) AS rn
    FROM pairs
  ) WHERE rn <= 4 GROUP BY tgt_id
), cand AS (
  SELECT src_id, tgt_id, cos FROM (
    SELECT src_id, tgt_id, cos,
           ROW_NUMBER() OVER (PARTITION BY src_id
                              ORDER BY cos DESC, tgt_id ASC) AS rn
    FROM pairs
  ) WHERE rn = 1
)
SELECT c.src_id, c.tgt_id, c.cos AS cosine_sim,
       ROUND(c.cos / ((ms.m_s + mt.m_t) / 2.0), 6) AS margin
FROM cand c JOIN ms USING (src_id) JOIN mt USING (tgt_id)
WHERE ROUND(c.cos / ((ms.m_s + mt.m_t) / 2.0), 6) >= 1.0
"""


def q_bitext_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Mined-pair recall of the IVF-fed bitext path (the 100 TB
    # configuration: cluster-scoped candidate equi-joins, never the
    # cross product) vs the exact all-pairs path — the ann_recall
    # template applied to mining; fully oracled because the IVF side
    # uses the md5-portable coarse quantizer.
    from etl_pipeline2_0_spark.functions import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.bitext_mine_recall(
        emb.where(F.col("label") < 5),
        emb.where(F.col("label") >= 5),
        k=4,
        margin_threshold=1.0,
        n_centroids=16,
        n_probe=4,
    )


SQL_BITEXT_RECALL = r"""
WITH s AS (
  SELECT vec_id AS src_id, CAST(embedding AS DOUBLE[]) AS sv
  FROM embeddings WHERE label < 5
), t AS (
  SELECT vec_id AS tgt_id, CAST(embedding AS DOUBLE[]) AS tv
  FROM embeddings WHERE label >= 5
), pairs AS MATERIALIZED (
  SELECT src_id, tgt_id,
         ROUND(list_inner_product(sv, tv)
               / (SQRT(list_inner_product(sv, sv))
                  * SQRT(list_inner_product(tv, tv))), 6) AS cos
  FROM s CROSS JOIN t
), ms AS (
  SELECT src_id, AVG(cos) AS m_s FROM (
    SELECT src_id, cos,
           ROW_NUMBER() OVER (PARTITION BY src_id
                              ORDER BY cos DESC, tgt_id ASC) AS rn
    FROM pairs
  ) WHERE rn <= 4 GROUP BY src_id
), mt AS (
  SELECT tgt_id, AVG(cos) AS m_t FROM (
    SELECT tgt_id, cos,
           ROW_NUMBER() OVER (PARTITION BY tgt_id
                              ORDER BY cos DESC, src_id ASC) AS rn
    FROM pairs
  ) WHERE rn <= 4 GROUP BY tgt_id
), cand AS (
  SELECT src_id, tgt_id, cos FROM (
    SELECT src_id, tgt_id, cos,
           ROW_NUMBER() OVER (PARTITION BY src_id
                              ORDER BY cos DESC, tgt_id ASC) AS rn
    FROM pairs
  ) WHERE rn = 1
), exact_mined AS MATERIALIZED (
  SELECT c.src_id, c.tgt_id
  FROM cand c JOIN ms USING (src_id) JOIN mt USING (tgt_id)
  WHERE ROUND(c.cos / ((ms.m_s + mt.m_t) / 2.0), 6) >= 1.0
), cents AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY hh, tgt_id) AS INT)
           AS centroid_id,
         tv AS cv
  FROM (
    SELECT tgt_id, tv,
           CAST('0x' || substring(md5(CAST(tgt_id AS VARCHAR)), 1, 15)
                AS BIGINT) AS hh
    FROM t
  )
  QUALIFY centroid_id <= 16
), s_probe AS MATERIALIZED (
  SELECT src_id, sv, centroid_id AS cluster FROM (
    SELECT s.src_id, s.sv, c.centroid_id,
           ROUND(list_inner_product(s.sv, c.cv) /
                 (SQRT(list_inner_product(s.sv, s.sv))
                  * SQRT(list_inner_product(c.cv, c.cv))), 6) AS sim
    FROM s CROSS JOIN cents c
  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY src_id
                               ORDER BY sim DESC, centroid_id) <= 4
), s_home AS MATERIALIZED (
  SELECT src_id, sv, centroid_id AS cluster FROM (
    SELECT s.src_id, s.sv, c.centroid_id,
           ROUND(list_inner_product(s.sv, c.cv) /
                 (SQRT(list_inner_product(s.sv, s.sv))
                  * SQRT(list_inner_product(c.cv, c.cv))), 6) AS sim
    FROM s CROSS JOIN cents c
  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY src_id
                               ORDER BY sim DESC, centroid_id) = 1
), t_probe AS MATERIALIZED (
  SELECT tgt_id, tv, centroid_id AS cluster FROM (
    SELECT t.tgt_id, t.tv, c.centroid_id,
           ROUND(list_inner_product(t.tv, c.cv) /
                 (SQRT(list_inner_product(t.tv, t.tv))
                  * SQRT(list_inner_product(c.cv, c.cv))), 6) AS sim
    FROM t CROSS JOIN cents c
  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY tgt_id
                               ORDER BY sim DESC, centroid_id) <= 4
), t_home AS MATERIALIZED (
  SELECT tgt_id, tv, centroid_id AS cluster FROM (
    SELECT t.tgt_id, t.tv, c.centroid_id,
           ROUND(list_inner_product(t.tv, c.cv) /
                 (SQRT(list_inner_product(t.tv, t.tv))
                  * SQRT(list_inner_product(c.cv, c.cv))), 6) AS sim
    FROM t CROSS JOIN cents c
  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY tgt_id
                               ORDER BY sim DESC, centroid_id) = 1
), annpairs AS MATERIALIZED (
  SELECT DISTINCT src_id, tgt_id, cos FROM (
    SELECT p.src_id, h.tgt_id,
           ROUND(list_inner_product(p.sv, h.tv) /
                 (SQRT(list_inner_product(p.sv, p.sv))
                  * SQRT(list_inner_product(h.tv, h.tv))), 6) AS cos
    FROM s_probe p JOIN t_home h USING (cluster)
    UNION ALL
    SELECT h.src_id, p.tgt_id,
           ROUND(list_inner_product(h.sv, p.tv) /
                 (SQRT(list_inner_product(h.sv, h.sv))
                  * SQRT(list_inner_product(p.tv, p.tv))), 6) AS cos
    FROM s_home h JOIN t_probe p USING (cluster)
  )
), ams AS (
  SELECT src_id, AVG(cos) AS m_s FROM (
    SELECT src_id, cos,
           ROW_NUMBER() OVER (PARTITION BY src_id
                              ORDER BY cos DESC, tgt_id ASC) AS rn
    FROM annpairs
  ) WHERE rn <= 4 GROUP BY src_id
), amt AS (
  SELECT tgt_id, AVG(cos) AS m_t FROM (
    SELECT tgt_id, cos,
           ROW_NUMBER() OVER (PARTITION BY tgt_id
                              ORDER BY cos DESC, src_id ASC) AS rn
    FROM annpairs
  ) WHERE rn <= 4 GROUP BY tgt_id
), acand AS (
  SELECT src_id, tgt_id, cos FROM (
    SELECT src_id, tgt_id, cos,
           ROW_NUMBER() OVER (PARTITION BY src_id
                              ORDER BY cos DESC, tgt_id ASC) AS rn
    FROM annpairs
  ) WHERE rn = 1
), ann_mined AS MATERIALIZED (
  SELECT c.src_id, c.tgt_id
  FROM acand c JOIN ams USING (src_id) JOIN amt USING (tgt_id)
  WHERE ROUND(c.cos / ((ams.m_s + amt.m_t) / 2.0), 6) >= 1.0
), counts AS (
  SELECT
    (SELECT COUNT(*) FROM exact_mined) AS n_exact,
    (SELECT COUNT(*) FROM ann_mined) AS n_ann,
    (SELECT COUNT(*) FROM exact_mined e JOIN ann_mined a
       ON e.src_id = a.src_id AND e.tgt_id = a.tgt_id) AS n_common
)
SELECT CAST(n_exact AS BIGINT) AS n_exact,
       CAST(n_ann AS BIGINT) AS n_ann,
       CAST(n_common AS BIGINT) AS n_common,
       ROUND(CASE WHEN n_exact = 0 THEN 1.0
                  ELSE n_common * 1.0 / n_exact END, 6) AS recall
FROM counts
"""


# ---------------------------------------- int8 embedding quantization ----


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Symmetric per-vector int8 quantization with exact reconstruction
    # error — the 4x storage cut a billion-vector store takes.  The code
    # array serializes to a canonical CSV string for the cross-engine
    # value hash (the tokenize_ids convention).
    from etl_pipeline2_0_spark.functions import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.embed_quantize(emb)
    return out.select(
        "id",
        "dim",
        "scale",
        F.concat_ws(
            ",", F.transform(F.col("codes"), lambda x: x.cast("string"))
        ).alias("codes"),
        "rel_err",
    )


SQL_EMBED_QUANTIZE = r"""
WITH e AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), s AS (
  SELECT id, v, len(v) AS dim,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM e
), q AS (
  SELECT id, v, dim, scale,
         CASE WHEN scale = 0
              THEN list_transform(v, x -> 0)
              ELSE list_transform(v, x -> CAST(ROUND(x / scale) AS INT))
         END AS codes
  FROM s
), err AS (
  SELECT id, dim, scale, codes,
    list_sum(list_transform(list_zip(v, codes),
             p -> (p[1] - p[2] * scale) * (p[1] - p[2] * scale))) AS num,
    list_sum(list_transform(v, x -> x * x)) AS den
  FROM q
)
SELECT id, CAST(dim AS INT) AS dim, scale,
       array_to_string(codes, ',') AS codes,
       ROUND(CASE WHEN den = 0 THEN 0.0 ELSE SQRT(num) / SQRT(den) END, 6)
         AS rel_err
FROM err
"""


# ---------------------------------------------------------- ANN hubness ----


def q_ann_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    # k-occurrence hubness audit (Radovanović et al. 2010) of the
    # portable IVF index: every other vector queries the full corpus;
    # the top-10 hub vectors and the antihub dead-zone fraction are the
    # index-health numbers a retrieval pipeline checks before mining.
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ann_hubness(
        emb, emb.where(F.col("vec_id") % 2 == 0), k=5,
        n_centroids=16, n_probe=4, top_hubs=10,
    )


SQL_ANN_HUBNESS = _SQL_IVF_PORTABLE_CTE.replace(
    "WHERE vec_id < 8", "WHERE vec_id % 2 = 0"
) + """
, occ AS (
  SELECT neighbor_id, COUNT(*) AS n_occ FROM ivf_topk GROUP BY neighbor_id
), tot AS (
  SELECT COUNT(*) AS n_lists, COUNT(DISTINCT neighbor_id) AS n_hit
  FROM ivf_topk
), db AS (
  SELECT COUNT(*) AS n_db FROM e
), hubs AS (
  SELECT neighbor_id, n_occ,
         ROW_NUMBER() OVER (ORDER BY n_occ DESC, neighbor_id) AS rnk
  FROM occ
)
SELECT neighbor_id AS vec_id, CAST(n_occ AS BIGINT) AS n_occ,
       ROUND(n_occ * 1.0 / n_lists, 6) AS occ_share,
       CAST(n_lists AS BIGINT) AS n_lists,
       ROUND((n_db - n_hit) * 1.0 / n_db, 6) AS antihub_frac,
       CAST(rnk AS INT) AS rnk
FROM hubs CROSS JOIN tot CROSS JOIN db
WHERE rnk <= 10
"""
assert "vec_id % 2 = 0" in SQL_ANN_HUBNESS


# ------------------------------------------------------ cluster profile ----


def q_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Embedding-space composition (the SemDeDup/DCLM cluster analysis):
    # every vector assigned to its nearest portable centroid; per
    # cluster, corpus share + label makeup — the dominance table a
    # rebalance/dedup decision reads first.
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cluster_profile(emb, n_centroids=16)


# Reuse the portable-IVF centroid/assignment CTEs verbatim; the tail
# rolls labels up per cluster instead of probing queries.
SQL_CLUSTER_PROFILE = _SQL_IVF_PORTABLE_CTE.split("), q AS (")[0] + """), lab AS (
  SELECT a.neighbor_id, a.cluster, b.label
  FROM assigned a JOIN embeddings b ON a.neighbor_id = b.vec_id
), counts AS (
  SELECT cluster, label, COUNT(*) AS cnt FROM lab GROUP BY cluster, label
), per AS (
  SELECT cluster, SUM(cnt) AS n_vecs, COUNT(*) AS n_labels
  FROM counts GROUP BY cluster
), top AS (
  SELECT cluster, label AS top_label, cnt AS top_cnt,
         ROW_NUMBER() OVER (PARTITION BY cluster
                            ORDER BY cnt DESC, label ASC) AS rn
  FROM counts
), tot AS (
  SELECT COUNT(*) AS n_total FROM e
)
SELECT per.cluster AS cluster_id, CAST(n_vecs AS BIGINT) AS n_vecs,
       ROUND(n_vecs * 1.0 / n_total, 6) AS share,
       CAST(top_label AS INT) AS top_label,
       ROUND(top_cnt * 1.0 / n_vecs, 6) AS top_label_share,
       CAST(n_labels AS BIGINT) AS n_labels
FROM per JOIN top ON per.cluster = top.cluster CROSS JOIN tot
WHERE top.rn = 1
"""
assert "assigned AS (" in SQL_CLUSTER_PROFILE


# -------------------------------------------------- contrastive triplets ----


def q_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hard-triplet mining (anchor / nearest same-label positive / hardest
    # different-label negative) over the portable-IVF candidate set —
    # the training-pair construction an embedding-model pipeline runs
    # after clustering; fully oracled via the md5-portable coarse
    # quantizer.  Anchors = every 8th vector.
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.contrastive_triplets(
        emb, emb.where(F.col("vec_id") % 8 == 0), n_centroids=16, n_probe=4
    )


SQL_CONTRASTIVE_TRIPLETS = _SQL_IVF_PORTABLE_CTE.replace(
    "WHERE vec_id < 8", "WHERE vec_id % 8 = 0"
) + """
, lab AS (SELECT vec_id, label FROM embeddings)
, cand AS (
  SELECT p.query_id, ql.label AS q_label, a.neighbor_id, nl.label AS n_label,
         ROUND(list_inner_product(p.qv, a.v) /
               (SQRT(list_inner_product(p.qv, p.qv))
                * SQRT(list_inner_product(a.v, a.v))), 6) AS sim
  FROM probes p JOIN assigned a USING (cluster)
  JOIN lab ql ON ql.vec_id = p.query_id
  JOIN lab nl ON nl.vec_id = a.neighbor_id
  WHERE a.neighbor_id <> p.query_id
), pos AS (
  SELECT query_id, q_label, neighbor_id AS positive_id, sim AS pos_sim
  FROM cand WHERE n_label = q_label
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY sim DESC, neighbor_id) = 1
), neg AS (
  SELECT query_id, neighbor_id AS negative_id, sim AS neg_sim
  FROM cand WHERE n_label <> q_label
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY sim DESC, neighbor_id) = 1
)
SELECT p.query_id AS anchor_id, CAST(p.q_label AS INT) AS anchor_label,
       p.positive_id, p.pos_sim, n.negative_id, n.neg_sim,
       ROUND(p.pos_sim - n.neg_sim, 6) AS margin
FROM pos p JOIN neg n USING (query_id)
"""
assert "vec_id % 8 = 0" in SQL_CONTRASTIVE_TRIPLETS


# ------------------------------------------------------- embed dim stats ----


def q_embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-dimension embedding diagnostics (dead/dominant coordinate
    # table read before quantization/whitening): exact micro-unit sums,
    # decimal-exact variance numerators, every double a fixed op
    # sequence — no rounding, no tolerance.
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embed_dim_stats(emb)


SQL_EMBED_DIM_STATS = r"""
WITH e AS (
  SELECT unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS d1
  FROM embeddings
), u AS (
  SELECT d1 - 1 AS dim,
         CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) AS u
  FROM e
), s AS (
  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n, SUM(u) AS su,
         SUM(u * u) AS sq
  FROM u GROUP BY dim
), sd AS (
  -- fixed-order double arithmetic, mirrored in the Spark side: IEEE
  -- multiply/subtract over exact integer inputs is correctly rounded in
  -- every engine, unlike >2^53 big-integer -> double conversions
  SELECT dim, n, su,
         CAST(n AS DOUBLE) * CAST(sq AS DOUBLE)
           - CAST(su AS DOUBLE) * CAST(su AS DOUBLE) AS num
  FROM s
), tot AS (
  -- canonical value-sorted left fold (the Spark side reduces the same
  -- sorted list) -- a plain SUM would be accumulation-order-dependent
  SELECT list_reduce(list_sort(list(num)), (a, b) -> a + b) AS tot FROM sd
)
SELECT CAST(dim AS INT) AS dim,
       n AS n_vectors,
       (su * 1.0 / n) / 1000000.0 AS mean,
       num / (n * n) / 1000000000000.0 AS variance,
       num / tot AS var_share
FROM sd CROSS JOIN tot
"""


# -------------------------------------------------------- PCA power top ----


def q_embed_pca_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Top principal direction by exact-integer power iteration (6 steps,
    # the kcenter bounded-loop discipline): anisotropy report — unit
    # loadings + the iterate's Rayleigh quotient and its share of total
    # variance.  Fully oracled: no float enters the loop on either
    # engine.
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embed_pca_top(emb, dims=64, n_iter=6)


def _sql_pca_top(n_iter: int = 6, dims: int = 64) -> str:
    # Unrolled MATERIALIZED iteration CTEs (the kcenter/BPE twin
    # pattern); every loop quantity is exact-integer, mirroring
    # similarity.embed_pca_top step for step.
    parts = [
        "WITH e AS MATERIALIZED (SELECT"
        " list_transform(CAST(embedding AS DOUBLE[]),"
        " x -> CAST(ROUND(x * 100000.0) AS BIGINT)) AS q FROM embeddings)",
        f"p0 AS (SELECT list_transform(range(1, {dims + 1}),"
        " i -> CAST(1000 AS BIGINT)) AS p)",
    ]
    for j in range(1, n_iter + 1):
        parts.append(
            f"d{j} AS MATERIALIZED (SELECT q,"
            f" CAST(list_inner_product(q, (SELECT p FROM p{j - 1}))"
            " AS BIGINT) AS d FROM e)"
        )
        parts.append(
            f"w{j} AS MATERIALIZED (SELECT dim - 1 AS dim, SUM(u * d) AS w"
            " FROM (SELECT d, unnest(q) AS u,"
            f" generate_subscripts(q, 1) AS dim FROM d{j}) GROUP BY 1)"
        )
        parts.append(
            f"g{j} AS (SELECT GREATEST(MAX(abs(w)) // 1000, 1) AS g"
            f" FROM w{j})"
        )
        parts.append(
            f"p{j} AS (SELECT list(CAST(CASE WHEN w < 0"
            " THEN -(abs(w) // g) ELSE abs(w) // g END AS BIGINT)"
            f" ORDER BY dim) AS p FROM w{j} CROSS JOIN g{j})"
        )
    parts.append(
        "dF AS MATERIALIZED (SELECT"
        f" CAST(list_inner_product(q, (SELECT p FROM p{n_iter}))"
        " AS BIGINT) AS d FROM e)"
    )
    parts.append(
        "ray AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,"
        " SUM(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS d2,"
        " SUM(d) AS d1 FROM dF)"
    )
    parts.append(
        "pp AS (SELECT GREATEST(CAST(list_inner_product("
        f"(SELECT p FROM p{n_iter}), (SELECT p FROM p{n_iter}))"
        " AS BIGINT), 1) AS pp)"
    )
    parts.append(
        "s AS (SELECT dim - 1 AS dim, CAST(COUNT(*) AS BIGINT) AS n,"
        " SUM(u) AS su, SUM(u * u) AS sq FROM"
        " (SELECT unnest(q) AS u, generate_subscripts(q, 1) AS dim FROM e)"
        " GROUP BY 1)"
    )
    parts.append(
        "tv AS (SELECT list_reduce(list_sort(list("
        " CAST(n AS DOUBLE) * CAST(sq AS DOUBLE)"
        " - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))), (a, b) -> a + b)"
        " AS tot FROM s)"
    )
    tail = f"""
SELECT CAST(pf.dim - 1 AS INT) AS dim,
       pf.pv / SQRT(CAST(pp.pp AS DOUBLE)) AS loading,
       ROUND((d2 * 1.0 / n - (d1 * 1.0 / n) * (d1 * 1.0 / n))
             / pp.pp / 10000000000.0, 6) AS eigenvalue,
       ROUND(((d2 * 1.0 / n - (d1 * 1.0 / n) * (d1 * 1.0 / n)) / pp.pp)
             / (tot / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6)
         AS var_share_top
FROM (SELECT unnest(p) AS pv, generate_subscripts(p, 1) AS dim
      FROM p{n_iter}) pf
CROSS JOIN ray CROSS JOIN pp CROSS JOIN tv
"""
    return ",\n".join(parts) + tail


SQL_EMBED_PCA_TOP = _sql_pca_top(6, 64)


# ---------------------------------------------- cluster-balanced sample ----


def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DCLM-style cluster-balanced subsample: nearest portable centroid,
    # then a deterministic md5-order quota per cluster — the rebalance
    # acted on cluster_profile's dominance table.
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cluster_balanced_sample(emb, per_cluster=8, n_centroids=16)


# Reuse the portable-IVF centroid/assignment CTEs; the tail ranks each
# cluster's members by the md5-hex15 draw and keeps the quota.
SQL_CLUSTER_BALANCED_SAMPLE = _SQL_IVF_PORTABLE_CTE.split("), q AS (")[0] + """)
SELECT neighbor_id AS vec_id, CAST(cluster AS INT) AS cluster,
       CAST(ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY
         CAST('0x' || substring(md5(CAST(neighbor_id AS VARCHAR)), 1, 15)
              AS BIGINT), neighbor_id) AS INT) AS rnk
FROM assigned
QUALIFY rnk <= 8
"""


def q_matryoshka_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Truncation-dimension sizing curve (Kusupati et al. 2022): cosine
    # fidelity of the first-d prefix vs the full 64-dim embedding at
    # d ∈ {8,16,32,64}, on the deterministic stride-{1,7,31} pair
    # sample — the read-off table for shrinking the store by prefixes.
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.matryoshka_curve(
        emb, dims=(8, 16, 32, 64), strides=(1, 7, 31)
    )


SQL_MATRYOSHKA_CURVE = r"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s(stride) AS (VALUES (1), (7), (31)),
pairs AS (
  SELECT a.vec_id AS aid, s.stride, a.v AS av, b.v AS bv
  FROM e a CROSS JOIN s JOIN e b ON b.vec_id = a.vec_id + s.stride
), d(dim) AS (VALUES (8), (16), (32), (64)),
longt AS (
  SELECT aid, stride, dim,
    CASE WHEN SQRT(list_inner_product(av[1:dim], av[1:dim])) > 0
          AND SQRT(list_inner_product(bv[1:dim], bv[1:dim])) > 0
      THEN list_inner_product(av[1:dim], bv[1:dim])
           / (SQRT(list_inner_product(av[1:dim], av[1:dim]))
              * SQRT(list_inner_product(bv[1:dim], bv[1:dim])))
      ELSE 0.0 END AS cos_d,
    CASE WHEN SQRT(list_inner_product(av[1:64], av[1:64])) > 0
          AND SQRT(list_inner_product(bv[1:64], bv[1:64])) > 0
      THEN list_inner_product(av[1:64], bv[1:64])
           / (SQRT(list_inner_product(av[1:64], av[1:64]))
              * SQRT(list_inner_product(bv[1:64], bv[1:64])))
      ELSE 0.0 END AS cos_f
  FROM pairs CROSS JOIN d
), err AS (
  SELECT dim,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(em) AS BIGINT) AS sum_abs_err_micro,
         CAST(MAX(em) AS BIGINT) AS max_abs_err_micro,
         CAST(SUM(CASE WHEN em <= 50000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_within_eps
  FROM (SELECT dim,
               CAST(ROUND(ABS(cos_d - cos_f) * 1000000.0) AS BIGINT) AS em
        FROM longt)
  GROUP BY dim
), best_d AS (
  SELECT aid, dim, stride AS best_stride
  FROM (SELECT aid, dim, stride,
               ROW_NUMBER() OVER (PARTITION BY aid, dim
                                  ORDER BY cos_d DESC, stride) AS r
        FROM longt)
  WHERE r = 1
), best_f AS (
  SELECT aid, stride AS full_stride
  FROM (SELECT aid, stride,
               ROW_NUMBER() OVER (PARTITION BY aid
                                  ORDER BY cos_f DESC, stride) AS r
        FROM longt WHERE dim = 64)
  WHERE r = 1
), agree AS (
  SELECT dim,
         CAST(COUNT(*) AS BIGINT) AS n_anchors,
         CAST(SUM(CASE WHEN best_stride = full_stride THEN 1 ELSE 0 END)
              AS BIGINT) AS n_top1_agree
  FROM best_d JOIN best_f USING (aid)
  GROUP BY dim
)
SELECT CAST(err.dim AS INT) AS dim,
       n_pairs, sum_abs_err_micro, max_abs_err_micro,
       ROUND(sum_abs_err_micro / 1000000.0 / n_pairs, 6) AS mean_abs_err,
       n_within_eps,
       ROUND(n_within_eps * 1.0 / n_pairs, 6) AS frac_within_eps,
       n_anchors, n_top1_agree,
       ROUND(n_top1_agree * 1.0 / n_anchors, 6) AS top1_agree_rate
FROM err JOIN agree ON err.dim = agree.dim
ORDER BY dim
"""


def q_label_noise_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Confident-learning count matrix over the embeddings table's label
    # column: given label x 5-NN majority label on the vec_id % 8 == 0
    # query sample (the estimator form; leave-one-out votes).  % 8 keeps
    # ~6 queries/class at the driver's sf0.01 gate while holding the
    # bench row to ~250 exact-vote queries at sf0.1 — the exact vote IS
    # the estimator here; the corpus-scale path swaps in the IVF probe
    # via the topk hook (see label_noise_matrix's docstring).
    emb = load_table(spark, sf_dir, "embeddings")
    # topk = the blocked-matmul exact scorer (r17 optimization): this
    # row's ~250-query × corpus pair volume is exactly where the
    # vectorized path wins (5.4 s → 1.3 s at sf0.1); output identical.
    return similarity.label_noise_matrix(
        emb, emb.where(F.col("vec_id") % 8 == 0), k=5,
        topk=similarity.cosine_topk_blocked,
    )


SQL_LABEL_NOISE_MATRIX = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv,
             CAST(label AS BIGINT) AS given_label
      FROM e WHERE vec_id % 8 = 0),
scored AS (
  SELECT query_id, a.vec_id AS neighbor_id, a.label AS nbr_label,
    ROUND(list_inner_product(qv, a.v) /
      (SQRT(list_inner_product(qv, qv)) * SQRT(list_inner_product(a.v, a.v))), 6)
      AS cosine_sim
  FROM e a CROSS JOIN q WHERE a.vec_id <> query_id
), topk AS (
  SELECT query_id, nbr_label
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cosine_sim DESC, neighbor_id) AS rnk
        FROM scored)
  WHERE rnk <= 5
), votes AS (
  SELECT query_id, nbr_label, COUNT(*) AS votes
  FROM topk GROUP BY query_id, nbr_label
), pred AS (
  SELECT query_id, CAST(nbr_label AS BIGINT) AS pred_label
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY votes DESC, nbr_label ASC NULLS LAST) AS r
        FROM votes)
  WHERE r = 1
), mat AS (
  SELECT q.given_label, p.pred_label,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM pred p JOIN q ON p.query_id = q.query_id
  GROUP BY q.given_label, p.pred_label
), totals AS (
  SELECT given_label, CAST(SUM(n) AS BIGINT) AS n_given
  FROM mat GROUP BY given_label
)
SELECT m.given_label, m.pred_label, m.n, t.n_given,
       ROUND(m.n * 1.0 / t.n_given, 6) AS rate,
       (m.given_label <> m.pred_label) AS is_offdiag
FROM mat m JOIN totals t USING (given_label)
ORDER BY m.given_label, m.pred_label
"""
