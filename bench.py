"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>}

Each query is executed to completion (count() action) after a shared warm-up
so JVM/session startup is not billed to any query.  Per-query wall time is
the end-to-end job time including scan, shuffle, and action.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_pipeline2_0_spark.plans.registry import ALL_QUERIES
from etl_pipeline2_0_spark.session import get_spark
from etl_pipeline2_0_spark.sources.tables import TABLES, load_table
from etl_pipeline2_0_spark.streaming.windows import DEFAULT_STATE_PARTITIONS

# Headline set: the flagship scan-agg, the join pyramid, windows/sessionize,
# and one of each scale-extension family (dedup, similarity, text, pipeline).
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue",
    "q5_region_revenue",
    "q6_revenue_forecast",
    "q10_returned_customers",
    "brand_pricing",
    "rollup_sales",
    "running_total",
    "sessionize",
    "topk_per_group",
    "semi_join",
    "pivot_events",
    "asof_join",
    "range_join",
    "scd2_intervals",
    "funnel_stages",
    "cohort_retention",
    "dedup_exact",
    "dedup_incremental",
    "dedup_spans",
    "dedup_spans_intra",
    "filter_audit",
    "ngram_jaccard",
    "dup_components",
    "tfidf_top_terms",
    "media_decode",
    "media_frames",
    "media_features",
    "minhash_pairs",
    "simhash_pairs",
    "winnow_overlap",
    "contamination_check",
    "embed_neardup",
    "ann_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_recall",
    "knn_label_vote",
    "lang_id_counts",
    "mix_sources",
    "pack_sequences",
    "shuffle_shards",
    "text_features",
    "bpe_token_estimate",
    "extract_doc_stats",
    "vocab_oov",
    "quantile_filter",
    "lm_score",
    "semantic_dedup",
    "tokenize_ids",
    "dedup_rate_report",
    "curriculum_buckets",
    "image_phash_neardup",
    "audio_fp_neardup",
    "video_phash_neardup",
    "multimodal_neardup_recall",
    "chunk_documents",
    "bm25_topk",
    "retrieval_ndcg",
    "snapshot_diff",
    "similar_docs_rrf",
    "rrf_ndcg",
    "assign_splits",
    "text_clean",
    "ann_ivf_recall",
    "minhash_pairs_portable",
    "max_concurrency",
    "corpus_drift_psi",
    "value_outliers",
    "lm_score_heldout",
    "profile_columns",
    "minhash_recall",
    "dup_cluster_stats",
    "knn_accuracy",
    "simhash_pairs_portable",
    "assign_splits_grouped",
    "pack_texts",
    "interleave_key",
    "doc_novelty",
    "fk_integrity",
    "tfidf_cosine_pairs",
    "ann_ivf_topk_portable",
    "ann_ivf_recall_portable",
    "bpe_train_merges",
    "bpe_segment_words",
    "phrase_match",
    "temperature_mix_weights",
    "dedup_keep_best",
    "bpe_encode_docs",
    "embedding_drift_psi",
    "tokenizer_fertility",
    "dsir_weights",
    "dsir_sample",
    "gopher_rules",
    "ann_pq_topk",
    "ann_pq_recall",
    "cms_heavy_hitters",
    "bloom_contamination",
    "split_leakage",
    "gopher_audit",
    "ccnet_buckets",
    "dedup_substrings",
    "dedup_lines",
    "quality_classifier",
    "doremi_weights",
    "c4_rules",
    "zipf_stats",
    "pack_efficiency",
    "heaps_growth",
    "gopher_repetition",
    "unimax_alloc",
    "entropy_stats",
    "langid_confusion",
    "data_budget_plan",
    "quota_sample",
    "prototypicality",
    "domain_concentration",
    "edit_neardup",
    "hist_quantiles",
    "kcenter_coreset",
    "retrieval_pairs",
    "minhash_precision",
    "minhash_band_efficiency",
    "kn_score",
    "langid_rank",
    "mmr_select",
    "minhash_decontam",
    "domain_quality_rollup",
    "threshold_sweep",
    "span_corrupt",
    "ul2_mix",
    "unigram_train",
    "unigram_segment_words",
    "unigram_fertility",
    "unigram_encode_docs",
    "tokenizer_compare",
    "tokenizer_compare_eqv",
    "moore_lewis",
    "dataset_card",
    "sft_pack",
    "fim_transform",
    "sentence_chunk",
    "chat_assemble",
    "chat_pack",
    "crop_pairs",
    "bitext_mine",
    "bitext_recall",
    "embed_quantize",
    "soft_dedup",
    "dpo_pairs",
    "grpo_advantage",
    "kanon_audit",
    "cdc_dedup_curve",
    "contrastive_triplets",
    "embed_dim_stats",
    "embed_pca_top",
    "cluster_balanced_sample",
    "rouge_screen",
    "chat_lint",
    "contamination_ngram_curve",
    "ann_hubness",
    "best_of_n",
    "cluster_profile",
    "simhash_recall",
    "winnow_recall",
    "dedup_manifest",
    "jaccard_histogram",
    "corpus_overlap",
    "epoch_decay_curve",
    "bloom_fpr_curve",
    "cms_error_curve",
    "lsh_geometry_sweep",
    "shingle_df_histogram",
    "minhash_est_error",
    "filter_ablation",
    "embed_norm_hist",
    "semdedup_eps_curve",
    "anneal_mix_plan",
    "best_of_n_curve",
    "vocab_oov_curve",
    "bpe_fertility_curve",
    "pack_waste_curve",
    "blocklist_screen",
    "priority_sample",
    "rho_loss_select",
    "heavy_hitter_phrases",
    "cross_source_dedup_matrix",
    "priority_sample_curve",
    "matryoshka_curve",
    "boilerplate_strip",
    "rm3_expansion",
    "bm25_rm3_topk",
    "label_noise_matrix",
    "ql_dirichlet_topk",
    "temperature_mix_curve",
    "quality_length_bias",
    "retrieval_ndcg_rm3",
    "semantic_decontam",
    "ldiversity_audit",
    # r17 (optimization round): bench rows ADDED for the six operators
    # that landed after the mid-build 207-key record (staging notes
    # b5bc/f53a) — entries only added, never removed or renamed.
    "ann_probe_recall_curve",
    "needle_insert",
    "decontam_report",
    "quality_calibration",
    "t_closeness_audit",
    "distinct_ngrams",
    "doc_pipeline_sf01",
    "llm_pipeline_sf01",
    "examples_pipeline_sf01",
    "decontam_pipeline_sf01",
    "preference_pipeline_sf01",
    "stream_sessionize_sf01",
    "stream_join_sf01",
    "stream_enrich_sf01",
]


def _doc_pipeline(spark, sf_dir):
    """The reference's headline capability — mixed-document detect →
    extract → normalize — over the WHOLE bench-SF documents corpus (the
    flagship ``entry()`` runs the same plan at sf0.001; this row tracks
    its perf at bench scale alongside the relational suite)."""
    from pyspark.sql import functions as F

    from etl_pipeline2_0_spark.pipeline import count_by_type
    from etl_pipeline2_0_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("text").alias("content"),
    )
    return count_by_type(spark, docs)


def _llm_pipeline(spark, sf_dir):
    """The composed LLM-curation chain as ONE tracked bench row (r10
    verdict item 5): Gopher rule gate → CCNet head tercile → MinHash
    near-dup dedup → DSIR importance resample → split assignment →
    sequence packing.  Each stage is individually benched and oracled;
    this row makes regressions in stage COMPOSITION visible (exchange
    reuse, barrier placement).  The Gopher gate runs with a relaxed
    stopword floor because the synthetic corpus's vocabulary contains
    almost none of the English probe words (the published thresholds
    would keep 0 docs and make every later stage vacuous); the
    composition contract is pinned by a row-count golden in
    tests/test_scale_ops.py."""
    from pyspark.sql import functions as F

    from etl_pipeline2_0_spark.functions import dedup, mixing, text

    docs = load_table(spark, sf_dir, "documents")
    keep = (
        text.gopher_quality_flags(docs, min_stopword_hits=0, min_words=30)
        .where("keep")
        .select("doc_id")
    )
    # Stage barriers: each intermediate below is consumed by 2-3
    # downstream branches (scored+langs+semi; pairs+anti; target+sample+
    # sel).  Without a barrier the lazy DAG re-executes the whole
    # upstream chain per consumer — multiplicatively through the
    # diamond stack (measured 20.6 s → the barrier'd number at sf0.1).
    # At 100 TB these are the stage checkpoints a real curation run
    # writes between phases anyway.
    kept = docs.join(keep, "doc_id", "semi").localCheckpoint(eager=False)
    scored = text.char_bigram_lm_scores(kept, "text", "doc_id", prefix_len=200)
    langs = kept.select("doc_id", text.lang_id(F.col("text")).alias("lang"))
    j = scored.join(langs, "doc_id")
    # Head tercile = top THIRD by avg_logp (q_ccnet_buckets semantics:
    # head is >= the 2/3 percentile) — advisor-r11 fix; 1/3 here kept
    # the top two-thirds and measured a different selectivity than the
    # stage label claimed.
    thr = j.groupBy("lang").agg(
        F.percentile("avg_logp", 2.0 / 3).alias("t_head")
    )
    head_ids = (
        j.join(F.broadcast(thr), "lang")
        .where(F.col("avg_logp") >= F.col("t_head"))
        .select("doc_id")
    )
    head = kept.join(head_ids, "doc_id", "semi").localCheckpoint(eager=False)
    pairs = dedup.minhash_near_duplicates(head, threshold=0.7)
    deduped = head.join(
        pairs.select(F.col("id_b").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    ).localCheckpoint(eager=False)
    target = deduped.where(F.col("source") == "src0")
    sample = mixing.dsir_gumbel_sample(deduped, target, k=2000)
    sel = deduped.join(sample.select("doc_id"), "doc_id", "semi")
    packed = mixing.pack_sequences(
        mixing.assign_splits(sel), budget_tokens=2048, partition_cols=["split"]
    )
    return packed.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_packs"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
    )


def _decontam_pipeline(spark, sf_dir):
    """Layered benchmark decontamination as ONE tracked bench row (r12
    verdict item 5): Bloom shingle prefilter (membership sketch, false
    negatives impossible) → banded-MinHash LSH verify with exact-Jaccard
    gate → per-source drop accounting.  A real curation run layers the
    three registry decontamination ops exactly this way — the cheap
    FN-free sketch prunes the corpus so the LSH+verify pass touches only
    suspects.  Soundness of the layering: Jaccard(A, B) ≥ 0.5 implies
    train-side shingle containment |A∩B|/|A| ≥ 0.5, and the Bloom
    estimate can only OVER-count membership (no false negatives), so a
    containment-0.5 Bloom gate cannot drop a true near-duplicate.  Even
    doc_ids play the training corpus, odd the eval set (the
    q_minhash_decontam split).  Row-count golden in
    tests/test_scale_ops.py."""
    from pyspark.sql import functions as F

    from etl_pipeline2_0_spark.functions import dedup, sketches
    from etl_pipeline2_0_spark.functions.dedup import token_shingles

    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 2 == 0)
    eval_df = docs.where(F.col("doc_id") % 2 == 1)
    NUM_BITS, NUM_HASHES = 1 << 18, 4
    ev_sh = eval_df.select(
        F.explode(token_shingles(F.col("text"), 3)).alias("item")
    ).distinct()
    bloom = sketches.bloom_build(
        ev_sh, num_hashes=NUM_HASHES, num_bits=NUM_BITS
    ).localCheckpoint(eager=False)
    tr_sh = train.select(
        "doc_id", F.explode(token_shingles(F.col("text"), 3)).alias("item")
    )
    probed = sketches.bloom_probe(
        tr_sh.select("item").distinct(), bloom,
        num_hashes=NUM_HASHES, num_bits=NUM_BITS,
    )
    suspect_ids = (
        tr_sh.join(probed, "item")
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.when(F.col("maybe_present"), 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("_containment_est")
        )
        .where(F.col("_containment_est") >= 0.5)
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    suspects = train.join(suspect_ids, "doc_id", "semi")
    pairs = dedup.minhash_decontaminate(
        suspects, eval_df, k=3, num_hashes=16, bands=8, threshold=0.5,
    )
    dropped = pairs.select(F.col("train_id").alias("doc_id")).distinct()
    return (
        train.join(suspect_ids.withColumn("_s", F.lit(1)), "doc_id", "left")
        .join(dropped.withColumn("_d", F.lit(1)), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_train"),
            F.sum(F.coalesce(F.col("_s"), F.lit(0)))
            .cast("bigint").alias("n_suspect"),
            F.sum(F.coalesce(F.col("_d"), F.lit(0)))
            .cast("bigint").alias("n_dropped"),
        )
    )


def _examples_pipeline(spark, sf_dir):
    """Composed training-example construction chain as ONE tracked bench
    row: sentence-integral chunking → fill-in-the-middle transform at
    the canonical 50% rate → token-budget packing of the transformed
    examples, partitioned by FIM mode.  Each stage is individually
    benched and oracled; this row watches the COMPOSITION (exchange
    reuse across chunk→transform→pack).  Row-count golden in
    tests/test_scale_ops.py."""
    from pyspark.sql import functions as F

    from etl_pipeline2_0_spark.functions import mixing, retrieval
    from etl_pipeline2_0_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    chunks = retrieval.sentence_chunk(docs, budget_tokens=40).select(
        (F.col("doc_id") * 100_000 + F.col("chunk_id")).alias("ex_id"),
        F.col("chunk_text").alias("text"),
    )
    # fim_transform normalizes its id column to `doc_id` (here carrying
    # the composite ex_id values).
    fim = mixing.fim_transform(chunks, text_col="text", id_col="ex_id")
    packed = mixing.pack_sequences(
        fim,
        budget_tokens=512,
        text_col="fim_text",
        id_col="doc_id",
        partition_cols=["mode"],
    )
    return packed.groupBy("mode").agg(
        F.count(F.lit(1)).alias("n_packs"),
        F.sum("n_docs").cast("bigint").alias("n_examples"),
    )


def _preference_pipeline(spark, sf_dir):
    """Composed post-training data-prep chain as ONE tracked bench row:
    one candidate pool scored ONCE (the shared dpo_pairs/best_of_n
    scorer) → best-of-N SFT selection → SFT packing of the selected
    docs with loss-mask accounting → DPO preference pairs from the SAME
    pool.  Each stage is individually oracled; this row watches the
    COMPOSITION (the scan is shared, the selection semi-join stays
    broadcastable, rnk 1 of the selection is provably the DPO chosen).
    Row-count golden in tests/test_scale_ops.py."""
    from pyspark.sql import functions as F

    from etl_pipeline2_0_spark.functions import mixing
    from etl_pipeline2_0_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    top = mixing.best_of_n(docs, n=3, n_groups=64)
    pairs = mixing.dpo_pairs(docs, n_groups=64, min_margin=0.02)
    sel = docs.join(top.select("doc_id"), "doc_id", "semi")
    packed = mixing.sft_pack(sel, budget_tokens=256)
    stage = lambda name, df: df.agg(
        F.lit(name).alias("stage"), F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return (
        stage("best_of_n", top)
        .unionByName(stage("dpo_pairs", pairs))
        .unionByName(stage("sft_packs", packed))
        .unionByName(
            packed.agg(
                F.lit("sft_examples").alias("stage"),
                F.sum("n_examples").cast("bigint").alias("n"),
            )
        )
    )


def _stream_sessionize_bench(spark, sf_dir):
    """Streaming-state micro-bench (r13 verdict item 8): the stateful
    sessionizer (applyInPandasWithState, per-user GroupState) drains the
    whole events table through ONE availableNow run into a memory sink —
    the row that surfaces state-store / Arrow-state-codec regressions in
    the round record.  Correctness is carried by the batch≡stream pins
    in tests/test_streaming_windows.py; this row only times the drain.
    The default NoTimeout config self-terminates once the backlog
    drains (no pending processing-time timeouts)."""
    import hashlib
    import os
    import uuid

    from etl_pipeline2_0_spark.sources.tables import load_table
    from etl_pipeline2_0_spark.streaming.windows import stream_sessionize

    # The file stream source needs a DIRECTORY; the testdata table is a
    # single read-only file — stage a symlink dir once per sf (cheap,
    # reused across samples; the timed work is the stateful drain).
    src = os.path.join(sf_dir.rstrip("/"), "events.parquet")
    stage = os.path.join(
        "/tmp",
        "bench_stream_src_"
        + hashlib.md5(src.encode()).hexdigest()[:10],
    )
    link = os.path.join(stage, "events.parquet")
    if not os.path.islink(link):
        os.makedirs(stage, exist_ok=True)
        os.symlink(src, link)
    schema = load_table(spark, sf_dir, "events").schema
    stream = spark.readStream.schema(schema).parquet(stage)
    name = "bench_sessions_" + uuid.uuid4().hex[:8]
    # State-store sizing now comes from the LIBRARY (r17 verdict item 4:
    # the rationale lives with the operator); ~10k user keys need 8
    # store instances, not one per session core — the r17 driver run's
    # 16 s sessionize outlier was 32 cold HDFS-backed stores under load.
    from etl_pipeline2_0_spark.streaming.windows import sized_state_partitions

    with sized_state_partitions(spark):
        q = (
            stream_sessionize(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            if q.isActive:
                q.stop()
    return spark.table(name)


def _stream_join_bench(spark, sf_dir):
    """Stream-stream watermarked interval-join micro-bench (r14 verdict
    item 5): purchase->click attribution over the whole events table —
    both sides of the SAME file stream, watermarked 1 hour, clicks
    within 30 minutes after a purchase by the same user — drained in ONE
    availableNow run into a memory sink.  This times the one Structured
    Streaming primitive the state store pays for twice (both sides
    buffered to watermark+interval); correctness (batch ≡ stream
    row-exactness, late-row eviction) is pinned in
    tests/test_streaming_windows.py."""
    import hashlib
    import os
    import uuid

    from pyspark.sql import functions as F

    from etl_pipeline2_0_spark.sources.tables import load_table
    from etl_pipeline2_0_spark.streaming.windows import stream_stream_join

    src = os.path.join(sf_dir.rstrip("/"), "events.parquet")
    stage = os.path.join(
        "/tmp",
        "bench_stream_src_" + hashlib.md5(src.encode()).hexdigest()[:10],
    )
    link = os.path.join(stage, "events.parquet")
    if not os.path.islink(link):
        os.makedirs(stage, exist_ok=True)
        os.symlink(src, link)
    schema = load_table(spark, sf_dir, "events").schema
    # testdata timestamps are NTZ; watermarks require TIMESTAMP (LTZ)
    stream = spark.readStream.schema(schema).parquet(stage).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    left = stream.where(F.col("event_type") == "purchase")
    right = stream.where(F.col("event_type") == "click")
    name = "bench_ssjoin_" + uuid.uuid4().hex[:8]
    # State-store instance sizing via the LIBRARY facility (r17 verdict
    # item 4 — the sizing rationale moved from this harness into
    # streaming.windows.sized_state_partitions, where production callers
    # get it too; see its docstring for the measured 32-vs-8 numbers).
    from etl_pipeline2_0_spark.streaming.windows import sized_state_partitions

    with sized_state_partitions(spark):
        q = (
            stream_stream_join(
                left, right, key="user_id",
                watermark="1 hour", within="30 minutes",
            )
            .select("l_key", "l_ts", "r_ts", "r_event_id")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            if q.isActive:
                q.stop()
    return spark.table(name)


def _stream_enrich_bench(spark, sf_dir):
    """Stream-static broadcast enrichment micro-bench (r15 verdict item
    5): the whole events table as a file stream, every micro-batch
    joined to the broadcast customer dimension (c_custkey = user_id;
    nation key + market segment attributes), drained in ONE availableNow
    run into a memory sink.  The dimension holds no streaming state and
    ships as a BroadcastHashJoin build side, so the fact stream never
    shuffles — correctness (batch ≡ stream row-exact, left-join fact
    preservation, per-micro-batch broadcast pin) lives in
    tests/test_streaming_windows.py."""
    import hashlib
    import os
    import uuid

    from pyspark.sql import functions as F

    from etl_pipeline2_0_spark.sources.tables import load_table
    from etl_pipeline2_0_spark.streaming.windows import stream_static_enrich

    src = os.path.join(sf_dir.rstrip("/"), "events.parquet")
    stage = os.path.join(
        "/tmp",
        "bench_stream_src_" + hashlib.md5(src.encode()).hexdigest()[:10],
    )
    link = os.path.join(stage, "events.parquet")
    if not os.path.islink(link):
        os.makedirs(stage, exist_ok=True)
        os.symlink(src, link)
    schema = load_table(spark, sf_dir, "events").schema
    stream = spark.readStream.schema(schema).parquet(stage)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey", "c_mktsegment"
    )
    name = "bench_senrich_" + uuid.uuid4().hex[:8]
    q = (
        stream_static_enrich(stream, dim, key="user_id")
        .select("event_id", "user_id", "c_nationkey", "c_mktsegment")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        if q.isActive:
            q.stop()
    return spark.table(name)


# Bench-only rows: real capabilities measured at bench scale that are not
# registry queries (the registry carries the correctness burden elsewhere —
# the doc pipeline via the fixture/golden suites, the LLM chain via its
# composition golden).
EXTRA_BENCH = {
    "doc_pipeline_sf01": _doc_pipeline,
    "llm_pipeline_sf01": _llm_pipeline,
    "examples_pipeline_sf01": _examples_pipeline,
    "decontam_pipeline_sf01": _decontam_pipeline,
    "preference_pipeline_sf01": _preference_pipeline,
    "stream_sessionize_sf01": _stream_sessionize_bench,
    "stream_join_sf01": _stream_join_bench,
    "stream_enrich_sf01": _stream_enrich_bench,
}


def scalars_headline(
    total: float,
    sf: float,
    n_queries: int,
    runs_per_query: int,
    n_errors: int,
    n_rerun_errors: int,
    loadavg_end: list[float],
) -> str:
    """The LAST stdout line of a bench run: scalars only, guaranteed
    <300 bytes, so ANY tail-window capture ends with one complete
    parseable JSON record (r15 verdict item 2; format pinned by
    tests/test_bench_isolation.py::test_scalars_headline_format so the
    15-round `parsed: null` streak cannot silently return)."""
    line = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "sf": sf,
            "n_queries": n_queries,
            "runs_per_query": runs_per_query,
            "agg": "min",
            "n_errors": n_errors,
            "n_rerun_errors": n_rerun_errors,
            "loadavg_end": [round(x, 2) for x in loadavg_end],
        },
        separators=(",", ":"),
    )
    assert len(line) < 300, f"scalars headline grew past a tail window: {len(line)}"
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="etl-pipeline2.0-bench")

    # Warm-up: touch the session + each table's parquet footer (schema read,
    # driver-side metadata only — no data pages) so first-query timings
    # measure the query, not file-listing/footer I/O.
    spark.range(1).count()
    for t in TABLES:
        load_table(spark, sf_dir, t).schema
    # JIT/codegen warm-up on synthetic data (NOT the bench tables or bench
    # query plans): exercises the codegen paths — decimal hash aggregate,
    # shuffle join, window, regex — so first-query timings measure the
    # query, not one-time JVM compilation.  Standard warm-up-iteration
    # practice; all timed queries still run cold on their own data.
    from pyspark.sql import functions as F

    r = spark.range(50_000).select(
        F.col("id"),
        (F.col("id") % 7).alias("k"),
        (F.col("id") * 1.7).cast("decimal(18,2)").alias("d"),
        F.concat(F.lit("tok x"), F.col("id").cast("string")).alias("s"),
    )
    r.groupBy("k").agg(F.sum("d"), F.count(F.lit(1))).count()
    r.join(r.groupBy("k").count(), "k").count()
    from pyspark.sql.window import Window

    r.select(
        F.row_number()
        .over(Window.partitionBy("k").orderBy("id"))
        .alias("rn"),
        F.size(F.filter(F.split("s", r"\s+"), lambda t: F.length(t) > 0)),
        F.xxhash64("s"),
    ).count()

    # Three measured executions per query, min reported (standard
    # steady-state benchmark aggregation: the min is the least-noise
    # estimate of the query's true cost on this machine; observed
    # run-to-run swings on this host reach 2-3× on identical code, so two
    # samples were not enough).  Every execution is a full cold
    # plan+execute — nothing is cached between runs (no .persist, results
    # not reused).
    #
    # Noise hardening (r10 verdict item 3 — mid-run contention inflated a
    # whole pass):
    #   1. Samples run as RUNS INTERLEAVED full passes over the query
    #      list, not RUNS consecutive executions per query — a contention
    #      burst then taxes one pass of many queries (absorbed by min)
    #      instead of every sample of a few.
    #   2. If BENCH_PRIOR points at a previous bench JSON, any query whose
    #      min lands > 1.3× its prior min is re-measured with 3 extra
    #      samples after waiting for loadavg to drop below
    #      BENCH_MAX_LOADAVG — separating host weather from real plan
    #      regressions inside a single record.
    RUNS = 3
    loadavg_start = os.getloadavg()
    keys = [n.split(": ")[-1] for n in HEADLINE]
    # BENCH_ONLY=k1,k2 restricts the run to a named subset — used to
    # supplement an existing record with late-added queries without
    # re-paying the full ~12 min sweep (merge the outputs by key).
    only = os.environ.get("BENCH_ONLY")
    if only:
        wanted = {k.strip() for k in only.split(",") if k.strip()}
        keys = [k for k in keys if k in wanted]
    fns = {
        key: EXTRA_BENCH[key] if key in EXTRA_BENCH else ALL_QUERIES[key][0]
        for key in keys
    }
    samples: dict[str, list[float]] = {k: [] for k in keys}
    errors: dict[str, str] = {}
    rerun_errors: dict[str, str] = {}

    def _one(key: str, rerun: bool = False) -> None:
        # Per-query error isolation (round-5 lesson: a single analysis
        # exception aborted the whole run and erased 34 healthy timings).
        # A failing query records an err string and is skipped in later
        # passes; the process still exits nonzero at the end so the
        # failure is visible to the driver.  In the contention-recheck
        # phase (rerun=True) a transient failure must NOT erase the
        # healthy samples already collected — the rerun exists to refine
        # a valid min, so its errors are logged separately and the
        # primary-phase samples stand (advisor-r11 fix).
        if key in errors or key in rerun_errors:
            return
        try:
            start = time.perf_counter()
            fns[key](spark, sf_dir).count()
            samples[key].append(round(time.perf_counter() - start, 3))
        except Exception as exc:  # noqa: BLE001 - deliberate catch-all
            msg = f"{type(exc).__name__}: {exc}"[:500]
            if rerun:
                rerun_errors[key] = msg
            else:
                errors[key] = msg
                samples.pop(key, None)

    for _ in range(RUNS):
        for key in keys:
            _one(key)
    timings = {k: min(v) for k, v in samples.items() if v}

    prior: dict[str, float] = {}
    prior_path = os.environ.get("BENCH_PRIOR")
    if prior_path and os.path.exists(prior_path):
        try:
            with open(prior_path) as fh:
                prior = json.load(fh).get("queries", {}) or {}
        except Exception:  # noqa: BLE001 - a bad prior never kills a bench
            prior = {}
    reruns = sorted(
        k for k, v in timings.items()
        if k in prior and prior[k] > 0 and v > 1.3 * prior[k]
    )
    if reruns:
        max_load = float(os.environ.get("BENCH_MAX_LOADAVG", "2"))
        deadline = time.time() + 180
        while os.getloadavg()[0] > max_load and time.time() < deadline:
            time.sleep(5)
        for _ in range(3):
            for key in reruns:
                _one(key, rerun=True)
        timings = {k: min(v) for k, v in samples.items() if v}

    total = round(sum(timings.values()), 3)
    # Truncation hardening (r13 verdict item 5): the external driver's
    # stdout capture has shipped a truncated JSON tail (`parsed: null`)
    # every round, so the verdict-relevant fields go FIRST — line 1 is a
    # compact headline (scalars and error maps BEFORE the per-query
    # dict, so even a 2 KB prefix preserves total/count/errors), line 2
    # is the full record including raw samples.  BENCH_OUT still gets
    # the full record only.
    headline = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "sf": float(sf),
            "n_queries": len(timings),
            "runs_per_query": RUNS,
            "agg": "min",
            "errors": errors,
            "rerun_errors": rerun_errors,
            "loadavg_start": [round(x, 2) for x in loadavg_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "queries": timings,
        },
        separators=(",", ":"),
    )
    print(headline)
    payload = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": float(sf),
            "runs_per_query": RUNS,
            "agg": "min",
            # Host-noise transparency (round-3 lesson: driver bench runs
            # on a shared host swung individual queries 2-4x on
            # untouched code).  All raw samples + the 1/5/15-min load
            # averages at start and end let a reader separate plan
            # regressions from host weather without re-running.
            "samples": samples,
            "loadavg_start": [round(x, 2) for x in loadavg_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "reruns": reruns,
            "errors": errors,
            "rerun_errors": rerun_errors,
            # Measured-config transparency (advisor r17): the streaming
            # rows run under this many state partitions (library default
            # / env override), so cross-round records are comparable.
            "stream_state_partitions": int(
                os.environ.get(
                    "SPARK_GRAFT_STREAM_STATE_PARTITIONS", DEFAULT_STATE_PARTITIONS
                )
            ),
        }
    )
    print(payload)
    # Tail-survivability (r14 verdict item 4): the driver keeps only the
    # END of stdout, so a first-line headline is exactly what a tail
    # window discards, and the full payload line is big enough that the
    # window may keep only a mid-line JSON fragment.  Re-print the
    # compact headline as the LAST line — any tail capture now ends
    # with one complete parseable record (total/count/errors/timings).
    print(headline)
    # r17 verdict item 5: the driver's per-query comparison has been
    # dead two rounds because the only per-query data lived inside the
    # big headline/payload lines, which its tail window truncates
    # MID-OBJECT.  Emit one tiny self-contained JSON record per query
    # (<250 bytes each) so any tail window contains complete parseable
    # per-query lines.  Ascending by seconds puts the expensive rows —
    # the ones a perf comparison actually needs — nearest the end,
    # where a tail capture is guaranteed to keep them.
    for q_name, q_sec in sorted(timings.items(), key=lambda kv: kv[1]):
        line = json.dumps({"q": q_name, "s": q_sec}, separators=(",", ":"))
        assert len(line) < 250, f"per-query line grew past a tail window: {line}"
        print(line)
    # r15 verdict item 2: even the re-printed headline embeds the full
    # per-query map (~6 KB), so a ~3 KB tail window starts MID-map and
    # the front-loaded scalars are exactly what truncation discards.
    # The true last line is therefore scalars-only (<300 bytes) — no
    # queries map, no samples — so ANY tail window ends with a complete
    # parseable record.  Per-query timings remain in the per-query
    # lines and the two full records above, and in BENCH_OUT.
    print(
        scalars_headline(
            total,
            float(sf),
            len(timings),
            RUNS,
            len(errors),
            len(rerun_errors),
            list(os.getloadavg()),
        )
    )
    # Stray Spark/py4j warnings on stdout would corrupt a `tee`-captured
    # copy, so the JSON payload is also written to a file directly when
    # BENCH_OUT is set (the round checklist uses this).
    out_path = os.environ.get("BENCH_OUT")
    if out_path:
        with open(out_path, "w") as fh:
            fh.write(payload + "\n")
    spark.stop()
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
