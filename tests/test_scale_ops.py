"""Scale utilities: salted aggregation/join equivalence and shuffle-free
bucketed joins (plan-asserted)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline2_0_spark.operators.skew import salted_aggregate, salted_join
from etl_pipeline2_0_spark.sinks.bucketing import bucketed_join, write_bucketed
from etl_pipeline2_0_spark.sources.tables import load_table


def test_salted_aggregate_matches_direct(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    direct = {
        (r["o_orderpriority"]): (r["n"], r["total"])
        for r in orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total"),
        )
        .collect()
    }
    salted = {
        (r["o_orderpriority"]): (r["n"], r["total"])
        for r in salted_aggregate(
            orders.withColumn(
                "o_totalprice", F.col("o_totalprice").cast("decimal(18,2)")
            ),
            ["o_orderpriority"],
            {"n": "count:", "total": "sum:o_totalprice"},
            salt=8,
            unique_col="o_orderkey",
        ).collect()
    }
    assert salted == direct


def test_salted_join_matches_direct(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    direct = orders.join(cust, "o_custkey").count()
    salted = salted_join(
        orders, cust, key="o_custkey", salt=8, probe_unique_col="o_orderkey"
    ).count()
    assert salted == direct


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    write_bucketed(orders, "b_orders", "o_orderkey", num_buckets=4)
    write_bucketed(li, "b_lineitem", "o_orderkey", num_buckets=4)

    # Force the sort-merge path (at real scale neither fact side broadcasts;
    # locally the 6k-row table would, which bypasses — not exercises —
    # bucketing).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_orders", "b_lineitem", on="o_orderkey")
        n = joined.count()
        assert n == li.count()  # every lineitem has its order

        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join shuffled:\n{plan[:2000]}"
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_hash_sample_reproducible(spark, sf_dir):
    # The sampling contract: exact same subset on every evaluation (no
    # rand(), no partition sensitivity), ~10% rate.
    from etl_pipeline2_0_spark.plans.relational_ext import (
        q_hash_sample,
        q_stratified_sample,
    )

    a = {tuple(r) for r in q_hash_sample(spark, sf_dir).collect()}
    b = {tuple(r) for r in q_hash_sample(spark, sf_dir).repartition(7).collect()}
    assert a == b and a
    total = load_table(spark, sf_dir, "lineitem").count()
    assert 0.05 < len(a) / total < 0.15

    s1 = {tuple(r) for r in q_stratified_sample(spark, sf_dir).collect()}
    s2 = {tuple(r) for r in q_stratified_sample(spark, sf_dir).collect()}
    assert s1 == s2 and s1


def test_partitioned_write_prunes_and_dynamic_overwrite(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from etl_pipeline2_0_spark.sinks.load import write_partitioned

    path = str(tmp_path / "events_by_type")
    events = load_table(spark, sf_dir, "events")
    write_partitioned(events, path, ["event_type"])

    # Predicate on the partition key must become a PartitionFilter (dir
    # pruning), leaving no data-level filter on event_type.
    back = spark.read.parquet(path).where(F.col("event_type") == "click")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # The contract is DIRECTORY pruning: the equality predicate lands in
    # PartitionFilters and nothing remains as a data-level filter.  (r18:
    # don't pin the inferred `isnotnull(...)` prefix — it was an artifact
    # of constraint propagation, which the session now disables.)
    assert "PartitionFilters: [" in plan, plan[:1500]
    part_filters = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "event_type" in part_filters and "click" in part_filters, plan[:1500]
    assert "DataFilters: []" in plan, plan[:1500]
    assert back.count() == events.where("event_type = 'click'").count()

    # Dynamic overwrite of ONE partition must leave the others intact.
    one = events.where("event_type = 'click'").withColumn(
        "value", F.col("value") * 2
    )
    write_partitioned(one, path, ["event_type"])
    again = spark.read.parquet(path)
    assert again.count() == events.count()
    assert (
        again.where("event_type = 'view'").count()
        == events.where("event_type = 'view'").count()
    )


def test_schema_evolution_merge_read(spark, tmp_path):
    # Ingest-side dynamic schema: two parquet batches with different
    # columns read back as one table (mergeSchema), missing cells null —
    # the reference's per-run dynamic schema (SURVEY §1.3) at source level.
    from pyspark.sql import functions as F

    path = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "alpha")], "id bigint, name string"
    ).write.parquet(path + "/batch=1")
    spark.createDataFrame(
        [(2, 9.5)], "id bigint, score double"
    ).write.parquet(path + "/batch=2")

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert sorted(merged.columns) == ["batch", "id", "name", "score"]
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["name"] == "alpha" and rows[1]["score"] is None
    assert rows[2]["score"] == 9.5 and rows[2]["name"] is None


def test_composed_curation_pipeline(spark, sf_dir):
    # The curation composition as ONE job: corpus_filter survivors →
    # per-source LM-score quantile gate → vocab-id tokenization.  Each
    # stage is individually proven; this pins the composition contract —
    # row conservation through the gates and tokenizer-output integrity
    # (n_tokens == len(token_ids), ids within [0, V]).
    from etl_pipeline2_0_spark.functions import text
    from etl_pipeline2_0_spark.plans.llm_ops import q_corpus_filter

    docs = load_table(spark, sf_dir, "documents")
    # corpus_filter projects gate columns only; recover full rows with a
    # semi-join on the surviving ids (the shape a real pipeline uses).
    survivors = docs.join(
        q_corpus_filter(spark, sf_dir).select("doc_id"), "doc_id", "semi"
    )
    n_survivors = survivors.count()
    assert n_survivors > 0

    scored = text.char_bigram_lm_scores(survivors, "text", "doc_id")
    docs_scored = survivors.join(scored.select("doc_id", "avg_logp"), "doc_id")
    gated = (
        docs_scored.join(
            F.broadcast(
                docs_scored.groupBy("source").agg(
                    F.percentile("avg_logp", 0.1).alias("thr")
                )
            ),
            "source",
        )
        .where(F.col("avg_logp") >= F.col("thr"))
    )
    n_gated = gated.count()
    # The 10th-percentile gate keeps ~90% per source; conservation bounds.
    assert 0 < n_gated <= n_survivors
    assert n_gated >= int(0.8 * n_survivors)

    V = 64
    toks = text.tokenize_ids(gated, "text", "doc_id", vocab_size=V)
    bad = toks.where(
        (F.size("token_ids") != F.col("n_tokens"))
        | F.exists("token_ids", lambda t: (t < 0) | (t > V))
    ).count()
    assert bad == 0
    # Every gated doc with ≥1 token tokenizes to exactly one row.
    assert toks.count() == gated.where(
        F.size(F.split(F.col("text"), r"\s+")) > 0
    ).count()


def test_composed_passage_retrieval(spark, sf_dir):
    # The RAG composition as ONE job: chunk_documents → BM25 over the
    # CHUNKS (passage retrieval).  Each stage is individually proven; this
    # pins the composition contract — chunk ids are (doc, chunk) unique,
    # BM25 ranks passages (not docs), and every hit maps back to a real
    # source document via the synthetic chunk key.
    from etl_pipeline2_0_spark.functions import retrieval

    docs = load_table(spark, sf_dir, "documents")
    chunks = retrieval.chunk_documents(docs, chunk_tokens=32, overlap_tokens=8)
    # synthetic passage key: doc_id * 1000 + chunk_id (chunk counts per doc
    # are far below 1000 at any SF — asserted)
    assert chunks.agg(F.max("chunk_id")).collect()[0][0] < 1000
    passages = chunks.select(
        (F.col("doc_id") * 1000 + F.col("chunk_id")).alias("passage_id"),
        F.col("chunk_text"),
    )
    n_passages = passages.count()
    assert n_passages >= docs.where(F.length("text") > 0).count()

    hits = retrieval.bm25_topk(
        passages,
        [(0, ["spark", "join"]), (1, ["window", "stream"])],
        top_k=5,
        text_col="chunk_text",
        id_col="passage_id",
    ).collect()
    assert len(hits) == 10
    doc_ids = {r["passage_id"] // 1000 for r in hits}
    # hits land on real documents
    real = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert doc_ids <= real
    # per-query ranks are 1..5 and scores non-increasing
    for q in (0, 1):
        rows = sorted((r for r in hits if r["query_id"] == q), key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rows] == [1, 2, 3, 4, 5]
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_snapshot_diff_applies_as_partition_upsert(spark, sf_dir, tmp_path):
    # Incremental table maintenance from snapshot_diff: store snapshot A
    # partitioned by source, diff A -> B, rewrite ONLY the partitions that
    # contain a changed/added/removed doc (dynamic overwrite), and land
    # bit-exactly on snapshot B — without touching unaffected partitions.
    import os

    from etl_pipeline2_0_spark.functions.dedup import snapshot_diff
    from etl_pipeline2_0_spark.sinks.load import write_partitioned

    docs = load_table(spark, sf_dir, "documents")
    # Drift confined to src0 (partial deletes), src1 (edits), and src2
    # (FULLY removed — the vacated-partition pitfall): every other
    # partition must come through the upsert untouched.
    snap_a = docs
    snap_b = docs.where(
        ~((F.col("source") == "src0") & (F.col("doc_id") % 7 == 0))
        & (F.col("source") != "src2")
    ).withColumn(
        "text",
        F.when(
            (F.col("source") == "src1") & (F.col("doc_id") % 3 == 0),
            F.concat(F.col("text"), F.lit(" v2")),
        ).otherwise(F.col("text")),
    )
    table = str(tmp_path / "corpus")
    write_partitioned(snap_a, table, ["source"])
    mtimes_before = {
        d: os.path.getmtime(os.path.join(table, d))
        for d in os.listdir(table) if d.startswith("source=")
    }

    from etl_pipeline2_0_spark.sinks.load import upsert_snapshot_partitions

    delta = snapshot_diff(snap_a, snap_b).where(F.col("status") != "unchanged")
    affected = upsert_snapshot_partitions(table, snap_b, delta, ["source"])

    # Bit-exact convergence to snapshot B...
    final = spark.read.parquet(table)
    assert final.count() == snap_b.count()
    assert final.join(snap_b, ["doc_id", "text", "source"], "anti").count() == 0
    assert snap_b.join(final, ["doc_id", "text", "source"], "anti").count() == 0
    # ...and at least one unaffected partition was genuinely left alone
    # (same directory mtime), proving the rewrite was partition-scoped.
    affected_dirs = {
        f"source={r['source']}" for r in affected.collect()
    }
    assert affected_dirs == {"source=src0", "source=src1", "source=src2"}
    # the fully-vacated partition is GONE (dynamic overwrite alone would
    # have left it stale)
    assert not os.path.exists(os.path.join(table, "source=src2"))
    untouched = set(mtimes_before) - affected_dirs
    assert len(untouched) >= 2, "drift was synthesized source-scoped"
    for d in sorted(untouched):
        assert os.path.getmtime(os.path.join(table, d)) == mtimes_before[d]


def test_upsert_deletes_vacated_partition_with_escaped_value(spark, tmp_path):
    # Partition values Spark %-encodes in directory names (':' here) and a
    # NULL partition (__HIVE_DEFAULT_PARTITION__) must still be matched by
    # the vacated-partition delete — the r8 advisor caught that a hand-built
    # raw "col=value" path misses both and ignore_errors hid the failure.
    import os

    from etl_pipeline2_0_spark.functions.dedup import snapshot_diff
    from etl_pipeline2_0_spark.sinks.load import (
        upsert_snapshot_partitions,
        write_partitioned,
    )

    rows_a = [
        (1, "keep me", "plain"),
        (2, "colon doc", "a:b"),
        (3, "null-source doc", None),
    ]
    snap_a = spark.createDataFrame(rows_a, "doc_id bigint, text string, source string")
    # B drops BOTH the colon and the NULL partitions entirely (vacated).
    snap_b = snap_a.where(F.col("source") == "plain")
    table = str(tmp_path / "escaped")
    write_partitioned(snap_a, table, ["source"])
    assert os.path.isdir(os.path.join(table, "source=a%3Ab"))
    assert os.path.isdir(os.path.join(table, "source=__HIVE_DEFAULT_PARTITION__"))

    delta = snapshot_diff(snap_a, snap_b).where(F.col("status") != "unchanged")
    upsert_snapshot_partitions(table, snap_b, delta, ["source"])

    assert not os.path.exists(os.path.join(table, "source=a%3Ab"))
    assert not os.path.exists(
        os.path.join(table, "source=__HIVE_DEFAULT_PARTITION__")
    )
    final = spark.read.parquet(table)
    assert [r["doc_id"] for r in final.collect()] == [1]


def test_escape_partition_value_matches_spark_rendering():
    from etl_pipeline2_0_spark.sinks.load import _escape_partition_value

    assert _escape_partition_value(None) == "__HIVE_DEFAULT_PARTITION__"
    assert _escape_partition_value(True) == "true"
    assert _escape_partition_value("a:b") == "a%3Ab"
    assert _escape_partition_value("50%") == "50%25"
    assert _escape_partition_value("x\ny") == "x%0Ay"
    assert _escape_partition_value("plain-1.2_ok") == "plain-1.2_ok"


def test_temperature_weights_drive_mix_sources(spark, sf_dir):
    # The principled mixing loop end-to-end: temperature_mix_weights
    # computes the α-sampling distribution, mix_sources consumes it.  At
    # α=0.3 over an imbalanced corpus (src0 docs doubled in count by
    # synthesizing extra rows), the small sources' SHARE of the mixed
    # output must exceed their share of the input (flattening), while the
    # output size lands near the requested total.
    from pyspark.sql import functions as F

    from etl_pipeline2_0_spark.functions import mixing

    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    # imbalance: clone src0 five times with fresh ids
    clones = [
        base.where(F.col("source") == "src0").withColumn(
            "doc_id", F.col("doc_id") + F.lit(100_000 * (i + 1))
        )
        for i in range(5)
    ]
    docs = base
    for c in clones:
        docs = docs.unionByName(c)

    in_share = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total_in = sum(in_share.values())

    weights = {
        r["source"]: r["weight"]
        for r in mixing.temperature_mix_weights(docs, alpha=0.3).collect()
    }
    mixed = mixing.mix_sources(
        docs, weights, total_rows=400, key_col="source"
    )
    out_share = {
        r["source"]: r["n"]
        for r in mixed.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total_out = sum(out_share.values())
    assert 300 <= total_out <= 500  # Bernoulli sampling lands near target

    # flattening: src0 dominated the input; its output share must shrink,
    # and a small source's share must grow.
    small = next(s for s in in_share if s != "src0")
    assert out_share["src0"] / total_out < in_share["src0"] / total_in
    assert out_share[small] / total_out > in_share[small] / total_in


def test_salted_band_joins_identical_pairs_on_skewed_corpus(spark):
    """Skew hardening for the dedup candidate joins (r9 verdict item 3):
    salting the MinHash band join and the pigeonhole Hamming join must
    change ONLY the shuffle layout, never the output.  The corpus is
    deliberately skewed — one boilerplate template cluster big enough to
    concentrate band keys (negative-control style: the test first proves
    the hot bucket exists, then proves salted ≡ unsalted on it)."""
    from etl_pipeline2_0_spark.functions import dedup

    # 40 near-identical template docs (one hot cluster) + 20 unrelated.
    rows = [
        (i, "breaking news update number %d the market moved today and "
            "analysts expect further volatility in the coming week" % i)
        for i in range(40)
    ] + [
        (100 + i, "unrelated document %d about %s with distinct content "
                  "tokens that share nothing with the template" % (i, w))
        for i, w in enumerate(
            ["gardens", "engines", "violins", "glaciers", "pottery",
             "circuits", "harvests", "lanterns", "meadows", "pulsars",
             "mosaics", "tundras", "anvils", "orchids", "comets",
             "quarries", "fjords", "bazaars", "geysers", "canyons"]
        )
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    # --- MinHash band join: prove the skew exists (the template cluster
    # collides in at least one band bucket ~40 deep), then equivalence.
    sigs = dedup.minhash_signatures(df)
    from pyspark.sql import functions as F2
    banded_sizes = (
        dedup.lsh_candidate_pairs(sigs, max_bucket_size=None)
        .groupBy("id_a").count().agg(F2.max("count")).first()[0]
    )
    assert banded_sizes >= 30  # one doc pairs with ~the whole hot cluster

    unsalted = dedup.minhash_near_duplicates(df, threshold=0.3)
    salted = dedup.minhash_near_duplicates(df, threshold=0.3, band_salt=4)
    assert sorted(map(tuple, unsalted.collect())) == sorted(
        map(tuple, salted.collect())
    )
    assert unsalted.count() >= 40 * 39 / 4  # the cluster really is hot

    # --- Pigeonhole Hamming join: signatures engineered so chunk 0 is a
    # hot key (low 16 bits identical across the cluster), radius-1 pairs.
    sig_rows = [(i, (i % 3) << 60 | 0x1234) for i in range(30)] + [
        (200 + i, (i + 1) << 16 | i) for i in range(10)
    ]
    sigs64 = spark.createDataFrame(sig_rows, "id bigint, simhash long")
    plain = dedup.hamming_pairs(sigs64, sig_col="simhash", max_hamming=2)
    spread = dedup.hamming_pairs(
        sigs64, sig_col="simhash", max_hamming=2, salt=5
    )
    got_plain = sorted(map(tuple, plain.collect()))
    assert got_plain == sorted(map(tuple, spread.collect()))
    assert len(got_plain) >= 10 * 9 / 2  # hot chunk produced a real cluster

    # The salted plan actually joins on the widened key (salt present).
    assert "__salt" in spread._jdf.queryExecution().optimizedPlan().toString()


def _skewed_cms_corpus(spark):
    rows = [
        (i, "breaking news update number %d the market moved today and "
            "analysts expect further volatility in the coming week" % i)
        for i in range(30)
    ] + [
        (100 + i, "unique story %d about topic%d with distinct narrative "
                  "content and no shared boilerplate at all here" % (i, i))
        for i in range(20)
    ] + [
        # a small near-dup cluster UNDER the cap (df=4 <= 10): its shared
        # shingles survive capping, so capped runs still emit pairs
        (200 + i, "rare shared passage about the quiet harbor town %d" % (i % 2))
        for i in range(4)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_cms_cap_wide_sketch_equals_exact_cap(spark):
    """freq_source='cms' with a collision-free (wide) sketch must produce
    EXACTLY the exact-aggregate cap's output for both the Jaccard doc-freq
    cap and the LSH bucket cap — same pairs, same values.  This pins that
    the sketch path changes the MEASUREMENT mechanism only, not the cap
    semantics."""
    from etl_pipeline2_0_spark.functions import dedup

    df = _skewed_cms_corpus(spark)
    exact = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.jaccard_pairs(df, threshold=0.3, max_doc_freq=10).collect()
    )
    via_cms = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.jaccard_pairs(
            df, threshold=0.3, max_doc_freq=10,
            freq_source="cms", cms_width=1 << 18,
        ).collect()
    )
    assert exact == via_cms and exact  # non-vacuous: pairs survive the cap

    sigs = dedup.minhash_signatures(df)
    e_pairs = sorted(
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(sigs, max_bucket_size=25).collect()
    )
    c_pairs = sorted(
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(
            sigs, max_bucket_size=25,
            bucket_freq_source="cms", cms_width=1 << 18,
        ).collect()
    )
    assert e_pairs == c_pairs


def test_cms_cap_narrow_sketch_over_prunes_only(spark):
    """One-sided direction pin: with a deliberately NARROW sketch (forced
    collisions), the map-side estimate must satisfy est >= exact count for
    EVERY shingle key — so the cms cap's dropped-key set is a superset of
    the exact cap's (over-prune possible, under-prune impossible)."""
    from etl_pipeline2_0_spark.functions import dedup, sketches

    df = _skewed_cms_corpus(spark)
    shingled = (
        df.select(
            F.col("doc_id").alias("id"),
            F.explode(dedup.token_shingles(F.col("text"), 3)).alias("sh"),
        )
        .select("id", F.xxhash64("sh").cast("string").alias("item"))
    )
    sk = sketches.cms_sketch(shingled, "item", depth=4, width=32)  # narrow
    est = sketches.cms_estimate_map_side(
        shingled, F.col("item"), sk, depth=4, width=32
    ).groupBy("item").agg(F.min("cms_est").alias("est"))
    exact = shingled.groupBy("item").agg(F.count(F.lit(1)).alias("cnt"))
    joined = exact.join(est, "item").collect()
    assert joined
    assert all(r["est"] >= r["cnt"] for r in joined)
    # the narrow width really does collide (inflation visible somewhere)
    assert any(r["est"] > r["cnt"] for r in joined)


def test_rouge_screen_cms_cap_equals_exact_below_cap(spark):
    """rouge_screen's freq_source='cms' (r14 verdict item 3): with a
    collision-free (wide) sketch the cms cap must reproduce the exact
    Window cap's output row-for-row — the sketch changes the MEASUREMENT
    mechanism only.  Non-vacuous: the corpus has boilerplate n-grams
    above the cap and a surviving overlap below it."""
    from etl_pipeline2_0_spark.functions import dedup

    df = _skewed_cms_corpus(spark)
    key = lambda r: (r["doc_id"], r["n_ngrams"], r["match_id"],
                     r["max_recall"], r["keep"])
    exact = sorted(
        key(r)
        for r in dedup.rouge_screen(df, n=3, max_doc_freq=10).collect()
    )
    via_cms = sorted(
        key(r)
        for r in dedup.rouge_screen(
            df, n=3, max_doc_freq=10,
            freq_source="cms", cms_width=1 << 18,
        ).collect()
    )
    assert exact == via_cms
    assert any(r[3] > 0 for r in exact)  # overlaps survive the cap


def test_rouge_screen_cms_cap_plan_has_no_window(spark):
    """Plan pin for the 100 TB claim: in cms mode the n-gram-hash table
    must NOT shuffle through the exact cap's per-key Window — the sketch
    arrives via broadcast and is probed map-side."""
    from etl_pipeline2_0_spark.functions import dedup

    df = _skewed_cms_corpus(spark)
    plan = (
        dedup.rouge_screen(df, n=3, max_doc_freq=10, freq_source="cms")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "windowspecdefinition" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row sketch cross


def test_cms_bucket_cap_plan_has_no_window_shuffle(spark):
    """Plan pin for the 100 TB claim: the cms bucket cap must not compile
    to the exact cap's Window (whole banded-table shuffle on
    (band,bucket)); the sketch must arrive via broadcast."""
    from etl_pipeline2_0_spark.functions import dedup

    df = _skewed_cms_corpus(spark)
    sigs = dedup.minhash_signatures(df)
    plan = (
        dedup.lsh_candidate_pairs(
            sigs, max_bucket_size=25, bucket_freq_source="cms"
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "Broadcast" in plan
    exact_plan = (
        dedup.lsh_candidate_pairs(sigs, max_bucket_size=25)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" in exact_plan  # the shuffle the sketch path removes


def test_auto_salt_selects_from_concentration_and_preserves_output(spark):
    """salt='auto' (r10 verdict item 7): the factor derives from the
    measured top bucket size / target reducer rows, and the auto-salted
    join emits EXACTLY the unsalted pairs.  With a tiny target the skewed
    corpus must force salt >= 2 (non-vacuous); with the default 200k
    target the same corpus must resolve to unsalted (no pointless
    replication on small data)."""
    from etl_pipeline2_0_spark.functions import dedup

    df = _skewed_cms_corpus(spark)
    sigs = dedup.minhash_signatures(df)

    # the concentration estimate really drives the factor: the 30-doc hot
    # cluster's band bucket forces salt >= 2 at target 8, and the default
    # 200k target resolves to unsalted on the same data
    banded = sigs.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda b: F.xxhash64(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(F.col("signature"), b * 4 + 1, 4),
                            lambda x: x.cast("string"),
                        ),
                    )
                ),
            )
        ).alias("band", "bucket"),
    )
    assert dedup._auto_band_salt(banded, None, None, target_rows=8) >= 2
    assert dedup._auto_band_salt(banded, None, None, target_rows=200_000) is None

    unsalted = sorted(
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(sigs, max_bucket_size=None).collect()
    )
    auto = sorted(
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(
            sigs, max_bucket_size=None, salt="auto", auto_salt_target_rows=8
        ).collect()
    )
    assert auto == unsalted and auto

    # sketch-sourced top estimate: cms mode derives salt from the d*w
    # sketch (no extra corpus aggregate) and still matches exactly
    auto_cms = sorted(
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(
            sigs, max_bucket_size=1000, bucket_freq_source="cms",
            cms_width=1 << 18, salt="auto", auto_salt_target_rows=8,
        ).collect()
    )
    exact_capped = sorted(
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(sigs, max_bucket_size=1000).collect()
    )
    assert auto_cms == exact_capped


def test_llm_pipeline_composition_golden(spark):
    """Row-count golden for the composed LLM-curation bench row
    (bench._llm_pipeline: gopher gate → ccnet head → minhash dedup →
    dsir resample → splits → packing).  Every stage is individually
    oracled; this pins the COMPOSITION — a regression in any stage's
    contract (gate keep-set, tercile boundary, dedup survivors, sample
    draw, split hash, pack assignment) moves these counts."""
    import bench

    out = sorted(
        (r["split"], r["n_packs"], r["n_docs"])
        for r in bench._llm_pipeline(spark, "/root/testdata/sf0.001").collect()
    )
    # Re-pinned r12: the CCNet stage now keeps the true head tercile
    # (>= 2/3 percentile of avg_logp per lang), halving survivors vs the
    # r11 golden which kept the top two-thirds (advisor-r11 fix).
    assert out == [("test", 1, 9), ("train", 4, 104), ("val", 1, 13)]


def test_examples_pipeline_composition_golden(spark):
    """Row-count golden for the composed training-example bench row
    (bench._examples_pipeline: sentence chunking → FIM at 50% →
    token-budget packing by mode).  Each stage is individually oracled;
    this pins the COMPOSITION — a change in chunk boundaries, FIM rate
    arithmetic, or pack assignment moves these counts."""
    import bench

    out = sorted(
        (r["mode"], r["n_packs"], r["n_examples"])
        for r in bench._examples_pipeline(
            spark, "/root/testdata/sf0.001"
        ).collect()
    )
    assert out == [("none", 27, 242), ("psm", 13, 121), ("spm", 16, 137)]


def test_decontam_pipeline_composition_golden(spark):
    """Row-count golden for the layered decontamination bench row
    (bench._decontam_pipeline: Bloom containment prefilter → MinHash
    LSH verify → per-source accounting).  Each layer is individually
    oracled; this pins the COMPOSITION, and the layering must be LOSSLESS:
    the dropped set equals what the full (unprefiltered) LSH+verify run
    drops — the Bloom gate may only shrink the suspect set, never the
    answer."""
    import bench
    from pyspark.sql import functions as F

    from etl_pipeline2_0_spark.functions import dedup

    out = sorted(
        (r["source"], r["n_train"], r["n_suspect"], r["n_dropped"])
        for r in bench._decontam_pipeline(
            spark, "/root/testdata/sf0.001"
        ).collect()
    )
    assert out == [
        ("src0", 25, 1, 1), ("src10", 25, 8, 3), ("src12", 25, 2, 0),
        ("src14", 25, 3, 2), ("src16", 25, 5, 3), ("src18", 25, 0, 0),
        ("src2", 25, 6, 0), ("src4", 25, 5, 2), ("src6", 25, 2, 0),
        ("src8", 25, 1, 0),
    ]
    # losslessness: prefiltered pipeline == full LSH run, doc for doc
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    full = dedup.minhash_decontaminate(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
        k=3, num_hashes=16, bands=8, threshold=0.5,
    )
    assert full.select("train_id").distinct().count() == sum(
        n for (_, _, _, n) in out
    )


def test_preference_pipeline_composition_golden(spark):
    """Row-count golden for the composed post-training bench row
    (bench._preference_pipeline: one scored pool → best-of-3 selection
    → SFT packing → DPO pairs).  Each stage is individually oracled;
    this pins the COMPOSITION.  sft_examples equals the best-of-3
    selection size here because every selected doc clears sft_pack's
    >=2-token floor — a selection or packing change breaks the
    identity."""
    import bench

    out = sorted(
        (r["stage"], r["n"])
        for r in bench._preference_pipeline(
            spark, "/root/testdata/sf0.001"
        ).collect()
    )
    assert out == [
        ("best_of_n", 192), ("dpo_pairs", 64),
        ("sft_examples", 192), ("sft_packs", 34),
    ]
