"""Tokenizer plans: BPE and unigram-LM training, segmentation, encoding, fertility, and the decision tables.

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



def q_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BPE-ish token count (word pieces + length penalty) — native regex,
    # the pretraining cost estimator run per document.
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.bpe_ish_token_count(F.col("text")).cast("bigint").alias("bpe_tokens"),
    )


SQL_BPE_TOKEN_ESTIMATE = r"""
WITH t AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '\W+'), x -> length(x) > 0) AS toks,
    LENGTH(regexp_replace(text, '[\w \x09\x0A\x0D\x0B\x0C]', '', 'g')) AS punct
  FROM documents
)
SELECT doc_id,
  CAST(list_sum(list_transform(toks, x -> CAST(CEIL(LENGTH(x) / 6.0) AS INT)))
       + punct AS BIGINT) AS bpe_tokens
FROM t
"""


# -------------------------------------------------- vocab-id tokenization -


def q_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Vocabulary-id encoding with V=16 (matching q_vocab_oov) so UNK=0
    # appears; the id array serializes to a canonical CSV string for the
    # cross-engine value hash (same convention as collect_values).
    docs = load_table(spark, sf_dir, "documents")
    out = text.tokenize_ids(docs, "text", "doc_id", vocab_size=16)
    return out.select(
        "doc_id",
        "n_tokens",
        F.concat_ws(
            ",", F.transform(F.col("token_ids"), lambda x: x.cast("string"))
        ).alias("token_ids"),
    )


SQL_TOKENIZE_IDS = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\W+'),
                     x -> length(x) > 0) AS ts
  FROM documents
), toks AS (
  SELECT doc_id, unnest(ts) AS tok, generate_subscripts(ts, 1) AS ord
  FROM base
), gc AS (
  SELECT tok, COUNT(*) AS total FROM toks GROUP BY 1
), vocab AS (
  SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY total DESC, tok) AS INT) AS tid
  FROM (SELECT tok, total FROM gc ORDER BY total DESC, tok LIMIT 16) v
)
SELECT t.doc_id,
  COUNT(*) AS n_tokens,
  array_to_string(list(COALESCE(vb.tid, 0) ORDER BY t.ord), ',') AS token_ids
FROM toks t LEFT JOIN vocab vb ON t.tok = vb.tok
GROUP BY t.doc_id
"""


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The canonical tokenizer-training op: first 8 BPE merge rules learned
    # from the documents corpus (word-frequency dict bounded at 512 types).
    # Fully declarative k-iteration loop, exact k-CTE DuckDB twin — see
    # functions/text.bpe_train_merges for the double-separator literal-
    # replace encoding that makes the merge step engine-portable.
    docs = load_table(spark, sf_dir, "documents")
    return text.bpe_train_merges(docs, n_merges=8, max_word_types=512)


def _sql_bpe_ctes(n_merges: int = 8, max_word_types: int = 512) -> str:
    # Generated k-block CTE chain mirroring the Spark loop iteration for
    # iteration: pairs -> weighted argmax (count desc, pair asc) -> literal
    # double-separator replace.  words CTEs are MATERIALIZED: DuckDB
    # inlines multi-referenced CTEs by default, which re-evaluates the
    # chain exponentially in k (measured: k=6 already 4.7 s at sf0.001,
    # materialized k=8 is 0.1 s).
    parts = [
        rf"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                            x -> length(x) > 0)) AS word
  FROM documents
), words0 AS MATERIALIZED (
  SELECT word,
         '·' || array_to_string(regexp_extract_all(word, '.'), '··') || '·'
           AS sym,
         cnt
  FROM (
    SELECT word, COUNT(*) AS cnt FROM toks GROUP BY word
    ORDER BY cnt DESC, word LIMIT {max_word_types}
  )
)"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f""", pairs{i} AS (
  SELECT unnest(list_transform(
           generate_series(1, len(string_split(trim(sym, '·'), '··')) - 1),
           j -> string_split(trim(sym, '·'), '··')[j] || '·'
                || string_split(trim(sym, '·'), '··')[j + 1])) AS pair,
         cnt
  FROM words{i - 1}
), best{i} AS (
  SELECT {i} AS step, pair, SUM(cnt) AS pair_cnt
  FROM pairs{i} GROUP BY pair
  ORDER BY pair_cnt DESC, pair LIMIT 1
), words{i} AS MATERIALIZED (
  SELECT word,
         CASE WHEN (SELECT pair FROM best{i}) IS NULL THEN sym
              ELSE replace(sym,
                '·' || replace((SELECT pair FROM best{i}), '·', '··') || '·',
                '·' || replace((SELECT pair FROM best{i}), '·', '') || '·')
         END AS sym,
         cnt
  FROM words{i - 1}
)"""
        )
    return "".join(parts)


def _sql_bpe_train(n_merges: int = 8, max_word_types: int = 512) -> str:
    union = "\n  UNION ALL\n  ".join(
        f"SELECT step, pair, pair_cnt FROM best{i}"
        for i in range(1, n_merges + 1)
    )
    return (
        _sql_bpe_ctes(n_merges, max_word_types)
        + f"""
SELECT CAST(step AS INT) AS step, pair,
       replace(pair, '·', '') AS merged,
       CAST(pair_cnt AS BIGINT) AS pair_cnt
FROM (
  {union}
)"""
    )


SQL_BPE_TRAIN_MERGES = _sql_bpe_train()


def q_bpe_segment_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BPE applied: the word-type table's final segmentation after the 8
    # learned merges (train→apply pair with q_bpe_train_merges — the
    # training loop's terminal state IS the segmentation).
    docs = load_table(spark, sf_dir, "documents")
    return text.bpe_segment_words(docs, n_merges=8, max_word_types=512)


def _sql_bpe_segment(n_merges: int = 8, max_word_types: int = 512) -> str:
    return (
        _sql_bpe_ctes(n_merges, max_word_types)
        + f"""
SELECT word,
       replace(trim(sym, '·'), '··', ' ') AS pieces,
       CAST(len(string_split(replace(trim(sym, '·'), '··', ' '), ' '))
            AS INT) AS n_pieces,
       CAST(cnt AS BIGINT) AS cnt
FROM words{n_merges}"""
    )


SQL_BPE_SEGMENT_WORDS = _sql_bpe_segment()


def q_bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus pricing under the trained tokenizer: per-doc word count and
    # BPE piece count (vocab words use their segmentation; OOV words fall
    # back to character pieces) — train→apply→encode, end to end.
    docs = load_table(spark, sf_dir, "documents")
    return text.bpe_encode_docs(docs, n_merges=8, max_word_types=512)


def _sql_bpe_encode(n_merges: int = 8, max_word_types: int = 512) -> str:
    return (
        _sql_bpe_ctes(n_merges, max_word_types)
        + f""", seg AS (
  SELECT word,
         len(string_split(replace(trim(sym, '·'), '··', ' '), ' '))
           AS vocab_pieces
  FROM words{n_merges}
), doc_words AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\\W+'),
                            x -> length(x) > 0)) AS word
  FROM documents
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(COALESCE(vocab_pieces, length(word))) AS BIGINT) AS n_pieces
FROM doc_words LEFT JOIN seg USING (word)
GROUP BY doc_id"""
    )


SQL_BPE_ENCODE_DOCS = _sql_bpe_encode()


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Tokenizer fertility by source: average BPE pieces per word under the
    # corpus-trained tokenizer — a standard corpus-quality / language-
    # coverage signal (gibberish and out-of-domain text fragment into many
    # pieces; well-covered text approaches 1 piece/word).  Pure
    # composition: bpe_encode_docs carries ``source`` through its one
    # corpus pass (carry_cols) → one per-source aggregate — no second
    # join against the corpus (the DuckDB twin always worked this way).
    docs = load_table(spark, sf_dir, "documents")
    enc = text.bpe_encode_docs(
        docs, n_merges=8, max_word_types=512, carry_cols=("source",)
    )
    return (
        enc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_pieces").cast("bigint").alias("n_pieces"),
            F.round(F.sum("n_pieces") / F.sum("n_words"), 6).alias("fertility"),
        )
    )


def _sql_tokenizer_fertility(n_merges: int = 8, max_word_types: int = 512) -> str:
    return (
        _sql_bpe_ctes(n_merges, max_word_types)
        + f""", seg AS (
  SELECT word,
         len(string_split(replace(trim(sym, '·'), '··', ' '), ' '))
           AS vocab_pieces
  FROM words{n_merges}
), doc_words AS (
  SELECT doc_id, source,
         unnest(list_filter(regexp_split_to_array(lower(text), '\\W+'),
                            x -> length(x) > 0)) AS word
  FROM documents
), enc AS (
  SELECT doc_id, source,
         COUNT(*) AS n_words,
         SUM(COALESCE(vocab_pieces, length(word))) AS n_pieces
  FROM doc_words LEFT JOIN seg USING (word)
  GROUP BY doc_id, source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS n_words,
       CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
       ROUND(SUM(n_pieces) * 1.0 / SUM(n_words), 6) AS fertility
FROM enc GROUP BY source"""
    )


SQL_TOKENIZER_FERTILITY = _sql_tokenizer_fertility()


def q_bpe_fertility_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The BPE merge-budget sizing curve: fertility after 0/2/4/8 merges
    # from ONE training run (k=0 = the character-split ceiling) — the
    # eighth measured sizing curve, next to vocab_oov_curve on the
    # tokenizer-budget decision.
    docs = load_table(spark, sf_dir, "documents")
    return text.bpe_fertility_curve(docs, ks=(0, 2, 4, 8))


def _sql_bpe_fertility_curve(
    ks: "tuple[int, ...]" = (0, 2, 4, 8), max_word_types: int = 512
) -> str:
    # The unrolled BPE CTE chain exposes every intermediate word frame —
    # the curve is a UNION of bounded aggregates over words{k}.
    union = "\n  UNION ALL\n  ".join(
        f"SELECT CAST({k} AS INT) AS n_merges,"
        f" CAST(COUNT(*) AS BIGINT) AS n_word_types,"
        f" CAST(SUM(cnt) AS BIGINT) AS total_words,"
        f" CAST(SUM(cnt * len(string_split(trim(sym, '·'), '··'))) AS BIGINT)"
        f" AS total_pieces"
        f" FROM words{k}"
        for k in sorted(int(k) for k in ks)
    )
    return (
        _sql_bpe_ctes(max(int(k) for k in ks), max_word_types)
        + f"""
SELECT n_merges, n_word_types, total_words, total_pieces,
       total_pieces / total_words AS fertility
FROM (
  {union}
)
ORDER BY n_merges
"""
    )


SQL_BPE_FERTILITY_CURVE = _sql_bpe_fertility_curve()


# ------------------------------ unigram-LM tokenizer training (Kudo 2018) -


def q_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SentencePiece-family unigram-LM vocabulary, Viterbi hard-EM over
    # the bounded word-type table (2 EM rounds, pieces <= 4 chars,
    # vocab 200 + all single chars).
    from etl_pipeline2_0_spark.functions import unigram

    docs = load_table(spark, sf_dir, "documents")
    return unigram.unigram_train(
        docs, vocab_size=200, em_iters=2, max_piece_len=4,
        max_word_types=256, max_word_len=12,
    )


def _sql_unigram_train(
    vocab_size: int = 200,
    em_iters: int = 2,
    max_piece_len: int = 4,
    max_word_types: int = 256,
    max_word_len: int = 12,
) -> str:
    # The Spark side folds the Viterbi DP JVM-side; this twin unrolls the
    # SAME recurrence as max_word_len argmax CTEs (forward) plus
    # max_word_len backpointer hops (backward) per EM round — identical
    # 6 dp rounding, identical (cost desc, span-len desc, piece asc)
    # tie-break, so values agree exactly.  Multi-referenced CTEs are
    # MATERIALIZED (the BPE-twin lesson: DuckDB inlines them
    # exponentially otherwise).
    L = max_word_len
    parts = [
        r"""wt AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                              x -> length(x) > 0)) AS word
    FROM documents
  ) WHERE length(word) <= """ + str(L) + f"""
  GROUP BY word ORDER BY freq DESC, word ASC LIMIT {max_word_types}
)""",
        f"""spans AS MATERIALIZED (
  SELECT word, freq, i, j, substring(word, i + 1, j - i) AS piece
  FROM (
    SELECT word, freq, unnest(generate_series(0, length(word) - 1)) AS i
    FROM wt
  ), LATERAL (
    SELECT unnest(generate_series(i + 1,
                                  LEAST(i + {max_piece_len},
                                        length(word)))) AS j
  )
)""",
        """cand0 AS MATERIALIZED (
  SELECT piece, CAST(SUM(freq) AS BIGINT) AS c FROM spans GROUP BY piece
)""",
        "ncand AS (SELECT COUNT(*) AS n FROM cand0)",
    ]
    for it in range(1, em_iters + 1):
        prev = f"cand{it - 1}"
        parts += [
            f"tot{it} AS (SELECT SUM(c) AS t FROM {prev})",
            f"""probs{it} AS MATERIALIZED (
  SELECT piece, ROUND(ln((c + 1.0) / (t + n)), 6) AS logp
  FROM {prev} CROSS JOIN tot{it} CROSS JOIN ncand
)""",
            f"""sp{it} AS MATERIALIZED (
  SELECT s.word, s.i, s.j, s.piece, p.logp
  FROM spans s JOIN probs{it} p USING (piece)
)""",
            f"""bu{it}_0 AS MATERIALIZED (
  SELECT word, 0 AS pos, 0.0 AS cost,
         CAST(NULL AS INT) AS bp_i, CAST(NULL AS VARCHAR) AS bp_piece
  FROM wt
)""",
        ]
        for j in range(1, L + 1):
            parts += [
                f"""b{it}_{j} AS MATERIALIZED (
  SELECT word, {j} AS pos, cost, i AS bp_i, piece AS bp_piece FROM (
    SELECT s.word, s.i, s.piece, ROUND(b.cost + s.logp, 6) AS cost,
           ROW_NUMBER() OVER (PARTITION BY s.word
                              ORDER BY ROUND(b.cost + s.logp, 6) DESC,
                                       (s.j - s.i) DESC, s.piece ASC) AS rn
    FROM sp{it} s
    JOIN bu{it}_{j - 1} b ON b.word = s.word AND b.pos = s.i
    WHERE s.j = {j}
  ) WHERE rn = 1
)""",
                f"""bu{it}_{j} AS MATERIALIZED (
  SELECT * FROM bu{it}_{j - 1} UNION ALL SELECT * FROM b{it}_{j}
)""",
            ]
        parts.append(
            f"""cur{it}_0 AS (
  SELECT word, freq, CAST(length(word) AS INT) AS pos FROM wt
)"""
        )
        for s in range(1, L + 1):
            parts += [
                f"""hop{it}_{s} AS MATERIALIZED (
  SELECT c.word, c.freq, b.bp_i, b.bp_piece
  FROM cur{it}_{s - 1} c
  JOIN bu{it}_{L} b ON b.word = c.word AND b.pos = c.pos
  WHERE c.pos > 0
)""",
                f"""cur{it}_{s} AS (
  SELECT word, freq, bp_i AS pos FROM hop{it}_{s}
)""",
            ]
        used_union = "\n  UNION ALL\n".join(
            f"  SELECT freq, bp_piece AS piece FROM hop{it}_{s}"
            for s in range(1, L + 1)
        )
        parts += [
            f"used{it} AS (\n{used_union}\n)",
            f"""cand{it} AS MATERIALIZED (
  SELECT c0.piece,
         CAST(COALESCE(u.c, 0) AS BIGINT) AS c
  FROM cand0 c0
  LEFT JOIN (SELECT piece, SUM(freq) AS c FROM used{it} GROUP BY piece) u
    USING (piece)
)""",
        ]
    last = f"cand{em_iters}"
    parts += [
        f"tot_f AS (SELECT SUM(c) AS t FROM {last})",
        f"""scored AS (
  SELECT piece, CAST(c AS BIGINT) AS n_uses,
         ROUND(ln((c + 1.0) / (t + n)), 6) AS logp,
         ROW_NUMBER() OVER (ORDER BY c DESC, piece ASC) AS rn
  FROM {last} CROSS JOIN tot_f CROSS JOIN ncand
)""",
        f"""vocab AS MATERIALIZED (
  SELECT piece, n_uses, logp FROM scored
  WHERE rn <= {vocab_size} OR length(piece) = 1
)""",
    ]
    return parts


def _sql_unigram_train_sql() -> str:
    parts = _sql_unigram_train()
    return "WITH " + ",\n".join(parts) + "\nSELECT piece, n_uses, logp FROM vocab"


def _sql_dp_chain(tag: str, wt_cte: str, spans_cte: str, L: int) -> list:
    # One Viterbi pass as unrolled CTEs over ``wt_cte`` words with
    # ``spans_cte`` (word, i, j, piece, logp) spans: forward argmax
    # steps {tag}_j with running union {tag}u_j, then backward
    # backpointer hops {tag}h_s.  Callers assemble segmentations from
    # the hops ({tag}seg: word, freq, step, piece — end-first order).
    parts = [
        f"""{tag}u_0 AS MATERIALIZED (
  SELECT word, 0 AS pos, 0.0 AS cost,
         CAST(NULL AS INT) AS bp_i, CAST(NULL AS VARCHAR) AS bp_piece
  FROM {wt_cte}
)""",
    ]
    for j in range(1, L + 1):
        parts += [
            f"""{tag}_{j} AS MATERIALIZED (
  SELECT word, {j} AS pos, cost, i AS bp_i, piece AS bp_piece FROM (
    SELECT s.word, s.i, s.piece, ROUND(b.cost + s.logp, 6) AS cost,
           ROW_NUMBER() OVER (PARTITION BY s.word
                              ORDER BY ROUND(b.cost + s.logp, 6) DESC,
                                       (s.j - s.i) DESC, s.piece ASC) AS rn
    FROM {spans_cte} s
    JOIN {tag}u_{j - 1} b ON b.word = s.word AND b.pos = s.i
    WHERE s.j = {j}
  ) WHERE rn = 1
)""",
            f"""{tag}u_{j} AS MATERIALIZED (
  SELECT * FROM {tag}u_{j - 1} UNION ALL SELECT * FROM {tag}_{j}
)""",
        ]
    parts.append(
        f"{tag}c_0 AS (SELECT word, freq, CAST(length(word) AS INT) AS pos"
        f" FROM {wt_cte})"
    )
    for s in range(1, L + 1):
        parts += [
            f"""{tag}h_{s} AS MATERIALIZED (
  SELECT c.word, c.freq, b.bp_i, b.bp_piece
  FROM {tag}c_{s - 1} c
  JOIN {tag}u_{L} b ON b.word = c.word AND b.pos = c.pos
  WHERE c.pos > 0
)""",
            f"{tag}c_{s} AS (SELECT word, freq, bp_i AS pos FROM {tag}h_{s})",
        ]
    used_union = "\n  UNION ALL\n".join(
        f"  SELECT word, freq, {s} AS step, bp_piece AS piece"
        f" FROM {tag}h_{s}"
        for s in range(1, L + 1)
    )
    parts.append(f"{tag}seg AS (\n{used_union}\n)")
    return parts


def _sql_unigram_segment_sql(max_word_len: int = 12) -> str:
    # Extends the train CTE chain with one more Viterbi pass under the
    # PRUNED vocab, then reassembles each word's segmentation in reading
    # order (hops emit end-first -> ORDER BY step DESC).
    parts = _sql_unigram_train()
    parts.append(
        """spv AS MATERIALIZED (
  SELECT s.word, s.i, s.j, s.piece, v.logp
  FROM spans s JOIN vocab v USING (piece)
)"""
    )
    parts += _sql_dp_chain("bv", "wt", "spv", max_word_len)
    return (
        "WITH " + ",\n".join(parts) + """
SELECT word, freq,
       CAST(COUNT(*) AS INT) AS n_pieces,
       string_agg(piece, ' ' ORDER BY step DESC) AS pieces
FROM bvseg GROUP BY word, freq
"""
    )


def _sql_unigram_fertility_sql(max_word_len: int = 12) -> str:
    # Fertility by source under the trained vocab: the DP chain runs
    # over ALL distinct corpus words (length-capped); uncovered words
    # (no Viterbi path under the pruned vocab, or too long) count in
    # n_words but not the fertility denominator.
    parts = _sql_unigram_train()
    parts += [
        r"""toksrc AS MATERIALIZED (
  SELECT source AS grp,
         unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                            x -> length(x) > 0)) AS word
  FROM documents
)""",
        """sw AS MATERIALIZED (
  SELECT grp, word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toksrc GROUP BY 1, 2
)""",
        f"""wta AS MATERIALIZED (
  SELECT DISTINCT word, CAST(1 AS BIGINT) AS freq FROM sw
  WHERE length(word) <= {max_word_len}
)""",
        f"""spa AS MATERIALIZED (
  SELECT t.word, t.i, t.j, substring(t.word, t.i + 1, t.j - t.i) AS piece,
         v.logp
  FROM (
    SELECT word, i, unnest(generate_series(i + 1,
                           LEAST(i + 4, length(word)))) AS j
    FROM (
      SELECT word, unnest(generate_series(0, length(word) - 1)) AS i
      FROM wta
    )
  ) t JOIN vocab v ON v.piece = substring(t.word, t.i + 1, t.j - t.i)
)""",
    ]
    parts += _sql_dp_chain("fa", "wta", "spa", max_word_len)
    parts.append(
        """perw AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS wp FROM faseg GROUP BY word
)"""
    )
    return (
        "WITH " + ",\n".join(parts) + """
SELECT sw.grp AS source,
       CAST(SUM(sw.cnt) AS BIGINT) AS n_words,
       CAST(SUM(CASE WHEN p.wp IS NOT NULL THEN sw.cnt ELSE 0 END)
            AS BIGINT) AS n_covered,
       CAST(SUM(CASE WHEN p.wp IS NOT NULL THEN sw.cnt * p.wp ELSE 0 END)
            AS BIGINT) AS n_pieces,
       ROUND(SUM(CASE WHEN p.wp IS NOT NULL THEN sw.cnt * p.wp ELSE 0 END)
             * 1.0 /
             GREATEST(SUM(CASE WHEN p.wp IS NOT NULL THEN sw.cnt
                               ELSE 0 END), 1), 6) AS fertility
FROM sw LEFT JOIN perw p USING (word)
GROUP BY sw.grp
"""
    )


SQL_UNIGRAM_TRAIN = _sql_unigram_train_sql()

SQL_UNIGRAM_SEGMENT = _sql_unigram_segment_sql()

SQL_UNIGRAM_FERTILITY = _sql_unigram_fertility_sql()


def q_tokenizer_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The tokenizer decision table: per-source fertility + OOV rate for
    # BPE vs unigram-LM trained on the same corpus under the same word
    # tokenization, with the fertility delta — one shared occurrence
    # aggregate joined against both trained segmentation tables.
    from etl_pipeline2_0_spark.functions import unigram

    docs = load_table(spark, sf_dir, "documents")
    return unigram.tokenizer_compare(
        docs, n_merges=8, max_word_types_bpe=512, vocab_size=200,
        em_iters=2, max_piece_len=4, max_word_types=256, max_word_len=12,
    )


def _sql_tokenizer_compare(
    n_merges: int = 8,
    max_word_types_bpe: int = 512,
    max_word_len: int = 12,
    vocab_size: int = 200,
) -> str:
    # Composes the BPE merge-chain CTEs with the unigram train + scoring
    # DP chain (no CTE name overlap between the families), then one
    # grouped aggregate over the shared per-(source, word) occurrence
    # table left-joined against both segmentation tables.
    bpe = _sql_bpe_ctes(n_merges, max_word_types_bpe)
    parts = _sql_unigram_train(vocab_size=vocab_size)
    parts += [
        r"""toksrc AS MATERIALIZED (
  SELECT source AS grp,
         unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                            x -> length(x) > 0)) AS word
  FROM documents
)""",
        """sw AS MATERIALIZED (
  SELECT grp, word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toksrc GROUP BY 1, 2
)""",
        f"""wta AS MATERIALIZED (
  SELECT DISTINCT word, CAST(1 AS BIGINT) AS freq FROM sw
  WHERE length(word) <= {max_word_len}
)""",
        f"""spa AS MATERIALIZED (
  SELECT t.word, t.i, t.j, substring(t.word, t.i + 1, t.j - t.i) AS piece,
         v.logp
  FROM (
    SELECT word, i, unnest(generate_series(i + 1,
                           LEAST(i + 4, length(word)))) AS j
    FROM (
      SELECT word, unnest(generate_series(0, length(word) - 1)) AS i
      FROM wta
    )
  ) t JOIN vocab v ON v.piece = substring(t.word, t.i + 1, t.j - t.i)
)""",
    ]
    parts += _sql_dp_chain("fa", "wta", "spa", max_word_len)
    parts += [
        """perw AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS wp FROM faseg GROUP BY word
)""",
        f"""bseg AS MATERIALIZED (
  SELECT word,
         CAST(len(string_split(replace(trim(sym, '·'), '··', ' '), ' '))
              AS BIGINT) AS bp
  FROM words{n_merges}
)""",
        """cmp AS (
  SELECT sw.grp AS source,
         CAST(SUM(sw.cnt) AS BIGINT) AS n_words,
         CAST(SUM(CASE WHEN b.bp IS NOT NULL THEN sw.cnt ELSE 0 END)
              AS BIGINT) AS bpe_covered,
         CAST(SUM(CASE WHEN b.bp IS NOT NULL THEN sw.cnt * b.bp ELSE 0 END)
              AS BIGINT) AS bpe_pieces,
         CAST(SUM(CASE WHEN p.wp IS NOT NULL THEN sw.cnt ELSE 0 END)
              AS BIGINT) AS uni_covered,
         CAST(SUM(CASE WHEN p.wp IS NOT NULL THEN sw.cnt * p.wp ELSE 0 END)
              AS BIGINT) AS uni_pieces
  FROM sw LEFT JOIN bseg b USING (word) LEFT JOIN perw p USING (word)
  GROUP BY sw.grp
)""",
    ]
    return (
        bpe + ",\n" + ",\n".join(parts) + """
SELECT source, n_words, bpe_covered, bpe_pieces, uni_covered, uni_pieces,
       ROUND(bpe_pieces * 1.0 / GREATEST(bpe_covered, 1), 6)
         AS bpe_fertility,
       ROUND(uni_pieces * 1.0 / GREATEST(uni_covered, 1), 6)
         AS uni_fertility,
       ROUND(1.0 - bpe_covered * 1.0 / n_words, 6) AS bpe_oov_rate,
       ROUND(1.0 - uni_covered * 1.0 / n_words, 6) AS uni_oov_rate,
       ROUND(uni_pieces * 1.0 / GREATEST(uni_covered, 1)
             - bpe_pieces * 1.0 / GREATEST(bpe_covered, 1), 6)
         AS fertility_delta
FROM cmp
"""
    )


SQL_TOKENIZER_COMPARE = _sql_tokenizer_compare()


def q_tokenizer_compare_eqv(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EQUAL-BUDGET variant of the decision table (r13 verdict item 7):
    # the default row trains BPE over 512 word types against a 200-piece
    # unigram vocab, confounding the family comparison with budget.
    # Here both families get the SAME budgets — 256 training word types
    # each, and a 32-piece effective vocabulary each: BPE's terminal
    # piece vocab is exactly its corpus alphabet + one piece per merge
    # (measured 24 distinct characters on this corpus at every SF, + 8
    # merges = 32), and unigram prunes to vocab_size=32 (its 24 single
    # chars survive pruning for coverage, so the multi-char piece budget
    # is 8 vs 8).  The fertility_delta of THIS row compares families,
    # not budgets.
    from etl_pipeline2_0_spark.functions import unigram

    docs = load_table(spark, sf_dir, "documents")
    return unigram.tokenizer_compare(
        docs, n_merges=8, max_word_types_bpe=256, vocab_size=32,
        em_iters=2, max_piece_len=4, max_word_types=256, max_word_len=12,
    )


SQL_TOKENIZER_COMPARE_EQV = _sql_tokenizer_compare(
    max_word_types_bpe=256, vocab_size=32
)


def q_unigram_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pieces-per-word by source under the trained unigram vocab — the
    # tokenizer_fertility mirror, directly comparable with the BPE row.
    from etl_pipeline2_0_spark.functions import unigram

    docs = load_table(spark, sf_dir, "documents")
    return unigram.unigram_fertility(
        docs, vocab_size=200, em_iters=2, max_piece_len=4,
        max_word_types=256, max_word_len=12,
    )


def q_unigram_segment_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Apply side of the unigram trainer: Viterbi segmentation of every
    # word type under the pruned trained vocabulary.
    from etl_pipeline2_0_spark.functions import unigram

    docs = load_table(spark, sf_dir, "documents")
    return unigram.unigram_segment_words(
        docs, vocab_size=200, em_iters=2, max_piece_len=4,
        max_word_types=256, max_word_len=12,
    )


def q_unigram_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus pricing under the trained unigram tokenizer — the
    # bpe_encode_docs mirror with uncovered-word accounting.
    from etl_pipeline2_0_spark.functions import unigram

    docs = load_table(spark, sf_dir, "documents")
    return unigram.unigram_encode_docs(
        docs, vocab_size=200, em_iters=2, max_piece_len=4,
        max_word_types=256, max_word_len=12,
    )


def _sql_unigram_encode_sql(max_word_len: int = 12) -> str:
    # The fertility twin's DP chain keyed per DOC instead of per source.
    parts = _sql_unigram_train()
    parts += [
        r"""tokdoc AS MATERIALIZED (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                            x -> length(x) > 0)) AS word
  FROM documents
)""",
        """dw AS MATERIALIZED (
  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM tokdoc GROUP BY 1, 2
)""",
        f"""wta AS MATERIALIZED (
  SELECT DISTINCT word, CAST(1 AS BIGINT) AS freq FROM dw
  WHERE length(word) <= {max_word_len}
)""",
        f"""spa AS MATERIALIZED (
  SELECT t.word, t.i, t.j, substring(t.word, t.i + 1, t.j - t.i) AS piece,
         v.logp
  FROM (
    SELECT word, i, unnest(generate_series(i + 1,
                           LEAST(i + 4, length(word)))) AS j
    FROM (
      SELECT word, unnest(generate_series(0, length(word) - 1)) AS i
      FROM wta
    )
  ) t JOIN vocab v ON v.piece = substring(t.word, t.i + 1, t.j - t.i)
)""",
    ]
    parts += _sql_dp_chain("fa", "wta", "spa", max_word_len)
    parts.append(
        """perw AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS wp FROM faseg GROUP BY word
)"""
    )
    return (
        "WITH " + ",\n".join(parts) + """
SELECT dw.doc_id,
       CAST(SUM(dw.cnt) AS BIGINT) AS n_words,
       CAST(SUM(CASE WHEN p.wp IS NOT NULL THEN dw.cnt ELSE 0 END)
            AS BIGINT) AS n_covered,
       CAST(SUM(CASE WHEN p.wp IS NOT NULL THEN dw.cnt * p.wp ELSE 0 END)
            AS BIGINT) AS n_pieces
FROM dw LEFT JOIN perw p USING (word)
GROUP BY dw.doc_id
"""
    )


SQL_UNIGRAM_ENCODE = _sql_unigram_encode_sql()
