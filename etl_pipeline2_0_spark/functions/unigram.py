"""Unigram-LM tokenizer training (SentencePiece's model family).

Implements Kudo 2018 ("Subword Regularization: Improving Neural Network
Translation Models with Multiple Subword Candidates" — the unigram
language model SentencePiece trains) in the hard-EM (Viterbi) variant:

  1. candidate vocabulary = every substring (length ≤ ``max_piece_len``)
     of the bounded word-TYPE table, seeded with frequency-weighted
     substring-occurrence counts;
  2. E-step: Viterbi-best segmentation of every word type under the
     current piece log-probabilities;
  3. M-step: re-estimate piece probabilities from the frequency-weighted
     Viterbi usage counts (add-one smoothed so unused candidates stay
     finite);
  4. after ``em_iters`` rounds, prune to the ``vocab_size`` highest-count
     pieces, never dropping single characters (coverage guarantee —
     every word stays segmentable).

Everything is expressed RELATIONALLY so the whole loop carries an exact
DuckDB twin: the Viterbi DP unrolls as ``max_word_len`` bounded
argmax-join steps (forward) plus ``max_word_len`` backpointer-walk steps
(backward) per EM round, all over the ≤ ``max_word_types``-row type
table — the same bounded-loop discipline as the BPE trainer
(``text.bpe_train_merges``), and like it COMPLETELY corpus-size-
independent after the one full-corpus word count.

Determinism contract (mirrored verbatim in the SQL twin): log-probs and
path costs round to 6 dp at every materialization; every argmax breaks
ties by (cost desc, span length desc, piece asc); the word-type cut is
(freq desc, word asc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _word_types(
    df: DataFrame,
    text_col: str,
    max_word_types: int,
    max_word_len: int,
) -> DataFrame:
    toks = df.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"\W+"),
                lambda t: F.length(t) > 0,
            )
        ).alias("word")
    ).where(F.length("word") <= max_word_len)
    return (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(max_word_types)
        .localCheckpoint(eager=False)
    )


def _spans(wt: DataFrame, max_piece_len: int) -> DataFrame:
    """All (word, i, j, piece) substring spans, 0 ≤ i < j ≤ len(word),
    j − i ≤ max_piece_len.  ≤ types · len · max_piece_len rows."""
    L = F.length("word")
    return (
        wt.select(
            "word",
            "freq",
            F.explode(F.sequence(F.lit(0), L - 1)).alias("i"),
        )
        .select(
            "word",
            "freq",
            "i",
            F.explode(
                F.sequence(
                    F.col("i") + 1,
                    F.least(F.col("i") + max_piece_len, F.length("word")),
                )
            ).alias("j"),
        )
        .select(
            "word",
            "freq",
            "i",
            "j",
            F.expr("substring(word, i + 1, j - i)").alias("piece"),
        )
    )


def _viterbi_segments(
    spans_p: DataFrame,
    wt: DataFrame,
    max_word_len: int,
) -> DataFrame:
    """One E-step core: Viterbi-segment every word type under the piece
    log-probs carried on ``spans_p`` (word, i, j, piece, logp); return
    (word, freq, pieces) with the ordered best segmentation.

    The DP runs as a JVM-side higher-order FOLD per word (collect the
    word's spans once, ``aggregate`` over positions building the
    cost+backpointer array, a second bounded fold walks the pointers
    back) — one stage per E-step instead of the 2·max_word_len argmax
    joins the relational formulation costs (measured ~4× end-to-end;
    the zip_with/codegen discipline).  The DuckDB twin keeps the
    unrolled-CTE relational construction — identical recurrence,
    identical 6 dp rounding and (cost desc, span-length desc, piece asc)
    tie-break, so values agree exactly.
    """
    wordspans = (
        spans_p.groupBy("word")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("i").alias("i"),
                    F.col("j").alias("j"),
                    F.col("piece").alias("piece"),
                    F.col("logp").alias("logp"),
                )
            ).alias("sp")
        )
        .join(wt, "word")
    )

    def _cmp(a, b):
        # (cost desc, span length desc, piece asc) — mirrored in the
        # twin's ROW_NUMBER ordering.
        return (
            F.when(a["cost"] > b["cost"], F.lit(-1))
            .when(a["cost"] < b["cost"], F.lit(1))
            .when(a["len"] > b["len"], F.lit(-1))
            .when(a["len"] < b["len"], F.lit(1))
            .when(a["piece"] < b["piece"], F.lit(-1))
            .when(a["piece"] > b["piece"], F.lit(1))
            .otherwise(F.lit(0))
        )

    sp = F.col("sp")
    init = F.array(
        F.struct(
            F.lit(0.0).alias("cost"),
            F.lit(-1).alias("bp_i"),
            F.lit(None).cast("string").alias("bp_piece"),
        )
    )

    def _forward(acc, j):
        cands = F.filter(sp, lambda s: s["j"] == j)
        scored = F.transform(
            cands,
            lambda s: F.struct(
                F.round(
                    F.element_at(acc, s["i"] + 1)["cost"] + s["logp"], 6
                ).alias("cost"),
                (s["j"] - s["i"]).alias("len"),
                s["piece"].alias("piece"),
                s["i"].alias("i"),
            ),
        )
        best = F.element_at(F.array_sort(scored, _cmp), 1)
        # Positions past the word's length have no candidates: carry a
        # null entry so indices stay aligned (never dereferenced — the
        # backward walk starts at len(word)).
        nxt = F.when(
            F.size(cands) == 0,
            F.struct(
                F.lit(None).cast("double").alias("cost"),
                F.lit(-1).alias("bp_i"),
                F.lit(None).cast("string").alias("bp_piece"),
            ),
        ).otherwise(
            F.struct(
                best["cost"].alias("cost"),
                best["i"].alias("bp_i"),
                best["piece"].alias("bp_piece"),
            )
        )
        return F.concat(acc, F.array(nxt))

    dp_col = F.aggregate(
        F.sequence(F.lit(1), F.least(F.length("word"), F.lit(max_word_len))),
        init,
        _forward,
    )
    withdp = wordspans.select("word", "freq", dp_col.alias("dp"))

    def _backward(acc, _):
        ent = F.element_at(F.col("dp"), acc["pos"] + 1)
        return F.when(acc["pos"] <= 0, acc).otherwise(
            F.struct(
                ent["bp_i"].alias("pos"),
                F.concat(
                    acc["pieces"], F.array(ent["bp_piece"])
                ).alias("pieces"),
            )
        )

    walk = F.aggregate(
        F.sequence(F.lit(1), F.least(F.length("word"), F.lit(max_word_len))),
        F.struct(
            F.length("word").cast("int").alias("pos"),
            F.array().cast("array<string>").alias("pieces"),
        ),
        _backward,
    )
    # The backward walk emits pieces END-first; reverse for reading order.
    return withdp.select(
        "word", "freq", F.reverse(walk["pieces"]).alias("pieces")
    )


def unigram_train(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 200,
    em_iters: int = 2,
    max_piece_len: int = 4,
    max_word_types: int = 256,
    max_word_len: int = 12,
) -> DataFrame:
    """Train a unigram-LM tokenizer vocabulary (Kudo 2018, Viterbi
    hard-EM; the model family SentencePiece ships) — see module
    docstring for the algorithm and determinism contract.

    Output: (piece, n_uses, logp) — the pruned ``vocab_size``-piece
    vocabulary with final frequency-weighted Viterbi usage counts and
    add-one-smoothed log-probabilities.  Single-character pieces are
    never pruned (coverage).

    Scale: ONE full-corpus pass (the word count feeding the type cut);
    the EM loop runs entirely on ≤ max_word_types·max_word_len·
    max_piece_len-row relations.
    """
    _, _, vocab = _train(
        df, text_col, vocab_size, em_iters, max_piece_len,
        max_word_types, max_word_len,
    )
    return vocab


def _round6(x: "float | None") -> "float | None":
    """Mirror of Spark's ``F.round(col, 6)`` on doubles: HALF_UP (away
    from zero) on the shortest round-trip decimal representation —
    ``repr(x)`` produces the same shortest form Java's
    ``BigDecimal.valueOf(double)`` rounds."""
    if x is None:
        return None
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def _viterbi_word_local(
    word: str,
    spans: "list[tuple[int, int, str]]",
    logp: "dict[str, float]",
    max_word_len: int,
) -> "list[str | None]":
    """Driver-local mirror of the :func:`_viterbi_segments` recurrence —
    identical 6 dp rounding at every DP step, identical (cost desc, span
    length desc, piece asc) tie-break with the HOF comparator's
    null-propagation semantics (a NULL-cost comparison is *false*, so
    the compare falls through to the length/piece keys), identical
    backward walk incl. the null-entry no-path marker."""
    import functools

    L = min(len(word), max_word_len)
    dp: "list[tuple[float | None, int, str | None]]" = [(0.0, -1, None)]
    by_j: "dict[int, list]" = {}
    for i, j, piece in spans:
        if piece in logp:
            by_j.setdefault(j, []).append((i, piece))

    def _cmp(a, b):
        # a/b = (cost, length, piece, i); None-aware like the HOF _cmp
        ac, al, ap, _ = a
        bc, bl, bp, _ = b
        if ac is not None and bc is not None:
            if ac > bc:
                return -1
            if ac < bc:
                return 1
        if al > bl:
            return -1
        if al < bl:
            return 1
        if ap < bp:
            return -1
        if ap > bp:
            return 1
        return 0

    for j in range(1, L + 1):
        cands = by_j.get(j)
        if not cands:
            dp.append((None, -1, None))
            continue
        scored = []
        for i, piece in cands:
            prev = dp[i][0]
            cost = None if prev is None else _round6(prev + logp[piece])
            scored.append((cost, j - i, piece, i))
        best = sorted(scored, key=functools.cmp_to_key(_cmp))[0]
        dp.append((best[0], best[3], best[2]))
    pos = len(word)
    pieces: "list[str | None]" = []
    for _ in range(L):
        if pos <= 0:
            break
        _, bp_i, bp_piece = dp[pos]
        pos = bp_i
        pieces.append(bp_piece)
    pieces.reverse()
    return pieces


def _train_local(
    df: DataFrame,
    text_col: str,
    vocab_size: int,
    em_iters: int,
    max_piece_len: int,
    max_word_types: int,
    max_word_len: int,
):
    """Driver-local unigram hard-EM (r17 optimization, guide §1.2/§5):
    the ONE full-corpus pass — the word count feeding the bounded
    TakeOrdered type cut — stays distributed; the EM loop then operates
    on the collected ≤ ``max_word_types``-row table, where the previous
    declarative formulation paid ~4 chained Spark jobs (probs + Viterbi
    fold + usage aggregate + checkpointed re-count) of scheduling and
    codegen per EM round.  The sentencepiece architecture: corpus
    statistics distributed, EM on the frequency dict.  Arithmetic is
    IDENTICAL: counts are exact integers, log-probs are
    ``round6(ln((c+1)/(t+n)))`` of integer ratios (order-free), the DP
    rounds to 6 dp at every step in the same sequence — C libm ``ln``
    here is the same library the DuckDB twins use, and the committed
    parity suite re-proves equality at all three SFs.

    Returns (wt_rows, vocab_rows): [(word, freq)], [(piece, n_uses,
    logp)] — pruned to ``vocab_size`` by (n_uses desc, piece asc) rank,
    single characters never dropped.
    """
    import math

    wt_rows = [
        (r["word"], r["freq"])
        for r in _word_types(df, text_col, max_word_types, max_word_len)
        .collect()
    ]
    # spans per word (i asc, j asc — the _spans generation order) and
    # frequency-weighted candidate seed counts over span OCCURRENCES
    word_spans: "dict[str, list]" = {}
    cand: "dict[str, int]" = {}
    for word, freq in wt_rows:
        spans = []
        for i in range(len(word)):
            for j in range(i + 1, min(i + max_piece_len, len(word)) + 1):
                piece = word[i:j]
                spans.append((i, j, piece))
                cand[piece] = cand.get(piece, 0) + freq
        word_spans[word] = spans
    n_cand = len(cand)
    pieces_set = list(cand.keys())
    for _ in range(em_iters):
        t = sum(cand.values())
        logp = {
            p: _round6(math.log((c + 1.0) / (t + n_cand)))
            for p, c in cand.items()
        }
        used: "dict[str, int]" = {}
        for word, freq in wt_rows:
            for piece in _viterbi_word_local(
                word, word_spans[word], logp, max_word_len
            ):
                if piece is not None:
                    used[piece] = used.get(piece, 0) + freq
        # Unused candidates persist with c = 0 (smoothed next round /
        # in the final logp) so the candidate set is EM-invariant.
        cand = {p: used.get(p, 0) for p in pieces_set}
    t = sum(cand.values())
    scored = sorted(cand.items(), key=lambda kv: (-kv[1], kv[0]))
    vocab_rows = [
        (p, c, _round6(math.log((c + 1.0) / (t + n_cand))))
        for rn, (p, c) in enumerate(scored, start=1)
        if rn <= vocab_size or len(p) == 1
    ]
    return wt_rows, vocab_rows


def _train(
    df: DataFrame,
    text_col: str,
    vocab_size: int,
    em_iters: int,
    max_piece_len: int,
    max_word_types: int,
    max_word_len: int,
):
    """Train and wrap the results for the DataFrame consumers: returns
    (wt_rows, vocab_rows, vocab frame) — the first two are driver-local
    lists (see :func:`_train_local`), the third the bounded vocabulary
    as a local relation for the corpus-scale broadcast joins."""
    wt_rows, vocab_rows = _train_local(
        df, text_col, vocab_size, em_iters, max_piece_len,
        max_word_types, max_word_len,
    )
    vocab = df.sparkSession.createDataFrame(
        vocab_rows, "piece string, n_uses bigint, logp double"
    )
    return wt_rows, vocab_rows, vocab


def unigram_segment_words(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 200,
    em_iters: int = 2,
    max_piece_len: int = 4,
    max_word_types: int = 256,
    max_word_len: int = 12,
) -> DataFrame:
    """Apply side of the unigram trainer (the ``bpe_segment_words``
    mirror): Viterbi-segment every word type under the PRUNED trained
    vocabulary — exactly the segmentation an inference tokenizer would
    emit, coverage-guaranteed because single-char pieces survive
    pruning.

    Output: (word, freq, n_pieces, pieces) with pieces space-joined in
    reading order.
    """
    wt_rows, vocab_rows, _ = _train(
        df, text_col, vocab_size, em_iters, max_piece_len,
        max_word_types, max_word_len,
    )
    # r17 optimization: the segmentation runs over the SAME bounded
    # word-type table the trainer collected — driver-local Viterbi under
    # the pruned vocab (identical recurrence), no second Spark pass.
    # array_join semantics preserved: null pieces are skipped in the
    # joined string but still counted by size().
    logp = {p: lp for p, _, lp in vocab_rows}
    rows = []
    for word, freq in wt_rows:
        spans = [
            (i, j, word[i:j])
            for i in range(len(word))
            for j in range(i + 1, min(i + max_piece_len, len(word)) + 1)
        ]
        pieces = _viterbi_word_local(word, spans, logp, max_word_len)
        rows.append(
            (
                word,
                freq,
                len(pieces),
                " ".join(p for p in pieces if p is not None),
            )
        )
    return df.sparkSession.createDataFrame(
        rows, "word string, freq bigint, n_pieces int, pieces string",
    )


def unigram_fertility(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    vocab_size: int = 200,
    em_iters: int = 2,
    max_piece_len: int = 4,
    max_word_types: int = 256,
    max_word_len: int = 12,
) -> DataFrame:
    """Tokenizer fertility (pieces per word) by ``group_col`` under the
    trained unigram vocabulary — the ``tokenizer_fertility`` mirror for
    the unigram family, so the two tokenizers' coverage is directly
    comparable on the same corpus.

    Unlike training (whose word types all came from the corpus slice the
    candidates were built on), scoring ALL corpus words can hit
    UNSEGMENTABLE ones — a word containing a character the pruned vocab
    never saw has no Viterbi path; such words count in ``n_words`` but
    not in the fertility denominator (``n_covered``), mirroring how
    production tokenizers report <unk> coverage separately.  Words
    longer than ``max_word_len`` are likewise excluded from coverage.

    Scale: the vocabulary trains on the bounded type table as usual; the
    scoring DP runs per DISTINCT word (type-level cost, not corpus
    cost), and the per-(group, word) occurrence counts come from one
    map-side-combinable aggregate joined back against the ≤ |distinct
    words|-row segmentation table.

    Output: (group, n_words, n_covered, n_pieces, fertility).
    """
    _, _, vocab = _train(
        df, text_col, vocab_size, em_iters, max_piece_len,
        max_word_types, max_word_len,
    )
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"\W+"),
                lambda t: F.length(t) > 0,
            )
        ).alias("word"),
    )
    sw = toks.groupBy("grp", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wt_all = (
        sw.where(F.length("word") <= max_word_len)
        .select("word")
        .distinct()
        .select("word", F.lit(1).cast("bigint").alias("freq"))
        .localCheckpoint(eager=False)
    )
    spans_all = _spans(wt_all, max_piece_len).join(
        F.broadcast(vocab.select("piece", "logp")), "piece"
    ).select("word", "i", "j", "piece", "logp")
    seg = _viterbi_segments(spans_all, wt_all, max_word_len)
    per_word = seg.select(
        "word",
        F.size("pieces").cast("bigint").alias("wp"),
        (~F.exists("pieces", lambda p: p.isNull())).alias("covered"),
    )
    joined = sw.join(per_word, "word", "left").select(
        "grp",
        "cnt",
        F.coalesce(F.col("covered"), F.lit(False)).alias("covered"),
        F.coalesce(F.col("wp"), F.lit(0)).alias("wp"),
    )
    return joined.groupBy(F.col("grp").alias(group_col)).agg(
        F.sum("cnt").cast("bigint").alias("n_words"),
        F.sum(F.when(F.col("covered"), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_covered"),
        F.sum(F.when(F.col("covered"), F.col("cnt") * F.col("wp")).otherwise(0))
        .cast("bigint")
        .alias("n_pieces"),
        F.round(
            F.sum(F.when(F.col("covered"), F.col("cnt") * F.col("wp")).otherwise(0))
            / F.greatest(
                F.sum(F.when(F.col("covered"), F.col("cnt")).otherwise(0)),
                F.lit(1),
            ),
            6,
        ).alias("fertility"),
    )


def unigram_encode_docs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 200,
    em_iters: int = 2,
    max_piece_len: int = 4,
    max_word_types: int = 256,
    max_word_len: int = 12,
) -> DataFrame:
    """Corpus pricing under the trained unigram tokenizer (the
    ``bpe_encode_docs`` mirror): per-document word count and total piece
    count, with uncovered words (no Viterbi path under the pruned vocab,
    or longer than ``max_word_len``) counted separately — train → apply
    → encode, end to end in one call.

    Scale: vocabulary training and the per-DISTINCT-word segmentation DP
    are corpus-size-independent (type-level); the corpus pass is one
    tokenize + explode + join against the ≤ |distinct words|-row
    piece-count table, aggregated per doc map-side.

    Output: (doc_id, n_words, n_covered, n_pieces).
    """
    _, _, vocab = _train(
        df, text_col, vocab_size, em_iters, max_piece_len,
        max_word_types, max_word_len,
    )
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"\W+"),
                lambda t: F.length(t) > 0,
            )
        ).alias("word"),
    )
    dw = toks.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wt_all = (
        dw.where(F.length("word") <= max_word_len)
        .select("word")
        .distinct()
        .select("word", F.lit(1).cast("bigint").alias("freq"))
        .localCheckpoint(eager=False)
    )
    spans_all = _spans(wt_all, max_piece_len).join(
        F.broadcast(vocab.select("piece", "logp")), "piece"
    ).select("word", "i", "j", "piece", "logp")
    seg = _viterbi_segments(spans_all, wt_all, max_word_len)
    per_word = seg.where(
        ~F.exists("pieces", lambda p: p.isNull())
    ).select("word", F.size("pieces").cast("bigint").alias("wp"))
    joined = dw.join(per_word, "word", "left")
    return joined.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_words"),
        F.sum(F.when(F.col("wp").isNotNull(), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_covered"),
        F.sum(
            F.when(F.col("wp").isNotNull(), F.col("cnt") * F.col("wp"))
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_pieces"),
    )


def tokenizer_compare(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    n_merges: int = 8,
    max_word_types_bpe: int = 512,
    vocab_size: int = 200,
    em_iters: int = 2,
    max_piece_len: int = 4,
    max_word_types: int = 256,
    max_word_len: int = 12,
) -> DataFrame:
    """Side-by-side corpus pricing of the two trained tokenizer families
    — the table an actual tokenizer decision needs: per ``group_col``,
    fertility (pieces per covered word) and OOV rate (occurrence share
    outside the trained vocabulary) for BPE vs unigram-LM on the SAME
    corpus under the SAME word tokenization, plus the deltas.  Both
    families train inside the call with their registry budgets (the
    knobs are exposed so a caller can equalize vocab budgets).

    Coverage semantics per family: a word is BPE-covered when it sits in
    the trained word-type table (uncovered words fall back to character
    pieces in ``bpe_encode_docs`` — excluded here so fertility compares
    trained segmentation quality, not fallback); unigram-covered when a
    Viterbi path exists under the pruned vocab and the word is within
    ``max_word_len`` (the ``unigram_fertility`` contract).

    Scale: both trainers are corpus-size-independent after their bounded
    word-type cuts; the comparison itself is ONE shared per-(group,
    word) occurrence aggregate left-joined against the two ≤ |word
    type|-row segmentation tables, then one per-group aggregate.

    Output: (group_col, n_words, bpe_covered, bpe_pieces, uni_covered,
    uni_pieces, bpe_fertility, uni_fertility, bpe_oov_rate,
    uni_oov_rate, fertility_delta).
    """
    from etl_pipeline2_0_spark.functions.text import (
        bpe_segment_words,
        tokens,
    )

    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(tokens(F.col(text_col))).alias("word"),
    )
    sw = (
        toks.groupBy("grp", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    bseg = bpe_segment_words(
        df, text_col, n_merges, max_word_types_bpe
    ).select("word", F.col("n_pieces").cast("bigint").alias("_bwp"))
    _, _, vocab = _train(
        df, text_col, vocab_size, em_iters, max_piece_len,
        max_word_types, max_word_len,
    )
    wt_all = (
        sw.where(F.length("word") <= max_word_len)
        .select("word")
        .distinct()
        .select("word", F.lit(1).cast("bigint").alias("freq"))
        .localCheckpoint(eager=False)
    )
    spans_all = _spans(wt_all, max_piece_len).join(
        F.broadcast(vocab.select("piece", "logp")), "piece"
    ).select("word", "i", "j", "piece", "logp")
    seg = _viterbi_segments(spans_all, wt_all, max_word_len)
    uni_word = seg.where(
        ~F.exists("pieces", lambda p: p.isNull())
    ).select("word", F.size("pieces").cast("bigint").alias("_uwp"))
    joined = sw.join(F.broadcast(bseg), "word", "left").join(
        uni_word, "word", "left"
    )
    agg = joined.groupBy(F.col("grp").alias(group_col)).agg(
        F.sum("cnt").cast("bigint").alias("n_words"),
        F.sum(F.when(F.col("_bwp").isNotNull(), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("bpe_covered"),
        F.sum(
            F.when(
                F.col("_bwp").isNotNull(), F.col("cnt") * F.col("_bwp")
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("bpe_pieces"),
        F.sum(F.when(F.col("_uwp").isNotNull(), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("uni_covered"),
        F.sum(
            F.when(
                F.col("_uwp").isNotNull(), F.col("cnt") * F.col("_uwp")
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("uni_pieces"),
    )
    bpe_f = F.col("bpe_pieces") / F.greatest(F.col("bpe_covered"), F.lit(1))
    uni_f = F.col("uni_pieces") / F.greatest(F.col("uni_covered"), F.lit(1))
    return agg.select(
        group_col,
        "n_words",
        "bpe_covered",
        "bpe_pieces",
        "uni_covered",
        "uni_pieces",
        F.round(bpe_f, 6).alias("bpe_fertility"),
        F.round(uni_f, 6).alias("uni_fertility"),
        F.round(
            F.lit(1.0) - F.col("bpe_covered") / F.col("n_words"), 6
        ).alias("bpe_oov_rate"),
        F.round(
            F.lit(1.0) - F.col("uni_covered") / F.col("n_words"), 6
        ).alias("uni_oov_rate"),
        F.round(uni_f - bpe_f, 6).alias("fertility_delta"),
    )
