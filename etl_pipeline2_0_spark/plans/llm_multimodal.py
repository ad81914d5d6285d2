"""Multimodal plans: media metadata/decode/frames and the perceptual near-dup family with its measured recall row.

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



# -------------------------------------------------------------- multimodal -


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Binary-column plumbing: opaque bytes + typed metadata struct
    # (n_bytes, checksum) — the schema every image/audio table shares.
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.attach_binary(docs, content_col="text", id_col="doc_id")
    return media.select(
        "media_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.checksum").alias("checksum"),
    )


SQL_MULTIMODAL_META = (
    "SELECT doc_id AS media_id, CAST(strlen(text) AS BIGINT) AS n_bytes, "
    "md5(text) AS checksum FROM documents"
)


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # mapInPandas decode plumbing (deterministic fake decoder).  ORACLED
    # since r15: the payload is the document's UTF-8 bytes and the corpus
    # is ASCII (verified at every SF), so every emitted stat — byte
    # sum/min/max as code points, head hex, unrounded exact-ratio mean —
    # is reproducible in ANSI SQL; the Arrow plumbing is what the Spark
    # side exercises.
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.attach_binary(docs, content_col="text", id_col="doc_id")
    return multimodal.fake_decode_features(media)


SQL_MEDIA_FEATURES = r"""
WITH pos AS (
  SELECT doc_id AS media_id, text,
         unnest(range(length(text))) AS i
  FROM documents
), per AS (
  SELECT media_id,
         CAST(SUM(unicode(substr(text, i + 1, 1))) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n,
         MIN(unicode(substr(text, i + 1, 1))) AS mn,
         MAX(unicode(substr(text, i + 1, 1))) AS mx
  FROM pos GROUP BY media_id
)
SELECT d.doc_id AS media_id,
       CAST(length(d.text) AS BIGINT) AS n_bytes,
       COALESCE(p.s / p.n, 0.0) AS byte_mean,
       CAST(COALESCE(p.mn, 0) AS INT) AS byte_min,
       CAST(COALESCE(p.mx, 0) AS INT) AS byte_max,
       lower(hex(encode(substr(d.text, 1, 8)))) AS head_hex
FROM documents d
LEFT JOIN per p ON p.media_id = d.doc_id
"""


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Real-decoder demonstration: synthesize a deterministic 4x4 24-bit BMP
    # per embedding row (pixel bytes from the vector values), decode with
    # the built-in pure-Python BMP parser, aggregate the decoded facts.
    # Pandas-UDF payload synthesis → no DuckDB twin (rows-only check);
    # the decoder itself is golden-tested against independently built BMPs.
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") % 8 == 0)

    def make(batches):
        import numpy as np
        import pandas as pd

        from etl_pipeline2_0_spark.functions.multimodal import encode_bmp

        for pdf in batches:
            payloads = []
            for vec in pdf["embedding"]:
                arr = np.clip(
                    np.asarray(vec, dtype=float)[:48] * 127 + 128, 0, 255
                ).astype(np.uint8)
                payloads.append(encode_bmp(np.resize(arr, (4, 4, 3))))
            yield pd.DataFrame({"media_id": pdf["vec_id"], "payload": payloads})

    media = emb.select("vec_id", "embedding").mapInPandas(
        make, "media_id long, payload binary"
    )
    return (
        multimodal.decode_image(media)
        .groupBy("format", "width", "height", "bits_per_pixel", "mode")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.round(F.avg("mean_luma"), 4).alias("avg_luma"),
        )
    )


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Video-pipeline demonstration: synthesize a deterministic 6-frame BMPS
    # container per embedding row (frame pixels from vector slices), sample
    # every 2nd frame with the real container parser, aggregate the decoded
    # frame facts.  Pandas-UDF synthesis → rows-only (golden-pinned).
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") % 16 == 0)

    def make(batches):
        import numpy as np
        import pandas as pd

        from etl_pipeline2_0_spark.functions.multimodal import encode_bmp, encode_bmps

        for pdf in batches:
            payloads = []
            for vec in pdf["embedding"]:
                arr = np.clip(
                    np.asarray(vec, dtype=float) * 127 + 128, 0, 255
                ).astype(np.uint8)
                frames = [
                    encode_bmp(np.resize(arr[j * 8 :], (2, 2, 3)))
                    for j in range(6)
                ]
                payloads.append(encode_bmps(frames))
            yield pd.DataFrame({"media_id": pdf["vec_id"], "payload": payloads})

    media = emb.select("vec_id", "embedding").mapInPandas(
        make, "media_id long, payload binary"
    )
    return (
        multimodal.sample_frames(media, every_nth=2)
        .groupBy("frame_idx", "width", "height")
        .agg(F.count(F.lit(1)).alias("n_frames_kept"))
    )


# ----------------------------------------------- perceptual image dedup -


def _bmp_media_from_emb(emb: DataFrame) -> DataFrame:
    # Render any (vec_id, embedding) frame to BMP payload bytes — the
    # shared tail of _synth_bmp_media and the planted-pair recall row.
    def make(batches):
        import numpy as np
        import pandas as pd

        from etl_pipeline2_0_spark.functions.multimodal import encode_bmp

        for pdf in batches:
            payloads = []
            for vec in pdf["embedding"]:
                arr = np.clip(
                    np.asarray(vec, dtype=float)[:48] * 127 + 128, 0, 255
                ).astype(np.uint8)
                payloads.append(encode_bmp(np.resize(arr, (4, 4, 3))))
            yield pd.DataFrame({"media_id": pdf["vec_id"], "payload": payloads})

    return emb.select("vec_id", "embedding").mapInPandas(
        make, "media_id long, payload binary"
    )


def _synth_bmp_media(spark: SparkSession, sf_dir: str, modulo: int) -> DataFrame:
    # Deterministic BMP synthesis from embedding rows (q_media_decode's
    # device): similar vectors render to similar 4x4 images, so the
    # perceptual-hash family has genuine near-dups to find.
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % modulo == 0
    )
    return _bmp_media_from_emb(emb)


def q_image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Image-side corpus dedup: classic pHash (luma -> 32x32 -> DCT-II ->
    # 8x8 median bits) in one Arrow pass, then the SimHash pigeonhole
    # chunk equi-join at Hamming <= 6 (blocks=8 keeps the recall guarantee
    # through distance 7).  Pandas-UDF hashing -> no DuckDB twin;
    # value-pinned by goldens at three SFs.
    media = _synth_bmp_media(spark, sf_dir, modulo=2)
    return multimodal.image_near_duplicates(media, max_hamming=6, blocks=8)


def _wav_media_from_emb(emb: DataFrame) -> DataFrame:
    # Render any (vec_id, embedding) frame to WAV payload bytes — the
    # shared tail of _synth_wav_media and the planted-pair recall row.
    def make(batches):
        import struct

        import numpy as np
        import pandas as pd

        def encode_wav(rate, samples):
            data = np.asarray(samples, dtype="<i2").tobytes()
            fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
            return (
                b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
                + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data
            )

        for pdf in batches:
            payloads = []
            for vec in pdf["embedding"]:
                arr = np.asarray(vec, dtype=float)
                samples = np.clip(
                    np.repeat(arr, 16) * 8000, -32768, 32767
                ).astype(np.int16)
                payloads.append(encode_wav(8000, samples))
            yield pd.DataFrame({"media_id": pdf["vec_id"], "payload": payloads})

    return emb.select("vec_id", "embedding").mapInPandas(
        make, "media_id long, payload binary"
    )


def _synth_wav_media(spark: SparkSession, sf_dir: str, modulo: int) -> DataFrame:
    # Deterministic WAV synthesis from embedding rows: each value held for
    # 16 samples at 8 kHz (a step waveform — similar vectors sound alike),
    # so the spectral-fingerprint family has genuine near-dups to find.
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % modulo == 0
    )
    return _wav_media_from_emb(emb)


def q_audio_fp_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Audio-side corpus dedup: spectral band-energy fingerprint in one
    # Arrow pass, pigeonhole chunk equi-join at Hamming <= 6 (blocks=8
    # keeps exact recall through distance 7).  Pandas-UDF hashing -> no
    # DuckDB twin; value-pinned by goldens at three SFs.
    media = _synth_wav_media(spark, sf_dir, modulo=2)
    return multimodal.audio_near_duplicates(media, max_hamming=6, blocks=8)


def q_video_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Video-side corpus dedup: 4-frame BMPS containers synthesized from
    # embedding quarters (similar vectors -> similar frames), then clips
    # sharing >=2 perceptually-near frames (frame pHash Hamming <= 6,
    # blocks=8).  Pandas-UDF stages -> no DuckDB twin; golden-pinned.
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") % 2 == 0)

    def make(batches):
        import numpy as np
        import pandas as pd

        from etl_pipeline2_0_spark.functions.multimodal import (
            encode_bmp,
            encode_bmps,
        )

        for pdf in batches:
            payloads = []
            for vec in pdf["embedding"]:
                arr = np.asarray(vec, dtype=float)
                frames = []
                for f in range(4):
                    seg = np.clip(
                        arr[f * 16 : (f + 1) * 16] * 127 + 128, 0, 255
                    ).astype(np.uint8)
                    frames.append(encode_bmp(np.resize(seg, (4, 4, 3))))
                payloads.append(encode_bmps(frames))
            yield pd.DataFrame({"media_id": pdf["vec_id"], "payload": payloads})

    media = emb.select("vec_id", "embedding").mapInPandas(
        make, "media_id long, payload binary"
    )
    return multimodal.video_near_duplicates(
        media, every_nth=1, frame_max_hamming=6, min_common_frames=2
    )


def q_multimodal_neardup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Measured recall row for the multimodal near-dup family (the last
    # approximate family without a quality metric, r14 verdict item 2):
    # real BMP/WAV bytes are synthesized, DECODED (parse_bmp/parse_wav in
    # one Arrow pass), dHashed from exact pixel-channel / PCM16 sample
    # values, then the family's shared pigeonhole chunk equi-join
    # (dedup.hamming_pairs geometry: max_hamming=6, blocks=8 — the exact
    # configuration image_phash/audio_fp/video_phash_neardup run) is
    # measured against exact all-pairs Hamming ground truth.  Fully
    # oracled: dHash bits are comparisons of integers the synthesis
    # derives deterministically from the embeddings table, so the DuckDB
    # twin reproduces signature, truth, and candidates end-to-end —
    # unlike the float-DCT pHash values (golden-pinned ×3 SF), whose
    # CANDIDATE MACHINERY this row certifies.
    #
    # Truth is PLANTED (the retrieval_ndcg convention): every 16th base
    # vector re-renders under id+10^7 with dims 2 and 3 swapped — a
    # deterministic perturbation that flips at most the three dHash bits
    # whose comparisons touch those dims, so each (original, copy) pair
    # sits within Hamming 3 ≤ 6 in BOTH modalities and the truth set is
    # non-vacuous at every SF (the organic corpus has no dHash-near
    # pairs — 47/63-bit signatures are far more discriminative than the
    # 4×4 pHash the trio runs on).
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") % 2 == 0)
    e = F.col("embedding")
    swapped = F.transform(
        e,
        lambda x, i: (
            F.when(i == F.lit(2), F.element_at(e, 4))
            .when(i == F.lit(3), F.element_at(e, 3))
            .otherwise(x)
        ),
    )
    planted = emb.where(F.col("vec_id") % 16 == 0).select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        swapped.alias("embedding"),
    )
    aug = emb.select("vec_id", "embedding").unionByName(planted)
    img_sig = multimodal.media_dhash(_bmp_media_from_emb(aug), kind="image")
    aud_sig = multimodal.media_dhash(
        _wav_media_from_emb(aug), kind="audio", stride=16
    )
    img = dedup.hamming_recall(
        img_sig, id_col="media_id", sig_col="sig",
        max_hamming=6, blocks=8, sig_bits=48,
    ).select(F.lit("image").alias("modality"), "*")
    aud = dedup.hamming_recall(
        aud_sig, id_col="media_id", sig_col="sig",
        max_hamming=6, blocks=8, sig_bits=64,
    ).select(F.lit("audio").alias("modality"), "*")
    return img.unionByName(aud).orderBy("modality")


# The twin rebuilds the dHash signatures from the SAME arithmetic the
# media synthesis + decode chain performs: BMP channel bytes are
# floor(clip(e[i]*127+128, 0, 255)) (numpy uint8 truncation ≡ FLOOR on
# the clipped non-negative double), WAV PCM16 step values are
# trunc(clip(e[i]*8000, -32768, 32767)) (int16 truncation toward zero ≡
# TRUNC) — bit i of the signature is v_i > v_{i+1}.  Truth is exact
# all-pairs popcount; candidates are the pigeonhole chunk equi-join at
# the same geometry (8 chunks of 6 bits over the 48-bit image dHash,
# 8×8 over the 64-bit audio dHash).
SQL_MULTIMODAL_NEARDUP_RECALL = r"""
WITH base0 AS (
  SELECT vec_id AS id, embedding AS e FROM embeddings WHERE vec_id % 2 = 0
), base AS (
  SELECT id, e FROM base0
  UNION ALL
  SELECT id + 10000000,
         list_concat(list_concat(e[1:2], [e[4], e[3]]), e[5:len(e)])
  FROM base0 WHERE id % 16 = 0
), imgv AS (
  SELECT id, i,
         CAST(FLOOR(LEAST(GREATEST(CAST(e[i+1] AS DOUBLE)*127 + 128, 0), 255)) AS BIGINT) AS v
  FROM base, range(0, 48) t(i)
), audv AS (
  SELECT id, i,
         CAST(TRUNC(LEAST(GREATEST(CAST(e[i+1] AS DOUBLE)*8000, -32768), 32767)) AS BIGINT) AS v
  FROM base, range(0, 64) t(i)
), sigs AS (
  SELECT 'image' AS modality, a.id,
         CAST(COALESCE(SUM(CASE WHEN a.v > b.v THEN (CAST(1 AS BIGINT) << a.i) ELSE 0 END), 0) AS BIGINT) AS sig,
         6 AS chunk_bits
  FROM imgv a JOIN imgv b ON a.id = b.id AND b.i = a.i + 1
  GROUP BY a.id
  UNION ALL
  SELECT 'audio' AS modality, a.id,
         CAST(COALESCE(SUM(CASE WHEN a.v > b.v THEN (CAST(1 AS BIGINT) << a.i) ELSE 0 END), 0) AS BIGINT) AS sig,
         8 AS chunk_bits
  FROM audv a JOIN audv b ON a.id = b.id AND b.i = a.i + 1
  GROUP BY a.id
), truth AS (
  SELECT a.modality, COUNT(*) AS n_true_pairs
  FROM sigs a JOIN sigs b
    ON a.modality = b.modality AND a.id < b.id
  WHERE bit_count(xor(a.sig, b.sig)) <= 6
  GROUP BY a.modality
), chunks AS (
  SELECT modality, id, sig, i AS ci,
         (sig >> (i * chunk_bits)) & ((CAST(1 AS BIGINT) << chunk_bits) - 1) AS cv
  FROM sigs, range(0, 8) t(i)
), cand AS (
  SELECT DISTINCT a.modality, a.id AS ia, b.id AS ib, a.sig AS sa, b.sig AS sb
  FROM chunks a JOIN chunks b
    ON a.modality = b.modality AND a.ci = b.ci AND a.cv = b.cv AND a.id < b.id
), cm AS (
  SELECT modality,
         COUNT(*) AS n_candidate_pairs,
         CAST(SUM(CASE WHEN bit_count(xor(sa, sb)) <= 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs_found
  FROM cand GROUP BY modality
), items AS (
  SELECT modality, COUNT(*) AS n_items FROM sigs GROUP BY modality
)
SELECT i.modality,
       i.n_items,
       COALESCE(t.n_true_pairs, 0) AS n_true_pairs,
       COALESCE(c.n_candidate_pairs, 0) AS n_candidate_pairs,
       COALESCE(c.n_pairs_found, 0) AS n_pairs_found,
       CASE WHEN COALESCE(t.n_true_pairs, 0) > 0
            THEN COALESCE(c.n_pairs_found, 0) / t.n_true_pairs END AS recall,
       CASE WHEN COALESCE(t.n_true_pairs, 0) > 0
            THEN COALESCE(c.n_candidate_pairs, 0) / t.n_true_pairs END AS candidates_per_true
FROM items i
LEFT JOIN truth t USING (modality)
LEFT JOIN cm c USING (modality)
ORDER BY i.modality
"""
