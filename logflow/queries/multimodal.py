"""Multimodal + sampling + log-scan queries (SURVEY §2 P2/X5 + north star).

The media frame is derived from ``documents`` (payload = utf-8 bytes), so
metadata queries are oracle-checkable; the mapInPandas feature path is
rows-only (its values are asserted against a Spark-expression twin in
tests instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logflow.functions.trace import trace_id_sql
from logflow.operators.multimodal import fake_features, frame_sample, media_from_documents
from logflow.queries import register
from logflow.sources.tables import load_table


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_from_documents(load_table(spark, "documents", sf_dir))


@register(
    "multimodal_meta_summary",
    """
SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes
FROM documents
GROUP BY 1
""",
    doc="Multimodal metadata scan: binary payload sizes per kind (payload "
    "bytes never leave the JVM — pure columnar length arithmetic)",
)
def multimodal_meta_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _media(spark, sf_dir).groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.length("payload")).cast("long").alias("total_bytes"),
        F.max(F.length("payload")).cast("long").alias("max_bytes"),
    )


@register(
    "multimodal_features",
    """
WITH b AS (
  SELECT doc_id AS media_id,
         list_value('image','audio','video')[doc_id % 3 + 1] AS kind,
         encode(text) AS p
  FROM documents
),
s AS (SELECT media_id, kind, octet_length(p) AS n_bytes, hex(p) AS h FROM b)
SELECT media_id, kind,
       CAST(n_bytes AS BIGINT) AS n_bytes,
       CASE WHEN n_bytes > 0 THEN
         CAST(list_sum(list_transform(range(1, n_bytes + 1),
              i -> CAST(concat('0x', substr(h, 2*i - 1, 2)) AS INTEGER))) AS DOUBLE) / n_bytes
       ELSE 0.0 END AS mean_byte,
       CAST(CASE kind WHEN 'image' THEN 2048 WHEN 'audio' THEN 512 ELSE 4096 END AS BIGINT)
         AS feature_dim
FROM s
""",
    # mean_byte carries no rounding on either side: both engines divide an
    # EXACT integer byte-sum by an exact count -> identical IEEE doubles.
    doc="Arrow-batched feature extraction (mapInPandas) over binary payloads "
    "— deterministic stand-in for image/audio decode (libs not in container; "
    "see operators/multimodal.py). The stand-in's byte statistics are fully "
    "oracle-checked (DuckDB recomputes them from the hex expansion of the "
    "same utf-8 payload), so the whole mapInPandas plumbing — schema, Arrow "
    "batching, binary transport — is value-verified, not just liveness.",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fake_features(_media(spark, sf_dir))


@register(
    "multimodal_frame_sample",
    """
SELECT doc_id AS media_id,
       CAST(greatest(CAST(floor(octet_length(encode(text)) / 64.0) AS BIGINT), 0) AS BIGINT) AS n_frames
FROM documents
WHERE doc_id % 3 = 2
""",
    doc="Video frame sampling (columnar byte-window slices); oracle checks "
    "the frame count arithmetic",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return frame_sample(_media(spark, sf_dir)).select("media_id", "n_frames")


@register(
    "trace_hash_sampling",
    f"""
WITH records AS (
  SELECT event_id, {trace_id_sql("event_id")} AS trace_id FROM events
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
       CAST(MIN(event_id) AS BIGINT) AS first_event
FROM records
WHERE substr(trace_id, 1, 2) < '1a'
""",
    doc="P2 sampling as deterministic hash sampling (~10%): md5-prefix "
    "filter — reproducible across engines/replays, unlike rand(); the "
    "scale-correct way to sample a distributed trace stream",
)
def trace_hash_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    sampled = ev.select("event_id", F.expr(trace_id_sql("event_id")).alias("trace_id")).filter(
        F.substring("trace_id", 1, 2) < "1a"
    )
    return sampled.agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.min("event_id").cast("long").alias("first_event"),
    )


@register(
    "logscan_grep",
    """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_matching
FROM documents
WHERE contains(text, 'fast query') OR text LIKE '%slow join%'
GROUP BY source
""",
    doc="X5: log-scan substring search (contains + LIKE) — the reference's "
    "logfile-grep assertion (StreamsConfigTest.java:86-87) as a scan query",
)
def logscan_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.filter(F.col("text").contains("fast query") | F.col("text").like("%slow join%"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_matching"))
    )


@register(
    "multimodal_wav_roundtrip",
    """
SELECT doc_id AS media_id,
       CAST(8000 + (doc_id % 4) * 4000 AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(1 AS BIGINT) AS sample_width,
       CAST(400 + (doc_id % 7) * 100 AS BIGINT) AS n_frames,
       ROUND(CAST(list_sum(list_transform(range(0, 400 + (doc_id % 7) * 100),
                                          i -> (doc_id * 31 + i * 17) % 256))
                  AS DOUBLE) / (400 + (doc_id % 7) * 100), 4) AS mean_sample
FROM documents
""",
    doc="REAL binary codec round-trip, fully oracle-checked: payloads are "
    "genuine RIFF/WAVE containers (8-bit mono PCM) synthesized "
    "executor-side by the stdlib wave module from integer formulas, then "
    "DECODED by parsing the actual chunk structure back "
    "(operators/multimodal.py:synthesize_wav/decode_wav, Arrow-batched "
    "mapInPandas both ways). Because the synthesis is arithmetic, DuckDB "
    "predicts every decoded field — rate/channels/width/frame-count from "
    "the header, mean_sample as an exact integer sum over range() — so a "
    "hash match proves encode and decode are mutual inverses THROUGH the "
    "real container format, not a fake. The image/video analogs stay "
    "PIL-gated; this is the modality the stdlib can carry. At 100 TB: "
    "payload bytes stay columnar until this operator, cross into Python "
    "once per Arrow batch, and the decode is embarrassingly parallel.",
)
def multimodal_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.multimodal import decode_wav, synthesize_wav

    docs = load_table(spark, "documents", sf_dir).select(
        F.col("doc_id").alias("media_id")
    )
    decoded = decode_wav(synthesize_wav(docs))
    return decoded.select(
        "media_id",
        "sample_rate",
        "n_channels",
        "sample_width",
        "n_frames",
        F.round("mean_sample", 4).alias("mean_sample"),
    )


@register(
    "multimodal_image_resize",
    """
SELECT doc_id AS media_id,
       CAST((16 + (doc_id % 5) * 8) // 2 AS BIGINT) AS width,
       CAST((12 + (doc_id % 3) * 8) // 2 AS BIGINT) AS height,
       CAST(255 AS BIGINT) AS maxval,
       ROUND(CAST(list_sum(list_transform(
                list_filter(range(0, (16 + (doc_id % 5) * 8) * (12 + (doc_id % 3) * 8)),
                            i -> (i % (16 + (doc_id % 5) * 8)) % 2 = 0
                             AND (i // (16 + (doc_id % 5) * 8)) % 2 = 0),
                i -> ((doc_id * 7 + i) * 13) % 256)) AS DOUBLE)
             / (((16 + (doc_id % 5) * 8) // 2) * ((12 + (doc_id % 3) * 8) // 2)),
             4) AS mean_pixel
FROM documents
""",
    doc="REAL image pipeline, fully oracle-checked: synth → resize → decode "
    "over genuine netpbm P5 grayscale containers "
    "(operators/multimodal.py:synthesize_pgm/resize_pgm_half/decode_pgm). "
    "The resize is an actual strided [::2,::2] nearest-neighbor downsample "
    "on the decoded pixel matrix, re-encoded as a valid smaller P5 file; "
    "decode then parses that container from scratch. DuckDB predicts the "
    "resized header AND pixel mean arithmetically (the kept pixels are "
    "exactly those with even x and y), so a hash match proves all three "
    "byte-level image ops correct through the real format. Dims are even "
    "by construction so halving is exact. At 100 TB: three Arrow-batched "
    "map-side passes, zero shuffle — payload bytes never leave the "
    "executor until the final stats row.",
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.multimodal import decode_pgm, resize_pgm_half, synthesize_pgm

    docs = load_table(spark, "documents", sf_dir).select(
        F.col("doc_id").alias("media_id")
    )
    decoded = decode_pgm(resize_pgm_half(synthesize_pgm(docs)))
    return decoded.select(
        "media_id",
        "width",
        "height",
        "maxval",
        F.round("mean_pixel", 4).alias("mean_pixel"),
    )


@register(
    "multimodal_video_frame_stats",
    """
SELECT doc_id AS media_id,
       CAST(16 + (doc_id % 3) * 8 AS BIGINT) AS width,
       CAST(12 AS BIGINT) AS height,
       CAST(6 + (doc_id % 5) AS BIGINT) AS n_frames,
       CAST((6 + (doc_id % 5) + 1) // 2 AS BIGINT) AS n_sampled,
       ROUND(CAST(list_sum(list_transform(
                list_filter(range(0, 6 + (doc_id % 5)), f -> f % 2 = 0),
                f -> list_sum(list_transform(
                       range(0, (16 + (doc_id % 3) * 8) * 12),
                       i -> ((doc_id * 11 + f * 251 + i) * 7) % 256))))
             AS DOUBLE)
             / (((6 + (doc_id % 5) + 1) // 2) * (16 + (doc_id % 3) * 8) * 12),
             4) AS mean_y
FROM documents
""",
    doc="REAL video pipeline, fully oracle-checked: genuine YUV4MPEG2 "
    "streams (the uncompressed interchange format ffmpeg reads) are "
    "synthesized executor-side, then decode walks the actual FRAME "
    "markers and samples every 2nd frame's luma plane — decode-then-"
    "frame-sample, the pass a video training pipeline runs "
    "(operators/multimodal.py:synthesize_y4m/decode_y4m_sampled). DuckDB "
    "predicts the stream header and the sampled-luma mean with a nested "
    "range() sum, so the hash match proves header parsing, frame "
    "walking, plane offsets (4:2:0 chroma skipping), and the sampling "
    "stride all correct through the real container. Malformed streams "
    "raise. At 100 TB: payloads cross into Python once per Arrow batch, "
    "zero shuffle until the final stats row.",
)
def multimodal_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.multimodal import decode_y4m_sampled, synthesize_y4m

    docs = load_table(spark, "documents", sf_dir).select(
        F.col("doc_id").alias("media_id")
    )
    stats = decode_y4m_sampled(synthesize_y4m(docs), every_k=2)
    return stats.select(
        "media_id",
        "width",
        "height",
        "n_frames",
        "n_sampled",
        F.round("mean_y", 4).alias("mean_y"),
    )


@register(
    "multimodal_color_to_gray",
    """
WITH dims AS (
  SELECT doc_id AS media_id,
         16 + (doc_id % 5) * 8 AS w,
         12 + (doc_id % 3) * 8 AS h
  FROM documents),
px AS (
  SELECT media_id, w, h,
         list_transform(range(0, w * h),
                        i -> ((media_id * 7 + 3 * i) * 13) % 256) AS r,
         list_transform(range(0, w * h),
                        i -> ((media_id * 7 + 3 * i + 1) * 13) % 256) AS g,
         list_transform(range(0, w * h),
                        i -> ((media_id * 7 + 3 * i + 2) * 13) % 256) AS b
  FROM dims)
SELECT media_id,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       ROUND(CAST(list_sum(r) AS DOUBLE) / (w * h), 4) AS mean_r,
       ROUND(CAST(list_sum(g) AS DOUBLE) / (w * h), 4) AS mean_g,
       ROUND(CAST(list_sum(b) AS DOUBLE) / (w * h), 4) AS mean_b,
       ROUND(CAST(list_sum(list_transform(range(0, w * h),
                i -> (299 * (((media_id * 7 + 3 * i) * 13) % 256)
                      + 587 * (((media_id * 7 + 3 * i + 1) * 13) % 256)
                      + 114 * (((media_id * 7 + 3 * i + 2) * 13) % 256)) // 1000))
             AS DOUBLE) / (w * h), 4) AS mean_gray
FROM px
""",
    doc="REAL color-image pipeline, fully oracle-checked: genuine netpbm "
    "P6 RGB containers synthesized executor-side, decoded for exact "
    "per-channel means, AND converted to grayscale via integer ITU-R "
    "601 luma (299R+587G+114B)//1000 re-encoded as a valid P5 payload "
    "that the existing P5 decoder then parses (operators/multimodal.py:"
    "synthesize_ppm/decode_ppm_channels/ppm_to_gray_pgm). DuckDB "
    "predicts channel means from the interleaved byte positions "
    "(channel c of pixel i is byte 3i+c) and the luma mean with the "
    "same integer division, so a hash match proves header parsing, "
    "channel de-interleaving, and the colorspace conversion byte-exact "
    "through two real formats. At 100 TB: synthesize + one fused "
    "Arrow decode pass (operators/multimodal.py:ppm_color_gray_stats) "
    "— zero shuffle; the earlier form synthesized the corpus twice "
    "and joined the color/gray decode branches on media_id.",
)
def multimodal_color_to_gray(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.multimodal import ppm_color_gray_stats, synthesize_ppm

    docs = load_table(spark, "documents", sf_dir).select(
        F.col("doc_id").alias("media_id")
    )
    stats = ppm_color_gray_stats(synthesize_ppm(docs))
    return stats.select(
        "media_id",
        "width",
        "height",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
        F.round("mean_gray", 4).alias("mean_gray"),
    )


@register(
    "multimodal_audio_frame_energy",
    """
WITH fr AS (
  SELECT doc_id, unnest(range(0, (400 + (doc_id % 7) * 100) // 128)) AS f
  FROM documents)
SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx,
       CAST(list_sum(list_transform(range(f * 128, (f + 1) * 128),
            i -> ((doc_id * 31 + i * 17) % 256 - 128)
                 * ((doc_id * 31 + i * 17) % 256 - 128))) AS BIGINT) AS energy,
       CAST(list_sum(list_transform(range(f * 128 + 1, (f + 1) * 128),
            i -> CASE WHEN ((doc_id * 31 + i * 17) % 256 >= 128)
                        <> ((doc_id * 31 + (i - 1) * 17) % 256 >= 128)
                      THEN 1 ELSE 0 END)) AS BIGINT) AS zero_crossings,
       ROUND(sqrt(CAST(list_sum(list_transform(range(f * 128, (f + 1) * 128),
            i -> ((doc_id * 31 + i * 17) % 256 - 128)
                 * ((doc_id * 31 + i * 17) % 256 - 128))) AS DOUBLE) / 128),
             4) AS rms
FROM fr
ORDER BY media_id, frame_idx
""",
    doc="Frame-level audio analysis through the REAL WAV codec: each "
    "synthesized RIFF/WAVE payload is decoded by the stdlib wave "
    "parser, split into 128-sample frames, and reduced to exact-int64 "
    "energy sum((s-128)²), zero-crossing count, and RMS — the VAD/"
    "audio-quality primitives (operators/multimodal.py:"
    "wav_frame_features). DuckDB PREDICTS every value arithmetically "
    "from the synthesis formula (the PGM/Y4M oracle trick applied to "
    "audio): an exact hash match proves the real decode + framing + "
    "feature math end-to-end. RMS is one IEEE division + sqrt on an "
    "exact integer — identical in both engines. At 100 TB: one "
    "Arrow-batched map-side pass, frames fan out executor-side, zero "
    "shuffle before the (tiny) ordered output.",
)
def multimodal_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.multimodal import synthesize_wav, wav_frame_features

    docs = load_table(spark, "documents", sf_dir).select(
        F.col("doc_id").alias("media_id")
    )
    feats = wav_frame_features(synthesize_wav(docs))
    # the final orderBy's range-partition sampling job re-executes the
    # whole synth+featurize Python chain (opaque child runs twice:
    # probed 4.0 vs 2.2 s) — checkpoint so sampling and sort both read
    # the materialized frame
    feats = feats.localCheckpoint(eager=True)
    return feats.select(
        "media_id",
        "frame_idx",
        "energy",
        "zero_crossings",
        F.round(F.sqrt(F.col("energy").cast("double") / F.lit(128)), 4).alias("rms"),
    ).orderBy("media_id", "frame_idx")


@register(
    "multimodal_image_histogram",
    """
WITH px AS (
  SELECT unnest(list_transform(
           range(0, (16 + (doc_id % 5) * 8) * (12 + (doc_id % 3) * 8)),
           i -> (((doc_id * 7 + i) * 13) % 256) // 16)) AS bin
  FROM documents),
h AS (SELECT CAST(bin AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS n_pixels
      FROM px GROUP BY bin),
t AS (SELECT CAST(SUM(n_pixels) AS BIGINT) AS total FROM h)
SELECT bin, n_pixels,
       ROUND(CAST(n_pixels AS DOUBLE) / CAST(t.total AS DOUBLE), 6) AS share
FROM h CROSS JOIN t
ORDER BY bin
""",
    doc="Corpus-wide 16-bin luma histogram through the REAL image path: "
    "genuine P5 containers are synthesized, then DECODED from raw bytes "
    "and bucketed per image inside one Arrow-batched map pass "
    "(operators/multimodal.py:decode_pgm_histogram — np.bincount on the "
    "parsed pixel matrix), then the per-image counts partial-aggregate "
    "into the corpus histogram. The histogram IS the standard first "
    "screen on an image corpus (exposure/contrast skew, dead channels) "
    "and the same decode→featurize→aggregate shape as any embedding "
    "extraction. The oracle predicts every pixel arithmetically from "
    "the synth formula, so a hash match proves the byte-level decode "
    "and binning. Exact integer counts; one NULLIF-free share division "
    "(total > 0 by construction). At 100 TB: payload bytes never leave "
    "the executor — one map pass, one 16-row aggregate.",
)
def multimodal_image_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.multimodal import decode_pgm_histogram, synthesize_pgm

    docs = load_table(spark, "documents", sf_dir).select(
        F.col("doc_id").alias("media_id")
    )
    per_img = decode_pgm_histogram(synthesize_pgm(docs))
    h = per_img.groupBy("bin").agg(F.sum("n_pixels").cast("long").alias("n_pixels"))
    t = h.agg(F.sum("n_pixels").cast("long").alias("total"))
    return (
        h.crossJoin(F.broadcast(t))
        .select(
            "bin",
            "n_pixels",
            F.round(
                F.col("n_pixels").cast("double") / F.col("total").cast("double"), 6
            ).alias("share"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# Corpus PSNR under uniform quantization — the compression-quality audit
# on the REAL P5 decode path: how much signal would 4-bit luma cost?
# --------------------------------------------------------------------------

#: ln(10) — Python repr inlined verbatim into BOTH engines (ab_sprt recipe)
_LN10 = "2.302585092994046"
_PSNR_LEVELS = 16  # 4-bit quantization: step = 256 // 16, error = p % 16


@register(
    "multimodal_image_psnr",
    f"""
WITH px AS (
  SELECT unnest(list_transform(
           range(0, (16 + (doc_id % 5) * 8) * (12 + (doc_id % 3) * 8)),
           i -> ((doc_id * 7 + i) * 13) % 256 % {256 // _PSNR_LEVELS})) AS res
  FROM documents),
m AS (SELECT CAST(SUM(res * res) AS BIGINT) AS sse,
             CAST(COUNT(*) AS BIGINT) AS n_pixels FROM px),
l AS (SELECT sse, n_pixels,
             CAST(ROUND(ln(65025.0 * CAST(n_pixels AS DOUBLE)
                           / CAST(sse AS DOUBLE)) * 1000000, 0) AS BIGINT)
               AS ln_fp
      FROM m)
SELECT sse, n_pixels,
       ROUND(CAST(sse AS DOUBLE) / CAST(n_pixels AS DOUBLE), 6) AS mse,
       ROUND(10.0 * (CAST(ln_fp AS DOUBLE) / 1000000.0) / {_LN10}, 4)
         AS psnr_db
FROM l
""",
    doc=f"Corpus PSNR of {_PSNR_LEVELS}-level uniform luma quantization "
    "through the REAL image path: genuine P5 containers are synthesized "
    "and DECODED from raw bytes; per image one Arrow-batched map pass "
    "computes the exact integer sum of squared quantization errors "
    "(error = pixel % step — numpy int64, no float in the kernel), "
    "then the corpus MSE/PSNR roll up from two exact BIGINTs. The "
    "oracle predicts every pixel arithmetically from the synth "
    "formula, so a hash match proves byte-level decode + the error "
    "arithmetic. PSNR = 10*log10(255^2/MSE) follows the repo ln "
    "recipe: ONE data-dependent ln of an identical exact-integer "
    "ratio, rounded immediately to fixed-point micros, and ln(10) "
    "inlined as the same Python repr literal in both engines. At "
    "100 TB: payload bytes never leave the executor — one map pass, "
    "one 1-row aggregate; the audit shape generalizes to any "
    "codec-vs-reference comparison (resize, chroma subsample, "
    "bit-depth reduction).",
)
def multimodal_image_psnr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.multimodal import decode_pgm_quantize_sse, synthesize_pgm

    docs = load_table(spark, "documents", sf_dir).select(
        F.col("doc_id").alias("media_id")
    )
    per_img = decode_pgm_quantize_sse(
        synthesize_pgm(docs), levels=_PSNR_LEVELS
    )
    m = per_img.agg(
        F.sum("sse").cast("long").alias("sse"),
        F.sum("n_pixels").cast("long").alias("n_pixels"),
    )
    ln_fp = F.round(
        F.log(
            F.lit(65025.0)
            * F.col("n_pixels").cast("double")
            / F.col("sse").cast("double")
        )
        * 1000000,
        0,
    ).cast("long")
    return m.select(
        "sse",
        "n_pixels",
        F.round(
            F.col("sse").cast("double") / F.col("n_pixels").cast("double"), 6
        ).alias("mse"),
        F.round(
            F.lit(10.0)
            * (ln_fp.cast("double") / F.lit(1000000.0))
            / F.lit(float(_LN10)),
            4,
        ).alias("psnr_db"),
    )


# --------------------------------------------------------------------------
# Shot-boundary detection over the REAL Y4M clips — per-transition SAD
# (sum of absolute luma differences) from the byte-level decode, boundary
# = transition whose SAD exceeds the clip's own mean (scale-free rule,
# no magic threshold).
# --------------------------------------------------------------------------


@register(
    "multimodal_video_shot_detection",
    """
WITH dims AS (
  SELECT doc_id AS media_id,
         16 + (doc_id % 3) * 8 AS w, 12 AS h,
         6 + (doc_id % 5) AS nf
  FROM documents),
trans AS (
  SELECT media_id, w, h, nf, f,
         CAST(list_sum(list_transform(range(0, w * h),
              i -> abs(((media_id * 11 + f * 251 + i) * 7) % 256
                       - ((media_id * 11 + (f - 1) * 251 + i) * 7) % 256)))
              AS BIGINT) AS sad
  FROM (SELECT media_id, w, h, nf, unnest(range(1, nf)) AS f FROM dims)),
wt AS (
  SELECT media_id, w, h, nf, sad,
         CAST(COUNT(*) OVER (PARTITION BY media_id) AS BIGINT) AS n_trans,
         CAST(SUM(sad) OVER (PARTITION BY media_id) AS BIGINT) AS total_sad
  FROM trans)
SELECT media_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(COUNT(*) AS BIGINT) AS n_transitions,
       CAST(SUM(CASE WHEN sad * n_trans > total_sad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_boundaries,
       CAST(MAX(sad) AS BIGINT) AS max_sad,
       ROUND(CAST(MAX(sad) AS DOUBLE) / (w * h), 4) AS max_mean_delta
FROM wt GROUP BY media_id, w, h, nf
ORDER BY media_id
""",
    doc="Shot-boundary detection over the synthesized-then-REALLY-decoded "
    "YUV4MPEG2 clips: operators/multimodal.y4m_scene_deltas walks the "
    "byte stream (strict header/FRAME/plane validation, numpy luma "
    "SAD per consecutive-frame pair, exact int64), then a transition "
    "is a boundary when its SAD exceeds the clip's own mean SAD "
    "(sad * n_transitions > total_sad — the scale-free integer rule, "
    "no magic threshold, no float compare). The oracle recomputes the "
    "same SADs from the generator formula (the color_to_gray pattern: "
    "the codec layer is pytest-proven byte-exact, the oracle checks "
    "the analytics on top). At 100 TB: decode+SAD is one "
    "Arrow-batched mapInPandas pass, per-clip state is two frames of "
    "luma; the boundary rule is a per-clip window over nf<=10 rows.",
)
def multimodal_video_shot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.multimodal import synthesize_y4m, y4m_scene_deltas

    docs = load_table(spark, "documents", sf_dir).select(
        F.col("doc_id").alias("media_id")
    )
    trans = y4m_scene_deltas(synthesize_y4m(docs))
    from pyspark.sql import Window

    w_clip = Window.partitionBy("media_id")
    flagged = trans.select(
        "media_id",
        "width",
        "height",
        "n_frames",
        "sad",
        F.count(F.lit(1)).over(w_clip).cast("long").alias("n_trans"),
        F.sum("sad").over(w_clip).cast("long").alias("total_sad"),
    )
    return (
        flagged.groupBy("media_id", "width", "height", "n_frames")
        .agg(
            F.max("n_trans").alias("n_transitions"),
            F.sum(
                F.when(F.col("sad") * F.col("n_trans") > F.col("total_sad"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_boundaries"),
            F.max("sad").cast("long").alias("max_sad"),
        )
        .select(
            "media_id",
            "width",
            "height",
            "n_frames",
            "n_transitions",
            "n_boundaries",
            "max_sad",
            F.round(
                F.col("max_sad").cast("double") / (F.col("width") * F.col("height")),
                4,
            ).alias("max_mean_delta"),
        )
        .orderBy("media_id")
    )
