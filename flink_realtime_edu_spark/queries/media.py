"""Multimodal-column query — SURVEY.md §2.10 X8, driver-checkable.

X8's processing surface (binary payload + typed metadata,
Arrow-batched ``mapInPandas`` stages) is exercised by
tests/test_multimodal.py on a synthesized corpus; this module gives
the row a REGISTERED query with a DuckDB oracle by deriving the
payloads deterministically from the documents table: payload =
utf-8 bytes of the text, modality assigned round-robin. The
featurizer is the real one (byte-histogram stand-in with the
production batch shape — codecs are absent in this container, see
multimodal/__init__.py), and because the histogram is plain byte
arithmetic over an ASCII corpus, DuckDB reproduces the checked
feature component exactly: bin 3 of the 16-bin histogram is the
fraction of bytes in [48, 64) — digits and ':;<=>?' punctuation.
(The SQL side reads per-char codepoints — identical to utf-8 bytes
on the ASCII testdata; same caveat as the winnowing oracles in
queries/dedup.py.)

Scale posture: payload bytes cross the JVM↔Python boundary once
(one mapInPandas stage), the aggregate shuffles only
(modality, n_bytes, one double) per asset, and metadata-only
queries on the same frame would never deserialize payloads at all
(parquet column pruning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_realtime_edu_spark.multimodal import extract_features
from flink_realtime_edu_spark.queries import register
from flink_realtime_edu_spark.sources import load


@register(
    "multimodal_feature_stats",
    survey_rows=("X8", "X2", "A2"),
    oracle="""
WITH m AS (
  SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS modality,
         COALESCE(text, '') AS text,
         octet_length(encode(COALESCE(text, ''))) AS n_bytes
  FROM documents
), binhits AS (
  SELECT media_id, modality, n_bytes,
         count(*) FILTER (WHERE ord(substr(text, i, 1)) BETWEEN 48 AND 63)
           AS n_bin3
  FROM m, unnest(generate_series(1, length(text))) g(i)
  GROUP BY media_id, modality, n_bytes
)
-- LEFT join back: an empty/NULL text produces NO lateral rows, but
-- the asset itself must still count (the Spark featurizer emits it
-- with n_bytes=0 and a zero histogram).
SELECT m.modality,
       CAST(count(*) AS BIGINT) AS n_assets,
       CAST(sum(m.n_bytes) AS BIGINT) AS total_bytes,
       round(avg(m.n_bytes), 6) AS avg_bytes,
       round(avg(COALESCE(b.n_bin3, 0) / greatest(m.n_bytes, 1)), 6)
         AS avg_digit_frac
FROM m LEFT JOIN binhits b ON m.media_id = b.media_id
GROUP BY m.modality
""",
)
def multimodal_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Featurize a derived media corpus (payload = utf-8 text bytes,
    modality round-robin by doc_id) through the real mapInPandas
    byte-histogram stage, then aggregate per modality: asset count,
    payload volume, and the mean of histogram bin 3 (bytes in
    [48, 64)) — the component the DuckDB oracle recomputes from raw
    byte arithmetic, proving the Arrow-batched featurizer's output
    values, not just its schema."""
    d = load(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
        # coalesce: a NULL text must become an EMPTY payload (the
        # featurizer would crash on a None payload, and the oracle
        # counts the asset with n_bytes=0 either way)
        F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8").alias("payload"),
    )
    feats = extract_features(media)
    return feats.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("n_bytes").alias("total_bytes"),
        F.round(F.avg("n_bytes"), 6).alias("avg_bytes"),
        F.round(F.avg(F.element_at("feature", 4)), 6).alias("avg_digit_frac"),
    )


@register(
    "video_frame_sample_plan",
    survey_rows=("X8", "F5", "P1"),
    oracle="""
SELECT doc_id AS media_id,
       CAST(g.i AS BIGINT) AS frame_index,
       'video/mp4' AS mime
FROM documents, unnest(generate_series(0, n_chars - 1, 10)) g(i)
WHERE doc_id % 3 = 2 AND n_chars > 0
""",
)
def video_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plan over the derived video assets (doc_id % 3
    = 2, n_frames = n_chars metadata): one row per (video, frame
    index to decode), every 10th frame. METADATA-ONLY by
    construction — the plan never touches payload bytes (the scan
    prunes to the three metadata columns; the byte-heavy decode is a
    separate mapInPandas stage joined back by media_id), which is
    the shape that lets a 100 TB video corpus plan its decode work
    from a few GB of metadata. Pure JVM sequence/explode, no
    Python, no shuffle. Zero-frame videos are excluded (Spark's
    sequence throws on empty bounds — pinned in the operator)."""
    d = load(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
        F.lit("video/mp4").alias("mime"),
        F.col("n_chars").alias("n_frames"),
    )
    from flink_realtime_edu_spark.multimodal import frame_sample_plan

    return frame_sample_plan(media, every_nth=10)


@register(
    "png_decode_stats",
    survey_rows=("X8", "X2", "A2", "F3"),
    oracle="""
WITH ids AS (
  SELECT doc_id AS media_id,
         8 + (doc_id % 5) * 4 AS w,
         8 + (doc_id % 7) * 4 AS h
  FROM documents WHERE doc_id < 60
), px AS (
  SELECT media_id, w, h,
         SUM((media_id * 31 + y.y * 7 + x.x * 3 + ch.c * 11) % 256) AS pixel_sum
  FROM ids,
       unnest(generate_series(0, h - 1)) y(y),
       unnest(generate_series(0, w - 1)) x(x),
       unnest(generate_series(0, 2)) ch(c)
  GROUP BY 1, 2, 3
)
SELECT media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(w * h * 3 AS BIGINT) AS n_px,
       CAST(pixel_sum AS BIGINT) AS pixel_sum,
       ROUND(pixel_sum / (w * h * 3.0), 6) AS pixel_mean
FROM px
""",
)
def png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the whole X8 pipeline: 60 synthetic
    gradient images (pixel(y,x,c) = (id*31 + y*7 + x*3 + c*11) % 256,
    geometry keyed by doc_id) are PNG-ENCODED with per-row filter
    types cycling through all five spec filters, then decoded back by
    the pure-stdlib codec (multimodal/png.py) inside one Arrow-batched
    mapInPandas stage, and the DECODED pixels are aggregated. The
    DuckDB oracle computes the same statistics analytically from the
    pixel formula — any encoder or decoder defect (filter math, CRC,
    geometry, channel order) breaks the value match.

    Scale shape: per-asset decode is partition-local (no shuffle
    before the stats), payload bytes cross the JVM↔Python boundary
    once, and the aggregate output is one small row per asset."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from flink_realtime_edu_spark.multimodal import decode_image
    from flink_realtime_edu_spark.multimodal.png import encode_png

    d = load(spark, sf_dir, "documents")
    ids = d.filter(F.col("doc_id") < 60).select(
        F.col("doc_id").alias("media_id"),
        (8 + (F.col("doc_id") % 5) * 4).cast("int").alias("w"),
        (8 + (F.col("doc_id") % 7) * 4).cast("int").alias("h"),
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, w, hh in zip(pdf["media_id"], pdf["w"], pdf["h"]):
                y, x, c = np.meshgrid(
                    np.arange(hh), np.arange(w), np.arange(3), indexing="ij"
                )
                img = ((int(mid) * 31 + y * 7 + x * 3 + c * 11) % 256).astype(
                    np.uint8
                )
                decoded = decode_image(encode_png(img), "image/png")
                n_px = int(decoded.size)
                psum = int(decoded.astype(np.int64).sum())
                rows.append(
                    (
                        int(mid),
                        int(w),
                        int(hh),
                        n_px,
                        psum,
                        round(psum / float(n_px), 6),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "width",
                    "height",
                    "n_px",
                    "pixel_sum",
                    "pixel_mean",
                ],
            )

    return ids.mapInPandas(
        stats,
        schema="media_id long, width int, height int, n_px bigint, "
        "pixel_sum bigint, pixel_mean double",
    )


@register(
    "webp_decode_stats",
    survey_rows=("X8", "X2", "A2", "F3"),
    oracle="""
WITH ids AS (
  SELECT doc_id AS media_id,
         8 + (doc_id % 5) * 4 AS w,
         8 + (doc_id % 7) * 4 AS h
  FROM documents WHERE doc_id < 60
), px AS (
  SELECT media_id, w, h,
         SUM(CASE WHEN x.x < 4 THEN (media_id * 13) % 256
                  ELSE (media_id * 37 + y.y * 5 + x.x * 11 + ch.c * 7) % 256
             END) AS pixel_sum
  FROM ids,
       unnest(generate_series(0, h - 1)) y(y),
       unnest(generate_series(0, w - 1)) x(x),
       unnest(generate_series(0, 2)) ch(c)
  GROUP BY 1, 2, 3
)
SELECT media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(w * h * 3 AS BIGINT) AS n_px,
       CAST(pixel_sum AS BIGINT) AS pixel_sum,
       ROUND(pixel_sum / (w * h * 3.0), 6) AS pixel_mean
FROM px
""",
)
def webp_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless-WebP (VP8L) decode through the whole X8 pipeline
    (VERDICT r12 item 7 — the third real image codec after PNG and
    baseline JPEG): 60 synthetic images — a constant 4-px left band
    (so LZ77 run references and color-cache hits genuinely fire) next
    to a gradient field (pixel(y,x,c) = (id*37 + y*5 + x*11 + c*7) %
    256) — are VP8L-ENCODED with per-asset option cycling that
    together exercises EVERY decoder path (subtract-green on even
    ids; each of the 14 predictor modes on id % 3 == 0; a cross-color
    element on id % 3 == 1; a color cache on id % 4 == 0; run refs on
    id % 5 != 0), then decoded back by the pure-stdlib codec
    (multimodal/webp.py) inside one Arrow-batched mapInPandas stage,
    and the DECODED pixels are aggregated. The DuckDB oracle computes
    the same statistics analytically from the pixel formula — because
    VP8L is LOSSLESS, the decoded stats are option-independent, so
    any Huffman/transform/cache/backref defect on either side breaks
    the value match.

    Scale shape: identical to png_decode_stats — per-asset decode is
    partition-local, one small row per asset out."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from flink_realtime_edu_spark.multimodal import decode_image
    from flink_realtime_edu_spark.multimodal.webp import encode_webp_lossless

    d = load(spark, sf_dir, "documents")
    ids = d.filter(F.col("doc_id") < 60).select(
        F.col("doc_id").alias("media_id"),
        (8 + (F.col("doc_id") % 5) * 4).cast("int").alias("w"),
        (8 + (F.col("doc_id") % 7) * 4).cast("int").alias("h"),
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, w, hh in zip(pdf["media_id"], pdf["w"], pdf["h"]):
                mid, w, hh = int(mid), int(w), int(hh)
                y, x, c = np.meshgrid(
                    np.arange(hh), np.arange(w), np.arange(3), indexing="ij"
                )
                img = np.where(
                    x < 4,
                    (mid * 13) % 256,
                    (mid * 37 + y * 5 + x * 11 + c * 7) % 256,
                ).astype(np.uint8)
                payload = encode_webp_lossless(
                    img,
                    subtract_green=(mid % 2 == 0),
                    predictor_mode=(mid % 14) if mid % 3 == 0 else None,
                    color_element=(
                        (mid * 5 % 256, mid * 9 % 256, mid * 11 % 256)
                        if mid % 3 == 1
                        else None
                    ),
                    cache_bits=4 if mid % 4 == 0 else 0,
                    use_runs=(mid % 5 != 0),
                )
                decoded = decode_image(payload, "image/webp")[:, :, :3]
                n_px = int(decoded.size)
                psum = int(decoded.astype(np.int64).sum())
                rows.append(
                    (mid, w, hh, n_px, psum, round(psum / float(n_px), 6))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "width",
                    "height",
                    "n_px",
                    "pixel_sum",
                    "pixel_mean",
                ],
            )

    return ids.mapInPandas(
        stats,
        schema="media_id long, width int, height int, n_px bigint, "
        "pixel_sum bigint, pixel_mean double",
    )


@register(
    "jpeg_decode_stats",
    survey_rows=("X8", "X2", "A2", "F3"),
    oracle="""
WITH ids AS (
  SELECT doc_id AS media_id,
         1 + (doc_id % 4) AS bw,
         1 + (doc_id % 5) AS bh
  FROM documents WHERE doc_id < 50
), px AS (
  SELECT media_id, bw, bh,
         SUM(64 * ((media_id * 31 + by.b * 7 + bx.b * 13) % 256)) AS pixel_sum
  FROM ids,
       unnest(generate_series(0, bh - 1)) by(b),
       unnest(generate_series(0, bw - 1)) bx(b)
  GROUP BY 1, 2, 3
)
SELECT media_id,
       CAST(bw * 8 AS INT) AS width,
       CAST(bh * 8 AS INT) AS height,
       CAST(bw * bh * 64 AS BIGINT) AS n_px,
       CAST(pixel_sum AS BIGINT) AS pixel_sum,
       ROUND(pixel_sum / (bw * bh * 64.0), 6) AS pixel_mean
FROM px
""",
)
def jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy-codec decode through the X8 pipeline — the JPEG
    sibling of png_decode_stats: 50 synthetic block-mosaic images
    (each 8x8 block constant at (id*31 + by*7 + bx*13) % 256,
    geometry keyed by doc_id) are baseline-JFIF ENCODED then decoded
    back by the pure-stdlib codec (multimodal/jpeg.py) inside one
    Arrow-batched mapInPandas stage, and the DECODED pixels are
    aggregated. Constant blocks make the lossy round-trip EXACT (only
    the DC coefficient survives the forward DCT, and the default
    table's q00 = 8 divides it evenly — see the codec docstring), so
    the DuckDB oracle states the decoded statistics analytically while
    the decode still runs the full marker/Huffman/dequant/IDCT
    machinery; any defect in either direction breaks the value match.

    Scale shape identical to the PNG path: per-asset decode is
    partition-local, payloads cross the JVM↔Python boundary once,
    one small output row per asset."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from flink_realtime_edu_spark.multimodal import decode_image
    from flink_realtime_edu_spark.multimodal.jpeg import encode_jpeg

    d = load(spark, sf_dir, "documents")
    ids = d.filter(F.col("doc_id") < 50).select(
        F.col("doc_id").alias("media_id"),
        (1 + F.col("doc_id") % 4).cast("int").alias("bw"),
        (1 + F.col("doc_id") % 5).cast("int").alias("bh"),
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, bw, bh in zip(pdf["media_id"], pdf["bw"], pdf["bh"]):
                by, bx = np.meshgrid(
                    np.arange(int(bh)), np.arange(int(bw)), indexing="ij"
                )
                blocks = (
                    (int(mid) * 31 + by * 7 + bx * 13) % 256
                ).astype(np.uint8)
                img = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
                decoded = decode_image(encode_jpeg(img), "image/jpeg")
                n_px = int(decoded.size)
                psum = int(decoded.astype(np.int64).sum())
                rows.append(
                    (
                        int(mid),
                        int(decoded.shape[1]),
                        int(decoded.shape[0]),
                        n_px,
                        psum,
                        round(psum / float(n_px), 6),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "width",
                    "height",
                    "n_px",
                    "pixel_sum",
                    "pixel_mean",
                ],
            )

    return ids.mapInPandas(
        stats,
        schema="media_id long, width int, height int, n_px bigint, "
        "pixel_sum bigint, pixel_mean double",
    )


@register(
    "jpeg_color_decode_stats",
    survey_rows=("X8", "X2", "A2", "F3"),
    oracle="""
WITH ids AS (
  SELECT doc_id AS media_id,
         1 + (doc_id % 3) AS bw,
         1 + (doc_id % 4) AS bh
  FROM documents WHERE doc_id < 40
), mb AS (
  SELECT media_id, bw, bh,
         CAST((media_id * 31 + by.b * 7 + bx.b * 13) % 256 AS DOUBLE) AS r,
         CAST((media_id * 17 + by.b * 5 + bx.b * 11) % 256 AS DOUBLE) AS g,
         CAST((media_id * 23 + by.b * 3 + bx.b * 19) % 256 AS DOUBLE) AS b
  FROM ids,
       unnest(generate_series(0, bh - 1)) by(b),
       unnest(generate_series(0, bw - 1)) bx(b)
), ycc AS (
  SELECT media_id, bw, bh,
    LEAST(255e0, GREATEST(0e0,
      FLOOR(0.299e0*r + 0.587e0*g + 0.114e0*b + 0.5e0))) AS y,
    LEAST(255e0, GREATEST(0e0,
      FLOOR(128e0 - 0.168736e0*r - 0.331264e0*g + 0.5e0*b + 0.5e0))) AS cb,
    LEAST(255e0, GREATEST(0e0,
      FLOOR(128e0 + 0.5e0*r - 0.418688e0*g - 0.081312e0*b + 0.5e0))) AS cr
  FROM mb
), dec AS (
  SELECT media_id, bw, bh,
    LEAST(255e0, GREATEST(0e0,
      FLOOR(y + 1.402e0*(cr - 128e0) + 0.5e0))) AS rr,
    LEAST(255e0, GREATEST(0e0,
      FLOOR(y - 0.344136e0*(cb - 128e0) - 0.714136e0*(cr - 128e0)
            + 0.5e0))) AS gg,
    LEAST(255e0, GREATEST(0e0,
      FLOOR(y + 1.772e0*(cb - 128e0) + 0.5e0))) AS bb
  FROM ycc
), px AS (
  SELECT media_id, bw, bh,
         SUM(CAST(rr AS BIGINT)) * 256 AS r_sum,
         SUM(CAST(gg AS BIGINT)) * 256 AS g_sum,
         SUM(CAST(bb AS BIGINT)) * 256 AS b_sum
  FROM dec GROUP BY 1, 2, 3
)
SELECT media_id,
       CAST(bw * 16 AS INT) AS width,
       CAST(bh * 16 AS INT) AS height,
       CAST(bw * bh * 256 AS BIGINT) AS n_px,
       CAST(r_sum AS BIGINT) AS r_sum,
       CAST(g_sum AS BIGINT) AS g_sum,
       CAST(b_sum AS BIGINT) AS b_sum,
       ROUND((r_sum + g_sum + b_sum) / (bw * bh * 256.0 * 3), 6) AS rgb_mean
FROM px
""",
)
def jpeg_color_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL color-codec decode through the X8 pipeline — the 4:2:0
    YCbCr sibling of jpeg_decode_stats (VERDICT r6 item 4): 40
    synthetic RGB mosaics (each 16x16 macroblock constant at
    per-channel linear-congruential formulas keyed by doc_id) are
    encoded as three-component interleaved baseline JFIF (luma 2x2
    sampling, Annex-K chroma tables) then decoded back by the
    pure-stdlib codec inside one Arrow-batched mapInPandas stage, and
    the DECODED per-channel pixel sums are aggregated. Constant
    macroblocks make the whole lossy chain exact per channel (q00 = 8
    DC trick on BOTH quant tables; constant chroma averages to
    itself), so decode(encode(img)) == ycbcr_to_rgb(rgb_to_ycbcr(img))
    and the DuckDB oracle replays that integer-rounded color
    arithmetic analytically (identical double literals + evaluation
    order on both sides) — any defect in sampling, interleave order,
    per-component predictors, table selectors or the color transform
    breaks the value match."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from flink_realtime_edu_spark.multimodal import decode_image
    from flink_realtime_edu_spark.multimodal.jpeg import encode_jpeg

    d = load(spark, sf_dir, "documents")
    ids = d.filter(F.col("doc_id") < 40).select(
        F.col("doc_id").alias("media_id"),
        (1 + F.col("doc_id") % 3).cast("int").alias("bw"),
        (1 + F.col("doc_id") % 4).cast("int").alias("bh"),
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, bw, bh in zip(pdf["media_id"], pdf["bw"], pdf["bh"]):
                by, bx = np.meshgrid(
                    np.arange(int(bh)), np.arange(int(bw)), indexing="ij"
                )
                mid = int(mid)
                blocks = np.stack(
                    [
                        (mid * 31 + by * 7 + bx * 13) % 256,
                        (mid * 17 + by * 5 + bx * 11) % 256,
                        (mid * 23 + by * 3 + bx * 19) % 256,
                    ],
                    axis=-1,
                ).astype(np.uint8)
                img = np.kron(blocks, np.ones((16, 16, 1), dtype=np.uint8))
                decoded = decode_image(encode_jpeg(img), "image/jpeg")
                ch = decoded.astype(np.int64)
                n_px = int(decoded.shape[0] * decoded.shape[1])
                sums = [int(ch[..., c].sum()) for c in range(3)]
                rows.append(
                    (
                        mid,
                        int(decoded.shape[1]),
                        int(decoded.shape[0]),
                        n_px,
                        sums[0],
                        sums[1],
                        sums[2],
                        round(sum(sums) / (n_px * 3.0), 6),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "n_px",
                    "r_sum", "g_sum", "b_sum", "rgb_mean",
                ],
            )

    return ids.mapInPandas(
        stats,
        schema="media_id long, width int, height int, n_px bigint, "
        "r_sum bigint, g_sum bigint, b_sum bigint, rgb_mean double",
    )


@register(
    "video_decode_stats",
    survey_rows=("X8", "X2", "A2", "F3"),
    oracle="""
WITH ids AS (
  SELECT doc_id AS media_id,
         1 + (doc_id % 3) AS bw,
         1 + (doc_id % 2) AS bh,
         3 + (doc_id % 5) AS n_frames
  FROM documents WHERE doc_id < 20
), sampled AS (
  SELECT media_id, bw, bh, n_frames, f.f AS f
  FROM ids, unnest(generate_series(0, n_frames - 1, 2)) f(f)
), px AS (
  SELECT media_id, bw, bh, n_frames,
         CAST(COUNT(DISTINCT f) AS BIGINT) AS frames_decoded,
         SUM(64 * ((media_id * 31 + f * 17 + by.b * 7 + bx.b * 13) % 256))
           AS pixel_sum
  FROM sampled,
       unnest(generate_series(0, bh - 1)) by(b),
       unnest(generate_series(0, bw - 1)) bx(b)
  GROUP BY 1, 2, 3, 4
)
SELECT media_id,
       CAST(bw * 8 AS INT) AS width,
       CAST(bh * 8 AS INT) AS height,
       CAST(n_frames AS BIGINT) AS n_frames,
       frames_decoded,
       CAST(pixel_sum AS BIGINT) AS pixel_sum,
       ROUND(pixel_sum / (frames_decoded * bw * bh * 64.0), 6) AS pixel_mean
FROM px
""",
)
def video_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode through the X8 pipeline — the last honest
    codec stub closed: 20 synthetic MJPEG-in-AVI videos (per-frame
    8x8-block mosaics colored (id*31 + f*17 + by*7 + bx*13) % 256;
    geometry and frame count keyed by doc_id) are container-ENCODED
    then decoded back by the pure-stdlib RIFF walker + baseline-JPEG
    codec (multimodal/avi.py) inside one Arrow-batched mapInPandas
    stage, SAMPLING every 2nd frame — skipped frames are chunk-walked
    but never entropy-decoded, the shape that makes a 1% frame grid
    over a 100 TB corpus cost ~1% of the decode. Constant blocks make
    the lossy per-frame round-trip exact (the jpeg.py DC-only
    property), so the DuckDB oracle states the sampled-frame pixel
    statistics analytically; any container-walk, frame-indexing or
    JPEG defect breaks the value match."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from flink_realtime_edu_spark.multimodal import decode_video
    from flink_realtime_edu_spark.multimodal.avi import encode_avi_mjpeg
    from flink_realtime_edu_spark.multimodal.jpeg import encode_jpeg

    d = load(spark, sf_dir, "documents")
    ids = d.filter(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("media_id"),
        (1 + F.col("doc_id") % 3).cast("int").alias("bw"),
        (1 + F.col("doc_id") % 2).cast("int").alias("bh"),
        (3 + F.col("doc_id") % 5).cast("int").alias("n"),
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, bw, bh, n in zip(
                pdf["media_id"], pdf["bw"], pdf["bh"], pdf["n"]
            ):
                mid, bw, bh, n = int(mid), int(bw), int(bh), int(n)
                by, bx = np.meshgrid(
                    np.arange(bh), np.arange(bw), indexing="ij"
                )
                frames = [
                    encode_jpeg(
                        np.kron(
                            ((mid * 31 + f * 17 + by * 7 + bx * 13) % 256)
                            .astype(np.uint8),
                            np.ones((8, 8), dtype=np.uint8),
                        )
                    )
                    for f in range(n)
                ]
                payload = encode_avi_mjpeg(frames, bw * 8, bh * 8, fps=10)
                decoded, _fps = decode_video(
                    payload, "video/x-msvideo", every_nth=2
                )
                psum = int(
                    sum(fr.astype(np.int64).sum() for fr in decoded)
                )
                n_px = sum(fr.size for fr in decoded)
                rows.append(
                    (
                        mid,
                        bw * 8,
                        bh * 8,
                        n,
                        len(decoded),
                        psum,
                        round(psum / float(n_px), 6),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "width",
                    "height",
                    "n_frames",
                    "frames_decoded",
                    "pixel_sum",
                    "pixel_mean",
                ],
            )

    return ids.mapInPandas(
        stats,
        schema="media_id long, width int, height int, n_frames bigint, "
        "frames_decoded bigint, pixel_sum bigint, pixel_mean double",
    )


@register(
    "wav_decode_stats",
    survey_rows=("X8", "X2", "A2", "F3"),
    oracle="""
WITH ids AS (
  SELECT doc_id AS media_id,
         8000 + (doc_id % 3) * 4000 AS sample_rate,
         CAST(1 + doc_id % 2 AS INT) AS n_channels,
         500 + (doc_id % 8) * 250 AS n_frames
  FROM documents WHERE doc_id < 40
), smp AS (
  SELECT media_id, sample_rate, n_channels, n_frames,
         SUM((media_id * 37 + i.i * 13 + c.c * 29) % 4096 - 2048) AS sample_sum,
         MAX(ABS((media_id * 37 + i.i * 13 + c.c * 29) % 4096 - 2048)) AS peak
  FROM ids,
       unnest(generate_series(0, n_frames - 1)) i(i),
       unnest(generate_series(0, n_channels - 1)) c(c)
  GROUP BY 1, 2, 3, 4
)
SELECT media_id,
       CAST(n_frames AS BIGINT) AS n_frames,
       n_channels,
       CAST(sample_rate AS INT) AS sample_rate,
       ROUND(n_frames / CAST(sample_rate AS DOUBLE), 6) AS duration_s,
       CAST(sample_sum AS BIGINT) AS sample_sum,
       CAST(peak AS INT) AS peak
FROM smp
""",
)
def wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode through the X8 pipeline — the WAV sibling of
    png_decode_stats: 40 synthetic PCM waveforms (sample(i, c) =
    (id*37 + i*13 + c*29) % 4096 − 2048; rate/channels/length keyed
    by doc_id) are WAV-ENCODED then decoded back by the pure-stdlib
    RIFF codec (multimodal/wav.py) inside one Arrow-batched
    mapInPandas stage, and the DECODED samples aggregate to per-asset
    stats. The DuckDB oracle computes the same stats analytically
    from the sample formula — any header, interleave, endianness or
    framing defect in either direction breaks the value match.

    Scale shape identical to the image path: decode is
    partition-local, payloads cross the JVM↔Python boundary once,
    one small output row per asset."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from flink_realtime_edu_spark.multimodal import decode_audio
    from flink_realtime_edu_spark.multimodal.wav import encode_wav

    d = load(spark, sf_dir, "documents")
    ids = d.filter(F.col("doc_id") < 40).select(
        F.col("doc_id").alias("media_id"),
        (8000 + (F.col("doc_id") % 3) * 4000).cast("int").alias("sr"),
        (1 + F.col("doc_id") % 2).cast("int").alias("ch"),
        (500 + (F.col("doc_id") % 8) * 250).cast("int").alias("n"),
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, sr, ch, n in zip(
                pdf["media_id"], pdf["sr"], pdf["ch"], pdf["n"]
            ):
                i, c = np.meshgrid(
                    np.arange(int(n)), np.arange(int(ch)), indexing="ij"
                )
                wave = (
                    (int(mid) * 37 + i * 13 + c * 29) % 4096 - 2048
                ).astype(np.int16)
                decoded, rate = decode_audio(
                    encode_wav(wave, int(sr)), "audio/wav"
                )
                rows.append(
                    (
                        int(mid),
                        int(decoded.shape[0]),
                        int(decoded.shape[1]),
                        int(rate),
                        round(decoded.shape[0] / float(rate), 6),
                        int(decoded.astype(np.int64).sum()),
                        int(np.abs(decoded.astype(np.int64)).max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "n_frames",
                    "n_channels",
                    "sample_rate",
                    "duration_s",
                    "sample_sum",
                    "peak",
                ],
            )

    return ids.mapInPandas(
        stats,
        schema="media_id long, n_frames bigint, n_channels int, "
        "sample_rate int, duration_s double, sample_sum bigint, peak int",
    )


def _phash_oracle() -> str:
    from flink_realtime_edu_spark.multimodal.phash import basis_sql_rows

    return f"""
WITH ids AS (
  SELECT doc_id AS media_id FROM documents WHERE doc_id < 40
), px AS (
  SELECT media_id, y.y AS y, x.x AS x,
         ((1 + media_id % 20 % 5) * x.x
          + (1 + media_id % 20 % 3) * y.y
          + (media_id % 20) * 7) % 256 AS v
  FROM ids,
       unnest(generate_series(0, 63)) y(y),
       unnest(generate_series(0, 63)) x(x)
), pooled AS (
  SELECT media_id, y // 2 AS py, x // 2 AS px,
         CAST(SUM(v) // 4 AS BIGINT) AS val
  FROM px GROUP BY 1, 2, 3
), basis(u, x, b) AS (VALUES {basis_sql_rows()}),
co AS (
  SELECT p.media_id, bu.u AS u, bv.u AS v,
         CAST(SUM(p.val * bu.b * bv.b) AS BIGINT) AS c
  FROM pooled p
  JOIN basis bu ON bu.x = p.py
  JOIN basis bv ON bv.x = p.px
  GROUP BY 1, 2, 3
), ac AS (
  SELECT media_id, 8 * u + v - 1 AS bit, c
  FROM co WHERE NOT (u = 0 AND v = 0)
), med AS (
  SELECT media_id, c AS med FROM (
    SELECT media_id, c,
           ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY c) AS rn
    FROM ac
  ) WHERE rn = 32
), hashes AS (
  SELECT a.media_id,
         SUM(CASE WHEN a.c > m.med
             THEN CAST(1 AS BIGINT) << CAST(a.bit AS INT)
             ELSE CAST(0 AS BIGINT) END) AS ph
  FROM ac a JOIN med m USING (media_id)
  GROUP BY a.media_id
)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
FROM hashes a JOIN hashes b ON a.media_id < b.media_id
WHERE bit_count(xor(a.ph, b.ph)) <= 8
"""


@register(
    "phash_dup_stats",
    survey_rows=("X8", "X5", "X2", "F8"),
    oracle=_phash_oracle(),
)
def phash_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash IMAGE dedup — the multimodal↔near-dup bridge
    a training-data pipeline actually runs (VERDICT r7 item 6): 40
    synthetic 64×64 grayscale gradients (pixel(y,x) = (a·x + b·y + c)
    % 256, params keyed by media_id % 20 so ids i and i+20 are exact
    duplicates) round-trip the REAL PNG codec inside one Arrow-batched
    mapInPandas stage, hash through the integer-only pHash kernel
    (floor-mean 2×2 pooling, scaled-int DCT basis shared verbatim with
    the oracle, discrete-median threshold — multimodal/phash.py), and
    pair up through the SAME pigeonhole Hamming banding as text
    SimHash (max_hamming 8 → 9 chunks, bucket-join, exact bit_count
    verify — never all-pairs). The DuckDB oracle replays pixels,
    pooling, DCT, median, hash and pairing bit-for-bit from the
    analytic formula, so any codec, kernel, or banding defect breaks
    the value match."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from flink_realtime_edu_spark.multimodal import decode_image
    from flink_realtime_edu_spark.multimodal.phash import phash63
    from flink_realtime_edu_spark.multimodal.png import encode_png
    from flink_realtime_edu_spark.operators.dedup import (
        simhash_near_duplicates,
    )

    d = load(spark, sf_dir, "documents")
    ids = d.filter(F.col("doc_id") < 40).select(
        F.col("doc_id").alias("media_id")
    )

    def hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                g = int(mid) % 20
                a, b, c = 1 + g % 5, 1 + g % 3, g * 7
                y, x = np.meshgrid(
                    np.arange(64), np.arange(64), indexing="ij"
                )
                img = ((a * x + b * y + c) % 256).astype(np.uint8)
                decoded = decode_image(encode_png(img), "image/png")[:, :, 0]
                rows.append((int(mid), phash63(decoded)))
            yield pd.DataFrame(rows, columns=["media_id", "sim"])

    sig = ids.mapInPandas(hashes, schema="media_id long, sim long")
    return simhash_near_duplicates(
        sig,
        id_col="media_id",
        max_hamming=8,
        sig_df=sig,
        sig_bits=63,
    )


_AUDIO_FP_ORACLE = """
WITH ids AS (
  SELECT doc_id AS media_id FROM documents WHERE doc_id < 40
), samp AS (
  SELECT media_id, t.t AS t, t.t // 256 AS f,
         ((1 + media_id % 20 % 7) * t.t * t.t
          + (3 + media_id % 20 % 5) * t.t
          + (media_id % 20) * 11) % 65536 - 32768 AS v
  FROM ids, unnest(generate_series(0, 16383)) t(t)
), energy AS (
  SELECT media_id, f, CAST(SUM(v * v) AS BIGINT) AS en
  FROM samp GROUP BY 1, 2
), fp AS (
  SELECT media_id,
         SUM(CASE WHEN en > prev THEN CAST(1 AS BIGINT) << CAST(f - 1 AS INT)
             ELSE CAST(0 AS BIGINT) END) AS fp
  FROM (
    SELECT media_id, f, en,
           lag(en) OVER (PARTITION BY media_id ORDER BY f) AS prev
    FROM energy
  ) WHERE f >= 1
  GROUP BY media_id
)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.media_id < b.media_id
WHERE bit_count(xor(a.fp, b.fp)) <= 6
"""


@register(
    "audio_fingerprint_dups",
    survey_rows=("X8", "X5", "X2", "F8"),
    oracle=_AUDIO_FP_ORACLE,
)
def audio_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic-fingerprint AUDIO dedup — the audio sibling of
    phash_dup_stats (X8↔X5, r8): 40 synthetic 16 kHz clips
    (sample(t) = ((a·t² + b·t + c) mod 65536) − 32768, params keyed by
    media_id % 20 so ids i and i+20 are exact duplicates) round-trip
    the REAL WAV/PCM codec inside one Arrow-batched mapInPandas stage,
    fingerprint through the integer-only energy-delta kernel
    (multimodal/audiofp.py: 64 exact int64 frame energies, 63
    consecutive-delta sign bits), and pair up through the SAME
    pigeonhole Hamming banding as text SimHash and pHash (max_hamming
    6 → 7 chunks, bucket-join, exact bit_count verify). The DuckDB
    oracle replays samples, frame energies, the delta profile and the
    pairing bit-for-bit from the analytic formula — any codec or
    kernel defect breaks the value match."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from flink_realtime_edu_spark.multimodal import decode_audio
    from flink_realtime_edu_spark.multimodal.audiofp import (
        audio_fingerprint63,
    )
    from flink_realtime_edu_spark.multimodal.wav import encode_wav
    from flink_realtime_edu_spark.operators.dedup import (
        simhash_near_duplicates,
    )

    d = load(spark, sf_dir, "documents")
    ids = d.filter(F.col("doc_id") < 40).select(
        F.col("doc_id").alias("media_id")
    )

    def fingerprints(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                g = int(mid) % 20
                a, b, c = 1 + g % 7, 3 + g % 5, g * 11
                t = np.arange(64 * 256, dtype=np.int64)
                v = (((a * t * t + b * t + c) % 65536) - 32768).astype(
                    np.int16
                )
                decoded, rate = decode_audio(
                    encode_wav(v, 16000), "audio/wav"
                )
                assert rate == 16000
                rows.append(
                    (int(mid), audio_fingerprint63(decoded[:, 0]))
                )
            yield pd.DataFrame(rows, columns=["media_id", "sim"])

    sig = ids.mapInPandas(fingerprints, schema="media_id long, sim long")
    return simhash_near_duplicates(
        sig,
        id_col="media_id",
        max_hamming=6,
        sig_df=sig,
        sig_bits=63,
    )


def _media_canonicals_oracle() -> str:
    """Closure oracle for media_dup_canonicals: the two pair oracles
    verbatim as subqueries (audio asset ids offset by 1000 so the two
    modality graphs cannot touch), the recursive-CTE transitive
    closure from dup_cluster_canonicals, the deterministic asset-
    catalog quality formula, and the same argmax window."""
    return f"""
WITH RECURSIVE img_pairs AS (
  SELECT id_a, id_b FROM ({_phash_oracle()}) tp
), aud_pairs AS (
  SELECT id_a + 1000 AS id_a, id_b + 1000 AS id_b
  FROM ({_AUDIO_FP_ORACLE}) ta
), apairs AS (
  SELECT id_a, id_b FROM img_pairs
  UNION ALL SELECT id_a, id_b FROM aud_pairs
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM apairs
  UNION SELECT id_b, id_a FROM apairs
), reach(node, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst
), comp AS (
  SELECT node AS asset_id, MIN(lab) AS cluster_id FROM reach GROUP BY 1
), scored0 AS (
  SELECT cluster_id, asset_id,
         CASE WHEN asset_id >= 1000 THEN 'audio' ELSE 'image' END
           AS modality,
         asset_id % 1000 AS media_id,
         CASE WHEN asset_id >= 1000
              THEN 1024 * (1 + (asset_id % 1000) // 20)
              ELSE 230400 * (1 + (asset_id % 1000) // 20)
                          * (1 + (asset_id % 1000) // 20) END AS quality
  FROM comp
), scored AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY cluster_id ORDER BY quality DESC, asset_id) AS rn
  FROM scored0
)
SELECT modality, CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(MAX(CASE WHEN rn = 1 THEN media_id END) AS BIGINT)
         AS canonical_media_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MAX(CASE WHEN rn = 1 THEN quality END) AS BIGINT)
         AS kept_quality,
       CAST(SUM(CASE WHEN rn > 1 THEN quality ELSE 0 END) AS BIGINT)
         AS dropped_quality
FROM scored GROUP BY modality, cluster_id
"""


@register(
    "media_dup_canonicals",
    survey_rows=("X8", "X5", "X4", "W1"),
    oracle=_media_canonicals_oracle(),
)
def media_dup_canonicals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CANONICAL-ASSET SELECTION over the multimodal dup graphs — the
    de-dup-assets step a training pipeline runs after pHash/audio
    fingerprinting (VERDICT r8 item 4, bridging r8's two bridges):
    the pHash image pairs and acoustic-fingerprint audio pairs (both
    REAL codec round-trips, reused verbatim from phash_dup_stats /
    audio_fingerprint_dups) union into one asset graph (audio ids
    offset by 1000 — modality graphs are disjoint by construction),
    connected components cluster transitive duplicates, and each
    cluster keeps its best asset by the catalog quality metric —
    highest source resolution for images (640×360 × scale², scale =
    1 + media_id//20: the i+20 copies are the hi-res re-encodes),
    longest clip for audio (1024 ms × scale) — ranked (quality DESC,
    asset_id) like dup_cluster_canonicals' keep-longest. Plan: two
    Arrow-batched hash stages + banding joins (the reused pair
    queries), hash-min label propagation, then ONE window pass by
    cluster_id — members shuffle, never the assets' payloads. Oracle:
    both pair oracles verbatim + the recursive-CTE closure + the same
    argmax window, so a defect anywhere in codec, kernel, banding,
    clustering, or selection breaks the value match."""
    from pyspark.sql import Window

    from flink_realtime_edu_spark.operators.graph import connected_components

    img = phash_dup_stats(spark, sf_dir).select("id_a", "id_b")
    aud = audio_fingerprint_dups(spark, sf_dir).select(
        (F.col("id_a") + 1000).alias("id_a"),
        (F.col("id_b") + 1000).alias("id_b"),
    )
    pairs = img.unionByName(aud)
    comp = connected_components(pairs, src="id_a", dst="id_b").select(
        F.col("node").alias("asset_id"),
        F.col("component").alias("cluster_id"),
    )
    media_id = F.col("asset_id") % 1000
    scale = (F.lit(1) + F.floor(media_id / 20)).cast("long")
    quality = (
        F.when(F.col("asset_id") >= 1000, F.lit(1024) * scale)
        .otherwise(F.lit(230400) * scale * scale)
        .cast("long")
    )
    scored = (
        comp.withColumn(
            "modality",
            F.when(F.col("asset_id") >= 1000, F.lit("audio")).otherwise(
                F.lit("image")
            ),
        )
        .withColumn("media_id", media_id.cast("long"))
        .withColumn("quality", quality)
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("asset_id")
    )
    ranked = scored.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy(
        "modality", F.col("cluster_id").cast("long").alias("cluster_id")
    ).agg(
        F.max(F.when(F.col("rn") == 1, F.col("media_id")))
        .cast("long")
        .alias("canonical_media_id"),
        F.count(F.lit(1)).alias("n_members"),
        F.max(F.when(F.col("rn") == 1, F.col("quality")))
        .cast("long")
        .alias("kept_quality"),
        F.sum(F.when(F.col("rn") > 1, F.col("quality")).otherwise(0))
        .cast("long")
        .alias("dropped_quality"),
    )


# ---------------------------------------------------------------------------
# X8 — metadata-only MP3 / MP4 container walks (VERDICT r10 missing #5)
# ---------------------------------------------------------------------------
_MP3_BR_SQL = "(VALUES " + ", ".join(
    f"({i}, {k})"
    for i, k in enumerate(
        (None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    )
    if k
) + ") br(idx, kbps)"


@register(
    "audio_metadata_stats",
    survey_rows=("X8", "X2", "F3"),
    oracle=f"""
WITH ids AS (
  SELECT doc_id AS media_id, doc_id % 3 AS sri,
         200 + (doc_id % 8) * 100 AS n
  FROM documents WHERE doc_id < 40
), par AS (
  SELECT media_id, n,
         CASE sri WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr,
         2 + media_id % 5 AS bi1, 8 + media_id % 6 AS bi2
  FROM ids
), frames AS (
  SELECT media_id, sr, n,
         CASE WHEN (media_id + f.f) % 2 = 0 THEN bi1 ELSE bi2 END AS bi,
         CASE WHEN (media_id + f.f) % 3 = 0 THEN 1 ELSE 0 END AS pad
  FROM par, unnest(generate_series(0, n - 1)) f(f)
), fstats AS (
  SELECT media_id, sr, n,
         CAST(SUM(144000 * br.kbps // sr + pad) AS BIGINT) AS audio_bytes,
         CAST(SUM(br.kbps) AS BIGINT) AS kbps_sum
  FROM frames JOIN {_MP3_BR_SQL} ON frames.bi = br.idx
  GROUP BY 1, 2, 3
)
SELECT media_id, CAST(n AS BIGINT) AS n_frames, CAST(sr AS INT) AS sample_rate,
       ((2 * n * 1152 * 1000000 + sr) // (2 * sr)) / 1000000.0 AS duration_s,
       audio_bytes,
       ((2 * kbps_sum * 1000000 + n) // (2 * n)) / 1000000.0
         AS mean_bitrate_kbps,
       media_id % 2 = 0 AS has_id3v2,
       media_id % 3 = 0 AS has_id3v1
FROM fstats
""",
)
def audio_metadata_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP3 header walk through the X8 pipeline — the
    metadata-only audio sibling of wav_decode_stats: 40 synthetic
    VBR MPEG-1 Layer III streams (frame bitrate alternating between
    two doc_id-keyed indices, padding bits on a mod-3 pattern, ID3v2
    prefix on even ids, ID3v1 trailer on ids % 3 = 0) are BUILT then
    re-parsed by the pure-stdlib frame walker
    (multimodal/mp3meta.py) inside one Arrow-batched mapInPandas
    stage. The DuckDB oracle recomputes every stat analytically from
    the public frame-size formula (144000·kbps/sr + pad) — a sync,
    tag-skip, size or table defect in either direction breaks the
    value match. Duration and mean bitrate use the
    doc_trigram_perplexity integer half-up-division discipline, so
    no float round crosses engines.

    Scale shape: parse is partition-local and reads HEADERS only —
    at corpus scale the walker touches ~4 bytes per audio frame and
    never the entropy payload; one small row per asset shuffles."""
    from collections.abc import Iterator

    import pandas as pd

    from flink_realtime_edu_spark.multimodal.mp3meta import (
        build_mp3,
        mp3_metadata,
    )

    d = load(spark, sf_dir, "documents")
    ids = d.filter(F.col("doc_id") < 40).select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 3).cast("int").alias("sri"),
        (200 + (F.col("doc_id") % 8) * 100).cast("int").alias("n"),
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, sri, n in zip(pdf["media_id"], pdf["sri"], pdf["n"]):
                mid, sri, n = int(mid), int(sri), int(n)
                bi1, bi2 = 2 + mid % 5, 8 + mid % 6
                bis = [bi1 if (mid + f) % 2 == 0 else bi2 for f in range(n)]
                pads = [1 if (mid + f) % 3 == 0 else 0 for f in range(n)]
                payload = build_mp3(
                    bis,
                    sr_idx=sri,
                    pad_bits=pads,
                    id3v2_payload=(b"\x01" * (50 + mid * 7))
                    if mid % 2 == 0
                    else None,
                    id3v1=mid % 3 == 0,
                    seed=mid,
                )
                m = mp3_metadata(payload)
                ksum, nf = m["bitrate_kbps_sum"], m["n_frames"]
                rows.append(
                    (
                        mid,
                        nf,
                        m["sample_rate"],
                        m["duration_s_e6"] / 1000000.0,
                        m["audio_bytes"],
                        ((2 * ksum * 1000000 + nf) // (2 * nf)) / 1000000.0,
                        m["has_id3v2"],
                        m["has_id3v1"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "n_frames",
                    "sample_rate",
                    "duration_s",
                    "audio_bytes",
                    "mean_bitrate_kbps",
                    "has_id3v2",
                    "has_id3v1",
                ],
            )

    return ids.mapInPandas(
        stats,
        schema="media_id long, n_frames bigint, sample_rate int, "
        "duration_s double, audio_bytes bigint, mean_bitrate_kbps double, "
        "has_id3v2 boolean, has_id3v1 boolean",
    )


@register(
    "video_container_stats",
    survey_rows=("X8", "X2", "F3"),
    oracle="""
WITH ids AS (
  SELECT doc_id AS media_id,
         600 * (1 + doc_id % 4) AS timescale,
         3000 + doc_id * 37 AS dur_units,
         CAST(1 + doc_id % 3 AS INT) AS n_tracks
  FROM documents WHERE doc_id < 40
), trk AS (
  SELECT media_id,
         CASE WHEN (media_id + t.t) % 2 = 0 THEN 'vide' ELSE 'soun' END
           AS handler,
         CASE WHEN (media_id + t.t) % 2 = 0
              THEN ['avc1', 'hev1', 'vp09', 'mjpa'][(media_id + 2 * t.t) % 4 + 1]
              ELSE ['mp4a', 'opus', 'alac', 'sowt'][(media_id + 2 * t.t) % 4 + 1]
         END AS codec
  FROM ids, unnest(generate_series(0, n_tracks - 1)) t(t)
), agg AS (
  SELECT media_id,
         CAST(SUM(CASE WHEN handler = 'vide' THEN 1 ELSE 0 END) AS INT)
           AS n_video,
         CAST(SUM(CASE WHEN handler = 'soun' THEN 1 ELSE 0 END) AS INT)
           AS n_audio,
         string_agg(codec, ',' ORDER BY codec) AS codecs
  FROM trk GROUP BY media_id
)
SELECT i.media_id,
       CASE WHEN i.media_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
       i.n_tracks, a.n_video, a.n_audio,
       ((2 * i.dur_units * 1000000 + i.timescale) // (2 * i.timescale))
         / 1000000.0 AS duration_s,
       a.codecs,
       CAST(64 + i.media_id % 50 AS BIGINT) AS mdat_bytes
FROM ids i JOIN agg a ON i.media_id = a.media_id
""",
)
def video_container_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ISO-BMFF atom walk through the X8 pipeline — the
    metadata-only video sibling of video_decode_stats: 40 synthetic
    MP4 skeletons (1–3 tracks alternating vide/soun handlers with
    doc_id-keyed codec fourccs, timescale/duration/brand/mdat all
    parameterized) are BUILT then re-parsed by the pure-stdlib box
    walker (multimodal/mp4meta.py) in one Arrow-batched mapInPandas
    stage; the DuckDB oracle recomputes brand, track/handler counts,
    the sorted codec list, the half-up-rounded duration and the mdat
    byte count analytically. A box-size, nesting, or version defect
    in either direction breaks the match.

    Scale shape: the walk reads box headers only — at corpus scale
    that is O(box count), not O(bytes) (mdat payloads are skipped by
    size), and sample decode stays out of scope
    (multimodal/__init__.py's NotImplementedError contract)."""
    from collections.abc import Iterator

    import pandas as pd

    from flink_realtime_edu_spark.multimodal.mp4meta import (
        build_mp4,
        mp4_metadata,
    )

    d = load(spark, sf_dir, "documents")
    ids = d.filter(F.col("doc_id") < 40).select(
        F.col("doc_id").alias("media_id"),
        (600 * (1 + F.col("doc_id") % 4)).cast("int").alias("ts"),
        (3000 + F.col("doc_id") * 37).cast("int").alias("du"),
        (1 + F.col("doc_id") % 3).cast("int").alias("nt"),
    )
    vid = ("avc1", "hev1", "vp09", "mjpa")
    aud = ("mp4a", "opus", "alac", "sowt")

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, ts, du, nt in zip(
                pdf["media_id"], pdf["ts"], pdf["du"], pdf["nt"]
            ):
                mid, ts, du, nt = int(mid), int(ts), int(du), int(nt)
                tracks = []
                for t in range(nt):
                    if (mid + t) % 2 == 0:
                        tracks.append(
                            (b"vide", vid[(mid + 2 * t) % 4].encode())
                        )
                    else:
                        tracks.append(
                            (b"soun", aud[(mid + 2 * t) % 4].encode())
                        )
                payload = build_mp4(
                    b"isom" if mid % 2 == 0 else b"mp42",
                    ts,
                    du,
                    tracks,
                    mdat_len=64 + mid % 50,
                    seed=mid,
                )
                m = mp4_metadata(payload)
                rows.append(
                    (
                        mid,
                        m["brand"],
                        m["n_tracks"],
                        m["n_video"],
                        m["n_audio"],
                        (
                            (2 * m["duration_units"] * 1000000 + m["timescale"])
                            // (2 * m["timescale"])
                        )
                        / 1000000.0,
                        m["codecs"],
                        m["mdat_bytes"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "brand",
                    "n_tracks",
                    "n_video",
                    "n_audio",
                    "duration_s",
                    "codecs",
                    "mdat_bytes",
                ],
            )

    return ids.mapInPandas(
        stats,
        schema="media_id long, brand string, n_tracks int, n_video int, "
        "n_audio int, duration_s double, codecs string, mdat_bytes bigint",
    )
