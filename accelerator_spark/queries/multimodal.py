"""Media gates: decode, resize and probe for image, audio and video
containers, frame sampling, analysis-window and tile planning,
perceptual hashes, and the image / audio / video near-duplicate pairs
on operators/dedup.fp_near_pairs.

Fixture-backed gates author container bytes per document from
md5(text) only (_common._doc_media_df), push them through the
production parser, and the oracle replays every derived value from
DuckDB's md5(), so they are value-checked, not row-counted. The
near-dup oracles brute-force all pairs, so banded candidate generation
is recall-checked against ground truth.
"""

from __future__ import annotations

import hashlib as _hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import gate
from ._common import _doc_media_df, _spread, _t
from ..functions.jpeg import jpeg_encode
from ..functions.png import png_encode
from ..operators.multimodal import (
    DETERMINISTIC_FAKE, audio_ehash, audio_near_pairs, decode_audio_features,
    decode_features, dhash_near_pairs, extract_frames, extract_id3_tags,
    frame_sample_plan, image_dhash, image_resizer, png_resizer,
    probe_audio_meta, probe_image_meta, probe_video_meta, real_audio_decoder,
    real_decoder, resize_media, video_fingerprint, video_near_pairs,
)


# =====================================================================
# Decode, resize and probe
# =====================================================================

def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column handling: documents.text encoded to a binary
    payload column (stand-in for image/audio bytes), typed metadata
    extracted JVM-side. The pandas-UDF decode path (real codec work) is in
    operators/multimodal.py with the decode stubbed."""
    docs = _t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        F.octet_length(payload).alias("n_bytes"),
        F.substring(F.hex(payload), 1, 8).alias("magic"),
    )


ORACLE_MULTIMODAL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       upper(substring(hex(encode(text)), 1, 8)) AS magic
FROM documents
"""
gate(multimodal_meta, ORACLE_MULTIMODAL)


def frame_sample_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling *plan* (operators/multimodal.
    frame_sample_plan): expand (media_id, n_frames) into every 30th
    frame index — the distributed half of frame sampling; the per-frame
    decode is the mapInPandas path. Pure JVM explode(sequence(...)), so
    at 100 TB the expansion runs inside codegen with no Python and the
    output partitioning follows the input (no shuffle at all)."""
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("n_chars") % 300 + 1).alias("n_frames"),
    )
    return frame_sample_plan(media, every_n=30, duration_col="n_frames")


ORACLE_FRAME_SAMPLE = """
SELECT doc_id AS media_id, n_chars % 300 + 1 AS n_frames,
       unnest(generate_series(0, greatest(n_chars % 300, 0), 30)) AS frame_idx
FROM documents
"""
gate(frame_sample_media, ORACLE_FRAME_SAMPLE)


def media_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode_features end-to-end through the gate: documents.text as a
    binary payload, Arrow-batched mapInPandas decode with the
    DETERMINISTIC_FAKE codec (md5-derived features/dims — the container
    has no image libs, per brief), then a JVM-side feature reduction.
    The oracle replays the fake codec arithmetic in SQL byte-for-byte
    (md5 hex -> bytes -> REAL features / 4096-mod dims), so the whole
    Python decode path is value-checked, not just row-counted. Feature
    elements are float32; both sides cast per-element to double before
    summing so the fp path is identical."""
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
    )
    feats = decode_features(
        media, decoder=DETERMINISTIC_FAKE,
        batch_partitions=spark.sparkContext.defaultParallelism)
    return feats.select(
        "media_id", "mime", "n_bytes",
        F.expr("round(aggregate(feature, cast(0.0 as double),"
               " (a, x) -> a + cast(x as double)), 4)").alias("feat_sum"),
        "width", "height",
    )


ORACLE_DECODE = """
WITH h AS (
  SELECT doc_id AS media_id, 'text/plain' AS mime,
         octet_length(encode(text)) AS n_bytes, md5(text) AS d
  FROM documents
)
SELECT media_id, mime, n_bytes,
       round(
         CAST(CAST(('0x' || substr(d, 1, 2)) AS INT) / 255.0 AS REAL)::DOUBLE
       + CAST(CAST(('0x' || substr(d, 3, 2)) AS INT) / 255.0 AS REAL)::DOUBLE
       + CAST(CAST(('0x' || substr(d, 5, 2)) AS INT) / 255.0 AS REAL)::DOUBLE
       + CAST(CAST(('0x' || substr(d, 7, 2)) AS INT) / 255.0 AS REAL)::DOUBLE,
       4) AS feat_sum,
       CAST(('0x' || substr(d, 9, 4)) AS INT) % 4096 AS width,
       CAST(('0x' || substr(d, 13, 4)) AS INT) % 4096 AS height
FROM h
"""
gate(media_decode_features, ORACLE_DECODE)


def _doc_png_payload(text: str):
    """The md5-derived PNG the png_* oracles replay: grayscale, dims
    2..5, pixels from d1||d2, per-row filter cycling all five types."""
    d1 = _hashlib.md5(text.encode("utf-8")).digest()
    d2 = _hashlib.md5((text + ":p2").encode("utf-8")).digest()
    w, h = d1[0] % 4 + 2, d1[1] % 4 + 2
    pixels = (d1 + d2)[: w * h]
    filters = [(d1[2] + y) % 5 for y in range(h)]
    return png_encode(pixels, w, h, filters=filters), "image/png"


def png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end (VERDICT r5 #1): per document, a
    genuine PNG is encoded (grayscale, md5-derived pixels, per-row
    filter type cycling through all five PNG filters), then decoded by
    ``decode_features`` with the production ``real_decoder`` — the
    pure-stdlib zlib+unfilter codec in functions/png.py. The oracle
    replays the md5-derived pixel bytes in SQL and checks the decoded
    width, height, and EXACT integer pixel sum, so a single wrong
    unfiltered byte anywhere fails the gate. The pixel sum is recovered
    from the decoder's mean-pixel feature (sum = mean * n_px * 255),
    exact here because the true sum is an integer far below float32
    precision loss at this magnitude.

    Scale: two Arrow-batched mapInPandas stages (encode is the test
    harness; decode is the operator under test) over the source
    partitioning — the payloads are generated partition-locally, so
    repartitioning between the stages would be a pure-waste shuffle of
    the blobs (review r6: batch_partitions dropped for exactly that
    reason); no shuffle in the plan."""
    media = _doc_media_df(spark, sf_dir, _doc_png_payload)
    feats = decode_features(media, decoder=real_decoder)
    return feats.select(
        "media_id", "width", "height",
        F.round(F.element_at("feature", 1) * F.col("width")
                * F.col("height") * 255).cast("long").alias("pixel_sum"),
    )


ORACLE_PNG_DECODE = """
WITH h AS (
  SELECT doc_id AS media_id,
         md5(coalesce(text, '')) AS d1,
         md5(coalesce(text, '') || ':p2') AS d2
  FROM documents
), dims AS (
  SELECT media_id, d1 || d2 AS dd,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 4 + 2 AS width,
         CAST(('0x' || substr(d1, 3, 2)) AS INT) % 4 + 2 AS height
  FROM h
)
SELECT media_id, width, height,
       CAST(list_sum(list_transform(range(CAST(width * height AS BIGINT)),
            i -> CAST(('0x' || substr(dd, CAST(1 + 2 * i AS INT), 2)) AS INT)
       )) AS BIGINT) AS pixel_sum
FROM dims
"""
gate(png_decode_stats, ORACLE_PNG_DECODE)


def _doc_jpeg_payload(text: str):
    """The md5-derived JPEG the jpeg gate replays: grayscale, 1-2
    8x8 blocks per side, each block a CONSTANT md5-derived byte, unit
    quantization tables. That construction is the one place a LOSSY
    codec decodes bit-exactly (the only nonzero coefficient is an
    integer DC, and 8s * 1/8 is exact in IEEE float) — so DuckDB can
    replay the decode as integer arithmetic despite JPEG's lossiness."""
    d1 = _hashlib.md5(text.encode("utf-8")).digest()
    bw, bh = d1[0] % 2 + 1, d1[1] % 2 + 1
    w, h = 8 * bw, 8 * bh
    px = bytearray(w * h)
    for i in range(bw * bh):
        c = d1[2 + i]
        by, bx = divmod(i, bw)
        for y in range(8):
            row = (by * 8 + y) * w + bx * 8
            for x in range(8):
                px[row + x] = c
    return jpeg_encode(bytes(px), w, h, channels=1,
                       quant=([1] * 64, [1] * 64)), "image/jpeg"


def jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG decode end-to-end (VERDICT r6 #2): per document, a
    genuine baseline JFIF file is encoded (grayscale, constant
    md5-derived 8x8 blocks, unit quant tables — see _doc_jpeg_payload
    for why that's the exactly-decodable construction), then decoded by
    ``decode_features`` with the production ``real_decoder`` — the
    pure-stdlib Huffman+IDCT codec in functions/jpeg.py, separately
    cross-checked against Java ImageIO in both directions
    (tests/test_jpeg.py). The oracle replays the block bytes in SQL and
    checks decoded width, height, and the EXACT integer pixel sum
    (64 * sum of block values) — a wrong Huffman bit, dequant value, or
    IDCT scale anywhere fails the gate. Two Arrow-batched stages over
    source partitioning, no shuffle (same shape as png_decode_stats)."""
    media = _doc_media_df(spark, sf_dir, _doc_jpeg_payload)
    feats = decode_features(media, decoder=real_decoder)
    return feats.select(
        "media_id", "width", "height",
        F.round(F.element_at("feature", 1) * F.col("width")
                * F.col("height") * 255).cast("long").alias("pixel_sum"),
    )


ORACLE_JPEG_DECODE = """
WITH h AS (
  SELECT doc_id AS media_id, md5(coalesce(text, '')) AS d1
  FROM documents
), dims AS (
  SELECT media_id, d1,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 2 + 1 AS bw,
         CAST(('0x' || substr(d1, 3, 2)) AS INT) % 2 + 1 AS bh
  FROM h
)
SELECT media_id, 8 * bw AS width, 8 * bh AS height,
       CAST(64 * list_sum(list_transform(range(CAST(bw * bh AS BIGINT)),
            i -> CAST(('0x' || substr(d1, CAST(5 + 2 * i AS INT), 2)) AS INT)
       )) AS BIGINT) AS pixel_sum
FROM dims
"""
gate(jpeg_decode_stats, ORACLE_JPEG_DECODE)


def jpeg_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL cross-codec resize end-to-end (VERDICT r6 #5's unified
    resizer): the same exactly-decodable JPEGs as jpeg_decode_stats,
    pushed through ``resize_media`` with the production
    ``image_resizer`` (stdlib JPEG decode -> nearest-neighbor
    downsample to max_side=8 -> lossless PNG re-encode), then
    re-decoded with ``real_decoder`` — which routes the resized
    payload by its PNG signature even though the mime column still
    says image/jpeg (sniff-over-mime, the dirty-corpus reality). Every
    hop is exact for constant 8x8 unit-quant blocks, so the oracle
    replays the whole three-codec chain as integer arithmetic: resized
    dims are 8*b/max(bw,bh), and uniform NN sampling gives each source
    block 16 resampled pixels (64 when no resize happens). Three Arrow
    stages over source partitioning, no shuffle."""
    media = _doc_media_df(spark, sf_dir, _doc_jpeg_payload)
    resized = resize_media(media, max_side=8, resizer=image_resizer)
    feats = decode_features(resized, decoder=real_decoder)
    return feats.select(
        "media_id", "width", "height",
        F.round(F.element_at("feature", 1) * F.col("width")
                * F.col("height") * 255).cast("long").alias("pixel_sum"),
    )


ORACLE_JPEG_RESIZE = """
WITH h AS (
  SELECT doc_id AS media_id, md5(coalesce(text, '')) AS d1
  FROM documents
), dims AS (
  SELECT media_id, d1,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 2 + 1 AS bw,
         CAST(('0x' || substr(d1, 3, 2)) AS INT) % 2 + 1 AS bh
  FROM h
)
SELECT media_id,
       CAST(8 * bw / GREATEST(bw, bh) AS INT) AS width,
       CAST(8 * bh / GREATEST(bw, bh) AS INT) AS height,
       CAST((CASE WHEN bw = 1 AND bh = 1 THEN 64 ELSE 16 END)
            * list_sum(list_transform(range(CAST(bw * bh AS BIGINT)),
              i -> CAST(('0x' || substr(d1, CAST(5 + 2 * i AS INT), 2))
                        AS INT)
            )) AS BIGINT) AS pixel_sum
FROM dims
"""
gate(jpeg_resize_stats, ORACLE_JPEG_RESIZE)


def video_probe_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container metadata end-to-end (r7): per document an
    ISO-BMFF container is authored (functions/mp4.mp4_build — movie
    timescale 1000, an avc1 video track plus an mp4a audio track, all
    parameters md5-derived), then ``probe_video_meta`` walks the box
    tree with the production parser (functions/mp4.py, validated
    against hand-derived spec golden bytes in tests/test_mp4.py) and
    reports movie duration, video dims and frame count. Video DECODE
    needs external codecs; the planning metadata a 100 TB corpus scan
    actually asks for does not. The oracle replays the md5 arithmetic.
    Two Arrow stages over source partitioning, no shuffle."""
    def build_mp4(text: str):
        import hashlib as _hashlib

        from ..functions.mp4 import mp4_build

        d1 = _hashlib.md5(text.encode("utf-8")).digest()
        return mp4_build(1000, d1[0] * 250, [
            dict(track_id=1, handler="vide", codec="avc1",
                 width=16 * (d1[1] % 64 + 1),
                 height=16 * (d1[2] % 64 + 1),
                 timescale=600, duration=d1[3] * 600,
                 n_samples=d1[4] * 8),
            dict(track_id=2, handler="soun", codec="mp4a",
                 width=0, height=0, timescale=48000,
                 duration=d1[3] * 48000, n_samples=d1[5] * 16),
        ]), "video/mp4"

    media = _doc_media_df(spark, sf_dir, build_mp4)
    meta = probe_video_meta(media)
    return meta.select("media_id", "movie_duration", "width", "height",
                       "n_frames", "n_tracks")


ORACLE_VIDEO_PROBE = """
WITH h AS (
  SELECT doc_id AS media_id, md5(coalesce(text, '')) AS d1
  FROM documents
)
SELECT media_id,
       CAST(CAST(('0x' || substr(d1, 1, 2)) AS INT) * 250 AS BIGINT)
         AS movie_duration,
       CAST(16 * (CAST(('0x' || substr(d1, 3, 2)) AS INT) % 64 + 1)
         AS INT) AS width,
       CAST(16 * (CAST(('0x' || substr(d1, 5, 2)) AS INT) % 64 + 1)
         AS INT) AS height,
       CAST(CAST(('0x' || substr(d1, 9, 2)) AS INT) * 8 AS BIGINT)
         AS n_frames,
       2 AS n_tracks
FROM h
"""
gate(video_probe_report, ORACLE_VIDEO_PROBE)


def fmp4_probe_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL fragmented-MP4 metadata end-to-end (VERDICT r7 #1): per
    document a DASH/HLS-style fMP4 is authored (init segment whose
    mvhd says duration 0 and whose stsz holds 0 samples — the
    fragmented-stream convention that made the r7 probe report
    n_frames=0 for exactly the files most scraped web video ships as —
    plus mvex/mehd/trex and K moof/mdat fragments, parameters
    md5-derived, fragments alternating per-sample-duration truns with
    count-only truns riding the trex default), then ``probe_video_meta``
    sums moof/trun samples per track with the production parser
    (functions/mp4.py; spec golden-fragment bytes in tests/test_mp4.py)
    and reports the mehd movie duration, frame total and fragment
    count. The oracle replays the md5 arithmetic. Two Arrow stages over
    source partitioning, no shuffle."""
    def build_fmp4(text: str):
        import hashlib as _hashlib

        from ..functions.mp4 import mp4_build, mp4_build_fragment

        d1 = _hashlib.md5(text.encode("utf-8")).digest()
        n_frags = d1[0] % 4 + 1
        per_frag = d1[1] % 32 + 1
        blob = mp4_build(1000, 0, [dict(
            track_id=1, handler="vide", codec="avc1",
            width=16 * (d1[3] % 64 + 1), height=16 * (d1[4] % 64 + 1),
            timescale=600, duration=0, n_samples=0,
            default_sample_duration=d1[5] * 4)],
            fragment_duration=d1[2] * 100)
        for s in range(n_frags):
            if s % 2:  # count-only trun -> trex default duration
                runs = [dict(track_id=1, n_samples=per_frag)]
            else:      # per-sample durations, all d1[6]*2
                runs = [dict(track_id=1,
                             sample_durations=[d1[6] * 2] * per_frag)]
            blob += mp4_build_fragment(s + 1, runs)
        return blob, "video/mp4"

    media = _doc_media_df(spark, sf_dir, build_fmp4)
    meta = probe_video_meta(media)
    return meta.select("media_id", "movie_duration", "width", "height",
                       "n_frames", "n_fragments")


ORACLE_FMP4_PROBE = """
WITH h AS (
  SELECT doc_id AS media_id, md5(coalesce(text, '')) AS d1
  FROM documents
)
SELECT media_id,
       CAST(CAST(('0x' || substr(d1, 5, 2)) AS INT) * 100 AS BIGINT)
         AS movie_duration,
       CAST(16 * (CAST(('0x' || substr(d1, 7, 2)) AS INT) % 64 + 1)
         AS INT) AS width,
       CAST(16 * (CAST(('0x' || substr(d1, 9, 2)) AS INT) % 64 + 1)
         AS INT) AS height,
       CAST((CAST(('0x' || substr(d1, 1, 2)) AS INT) % 4 + 1)
            * (CAST(('0x' || substr(d1, 3, 2)) AS INT) % 32 + 1)
         AS BIGINT) AS n_frames,
       CAST(CAST(('0x' || substr(d1, 1, 2)) AS INT) % 4 + 1 AS INT)
         AS n_fragments
FROM h
"""
gate(fmp4_probe_report, ORACLE_FMP4_PROBE)


def webm_probe_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebM/Matroska metadata end-to-end (r8): per document an EBML
    container is authored (functions/mkv.mkv_build — DocType, Info
    timescale/duration, a VP9 video track + an Opus audio track,
    empty clusters; md5-derived parameters, odd documents using the
    streamed unknown-size-Segment convention), then
    ``probe_video_meta`` routes it by the EBML magic through the
    production parser (functions/mkv.py, validated against
    hand-derived RFC 8794 golden elements in tests/test_mkv.py) and
    reports DocType, duration, video dims and cluster count through
    the same schema MP4 uses — one probe operator for both halves of
    scraped web video. The oracle replays the md5 arithmetic
    (duration_s = ticks/1000 is exact binary: ticks are multiples of
    250). Two Arrow stages, no shuffle."""
    def build_webm(text: str):
        import hashlib as _hashlib

        from ..functions.mkv import mkv_build

        d1 = _hashlib.md5(text.encode("utf-8")).digest()
        return mkv_build(
            "webm", 1_000_000, float(d1[0] * 250),
            [dict(number=1, track_type=1, codec="V_VP9",
                  width=16 * (d1[1] % 64 + 1),
                  height=16 * (d1[2] % 64 + 1)),
             dict(number=2, track_type=2, codec="A_OPUS",
                  sample_rate=48000.0, n_channels=d1[3] % 2 + 1)],
            n_clusters=d1[4] % 8,
            unknown_segment_size=bool(d1[5] % 2)), "video/webm"

    media = _doc_media_df(spark, sf_dir, build_webm)
    meta = probe_video_meta(media)
    return meta.select("media_id", "brand", "movie_duration",
                       "duration_s", "width", "height", "n_fragments",
                       "n_tracks")


ORACLE_WEBM_PROBE = """
WITH h AS (
  SELECT doc_id AS media_id, md5(coalesce(text, '')) AS d1
  FROM documents
)
SELECT media_id,
       'webm' AS brand,
       CAST(CAST(('0x' || substr(d1, 1, 2)) AS INT) * 250 AS BIGINT)
         AS movie_duration,
       CAST(CAST(('0x' || substr(d1, 1, 2)) AS INT) AS DOUBLE) / 4
         AS duration_s,
       CAST(16 * (CAST(('0x' || substr(d1, 3, 2)) AS INT) % 64 + 1)
         AS INT) AS width,
       CAST(16 * (CAST(('0x' || substr(d1, 5, 2)) AS INT) % 64 + 1)
         AS INT) AS height,
       CAST(CAST(('0x' || substr(d1, 9, 2)) AS INT) % 8 AS INT)
         AS n_fragments,
       2 AS n_tracks
FROM h
"""
gate(webm_probe_report, ORACLE_WEBM_PROBE)


def mp3_probe_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP3 metadata end-to-end (VERDICT r7 #2): per document an
    ID3v2-wrapped MPEG-1 Layer III CBR stream is authored
    (functions/mp3.mp3_build_frames — real spec-layout frame headers
    and closed-form frame lengths, zeroed payloads; bitrate index,
    sample-rate index, frame count, channel mode and tag size all
    md5-derived), then ``probe_audio_meta`` walks the frame headers
    with the production prober (functions/mp3.py, validated against
    hand-derived spec golden bytes in tests/test_mp3.py) and reports
    exact sample rate, channels, bitrate, frame/sample counts and the
    ID3 wrapper size. Audio DECODE needs external codecs; the planning
    metadata a 100 TB scraped-audio scan asks for does not. The oracle
    replays the md5 arithmetic and the spec's bitrate/rate tables. Two
    Arrow stages over source partitioning, no shuffle."""
    def build_mp3(text: str):
        import hashlib as _hashlib

        from ..functions.mp3 import id3v2_wrap, mp3_build_frames

        d1 = _hashlib.md5(text.encode("utf-8")).digest()
        modes = ["stereo", "joint_stereo", "dual_channel", "mono"]
        body = mp3_build_frames(
            "1", 3,
            [d1[0] % 14 + 1] * (d1[2] % 48 + 1),
            d1[1] % 3, modes[d1[3] % 4])
        return id3v2_wrap(body, d1[4]), "audio/mpeg"

    media = _doc_media_df(spark, sf_dir, build_mp3)
    meta = probe_audio_meta(media)
    return meta.select("media_id", "sample_rate", "n_channels",
                       "bitrate_kbps", "n_frames", "n_samples",
                       "id3v2_size")


ORACLE_MP3_PROBE = """
WITH h AS (
  SELECT doc_id AS media_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT media_id,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 14 + 1 AS br_idx,
         CAST(('0x' || substr(d1, 3, 2)) AS INT) % 3 AS rate_idx,
         CAST(('0x' || substr(d1, 5, 2)) AS INT) % 48 + 1 AS nf,
         CAST(('0x' || substr(d1, 7, 2)) AS INT) % 4 AS mode,
         CAST(('0x' || substr(d1, 9, 2)) AS INT) AS tag
  FROM h
)
SELECT media_id,
       list_extract([44100, 48000, 32000], rate_idx + 1) AS sample_rate,
       CAST(CASE WHEN mode = 3 THEN 1 ELSE 2 END AS INT) AS n_channels,
       list_extract([32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                     224, 256, 320], br_idx) AS bitrate_kbps,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(nf * 1152 AS BIGINT) AS n_samples,
       CAST(10 + tag AS BIGINT) AS id3v2_size
FROM p
"""
gate(mp3_probe_report, ORACLE_MP3_PROBE)


def audio_probe_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC/Opus metadata end-to-end (r8): per document either a
    FLAC metadata stream (functions/flac.py — magic + STREAMINFO bit
    fields, authored by flac_build) or an Opus-in-Ogg skeleton
    (functions/ogg.py — BOS page with an RFC 7845 OpusHead + an EOS
    page whose granule encodes the duration), md5-chosen; then
    ``probe_audio_meta`` routes by magic bytes (mime deliberately
    left generic — the dirty-corpus reality) and reports codec, rate,
    channels and exact per-channel sample count: FLAC from
    STREAMINFO's 36-bit total, Opus from last-granule minus pre-skip.
    The oracle replays the md5 arithmetic. Two Arrow stages over
    source partitioning, no shuffle."""
    def build_audio(text: str):
        import hashlib as _hashlib

        from ..functions.flac import flac_build
        from ..functions.ogg import ogg_build_opus

        d1 = _hashlib.md5(text.encode("utf-8")).digest()
        rate = 8000 + d1[0] * 256
        ch = d1[1] % 8 + 1
        if d1[7] % 2:
            pre = d1[2] * 4
            return ogg_build_opus(
                ch, pre, rate, [pre + d1[3] * 1000]), "audio/ogg"
        return flac_build(rate, ch, d1[2] % 29 + 4,
                          d1[3] * 100000 + d1[4]), "audio/flac"

    media = _doc_media_df(spark, sf_dir, build_audio)
    meta = probe_audio_meta(media)
    return meta.select("media_id", "codec", "sample_rate",
                       "n_channels", "n_samples")


ORACLE_AUDIO_PROBE = """
WITH h AS (
  SELECT doc_id AS media_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT media_id,
         CAST(('0x' || substr(d1, 15, 2)) AS INT) % 2 AS is_opus,
         8000 + CAST(('0x' || substr(d1, 1, 2)) AS INT) * 256 AS rate,
         CAST(('0x' || substr(d1, 3, 2)) AS INT) % 8 + 1 AS ch,
         CAST(('0x' || substr(d1, 7, 2)) AS INT) AS b3,
         CAST(('0x' || substr(d1, 9, 2)) AS INT) AS b4
  FROM h
)
SELECT media_id,
       CASE WHEN is_opus = 1 THEN 'opus' ELSE 'flac' END AS codec,
       CAST(rate AS INT) AS sample_rate,
       CAST(ch AS INT) AS n_channels,
       CAST(CASE WHEN is_opus = 1 THEN b3 * 1000
                 ELSE b3 * 100000 + b4 END AS BIGINT) AS n_samples
FROM p
"""
gate(audio_probe_report, ORACLE_AUDIO_PROBE)


def image_probe_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only image metadata end-to-end (r8): per document one of
    png / gif / jpeg / webp is authored (md5-chosen format and
    parameters — PNG/GIF/JPEG via the real encoders, WebP via the
    spec-layout VP8X builder with ANMF animation frames since no WebP
    encoder exists in stdlib), then ``probe_image_meta`` reads format,
    dims, frame count and EXIF orientation from HEADERS ALONE
    (functions/imagemeta.py — the no-decode planning front end: the
    JPEG rows carry a spliced APP1 whose orientation the probe must
    surface without touching entropy data). The oracle replays the md5
    arithmetic. Two Arrow stages over source partitioning, no
    shuffle."""
    def build_image(text: str):
        import hashlib as _hashlib
        import struct as _struct

        d1 = _hashlib.md5(text.encode("utf-8")).digest()
        w, h = d1[0] % 16 + 1, d1[1] % 16 + 1
        kind = d1[7] % 4
        if kind == 0:
            from ..functions.png import png_encode

            return png_encode([0] * (w * h), w, h,
                              color_type=0), "image/png"
        if kind == 1:
            from ..functions.gif import gif_encode

            k = d1[2] % 4 + 1
            return gif_encode([[0] * (w * h)] * k, w, h,
                              bytes(6)), "image/gif"
        if kind == 2:
            from ..functions.jpeg import jpeg_encode

            orient = d1[3] % 8 + 1
            # spec-layout APP1: Exif header + little-endian TIFF with
            # a 1-entry IFD0 carrying the orientation SHORT
            tiff = (b"II" + _struct.pack("<H", 42)
                    + _struct.pack("<I", 8) + _struct.pack("<H", 1)
                    + _struct.pack("<HHI", 0x0112, 3, 1)
                    + _struct.pack("<H", orient) + b"\x00\x00"
                    + _struct.pack("<I", 0))
            body = b"Exif\x00\x00" + tiff
            app1 = b"\xff\xe1" + _struct.pack(">H", 2 + len(body)) + body
            blob = jpeg_encode([0] * (w * h), w, h, channels=1)
            return blob[:2] + app1 + blob[2:], "image/jpeg"
        from ..functions.imagemeta import webp_build_extended

        return webp_build_extended(w, h, n_frames=d1[2] % 4 + 1), \
            "image/webp"

    media = _doc_media_df(spark, sf_dir, build_image)
    meta = probe_image_meta(media)
    return meta.select("media_id", "format", "width", "height",
                       "n_frames", "orientation")


ORACLE_IMAGE_PROBE = """
WITH h AS (
  SELECT doc_id AS media_id, md5(coalesce(text, '')) AS d1
  FROM documents
), p AS (
  SELECT media_id,
         CAST(('0x' || substr(d1, 15, 2)) AS INT) % 4 AS kind,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 16 + 1 AS w,
         CAST(('0x' || substr(d1, 3, 2)) AS INT) % 16 + 1 AS hh,
         CAST(('0x' || substr(d1, 5, 2)) AS INT) % 4 + 1 AS frames,
         CAST(('0x' || substr(d1, 7, 2)) AS INT) % 8 + 1 AS orient
  FROM h
)
SELECT media_id,
       list_extract(['png', 'gif', 'jpeg', 'webp'], kind + 1) AS format,
       CAST(w AS INT) AS width,
       CAST(hh AS INT) AS height,
       CAST(CASE WHEN kind IN (1, 3) THEN frames ELSE 1 END AS INT)
         AS n_frames,
       CAST(CASE WHEN kind = 2 THEN orient ELSE 1 END AS INT)
         AS orientation
FROM p
"""
gate(image_probe_report, ORACLE_IMAGE_PROBE)


def id3_tags_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID3v2 text metadata end-to-end (r8): per document a real
    ID3v2.4 (or v2.3/UTF-16, md5-chosen) tag with md5-derived
    title/artist/year strings is authored (functions/mp3.
    id3v2_build_tags — spec frame layout, syncsafe v4 sizes) ahead of
    real MPEG frames, then ``extract_id3_tags`` parses the frames back
    with the production parser. The first STRING-valued media gate:
    the oracle replays the exact md5-hex-derived strings, so encoding
    handling (UTF-8 and UTF-16-with-BOM) is value-checked, not just
    counted. Map-only Arrow stage, no shuffle."""
    def build_tagged(text: str):
        import hashlib as _hashlib

        from ..functions.mp3 import id3v2_build_tags, mp3_build_frames

        hx = _hashlib.md5(text.encode("utf-8")).hexdigest()
        d0 = int(hx[:2], 16)
        tag = id3v2_build_tags(
            {"TIT2": "T-" + hx[:8], "TPE1": "A-" + hx[8:16],
             "TDRC": str(1970 + d0 % 56)},
            version=4 if d0 % 2 else 3)
        return tag + mp3_build_frames("1", 3, [9], 0), "audio/mpeg"

    media = _doc_media_df(spark, sf_dir, build_tagged)
    tags = extract_id3_tags(media)
    return tags.select("media_id", "title", "artist", "year",
                       "n_text_frames")


ORACLE_ID3_TAGS = """
WITH h AS (
  SELECT doc_id AS media_id, md5(coalesce(text, '')) AS d1
  FROM documents
)
SELECT media_id,
       'T-' || substr(d1, 1, 8) AS title,
       'A-' || substr(d1, 9, 8) AS artist,
       CAST(1970 + CAST(('0x' || substr(d1, 1, 2)) AS INT) % 56
            AS VARCHAR) AS year,
       3 AS n_text_frames
FROM h
"""
gate(id3_tags_report, ORACLE_ID3_TAGS)


def png_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize end-to-end: the same per-document PNGs as
    png_decode_stats, pushed through resize_media with the genuine
    ``png_resizer`` (stdlib decode -> nearest-neighbor downsample ->
    re-encode, max_side=3), then re-decoded with ``real_decoder``. The
    oracle replays the nearest-neighbor index arithmetic in SQL
    (sy = y*h//nh, sx = x*w//nw over the md5-derived source bytes), so
    the resized width/height AND the exact resampled pixel sum are both
    value-checked. Three Arrow stages (encode harness, resize under
    test, decode under test), all partition-local — no shuffle."""
    media = _doc_media_df(spark, sf_dir, _doc_png_payload)
    resized = resize_media(media, max_side=3, resizer=png_resizer)
    feats = decode_features(resized, decoder=real_decoder)
    return feats.select(
        "media_id", "width", "height",
        F.round(F.element_at("feature", 1) * F.col("width")
                * F.col("height") * 255).cast("long").alias("pixel_sum"),
    )


def wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end: per document, a genuine WAV (mono
    8-bit PCM, md5-derived samples and sample rate) is encoded, then
    decoded by ``decode_audio_features`` with the production
    ``real_audio_decoder`` — the pure-stdlib RIFF/PCM codec in
    functions/wav.py. The oracle replays the md5-derived bytes in SQL
    and checks the decoded frame count, sample rate, channel count and
    EXACT integer sample sum. Two Arrow stages, no shuffle."""
    def build_wav(text: str):
        import hashlib as _hashlib

        from ..functions.wav import wav_encode

        d1 = _hashlib.md5(text.encode("utf-8")).digest()
        d2 = _hashlib.md5((text + ":p2").encode("utf-8")).digest()
        n = d1[0] % 24 + 8
        rate = 8000 + d1[1] * 16
        return wav_encode((d1 + d2)[:n], rate), "audio/wav"

    media = _doc_media_df(spark, sf_dir, build_wav)
    feats = decode_audio_features(media, decoder=real_audio_decoder)
    return feats.select(
        "media_id", "n_frames", "sample_rate", "n_channels",
        F.round(F.element_at("feature", 1) * F.col("n_frames") * 255)
        .cast("long").alias("sample_sum"),
    )


ORACLE_WAV_DECODE = """
WITH h AS (
  SELECT doc_id AS media_id,
         md5(coalesce(text, '')) AS d1,
         md5(coalesce(text, '') || ':p2') AS d2
  FROM documents
), dims AS (
  SELECT media_id, d1 || d2 AS dd,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 24 + 8 AS n_frames,
         8000 + CAST(('0x' || substr(d1, 3, 2)) AS INT) * 16 AS sample_rate
  FROM h
)
SELECT media_id, n_frames, sample_rate, 1 AS n_channels,
       CAST(list_sum(list_transform(range(CAST(n_frames AS BIGINT)),
            i -> CAST(('0x' || substr(dd, CAST(1 + 2 * i AS INT), 2)) AS INT)
       )) AS BIGINT) AS sample_sum
FROM dims
"""
gate(wav_decode_stats, ORACLE_WAV_DECODE)


def gif_frames_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-media frame extraction end-to-end, chaining all
    three stdlib codecs: per document a 2-frame animated GIF is encoded
    (16-color md5-derived palette, md5-derived indices, real LZW),
    ``extract_frames`` decodes it and re-encodes every frame as an RGB
    PNG, and ``decode_features`` with the production ``real_decoder``
    decodes those PNGs back to per-channel means. The oracle replays
    the palette-lookup arithmetic in SQL and checks each frame's exact
    integer RGB sum — a wrong byte anywhere in the GIF LZW decode, the
    frame re-encode, or the PNG decode fails the gate. Three Arrow
    stages, no shuffle."""
    def build_gif(text: str):
        from ..functions.gif import gif_encode

        d1 = _hashlib.md5(text.encode("utf-8")).digest()
        d2 = _hashlib.md5((text + ":p2").encode("utf-8")).digest()
        dd = d1 + d2
        pal = b"".join(
            _hashlib.md5((text + f":p{k}").encode("utf-8")).digest()
            for k in (3, 4, 5))
        w, h = d1[0] % 3 + 2, d1[1] % 3 + 2
        frames = [[dd[(f * w * h + i) % 32] % 16 for i in range(w * h)]
                  for f in (0, 1)]
        return gif_encode(frames, w, h, pal, delays_cs=[3, 7]), "image/gif"

    media = _doc_media_df(spark, sf_dir, build_gif)
    frames = extract_frames(media, every_n=1)
    # composite id keeps frame identity through decode_features'
    # id/payload/mime projection (n_frames == 2 < 10)
    fid = frames.select(
        (F.col("media_id") * 10 + F.col("frame_idx")).alias("media_id"),
        "payload", "mime")
    feats = decode_features(fid, decoder=real_decoder)
    rgb_sum = F.round(
        (F.element_at("feature", 1) + F.element_at("feature", 2)
         + F.element_at("feature", 3))
        * F.col("width") * F.col("height") * 255).cast("long")
    return feats.select(
        (F.col("media_id") / 10).cast("long").alias("media_id"),
        (F.col("media_id") % 10).cast("int").alias("frame_idx"),
        "width", "height", rgb_sum.alias("rgb_sum"))


ORACLE_GIF_FRAMES = """
WITH h AS (
  SELECT doc_id AS media_id,
         md5(coalesce(text, '')) AS d1,
         md5(coalesce(text, '') || ':p2') AS d2,
         md5(coalesce(text, '') || ':p3')
           || md5(coalesce(text, '') || ':p4')
           || md5(coalesce(text, '') || ':p5') AS pal
  FROM documents
), dims AS (
  SELECT media_id, d1 || d2 AS dd, pal,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 3 + 2 AS width,
         CAST(('0x' || substr(d1, 3, 2)) AS INT) % 3 + 2 AS height
  FROM h
)
SELECT media_id, fr.f AS frame_idx, width, height,
       CAST(list_sum(list_transform(range(CAST(width * height AS BIGINT)),
         i ->
           CAST(('0x' || substr(pal, CAST(1 + 6 * (CAST(('0x' || substr(dd,
             CAST(1 + 2 * ((fr.f * width * height + i) % 32) AS INT), 2))
             AS INT) % 16) AS INT), 2)) AS INT)
         + CAST(('0x' || substr(pal, CAST(3 + 6 * (CAST(('0x' || substr(dd,
             CAST(1 + 2 * ((fr.f * width * height + i) % 32) AS INT), 2))
             AS INT) % 16) AS INT), 2)) AS INT)
         + CAST(('0x' || substr(pal, CAST(5 + 6 * (CAST(('0x' || substr(dd,
             CAST(1 + 2 * ((fr.f * width * height + i) % 32) AS INT), 2))
             AS INT) % 16) AS INT), 2)) AS INT)
       )) AS BIGINT) AS rgb_sum
FROM dims CROSS JOIN (VALUES (0), (1)) fr(f)
"""
gate(gif_frames_report, ORACLE_GIF_FRAMES)


ORACLE_PNG_RESIZE = """
WITH h AS (
  SELECT doc_id AS media_id,
         md5(coalesce(text, '')) AS d1,
         md5(coalesce(text, '') || ':p2') AS d2
  FROM documents
), dims AS (
  SELECT media_id, d1 || d2 AS dd,
         CAST(('0x' || substr(d1, 1, 2)) AS INT) % 4 + 2 AS w,
         CAST(('0x' || substr(d1, 3, 2)) AS INT) % 4 + 2 AS h
  FROM h
), rs AS (
  -- nearest-neighbor target dims: scale = min(1, 3/max(w,h)),
  -- n = max(int(dim*scale), 1) with trunc-toward-zero like Python int()
  SELECT media_id, dd, w, h,
         greatest(CAST(trunc(w * least(1.0, 3.0 / greatest(w, h))) AS INT), 1) AS width,
         greatest(CAST(trunc(h * least(1.0, 3.0 / greatest(w, h))) AS INT), 1) AS height
  FROM dims
)
SELECT media_id, width, height,
       CAST(list_sum(list_transform(range(CAST(width * height AS BIGINT)),
            i -> CAST(('0x' || substr(dd,
                 CAST(1 + 2 * ((((i // width) * h // height) * w)
                              + ((i % width) * w // width)) AS INT),
                 2)) AS INT)
       )) AS BIGINT) AS pixel_sum
FROM rs
"""
gate(png_resize_stats, ORACLE_PNG_RESIZE)


# =====================================================================
# Planning, perceptual hashes and near-duplicate pairs
# =====================================================================

def audio_window_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio analysis windowing *plan* (the distributed half of feature
    extraction — the per-window FFT/mel decode is the stubbed
    mapInPandas path in operators/multimodal.py): expand each asset's
    (sample_rate, n_samples) metadata into overlapping analysis windows
    (25 ms window / 10 ms hop at 16 kHz = 400/160 samples), pure JVM
    sequence+explode, no shuffle — partitioning follows the input.
    Output: per-asset window count + last window start (compact gate;
    the full window table is the downstream input)."""
    docs = _t(spark, sf_dir, "documents")
    media = docs.filter(F.col("doc_id") < 50).select(
        F.col("doc_id").alias("media_id"),
        (F.col("n_chars") * 16 + 400).alias("n_samples"))
    win, hop = 400, 160
    wins = media.select(
        "media_id", "n_samples",
        F.explode(F.sequence(
            F.lit(0),
            F.col("n_samples") - win,
            F.lit(hop))).alias("start_sample"))
    return (wins.groupBy("media_id", "n_samples")
            .agg(F.count(F.lit(1)).alias("n_windows"),
                 F.max("start_sample").alias("last_start"))
            .orderBy("media_id"))


ORACLE_AUDIO_WINDOWS = """
WITH media AS (
  SELECT doc_id AS media_id, n_chars * 16 + 400 AS n_samples
  FROM documents WHERE doc_id < 50
), wins AS (
  SELECT media_id, n_samples,
         unnest(generate_series(0, n_samples - 400, 160)) AS start_sample
  FROM media
)
SELECT media_id, n_samples, count(*) AS n_windows,
       max(start_sample) AS last_start
FROM wins GROUP BY media_id, n_samples ORDER BY media_id
"""
gate(audio_window_plan, ORACLE_AUDIO_WINDOWS)


def image_tile_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image patch-grid *plan*: (width, height) metadata -> the 64x64
    tile coordinate table (ceil-division edge tiles included) via a
    JVM sequence cross — the ViT-style patching front half; the pixel
    crop is the Arrow decode path. Returns the tile rows for a small
    asset subset (the gate checks exact tile coordinates, not just
    counts)."""
    docs = _t(spark, sf_dir, "documents")
    media = docs.filter(F.col("doc_id") < 8).select(
        F.col("doc_id").alias("media_id"),
        (F.col("n_chars") % 500 + 100).alias("width"),
        (F.col("n_chars") % 300 + 80).alias("height"))
    t = 64
    tiles = (media
             .withColumn("tile_x", F.explode(F.sequence(
                 F.lit(0), F.ceil(F.col("width") / t) - 1)))
             .withColumn("tile_y", F.explode(F.sequence(
                 F.lit(0), F.ceil(F.col("height") / t) - 1))))
    return tiles.select(
        "media_id", "width", "height", "tile_x", "tile_y",
        F.least(F.lit(t), F.col("width") - F.col("tile_x") * t).alias("tile_w"),
        F.least(F.lit(t), F.col("height") - F.col("tile_y") * t).alias("tile_h"),
    ).orderBy("media_id", "tile_x", "tile_y")


ORACLE_IMAGE_TILES = """
WITH media AS (
  SELECT doc_id AS media_id, n_chars % 500 + 100 AS width,
         n_chars % 300 + 80 AS height
  FROM documents WHERE doc_id < 8
), tx AS (
  SELECT media_id, width, height,
         unnest(generate_series(0, CAST(ceil(width / 64.0) AS BIGINT) - 1))
           AS tile_x
  FROM media
), t AS (
  SELECT media_id, width, height, tile_x,
         unnest(generate_series(0, CAST(ceil(height / 64.0) AS BIGINT) - 1))
           AS tile_y
  FROM tx
)
SELECT media_id, width, height, tile_x, tile_y,
       least(64, width - tile_x * 64) AS tile_w,
       least(64, height - tile_y * 64) AS tile_h
FROM t ORDER BY media_id, tile_x, tile_y
"""
gate(image_tile_plan, ORACLE_IMAGE_TILES)


def image_dhash_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash end-to-end: per document a 9x8 grayscale PNG is
    authored whose 72 pixel bytes are five chained md5 digests — the
    exact dHash grid size, so the resample is the identity and every
    one of the 64 gradient bits is replayable in SQL. The production
    path (real PNG decode -> dhash_bits) runs; the oracle recomputes
    each bit from the same md5 bytes and assembles the identical hex
    string. Map-only Arrow stage, no shuffle."""
    def build_png(text: str):
        import hashlib as _hashlib

        from ..functions.png import png_encode

        raw = b"".join(
            _hashlib.md5((text + suffix).encode("utf-8")).digest()
            for suffix in ("", ":p2", ":p3", ":p4", ":p5"))
        return png_encode(list(raw[:72]), 9, 8, color_type=0), "image/png"

    media = _doc_media_df(spark, sf_dir, build_png)
    return image_dhash(media).select(
        F.col("media_id").alias("doc_id"), "dhash_hex",
        "n_gradient_bits", "width", "height")


def _dhash_oracle_sql() -> str:
    """Assemble the 64-bit replay: pixel i is byte i of the five
    concatenated digests; bit (y*8+x) compares grid (x,y) to (x+1,y);
    nibbles index a hex alphabet."""
    def px(i):
        return f"CAST(('0x' || substr(hc, {2 * i + 1}, 2)) AS INT)"

    def bit(b):
        y, x = divmod(b, 8)
        i = y * 9 + x
        return f"(CASE WHEN {px(i)} < {px(i + 1)} THEN 1 ELSE 0 END)"

    nibbles = []
    for n in range(16):
        v = " + ".join(f"{w} * {bit(4 * n + k)}"
                       for k, w in enumerate((8, 4, 2, 1)))
        nibbles.append(f"substr('0123456789abcdef', ({v}) + 1, 1)")
    hex_expr = " || ".join(nibbles)
    count_expr = " + ".join(bit(b) for b in range(64))
    return f"""
WITH h AS (
  SELECT doc_id,
         md5(text) || md5(text || ':p2') || md5(text || ':p3')
         || md5(text || ':p4') || md5(text || ':p5') AS hc
  FROM documents
)
SELECT doc_id,
       {hex_expr} AS dhash_hex,
       CAST({count_expr} AS INT) AS n_gradient_bits,
       CAST(9 AS INT) AS width,
       CAST(8 AS INT) AS height
FROM h
"""


ORACLE_IMAGE_DHASH = _dhash_oracle_sql()
gate(image_dhash_report, ORACLE_IMAGE_DHASH)


def _fp_sql_from_bits(bit) -> str:
    """A MSB-first 64-bit fingerprint as a SIGNED BIGINT expression
    (two's complement: bit 0 — the MSB — contributes -(2^63), exactly
    operators/multimodal.dhash_hex_to_long's mapping) from a
    ``bit(b) -> SQL 0/1 expression`` generator — shared by the image
    (dHash gradient), audio (energy envelope) and video (temporal)
    near-dup oracles."""
    terms = [f"(CASE WHEN {bit(0)} = 1 THEN -9223372036854775808 "
             "ELSE 0 END)"]
    terms += [f"CAST({bit(b)} AS BIGINT) * {1 << (63 - b)}"
              for b in range(1, 64)]
    return "(" + " + ".join(terms) + ")"


def image_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection end-to-end: per document a 9x8
    grayscale PNG is authored from five chained md5 digests (the
    image_dhash_report fixture — identity resample, every gradient
    bit SQL-replayable), and for one doc in four a PERTURBED COPY
    (one md5-chosen pixel byte replaced by an md5-chosen value —
    a near-duplicate differing in at most 2 of the 64 gradient bits,
    possibly 0). The production path runs real PNG decode ->
    dhash_bits -> dhash_near_pairs (hex -> signed 64-bit fingerprint
    -> banded-Hamming fp_near_pairs, 7 pigeonhole bands, exact
    bit_count(xor) filter, Hamming <= 6). The oracle recomputes every
    image's 64-bit fingerprint from the same md5 bytes and
    BRUTE-FORCES all pairs — so the banding's 100%-recall guarantee
    is checked against ground truth, the simhash64 discipline.
    Plan: Arrow map stages + one band-key shuffle; no cross join on
    the Spark side."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def build_pngs(batches):
        import hashlib as _hashlib

        import pandas as pd

        from ..functions.png import png_encode

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                text = text or ""
                hx = _hashlib.md5(text.encode("utf-8")).hexdigest()
                raw = b"".join(
                    _hashlib.md5((text + s).encode("utf-8")).digest()
                    for s in ("", ":p2", ":p3", ":p4", ":p5"))[:72]
                out.append((int(doc_id) * 2,
                            png_encode(list(raw), 9, 8, color_type=0),
                            "image/png"))
                b0 = int(hx[0:2], 16)
                if b0 % 4 == 0:
                    j = int(hx[2:4], 16) % 72
                    v = int(hx[4:6], 16)
                    near = bytearray(raw)
                    near[j] = v
                    out.append((int(doc_id) * 2 + 1,
                                png_encode(list(near), 9, 8,
                                           color_type=0),
                                "image/png"))
            yield pd.DataFrame(out,
                               columns=["media_id", "payload", "mime"])

    media = docs.mapInPandas(
        build_pngs, schema="media_id long, payload binary, mime string")
    hashed = image_dhash(media)
    pairs = dhash_near_pairs(hashed, max_hamming=6)
    return pairs.select(
        F.col("doc_a").alias("id_a"),
        F.col("doc_b").alias("id_b"),
        F.col("hamming").cast("int").alias("hamming"))


def _dhash_fp_sql(col: str) -> str:
    """The 64-bit dHash fingerprint of a 144-hex-char pixel string,
    mirroring dhash_bits' MSB-first gradient bit order."""
    def px(i):
        return f"CAST(('0x' || substr({col}, {2 * i + 1}, 2)) AS INT)"

    def bit(b):
        y, x = divmod(b, 8)
        i = y * 9 + x
        return f"(CASE WHEN {px(i)} < {px(i + 1)} THEN 1 ELSE 0 END)"

    return _fp_sql_from_bits(bit)


ORACLE_IMAGE_NEAR_DUP = f"""
WITH h AS (
  SELECT doc_id, md5(text) AS hx,
         substr(md5(text) || md5(text || ':p2') || md5(text || ':p3')
                || md5(text || ':p4') || md5(text || ':p5'),
                1, 144) AS hc
  FROM documents
), meta AS (
  SELECT doc_id, hc,
         CAST(('0x' || substr(hx, 1, 2)) AS INT) AS b0,
         CAST(('0x' || substr(hx, 3, 2)) AS INT) % 72 AS j,
         CAST(('0x' || substr(hx, 5, 2)) AS INT) AS v
  FROM h
), imgs AS (
  SELECT doc_id * 2 AS img_id, hc FROM meta
  UNION ALL
  SELECT doc_id * 2 + 1 AS img_id,
         substr(hc, 1, 2 * j) || printf('%02x', v)
           || substr(hc, 2 * j + 3) AS hc
  FROM meta WHERE b0 % 4 = 0
), fps AS (
  SELECT img_id, {_dhash_fp_sql('hc')} AS fp FROM imgs
)
SELECT a.img_id AS id_a, b.img_id AS id_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
FROM fps a JOIN fps b ON a.img_id < b.img_id
WHERE bit_count(xor(a.fp, b.fp)) <= 6
"""
gate(image_near_dup_pairs, ORACLE_IMAGE_NEAR_DUP)


def audio_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate detection end-to-end: per document an
    8-bit mono WAV is authored whose 130 PCM samples are md5 digest
    bytes (exactly 2 frames per energy window, so every one of the 64
    envelope bits is SQL-replayable), and for one doc in four a
    PERTURBED COPY (one md5-chosen sample replaced by an md5-chosen
    value — at most 2 envelope bits flip). The production path runs
    real WAV decode -> ehash_bits -> audio_near_pairs (hex -> signed
    64-bit fingerprint -> banded-Hamming fp_near_pairs, Hamming <= 6).
    The oracle recomputes every clip's fingerprint from the same md5
    bytes (|sample - 128| window energies) and BRUTE-FORCES all pairs
    — banding recall checked against ground truth, the
    image_near_dup_pairs discipline. Plan: Arrow map stages + one
    band-key shuffle; no cross join on the Spark side."""
    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def build_wavs(batches):
        import hashlib as _hashlib

        import pandas as pd

        from ..functions.wav import wav_encode

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                text = text or ""
                hx = _hashlib.md5(text.encode("utf-8")).hexdigest()
                raw = b"".join(
                    _hashlib.md5((text + s).encode("utf-8")).digest()
                    for s in ("", ":a2", ":a3", ":a4", ":a5", ":a6",
                              ":a7", ":a8", ":a9"))[:130]
                out.append((int(doc_id) * 2,
                            wav_encode(list(raw), 8000, 1, 1),
                            "audio/wav"))
                b0 = int(hx[0:2], 16)
                if b0 % 4 == 0:
                    j = int(hx[2:4], 16) % 130
                    v = int(hx[4:6], 16)
                    near = bytearray(raw)
                    near[j] = v
                    out.append((int(doc_id) * 2 + 1,
                                wav_encode(list(near), 8000, 1, 1),
                                "audio/wav"))
            yield pd.DataFrame(out,
                               columns=["media_id", "payload", "mime"])

    media = docs.mapInPandas(
        build_wavs, schema="media_id long, payload binary, mime string")
    hashed = audio_ehash(media)
    pairs = audio_near_pairs(hashed, max_hamming=6)
    return pairs.select(
        F.col("doc_a").alias("id_a"),
        F.col("doc_b").alias("id_b"),
        F.col("hamming").cast("int").alias("hamming"))


def _ehash_fp_sql(col: str) -> str:
    """The 64-bit energy-envelope fingerprint of a 260-hex-char
    8-bit-PCM sample string (130 samples, 2 per window), mirroring
    ehash_bits' MSB-first window order and |s - 128| energies."""
    def px(i):
        return f"CAST(('0x' || substr({col}, {2 * i + 1}, 2)) AS INT)"

    def energy(w):
        return (f"(abs({px(2 * w)} - 128) "
                f"+ abs({px(2 * w + 1)} - 128))")

    def bit(b):
        return (f"(CASE WHEN {energy(b)} < {energy(b + 1)} "
                "THEN 1 ELSE 0 END)")

    return _fp_sql_from_bits(bit)


ORACLE_AUDIO_NEAR_DUP = f"""
WITH h AS (
  SELECT doc_id, md5(text) AS hx,
         substr(md5(text) || md5(text || ':a2') || md5(text || ':a3')
                || md5(text || ':a4') || md5(text || ':a5')
                || md5(text || ':a6') || md5(text || ':a7')
                || md5(text || ':a8') || md5(text || ':a9'),
                1, 260) AS hc
  FROM documents
), meta AS (
  SELECT doc_id, hc,
         CAST(('0x' || substr(hx, 1, 2)) AS INT) AS b0,
         CAST(('0x' || substr(hx, 3, 2)) AS INT) % 130 AS j,
         CAST(('0x' || substr(hx, 5, 2)) AS INT) AS v
  FROM h
), clips AS (
  SELECT doc_id * 2 AS clip_id, hc FROM meta
  UNION ALL
  SELECT doc_id * 2 + 1 AS clip_id,
         substr(hc, 1, 2 * j) || printf('%02x', v)
           || substr(hc, 2 * j + 3) AS hc
  FROM meta WHERE b0 % 4 = 0
), fps AS (
  SELECT clip_id, {_ehash_fp_sql('hc')} AS fp FROM clips
)
SELECT a.clip_id AS id_a, b.clip_id AS id_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
FROM fps a JOIN fps b ON a.clip_id < b.clip_id
WHERE bit_count(xor(a.fp, b.fp)) <= 6
"""
gate(audio_near_dup_pairs, ORACLE_AUDIO_NEAR_DUP)


def video_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate detection end-to-end through the REAL
    decode path: per document a 5-frame 9x8 grayscale animated GIF is
    authored from chained md5 digests (the image_near_dup_pairs
    fixture discipline, one digest chain per frame), and for one doc
    in four a PERTURBED COPY (one md5-chosen pixel of one md5-chosen
    frame replaced by an md5-chosen value — a near-duplicate clip
    differing in at most 2 temporal-fingerprint bits, 0 when the
    perturbed frame is not first/middle/last). The production path
    runs real GIF frame decode (extract_frames: compose + PNG
    re-encode) -> real PNG decode + per-frame dHash (frame_dhash) ->
    the first/middle/last temporal fold (video_fingerprint) ->
    banded-Hamming pairing (video_near_pairs, Hamming <= 6). The
    oracle recomputes every clip's sampled-frame gradient bits from
    the same md5 bytes, folds the same 21/21/22-bit triple, and
    BRUTE-FORCES all pairs — banding recall checked against ground
    truth. Plan: Arrow map stages + one media-id fold + one band-key
    shuffle; no cross join on the Spark side."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build_gifs(batches):
        import hashlib as _hashlib

        import pandas as pd

        from ..functions.gif import gif_encode

        gray = bytes(v for i in range(256) for v in (i, i, i))
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                text = text or ""
                hx = _hashlib.md5(text.encode("utf-8")).hexdigest()
                frames = []
                for f in range(5):
                    raw = b"".join(
                        _hashlib.md5((text + f":v{f}:{s}")
                                     .encode("utf-8")).digest()
                        for s in range(5))[:72]
                    frames.append(list(raw))
                out.append((int(doc_id) * 2,
                            gif_encode(frames, 9, 8, gray),
                            "image/gif"))
                if int(hx[0:2], 16) % 4 == 0:
                    jf = int(hx[2:4], 16) % 5
                    jp = int(hx[4:6], 16) % 72
                    v = int(hx[6:8], 16)
                    near = [list(fr) for fr in frames]
                    near[jf][jp] = v
                    out.append((int(doc_id) * 2 + 1,
                                gif_encode(near, 9, 8, gray),
                                "image/gif"))
            yield pd.DataFrame(out,
                               columns=["media_id", "payload", "mime"])

    media = docs.repartition(
        spark.sparkContext.defaultParallelism).mapInPandas(
        build_gifs, schema="media_id long, payload binary, mime string")
    fps = video_fingerprint(media)
    pairs = video_near_pairs(fps, max_hamming=6)
    return pairs.select(
        F.col("doc_a").alias("id_a"),
        F.col("doc_b").alias("id_b"),
        F.col("hamming").cast("int").alias("hamming"))


def _vfp_sql(c0: str, c2: str, c4: str) -> str:
    """The 64-bit temporal fingerprint as a SIGNED BIGINT from the
    three sampled frames' 144-hex-char pixel strings: vfp MSB-first
    bits 0..20 = frame c0's gradient bits 0..20, 21..41 = c2's 0..20,
    42..63 = c4's 0..21 — exactly video_fingerprint's
    shiftrightunsigned/shiftleft fold."""
    def gbit(col: str, g: int) -> str:
        y, x = divmod(g, 8)
        i = y * 9 + x

        def px(k):
            return f"CAST(('0x' || substr({col}, {2 * k + 1}, 2)) AS INT)"

        return f"(CASE WHEN {px(i)} < {px(i + 1)} THEN 1 ELSE 0 END)"

    def bit(b: int) -> str:
        if b <= 20:
            return gbit(c0, b)
        if b <= 41:
            return gbit(c2, b - 21)
        return gbit(c4, b - 42)

    return _fp_sql_from_bits(bit)


def _video_oracle() -> str:
    def frame_hex(f: int) -> str:
        parts = " || ".join(f"md5(text || ':v{f}:{s}')"
                            for s in range(5))
        return f"substr({parts}, 1, 144)"

    def perturbed(col: str, f: int) -> str:
        return (f"CASE WHEN jf = {f} THEN substr({col}, 1, 2 * jp)"
                f" || printf('%02x', v) || substr({col}, 2 * jp + 3)"
                f" ELSE {col} END")

    return f"""
WITH h AS MATERIALIZED (
  SELECT doc_id, md5(text) AS hx,
         {frame_hex(0)} AS c0,
         {frame_hex(2)} AS c2,
         {frame_hex(4)} AS c4
  FROM documents
), meta AS MATERIALIZED (
  SELECT doc_id, c0, c2, c4,
         CAST(('0x' || substr(hx, 1, 2)) AS INT) AS b0,
         CAST(('0x' || substr(hx, 3, 2)) AS INT) % 5 AS jf,
         CAST(('0x' || substr(hx, 5, 2)) AS INT) % 72 AS jp,
         CAST(('0x' || substr(hx, 7, 2)) AS INT) AS v
  FROM h
), vids AS MATERIALIZED (
  SELECT doc_id * 2 AS vid_id, c0, c2, c4 FROM meta
  UNION ALL
  SELECT doc_id * 2 + 1,
         {perturbed('c0', 0)},
         {perturbed('c2', 2)},
         {perturbed('c4', 4)}
  FROM meta WHERE b0 % 4 = 0
), fps AS MATERIALIZED (
  SELECT vid_id, {_vfp_sql('c0', 'c2', 'c4')} AS fp FROM vids
)
SELECT a.vid_id AS id_a, b.vid_id AS id_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
FROM fps a JOIN fps b ON a.vid_id < b.vid_id
WHERE bit_count(xor(a.fp, b.fp)) <= 6
"""


ORACLE_VIDEO_NEAR_DUP = _video_oracle()
gate(video_near_dup_pairs, ORACLE_VIDEO_NEAR_DUP)
