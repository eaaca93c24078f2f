"""Gates for the WebDataset sink round-trip and image near-duplicate
pairing (the dHash front wired into actual dedup via the generic
banded-Hamming join; contract: queries.py).

Fixture-backed gates follow the established media pattern
(queries.py _doc_media_df): container bytes are authored per document
from md5(text) ONLY, pushed through the PRODUCTION parser/operator,
and the oracle replays every derived value from DuckDB's md5() — so
the gates are value-checked, not row-counted. The near-dup gate goes
one further: the oracle BRUTE-FORCES all image pairs, so the banded
candidate generation is recall-checked against ground truth (the
simhash64 gate discipline)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import _fp_sql_from_bits, _scratch, _spread, _t, gate


# =====================================================================
# image near-dup pairs (operators/multimodal.dhash_near_pairs over
# operators/dedup.fp_near_pairs — VERDICT r9 #3)
# =====================================================================

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
    from .operators.multimodal import dhash_near_pairs, image_dhash

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def build_pngs(batches):
        import hashlib as _hashlib

        import pandas as pd

        from .functions.png import png_encode

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


# =====================================================================
# audio near-dup pairs (operators/multimodal.audio_ehash +
# audio_near_pairs — the third modality on fp_near_pairs)
# =====================================================================

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
    from .operators.multimodal import audio_ehash, audio_near_pairs

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def build_wavs(batches):
        import hashlib as _hashlib

        import pandas as pd

        from .functions.wav import wav_encode

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


# =====================================================================
# WebDataset sink round-trip (sources/tar.py tar_export — VERDICT r9 #1)
# =====================================================================

def webdataset_export_roundtrip(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """WebDataset sink/source gate: per document md5-derived member
    rows (a ``txt`` part always, a ``cap.json`` part for half the
    docs) are exported as gzipped .tar shards (tar_export, 16 shards,
    sample-adjacent streamed ustar bytes), then re-imported through
    the production reader (tar_import) and folded by
    ``webdataset_group`` — so the sink's header bytes, member naming
    ({key}.{ext}), sample adjacency and gzip framing are all
    value-checked by the import path. Value-checked per sample: part
    count, total member bytes, and the ext→payload map content as a
    sorted ``ext:md5`` signature. The oracle replays every value from
    DuckDB md5()."""
    from .sources.tar import tar_export, tar_import, webdataset_group

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def build_members(batches):
        import hashlib as _hashlib

        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                hx = _hashlib.md5(
                    (text or "").encode("utf-8")).hexdigest()
                key = f"s/{doc_id}-{hx[0:6]}"
                out.append((key, "txt", f"T-{hx[8:16]}".encode()))
                if int(hx[0:2], 16) & 1:
                    out.append((key, "cap.json",
                                f"J-{hx[16:22]}".encode()))
            yield pd.DataFrame(
                out, columns=["sample_key", "ext", "payload"])

    members = docs.mapInPandas(
        build_members,
        schema="sample_key string, ext string, payload binary")
    path = _scratch("wds_export_rt")
    tar_export(members, path, n_shards=16)
    back = tar_import(spark, path)
    g = webdataset_group(back)
    exts = F.array_sort(F.map_keys("parts"))
    sig = F.array_join(
        F.transform(exts, lambda e: F.concat(
            e, F.lit(":"), F.md5(F.element_at(F.col("parts"), e)))),
        "|")
    return g.select(
        F.regexp_extract("sample_key", r"^s/(\d+)-", 1).cast("long")
        .alias("doc_id"),
        "sample_key",
        F.col("n_parts").cast("long").alias("n_parts"),
        F.col("total_bytes").cast("long").alias("total_bytes"),
        sig.alias("parts_sig"))


ORACLE_WDS_EXPORT = """
WITH h AS (
  SELECT doc_id, md5(text) AS hx,
         CAST(('0x' || substr(md5(text), 1, 2)) AS INT) AS b0
  FROM documents
)
SELECT doc_id,
       's/' || doc_id || '-' || substr(hx, 1, 6) AS sample_key,
       CAST(1 + (b0 & 1) AS BIGINT) AS n_parts,
       CAST(10 + (b0 & 1) * 8 AS BIGINT) AS total_bytes,
       CASE WHEN b0 & 1 = 1
            THEN 'cap.json:' || md5('J-' || substr(hx, 17, 6))
                 || '|txt:' || md5('T-' || substr(hx, 9, 8))
            ELSE 'txt:' || md5('T-' || substr(hx, 9, 8)) END
         AS parts_sig
FROM h
"""
gate(webdataset_export_roundtrip, ORACLE_WDS_EXPORT)
