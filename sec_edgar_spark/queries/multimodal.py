"""Multimodal plumbing as an oracle-checked query.

The documents table's text re-cast to a binary blob column stands in
for media bytes: the query exercises the REAL multimodal path —
binary column → Arrow-batched mapInPandas metadata pass (format sniff,
byte length, header dims) — with values the oracle can reproduce
(word-soup bytes sniff to 'unknown', n_bytes = octet_length).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.multimodal import decode_image_meta
from .registry import query


@query(
    "multimodal_metadata",
    oracle="""
    SELECT doc_id,
      CASE WHEN text IS NULL OR octet_length(encode(text)) = 0 THEN NULL
           ELSE 'unknown' END AS format,
      CAST(NULL AS INT) AS width,
      CAST(NULL AS INT) AS height,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata pass over mapInPandas (the decode-stage
    plumbing; swapping the header sniffer for a codec is a one-function
    change — operators/multimodal.py)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("blob")
    )
    return decode_image_meta(d, "blob").select(
        "doc_id", "format", "width", "height", "n_bytes"
    )


def _be2_sql(expr: str) -> str:
    """DuckDB: value → 2-byte big-endian hex (for expected-dims math
    the oracle computes arithmetically — no blob construction needed)."""
    return expr  # dims are checked as ints; helper kept for clarity


@query(
    "multimodal_media_dims",
    oracle="""
    SELECT doc_id,
      CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                      WHEN 2 THEN 'jpeg' ELSE 'riff' END AS format,
      CASE doc_id % 4 WHEN 3 THEN 0
           ELSE CAST(doc_id % 1920 + 1 AS INT) END AS width,
      CASE doc_id % 4 WHEN 3 THEN 0
           ELSE CAST(doc_id % 1080 + 1 AS INT) END AS height,
      CAST(CASE doc_id % 4 WHEN 0 THEN 24 WHEN 1 THEN 10
                           WHEN 2 THEN 11 ELSE 12 END AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def multimodal_media_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-dimension roundtrip on the gate: build REAL format
    headers (PNG IHDR big-endian, GIF little-endian, JPEG SOF0 marker
    segment, RIFF/WAVE magic) from table values with codegen'd byte
    expressions, then recover format/width/height through the
    production Arrow-batched metadata pass
    (operators/multimodal.decode_image_meta).  The oracle computes the
    expected values arithmetically — so the byte-level parsers are
    value-checked, not just sniff-checked."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    w = F.col("doc_id") % 1920 + 1
    h = F.col("doc_id") % 1080 + 1

    def be(col, nbytes):
        # int → fixed-width big-endian bytes via hex/lpad/unhex
        return F.unhex(F.lpad(F.hex(col), 2 * nbytes, "0"))

    def le2(col):
        lo = col % 256
        hi = (col / 256).cast("long") % 256
        return F.concat(be(lo, 1), be(hi, 1))

    png = F.concat(
        F.lit(b"\x89PNG\r\n\x1a\n"),
        F.lit(b"\x00\x00\x00\x0dIHDR"),
        be(w, 4),
        be(h, 4),
    )  # 24 bytes
    gif = F.concat(F.lit(b"GIF89a"), le2(w), le2(h))  # 10 bytes
    jpeg = F.concat(
        F.lit(b"\xff\xd8\xff\xc0\x00\x11\x08"), be(h, 2), be(w, 2)
    )  # 11 bytes
    wav = F.concat(F.lit(b"RIFF"), F.lit(b"\x00\x00\x00\x00"), F.lit(b"WAVE"))  # 12
    blob = (
        F.when(F.col("doc_id") % 4 == 0, png)
        .when(F.col("doc_id") % 4 == 1, gif)
        .when(F.col("doc_id") % 4 == 2, jpeg)
        .otherwise(wav)
    )
    media = d.select("doc_id", blob.alias("blob"))
    # Dims coalesce to 0 for non-image formats: a NULL in a mixed
    # int column becomes NaN on the comparator's pandas path and
    # NaN != NaN breaks the value hash — 0 is the gate-stable encoding.
    return decode_image_meta(media, "blob").select(
        "doc_id",
        "format",
        F.coalesce("width", F.lit(0)).alias("width"),
        F.coalesce("height", F.lit(0)).alias("height"),
        "n_bytes",
    )


@query(
    "multimodal_audio_meta",
    oracle="""
    SELECT doc_id,
      CAST(doc_id % 2 + 1 AS INT) AS channels,
      CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
           ELSE 44100 END AS INT) AS sample_rate,
      CAST((doc_id % 1000 + 1) AS BIGINT) AS n_samples,
      round(CAST(doc_id % 1000 + 1 AS DOUBLE)
            / (CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
               ELSE 44100 END), 6) AS duration_s
    FROM documents
    """,
)
def multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-metadata roundtrip on the gate: build well-formed
    RIFF/WAVE headers (fmt chunk: channels/sample-rate/block-align;
    data chunk sized for n_samples) with codegen'd byte expressions,
    recover (channels, sample_rate, n_samples) through the production
    Arrow-batched WAVE walk (operators/multimodal.decode_audio_meta),
    derive duration.  Oracle computes expectations arithmetically."""
    from ..operators.multimodal import decode_audio_meta

    d = table(spark, sf_dir, "documents").select("doc_id")
    channels = F.col("doc_id") % 2 + 1
    rate = (
        F.when(F.col("doc_id") % 3 == 0, 8000)
        .when(F.col("doc_id") % 3 == 1, 16000)
        .otherwise(44100)
    )
    n_samples = F.col("doc_id") % 1000 + 1
    bits = 16
    block_align = channels * (bits // 8)
    byte_rate = rate * block_align
    data_len = n_samples * block_align

    def le(col, nbytes):
        # int → fixed-width little-endian bytes: byte-reverse the
        # big-endian unhex
        be_hex = F.lpad(F.hex(col.cast("long")), 2 * nbytes, "0")
        parts = [
            F.unhex(F.substring(be_hex, 2 * i + 1, 2))
            for i in reversed(range(nbytes))
        ]
        return F.concat(*parts)

    fmt_chunk = F.concat(
        F.lit(b"fmt "), le(F.lit(16), 4),
        le(F.lit(1), 2),          # PCM
        le(channels, 2),
        le(rate, 4),
        le(byte_rate, 4),
        le(block_align, 2),
        le(F.lit(bits), 2),
    )
    # data chunk: header only — the metadata walk reads the declared
    # length, never the sample bytes, so the blob stays header-sized
    # (a real file would carry data_len bytes after this header).
    data_chunk = F.concat(F.lit(b"data"), le(data_len, 4))
    riff_len = F.lit(4 + 8 + 16 + 8) + data_len  # WAVE + fmt + data hdrs
    blob = F.concat(
        F.lit(b"RIFF"), le(riff_len, 4), F.lit(b"WAVE"), fmt_chunk, data_chunk
    )
    media = d.select("doc_id", blob.alias("blob"))
    meta = decode_audio_meta(media, "blob")
    return meta.select(
        "doc_id",
        "channels",
        "sample_rate",
        "n_samples",
        F.round(
            F.col("n_samples").cast("double") / F.col("sample_rate"), 6
        ).alias("duration_s"),
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, octet_length(encode(text)) AS n
      FROM documents
    )
    SELECT media_id, CAST(unnest(range(0, greatest(CAST(floor(n / 100) AS BIGINT), 1), 2)) AS INT) AS frame_index
    FROM m
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan shape on the gate: every-Nth-frame
    explode per media row (operators/multimodal.frame_sample_plan).
    The frame count is derived from blob length (1 frame per 100 bytes stand-in —
    a real decoder reads the container header; the explode shape,
    which is what matters at scale, is identical)."""
    from ..operators.multimodal import frame_sample_plan

    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("blob"),
    )
    return frame_sample_plan(d, every_n=2, bytes_per_frame=100).select(
        "media_id", F.col("frame_index").cast("int").alias("frame_index")
    )


@query(
    "multimodal_dedup_exact",
    oracle="""
    WITH hashed AS (
      SELECT doc_id AS media_id, md5(substr(text, 1, 100)) AS content_hash
      FROM documents
    )
    SELECT content_hash, COUNT(*) AS n_copies,
           MIN(media_id) AS canonical_id
    FROM hashed GROUP BY content_hash HAVING COUNT(*) > 1
    """,
)
def multimodal_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media dedup on the BINARY column: fingerprint each payload (md5
    of a fixed-size 100-byte slice — the stand-in for hash-of-decoded-
    thumbnail; a real pipeline swaps the slice for the decode kernel in
    operators/multimodal.py), group on the 128-bit digest, keep the
    minimum id as canonical.  At 100 TB this is the first pass of any
    multimodal ingest — the shuffle moves 16-byte digests, not
    gigabyte blobs: codegen computes the hash inside the scan stage
    and the blob column is pruned before anything moves."""
    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.md5(F.substring("text", 1, 100).cast("binary")).alias("content_hash"),
    )
    return (
        d.groupBy("content_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("media_id").alias("canonical_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


@query(
    "multimodal_audio_energy",
    oracle="""
    WITH docs AS (
      SELECT doc_id, doc_id % 1000 + 1 AS n FROM documents
    ), samp AS (
      SELECT doc_id, i, i // 256 AS frame,
        CASE WHEN u < 32768 THEN u ELSE u - 65536 END AS s
      FROM (
        SELECT doc_id, i, (doc_id * 31 + i * 7) % 65536 AS u
        FROM docs, LATERAL (SELECT unnest(range(n)) AS i)
      )
    ), frames AS (
      SELECT doc_id, frame, SUM(s * s) AS e
      FROM samp GROUP BY 1, 2
    ), peak AS (
      SELECT doc_id, frame AS peak_frame, e AS peak_energy
      FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY e DESC, frame) AS rk
        FROM frames
      ) WHERE rk = 1
    ), tot AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
             CAST(SUM(e) AS BIGINT) AS total_energy
      FROM frames GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_frames, t.total_energy,
      CAST(p.peak_frame AS BIGINT) AS peak_frame,
      CAST(p.peak_energy AS BIGINT) AS peak_energy
    FROM tot t JOIN peak p ON t.doc_id = p.doc_id
    """,
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCM frame-energy pass — the first multimodal query that reads
    SAMPLE BYTES, not just headers: well-formed 16-bit-PCM WAVE blobs
    (samples are the deterministic int16 stream
    u_i = (doc_id·31 + i·7) mod 2^16, two's-complement decoded) are
    built with codegen'd byte expressions, then the production
    Arrow-batched kernel (operators/multimodal.audio_frame_energy:
    numpy '<i2' frombuffer → squared sums per 256-sample frame)
    recovers exact integer frame energies, the peak frame, and the
    total.  The oracle replays the sample arithmetic directly — a
    value match certifies the byte layout, the chunk walk, the numpy
    decode, and the framing all at once.

    Scale shape: one mapInPandas stage over the blob column (the same
    stage a loudness/VAD/spectral kernel occupies); everything after
    it is per-doc rows.  Blobs here are ≤2 KB; a real corpus streams
    the same plan with bigger batches.
    """
    from ..operators.multimodal import audio_frame_energy

    d = table(spark, sf_dir, "documents", spread=True).select("doc_id")
    n_samples = F.col("doc_id") % 1000 + 1
    channels = F.lit(1)
    rate = F.lit(16000)
    bits = 16
    block_align = channels * (bits // 8)
    byte_rate = rate * block_align
    data_len = n_samples * block_align

    def le(col, nbytes):
        be_hex = F.lpad(F.hex(col.cast("long")), 2 * nbytes, "0")
        parts = [
            F.unhex(F.substring(be_hex, 2 * i + 1, 2))
            for i in reversed(range(nbytes))
        ]
        return F.concat(*parts)

    # sample bytes: join the per-sample LE hex, one unhex at the end.
    # array_join, not an aggregate(.., concat) fold (r14, guide §4.2/
    # §1.2 per-task work): the fold re-copied the accumulated string
    # every step — O(n²) bytes per row and interpreted lambda calls —
    # while array_join sizes the output once and is a codegen'd
    # builtin.  Byte-identical: elements are never null and the empty
    # sequence joins to "" exactly like the fold's init.
    u = lambda i: (F.col("doc_id") * 31 + i * 7) % 65536  # noqa: E731
    le_hex = lambda c: F.concat(  # noqa: E731
        F.substring(F.lpad(F.hex(c.cast("long")), 4, "0"), 3, 2),
        F.substring(F.lpad(F.hex(c.cast("long")), 4, "0"), 1, 2),
    )
    data_hex = F.array_join(
        F.transform(F.sequence(F.lit(0), n_samples - 1), lambda i: le_hex(u(i))),
        "",
    )
    fmt_chunk = F.concat(
        F.lit(b"fmt "), le(F.lit(16), 4),
        le(F.lit(1), 2), le(channels, 2), le(rate, 4),
        le(byte_rate, 4), le(block_align, 2), le(F.lit(bits), 2),
    )
    data_chunk = F.concat(F.lit(b"data"), le(data_len, 4), F.unhex(data_hex))
    riff_len = F.lit(4 + 8 + 16 + 8) + data_len
    blob = F.concat(
        F.lit(b"RIFF"), le(riff_len, 4), F.lit(b"WAVE"), fmt_chunk, data_chunk
    )
    media = d.select("doc_id", blob.alias("blob"))
    return audio_frame_energy(media, "blob", frame=256)


def _b2h(c):
    """One byte's 2-char hex (value must already be < 256)."""
    return F.lpad(F.hex(c.cast("long")), 2, "0")


def _le(col, nbytes: int):
    """Little-endian byte encoding of an integer column."""
    be_hex = F.lpad(F.hex(col.cast("long")), 2 * nbytes, "0")
    parts = [
        F.unhex(F.substring(be_hex, 2 * i + 1, 2))
        for i in reversed(range(nbytes))
    ]
    return F.concat(*parts)


def _bmp_blob(w, h, px_hex):
    """In-plan 24-bit BI_RGB BMP synthesis (codegen'd byte
    expressions): 54-byte headers, bottom-up rows, 4-byte row padding;
    ``px_hex(x, y)`` supplies one pixel's 6 hex chars in B,G,R file
    order.  Shared by the tile-luminance and tile-fingerprint-dedup
    queries."""
    stride = (w * 3 + 3) - (w * 3 + 3) % 4  # row bytes incl. padding
    pad = stride - w * 3
    data_len = stride * h
    file_len = F.lit(54) + data_len
    # array_join, not an aggregate(.., concat) fold (r14, guide §4.2/
    # §1.2): the fold re-copied the accumulated row/file string every
    # step — O(n²) bytes per row — array_join sizes the output once in
    # a codegen'd builtin.  Byte-identical (elements never null; empty
    # sequence joins to "" like the fold's init).
    row_hex = lambda y: F.concat(  # noqa: E731
        F.array_join(
            F.transform(F.sequence(F.lit(0), w - 1), lambda x: px_hex(x, y)),
            "",
        ),
        F.repeat(F.lit("00"), pad),
    )
    # bottom-up: row H-1 first in byte order ⇒ iterate y = h-1 .. 0
    data_hex = F.array_join(
        F.transform(F.sequence(h - 1, F.lit(0), F.lit(-1)), row_hex),
        "",
    )
    file_header = F.concat(
        F.lit(b"BM"), _le(file_len, 4), _le(F.lit(0), 4), _le(F.lit(54), 4)
    )
    info_header = F.concat(
        _le(F.lit(40), 4), _le(w, 4), _le(h, 4),  # positive h = bottom-up
        _le(F.lit(1), 2), _le(F.lit(24), 2), _le(F.lit(0), 4),
        _le(data_len, 4), _le(F.lit(2835), 4), _le(F.lit(2835), 4),
        _le(F.lit(0), 4), _le(F.lit(0), 4),
    )
    return F.concat(file_header, info_header, F.unhex(data_hex))


@query(
    "multimodal_image_tile_luminance",
    oracle="""
    WITH docs AS (
      SELECT doc_id, doc_id % 25 + 8 AS w, doc_id % 17 + 8 AS h
      FROM documents
    ), pix AS (
      SELECT doc_id, x, y,
        2126 * ((doc_id * 31 + y * 17 + x * 7) % 256)
        + 7152 * ((doc_id * 31 + y * 17 + x * 7 + 3) % 256)
        + 722 * ((doc_id * 31 + y * 17 + x * 7 + 6) % 256) AS lum,
        (y // 8) * ((w + 7) // 8) + (x // 8) AS tile
      FROM docs,
        LATERAL (SELECT unnest(range(w)) AS x),
        LATERAL (SELECT unnest(range(h)) AS y)
    ), tiles AS (
      SELECT doc_id, tile, SUM(lum) AS e FROM pix GROUP BY 1, 2
    ), peak AS (
      SELECT doc_id, tile AS peak_tile, e AS peak_lum
      FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY e DESC, tile) AS rk
        FROM tiles
      ) WHERE rk = 1
    ), tot AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tiles,
             CAST(SUM(e) AS BIGINT) AS total_lum
      FROM tiles GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_tiles, t.total_lum,
      CAST(p.peak_tile AS BIGINT) AS peak_tile,
      CAST(p.peak_lum AS BIGINT) AS peak_lum
    FROM tot t JOIN peak p ON t.doc_id = p.doc_id
    """,
)
def multimodal_image_tile_luminance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image SAMPLE-byte kernel (VERDICT r8 #7 — the audio twin for
    the larger modality): well-formed uncompressed 24-bit BMP blobs
    are synthesized with codegen'd byte expressions — REAL layout
    included: 54-byte headers, bottom-up row order, BGR channel order,
    4-byte row padding — with deterministic pixels
    v(x, y, c) = (doc_id·31 + y·17 + x·7 + 3c) mod 256, then the
    production Arrow kernel (operators/multimodal.image_tile_luminance:
    numpy reshape/stride decode → integer Rec.709 luminance → 8×8 tile
    sums) recovers the exact per-tile integers, the peak tile, and the
    total.  The oracle replays the pixel arithmetic directly — a value
    match certifies the header fields, the padding walk, the
    bottom-up/BGR unscrambling, and the tile geometry all at once.

    Scale shape: one mapInPandas stage over the blob column;
    everything after it is per-image rows.  Blobs here are ≤2.5 KB
    (8..32 × 8..24 px); a real corpus streams the same plan with
    bigger batches and the same zero-shuffle profile.
    """
    from ..operators.multimodal import image_tile_luminance

    d = table(spark, sf_dir, "documents", spread=True).select("doc_id")
    w = F.col("doc_id") % 25 + 8
    h = F.col("doc_id") % 17 + 8
    base = lambda x, y: (F.col("doc_id") * 31 + y * 17 + x * 7)  # noqa: E731
    px_hex = lambda x, y: F.concat(  # noqa: E731  (B, G, R file order)
        _b2h((base(x, y) + 6) % 256),
        _b2h((base(x, y) + 3) % 256),
        _b2h(base(x, y) % 256),
    )
    media = d.select("doc_id", _bmp_blob(w, h, px_hex).alias("blob"))
    return image_tile_luminance(media, "blob", tile=8)


@query(
    "multimodal_image_dedup_tiles",
    oracle="""
    WITH docs AS (
      SELECT doc_id, doc_id % 50 AS base,
        (doc_id % 50) % 25 + 8 AS w, (doc_id % 50) % 17 + 8 AS h,
        (doc_id // 50) % 3 AS delta
      FROM documents
    ), pix AS (
      SELECT doc_id, w, h,
        2126 * ((base * 31 + y * 17 + x * 7) % 251 + delta)
        + 7152 * ((base * 31 + y * 17 + x * 7 + 3) % 251 + delta)
        + 722 * ((base * 31 + y * 17 + x * 7 + 6) % 251 + delta) AS lum,
        (y // 8) * ((w + 7) // 8) + (x // 8) AS tile
      FROM docs,
        LATERAL (SELECT unnest(range(w)) AS x),
        LATERAL (SELECT unnest(range(h)) AS y)
    ), tiles AS (
      SELECT doc_id, w, h, tile, SUM(lum) AS e
      FROM pix GROUP BY 1, 2, 3, 4
    ), fp AS (
      SELECT doc_id, w, h,
        string_agg(CAST(e // 4194304 AS VARCHAR), ','
                   ORDER BY tile) AS fingerprint
      FROM tiles GROUP BY 1, 2, 3
    )
    SELECT CAST(w AS BIGINT) AS img_w, CAST(h AS BIGINT) AS img_h,
      fingerprint,
      CAST(COUNT(*) AS BIGINT) AS n_copies,
      CAST(MIN(doc_id) AS BIGINT) AS canonical_id
    FROM fp GROUP BY w, h, fingerprint HAVING COUNT(*) > 1
    ORDER BY img_w, img_h, fingerprint
    """,
)
def multimodal_image_dedup_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup by tile fingerprint — the multimodal twin
    of SimHash: decode pixels (the REAL Arrow kernel:
    operators/multimodal.image_tile_vector), coarse-quantize each 8×8
    tile's luminance sum (÷2²²), and exact-group on (dims, quantized
    tile string) — brightness-shifted copies of the same base image
    land in the same bucket because the shift (≤3 levels/channel,
    ≤1.9M per tile sum) stays under the quantizer step for most tiles.
    Blobs are synthesized with planted near-duplicates: base pattern
    repeats every 50 doc_ids, per-copy brightness delta = (doc_id÷50)
    mod 3.  The oracle replays the pixel arithmetic AND the
    quantization — a value match certifies decode, tile walk, and
    bucketing in one gate.

    Scale shape: one mapInPandas decode stage (zero shuffle), then an
    exact hash-agg on fingerprint strings — digest-sized rows move,
    never pixels; identical to how binary-fingerprint dedup
    (multimodal_dedup_exact) scales, with a perceptual key.
    """
    from ..operators.multimodal import image_tile_vector

    d = table(spark, sf_dir, "documents", spread=True).select("doc_id")
    base = F.col("doc_id") % 50
    w = base % 25 + 8
    h = base % 17 + 8
    delta = F.expr("(doc_id DIV 50) % 3")
    pbase = lambda x, y: (base * 31 + y * 17 + x * 7)  # noqa: E731
    # channel order in file is B, G, R: B = (+6)%251+δ, G = (+3)%251+δ,
    # R = (+0)%251+δ
    px_hex = lambda x, y: F.concat(  # noqa: E731
        _b2h((pbase(x, y) + 6) % 251 + delta),
        _b2h((pbase(x, y) + 3) % 251 + delta),
        _b2h(pbase(x, y) % 251 + delta),
    )
    media = d.select("doc_id", _bmp_blob(w, h, px_hex).alias("blob"))
    vec = image_tile_vector(media, "blob", tile=8)
    # quantizer 2^22 as an exact integer shift (sums are non-negative,
    # so shiftright ≡ the oracle's floor division)
    fp = vec.select(
        "doc_id",
        "img_w",
        "img_h",
        F.array_join(
            F.transform(
                F.col("tile_sums"),
                lambda s: F.shiftright(s, 22).cast("string"),
            ),
            ",",
        ).alias("fingerprint"),
    )
    return (
        fp.groupBy("img_w", "img_h", "fingerprint")
        .agg(
            F.count("*").cast("bigint").alias("n_copies"),
            F.min("doc_id").cast("bigint").alias("canonical_id"),
        )
        .filter(F.col("n_copies") > 1)
        .select(
            F.col("img_w"), F.col("img_h"), "fingerprint", "n_copies",
            "canonical_id",
        )
        .orderBy("img_w", "img_h", "fingerprint")
    )
