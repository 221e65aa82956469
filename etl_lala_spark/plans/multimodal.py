"""Multimodal-column queries (north star: binary media columns).

The fixture corpus has no real image/audio bytes, so utf-8 text bytes stand
in as the opaque payload; what is verified is the Spark-side plumbing —
binary columns, Arrow-batched mapInPandas decode, one-to-many frame
expansion — with metadata derived deterministically from the bytes so the
DuckDB oracle can replay it from the varchar side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_lala_spark.io import load_table, map_rows
from etl_lala_spark.operators import multimodal as mm
from etl_lala_spark.plans import register


@register(
    "multimodal_binary_stats",
    oracle="""
SELECT doc_id,
       CAST(strlen(text) AS INT) AS n_bytes,
       md5(text) AS digest,
       CASE WHEN left(text, 1) = '{' THEN 'application/json' ELSE 'text/plain' END AS mime
FROM documents
ORDER BY doc_id
""",
)
def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary column + typed metadata: byte length, content digest,
    mime sniff (binaryFile-source shape, SURVEY.md §2.12)."""
    d = load_table(spark, sf_dir, "documents")
    media = mm.attach_binary(d)
    return media.select(
        "doc_id",
        "n_bytes",
        F.md5("media").alias("digest"),
        "mime",
    ).orderBy("doc_id")


@register(
    "multimodal_decode",
    oracle="""
SELECT doc_id,
       CAST(strlen(text) AS INT) AS n_bytes,
       CAST(strlen(text) % 640 AS INT) AS width,
       CAST(strlen(text) % 480 AS INT) AS height,
       3 AS n_channels,
       md5(text) AS digest
FROM documents
ORDER BY doc_id
""",
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched media decode via mapInPandas (deterministic fake kernel
    — real codecs are stubbed, operators/multimodal.py). Verifies the whole
    Python-batch boundary: schema, Arrow transfer, per-batch kernel."""
    d = load_table(spark, sf_dir, "documents")
    decoded = mm.decode_media(mm.attach_binary(d))
    return decoded.select(
        "doc_id",
        "n_bytes",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.lit(3).alias("n_channels"),
        "digest",
    ).orderBy("doc_id")


@register(
    "multimodal_frame_sample",
    oracle="""
SELECT doc_id, count(*) AS n_frames, CAST(max(off) AS BIGINT) AS last_offset
FROM (
  SELECT doc_id, unnest(range(0, greatest(strlen(text) - 1, 0) + 1, 64)) AS off
  FROM documents
)
GROUP BY doc_id
ORDER BY doc_id
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-to-many frame sampling over media bytes (explode — the archive-
    expansion S6 shape applied to video-style payloads)."""
    d = load_table(spark, sf_dir, "documents")
    frames = mm.frame_sample(mm.attach_binary(d))
    return (
        frames.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_frames"),
            F.max("frame_offset").cast("long").alias("last_offset"),
        )
        .orderBy("doc_id")
    )


@register(
    "multimodal_sniff",
    oracle="""
WITH expected AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'png' END AS kind,
         CASE WHEN doc_id % 2 = 0 THEN 8000 + (doc_id % 8) * 1000
              ELSE (doc_id % 1024) + 1 END AS dim1,
         CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 2
              ELSE (doc_id % 768) + 1 END AS dim2,
         CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 3 END AS dim3
  FROM documents WHERE doc_id < 500
)
SELECT kind, count(*) AS n,
       CAST(min(dim1) AS BIGINT) AS min_d1, CAST(max(dim1) AS BIGINT) AS max_d1,
       CAST(sum(dim2) AS BIGINT) AS sum_d2, CAST(max(dim3) AS BIGINT) AS max_d3
FROM expected
GROUP BY kind ORDER BY kind
""",
)
def multimodal_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-free media metadata round trip: real PNG / WAV byte headers are
    CONSTRUCTED per row from doc_id (struct-packed, valid layouts), then
    sniffed back by the pure-Python header parser over Arrow batches — the
    oracle recomputes the expected metadata arithmetically, so a parser that
    misreads any field hash-mismatches. This is the manifest/partition plane
    of a media pipeline (full pixel decode stays behind decode_image)."""
    import struct

    def render(doc_id: int) -> list[tuple]:
        if doc_id % 2 == 0:
            rate = 8000 + (doc_id % 8) * 1000
            ch = 1 + doc_id % 2
            media = (
                b"RIFF" + struct.pack("<I", 36) + b"WAVE" + b"fmt "
                + struct.pack("<I", 16)
                + struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
            )
        else:
            w, h = (doc_id % 1024) + 1, (doc_id % 768) + 1
            media = (
                b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
                + struct.pack(">II", w, h) + b"\x08\x02" + b"\x00" * 8
            )
        return [(doc_id, media)]

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    media = map_rows(d.select("doc_id"), render, "doc_id long, media binary")
    sniffed = mm.sniff_media_df(media)
    return (
        sniffed.groupBy("kind")
        .agg(
            F.count("*").alias("n"),
            F.min("dim1").cast("long").alias("min_d1"),
            F.max("dim1").cast("long").alias("max_d1"),
            F.sum("dim2").cast("long").alias("sum_d2"),
            F.max("dim3").cast("long").alias("max_d3"),
        )
        .orderBy("kind")
    )


@register(
    "multimodal_decode_png",
    oracle="""
SELECT doc_id,
       CAST((doc_id % 32) + 1 AS INT) AS width,
       CAST((doc_id % 24) + 1 AS INT) AS height,
       3 AS n_channels,
       CAST(((doc_id % 32) + 1) * ((doc_id % 24) + 1) * 3 AS BIGINT) AS n_pixel_bytes,
       CAST(list_sum(list_transform(
              range(0, ((doc_id % 32) + 1) * ((doc_id % 24) + 1) * 3),
              i -> (doc_id + 3 * ((i // 3) % ((doc_id % 32) + 1))
                    + 7 * (i // (3 * ((doc_id % 32) + 1)))
                    + 11 * (i % 3)) % 256)) AS BIGINT) AS pixel_sum
FROM documents WHERE doc_id < 300
ORDER BY doc_id
""",
)
def multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel decode end to end, no external codec: per row a valid PNG
    is encoded from a deterministic pixel pattern (value at (x, y, c) is
    ``(doc_id + 3x + 7y + 11c) % 256``, rows cycle through all five PNG
    filter types), shipped through Arrow as a binary column, and decoded
    back with the stdlib decoder (`operators/multimodal.py:decode_png` —
    zlib inflate + CRC check + Sub/Up/Average/Paeth unfiltering). The
    oracle recomputes width/height/byte-count/pixel-sum arithmetically, so
    any filter-path or chunk-walk bug hash-mismatches.

    Scale shape: encode and decode are per-value kernels inside one
    mapInPandas pass — constant task memory, embarrassingly parallel; a
    libjpeg/PIL kernel drops into the same seam for formats whose math
    stdlib can't do."""
    def roundtrip(doc_id: int) -> list[tuple]:
        w, h = (doc_id % 32) + 1, (doc_id % 24) + 1
        pixels = bytes(
            (doc_id + 3 * x + 7 * y + 11 * c) % 256
            for y in range(h) for x in range(w) for c in range(3)
        )
        dw, dh, dc, recon = mm.decode_png(mm.encode_png(w, h, pixels, channels=3))
        return [(doc_id, dw, dh, dc, len(recon), sum(recon))]

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return map_rows(
        d.select("doc_id"),
        roundtrip,
        "doc_id long, width int, height int, n_channels int, "
        "n_pixel_bytes long, pixel_sum long",
    ).orderBy("doc_id")


@register(
    "multimodal_decode_wav",
    oracle="""
SELECT doc_id,
       CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
       CAST((doc_id % 2) + 1 AS INT) AS n_channels,
       16 AS bits,
       CAST(((doc_id % 50) + 10) * ((doc_id % 2) + 1) AS BIGINT) AS n_samples,
       CAST(list_sum(list_transform(
              range(0, ((doc_id % 50) + 10) * ((doc_id % 2) + 1)),
              i -> abs((doc_id * 7 + 13 * i) % 4097 - 2048))) AS BIGINT)
         AS sum_abs,
       CAST(list_max(list_transform(
              range(0, ((doc_id % 50) + 10) * ((doc_id % 2) + 1)),
              i -> abs((doc_id * 7 + 13 * i) % 4097 - 2048))) AS BIGINT)
         AS peak_abs,
       CAST(list_sum(list_transform(
              range(0, ((doc_id % 50) + 10) * ((doc_id % 2) + 1)),
              i -> ((doc_id * 7 + 13 * i) % 4097 - 2048)
                   * ((doc_id * 7 + 13 * i) % 4097 - 2048))) AS BIGINT)
         AS energy
FROM documents WHERE doc_id < 300
ORDER BY doc_id
""",
)
def multimodal_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end to end, stdlib only: per row a valid RIFF/WAVE
    file is built from a deterministic 16-bit PCM pattern (sample i is
    ``(doc_id·7 + 13·i) mod 4097 − 2048``, interleaved over 1–2 channels;
    every third file carries an odd-length LIST metadata chunk so the
    chunk walk + word-alignment padding is exercised), shipped through
    Arrow as binary, and decoded back by
    `operators/multimodal.py:decode_wav`. Emitted stats (sample count,
    Σ|s|, peak, Σs² energy) are integer-exact, and the oracle recomputes
    them arithmetically — any header, chunk-skip, or sample-unpack bug
    hash-mismatches.

    Scale shape: identical to the PNG path — encode/decode are per-value
    kernels in one mapInPandas pass, constant task memory; an MP3/FLAC
    codec drops into the same seam."""
    def roundtrip(doc_id: int) -> list[tuple]:
        ch = (doc_id % 2) + 1
        n = ((doc_id % 50) + 10) * ch
        samples = [(doc_id * 7 + 13 * i) % 4097 - 2048 for i in range(n)]
        wav = mm.encode_wav(
            8000 + (doc_id % 4) * 4000, samples, channels=ch,
            junk_chunk=(doc_id % 3 == 0),
        )
        rate, nch, bits, dec = mm.decode_wav(wav)
        return [(
            doc_id, rate, nch, bits, len(dec), sum(abs(s) for s in dec),
            max(abs(s) for s in dec), sum(s * s for s in dec),
        )]

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return map_rows(
        d.select("doc_id"),
        roundtrip,
        "doc_id long, sample_rate int, n_channels int, bits int, "
        "n_samples long, sum_abs long, peak_abs long, energy long",
    ).orderBy("doc_id")


@register(
    "multimodal_decode_gif",
    oracle="""
SELECT doc_id,
       CAST((doc_id % 21) + 1 AS INT) AS width,
       CAST((doc_id % 13) + 1 AS INT) AS height,
       8 AS n_palette,
       CAST(((doc_id % 21) + 1) * ((doc_id % 13) + 1) AS BIGINT) AS n_pixels,
       CAST(list_sum(list_transform(
              range(0, ((doc_id % 21) + 1) * ((doc_id % 13) + 1)),
              i -> (i % ((doc_id % 21) + 1) + i // ((doc_id % 21) + 1) + doc_id) % 8))
            AS BIGINT) AS index_sum,
       CAST(list_sum(list_transform(
              range(0, ((doc_id % 21) + 1) * ((doc_id % 13) + 1)),
              i -> (doc_id * 3 + ((i % ((doc_id % 21) + 1) + i // ((doc_id % 21) + 1) + doc_id) % 8) * 17) % 256
                 + (doc_id * 5 + ((i % ((doc_id % 21) + 1) + i // ((doc_id % 21) + 1) + doc_id) % 8) * 29) % 256
                 + (doc_id * 7 + ((i % ((doc_id % 21) + 1) + i // ((doc_id % 21) + 1) + doc_id) % 8) * 41) % 256))
            AS BIGINT) AS rgb_sum
FROM documents WHERE doc_id < 300
ORDER BY doc_id
""",
)
def multimodal_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode end to end, stdlib only: per row a valid GIF87a is
    encoded from a deterministic 8-color palette (color c =
    ((id·3+17c) mod 256, (id·5+29c) mod 256, (id·7+41c) mod 256)) and
    index pattern ((x+y+id) mod 8), shipped through Arrow as binary, and
    decoded back by `operators/multimodal.py:decode_gif` — a full LZW
    expansion with variable code widths, dictionary growth, and sub-block
    reassembly (the codec also reads real-world files: validated on the
    published 1×1 GIF vector). The oracle recomputes the palette-resolved
    RGB sum and index sum arithmetically, so any LZW width-timing or
    palette-indexing bug hash-mismatches.

    Scale shape: identical to the PNG/WAV paths — per-value kernels in one
    mapInPandas pass, constant task memory."""
    def roundtrip(doc_id: int) -> list[tuple]:
        w, h = (doc_id % 21) + 1, (doc_id % 13) + 1
        pal = [
            ((doc_id * 3 + c * 17) % 256,
             (doc_id * 5 + c * 29) % 256,
             (doc_id * 7 + c * 41) % 256)
            for c in range(8)
        ]
        idx = [(x + y + doc_id) % 8 for y in range(h) for x in range(w)]
        dw, dh, dpal, didx = mm.decode_gif(mm.encode_gif(w, h, pal, idx))
        return [(
            doc_id, dw, dh, len(dpal[:8]), len(didx), sum(didx),
            sum(sum(dpal[i]) for i in didx),
        )]

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return map_rows(
        d.select("doc_id"),
        roundtrip,
        "doc_id long, width int, height int, n_palette int, "
        "n_pixels long, index_sum long, rgb_sum long",
    ).orderBy("doc_id")


_RESIZE_ORACLE = """
SELECT d.doc_id,
       CAST(16 AS INT) AS width,
       CAST(10 AS INT) AS height,
       CAST(3 AS INT) AS n_channels,
       CAST(sum((3 * (2 * x.i) + 7 * (2 * y.j) + 11 * c.k + d.doc_id) % 256)
            AS BIGINT) AS px_sum
FROM (SELECT doc_id FROM documents WHERE doc_id < 150) d,
     range(0, 16) x(i), range(0, 10) y(j), range(0, 3) c(k)
GROUP BY d.doc_id
ORDER BY d.doc_id
"""


@register("multimodal_image_resize", oracle=_RESIZE_ORACLE)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed image resize certified arithmetically: per document a
    REAL 32x20 RGB PNG is encoded with pixel p(x,y,c) = (3x+7y+11c+doc_id)
    mod 256 (cycling all five PNG row filters), decoded and
    nearest-resized to 16x10 by ``operators/multimodal.py:image_resize``
    (floor index map src = (dst*in)//out — integer-exact by design), and
    the resized pixel sum must equal the oracle's replay of the same index
    map over SQL ranges. Any codec, unfilter, index-map, or channel-order
    bug lands on a different sum.

    The preprocessing shape every vision training pipeline runs between
    decode and featurization: one Arrow-batched pass, numpy fancy-indexed
    resample (per-image Python cost, not per-pixel), no shuffle."""
    import numpy as np

    def render(d: int) -> list[tuple]:
        px = bytes(
            (3 * x + 7 * y + 11 * c + d) % 256
            for y in range(20)
            for x in range(32)
            for c in range(3)
        )
        return [(d, mm.encode_png(32, 20, px, channels=3))]

    def pixel_sum(doc_id, width, height, n_channels, pixels) -> list[tuple]:
        return [(
            doc_id, width, height, n_channels,
            int(np.frombuffer(pixels, np.uint8).sum()),
        )]

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    imgs = map_rows(docs.select("doc_id"), render, "doc_id long, media binary")
    resized = mm.image_resize(imgs, 16, 10, method="nearest")
    return map_rows(
        resized,
        pixel_sum,
        "doc_id long, width int, height int, n_channels int, px_sum long",
    ).orderBy("doc_id")


_AUDIO_WINDOWS_ORACLE = """
WITH d AS (
  SELECT doc_id, (doc_id % 50) + 40 AS n
  FROM documents WHERE doc_id < 150
),
s AS (
  SELECT d.doc_id,
         CAST(t.i // 16 AS INT) AS window_idx,
         ((7 * t.i + d.doc_id) % 201) - 100 AS v
  FROM d, range(0, 96) t(i)
  WHERE t.i < d.n
)
SELECT doc_id,
       window_idx,
       CAST(count(*) AS INT) AS n_samples,
       CAST(sum(abs(v)) AS BIGINT) AS abs_sum,
       CAST(sum(v * v) AS BIGINT) AS energy,
       CAST(max(abs(v)) AS INT) AS peak
FROM s
GROUP BY doc_id, window_idx
ORDER BY doc_id, window_idx
"""


@register("multimodal_audio_windows", oracle=_AUDIO_WINDOWS_ORACLE)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio framing + energy features certified integer-exactly: per
    document a REAL 16-bit PCM WAV is written (with the odd-length LIST
    metadata chunk a correct RIFF walker must word-align past) holding
    (doc_id % 50) + 40 samples of the closed-form signal
    s(i) = ((7i + doc_id) mod 201) − 100, decoded by the in-repo codec and
    framed into 16-sample windows by ``audio_window_energy``; per-window
    count / Σ|s| / Σs² / peak must equal the oracle's arithmetic replay.
    Any RIFF-walk, PCM-unpack, framing, or tail-window bug changes an
    integer.

    The framing stage every audio training pipeline runs before spectral
    features; one Arrow-batched pass, no shuffle."""
    def render(d: int) -> list[tuple]:
        samples = [((7 * i + d) % 201) - 100 for i in range((d % 50) + 40)]
        return [(d, mm.encode_wav(8000, samples, junk_chunk=True))]

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    wavs = map_rows(docs.select("doc_id"), render, "doc_id long, media binary")
    return mm.audio_window_energy(wavs, window_samples=16).orderBy(
        "doc_id", "window_idx"
    )


_AUDIO_SPECTRAL_ORACLE = """
WITH d AS (
  SELECT doc_id, (doc_id % 50) + 40 AS n
  FROM documents WHERE doc_id < 150
),
s AS (
  SELECT d.doc_id,
         CAST(t.i // 16 AS INT) AS window_idx,
         CAST(t.i % 16 AS INT) AS wn,
         ((7 * t.i + d.doc_id) % 201) - 100 AS v
  FROM d, range(0, 96) t(i)
  WHERE t.i < d.n
),
w AS (
  SELECT doc_id, window_idx,
         count(*) AS n_samples,
         sum(v) AS dc_re,
         sum(CASE WHEN wn % 4 = 0 THEN v WHEN wn % 4 = 2 THEN -v ELSE 0 END)
           AS quarter_re,
         sum(CASE WHEN wn % 4 = 3 THEN v WHEN wn % 4 = 1 THEN -v ELSE 0 END)
           AS quarter_im,
         sum(CASE WHEN wn % 2 = 0 THEN v ELSE -v END) AS nyquist_re
  FROM s GROUP BY 1, 2
)
SELECT doc_id, window_idx, CAST(n_samples AS INT) AS n_samples,
       CAST(dc_re AS BIGINT) AS dc_re,
       CAST(quarter_re AS BIGINT) AS quarter_re,
       CAST(quarter_im AS BIGINT) AS quarter_im,
       CAST(nyquist_re AS BIGINT) AS nyquist_re,
       CAST(dc_re * dc_re AS BIGINT) AS dc_power,
       CAST(quarter_re * quarter_re + quarter_im * quarter_im AS BIGINT)
         AS quarter_power,
       CAST(nyquist_re * nyquist_re AS BIGINT) AS nyquist_power
FROM w
ORDER BY doc_id, window_idx
"""


@register("multimodal_audio_spectral", oracle=_AUDIO_SPECTRAL_ORACLE)
def multimodal_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode → frame → SPECTRAL featurize certified integer-exactly
    (round-5 verdict #5): the same closed-form WAVs as
    ``multimodal_audio_windows`` — (doc_id % 50) + 40 samples of
    s(i) = ((7i + doc_id) mod 201) − 100, odd-length LIST chunk included —
    flow through ``audio_window_spectral``, which evaluates the windowed
    DFT at the three bins whose basis is exactly ±1/0 (DC, N/4 quarter
    band, N/2 Nyquist for N=16), so components and powers are exact
    integers the oracle replays with CASE arithmetic over SQL ranges. A
    PCM-unpack, basis-sign, tail-window, or power bug changes an integer.

    One Arrow-batched pass, no shuffle — the featurize stage a multimodal
    training pipeline runs right after framing."""
    def render(d: int) -> list[tuple]:
        samples = [((7 * i + d) % 201) - 100 for i in range((d % 50) + 40)]
        return [(d, mm.encode_wav(8000, samples, junk_chunk=True))]

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    wavs = map_rows(docs.select("doc_id"), render, "doc_id long, media binary")
    return mm.audio_window_spectral(wavs, window_samples=16).orderBy(
        "doc_id", "window_idx"
    )


_PROGRESSIVE_ORACLE = """
SELECT doc_id,
       CAST(16 + doc_id % 17 AS INT) AS width,
       CAST(8 + doc_id % 13 AS INT) AS height,
       CAST((16 + doc_id % 17) * (8 + doc_id % 13) AS BIGINT) AS n_pixels,
       CAST(0 AS BIGINT) AS n_mismatch
FROM documents WHERE doc_id < 120
ORDER BY doc_id
"""


@register("multimodal_progressive_jpeg", oracle=_PROGRESSIVE_ORACLE)
def multimodal_progressive_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive-JPEG (SOF2) decode under the correctness gate (round-5
    verdict #6): per document a dense-AC grayscale image — pixel
    p(x,y) = (5x + 3y + doc_id) mod 256, odd dims from doc_id — is encoded
    BOTH baseline and progressive (full scan script: interleaved DC first +
    refinement, AC band with cross-block EOB runs, G.1.2.3 AC refinement)
    and both streams are decoded in-cluster. The progressive encoder
    carries coefficients identical to the baseline encoder's, so the two
    decodes must agree on EVERY pixel: n_mismatch must be 0 for all ~120
    documents, with dims/pixel-counts replayed by the oracle in closed
    form. The baseline decode is itself arithmetic-oracle-certified
    (``multimodal_mjpeg_pixel_decode``), so this chains progressive decode
    to that anchor. A successive-approximation, EOB-run, refinement-bit,
    or scan-script bug flips pixels and breaks the hash.

    One Arrow-batched pass, per-image Python cost, no shuffle."""
    import numpy as np

    from etl_lala_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    def roundtrip(d: int) -> list[tuple]:
        w, h = 16 + d % 17, 8 + d % 13
        px = bytes((5 * x + 3 * y + d) % 256 for y in range(h) for x in range(w))
        base = encode_jpeg(w, h, px, channels=1, quality=75)
        prog = encode_jpeg_progressive(w, h, px, channels=1, quality=75)
        wb, hb, _, pb = decode_jpeg(base)
        wp, hp, _, pp = decode_jpeg(prog)
        mism = int(
            (np.frombuffer(pb, np.uint8) != np.frombuffer(pp, np.uint8)).sum()
        ) if (wb, hb) == (wp, hp) else len(pb)
        return [(d, wp, hp, len(pp), mism)]

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    return map_rows(
        docs.select("doc_id"),
        roundtrip,
        "doc_id long, width int, height int, n_pixels long, n_mismatch long",
    ).orderBy("doc_id")


_GIF_RESIZE_ORACLE = """
WITH d AS (
  SELECT doc_id, 20 + doc_id % 13 AS w, 10 + doc_id % 7 AS h
  FROM documents WHERE doc_id < 120
),
p AS (
  SELECT d.doc_id,
         ((x.i * d.w) // 16 + 2 * ((y.j * d.h) // 10) + d.doc_id) % 64 AS idx
  FROM d, range(0, 16) x(i), range(0, 10) y(j)
)
SELECT doc_id,
       CAST(16 AS INT) AS width,
       CAST(10 AS INT) AS height,
       CAST(3 AS INT) AS n_channels,
       CAST(sum((5 * idx + doc_id) % 256 + (7 * idx + doc_id) % 256
                + (11 * idx + doc_id) % 256) AS BIGINT) AS px_sum
FROM p
GROUP BY doc_id
ORDER BY doc_id
"""


@register("multimodal_gif_resize", oracle=_GIF_RESIZE_ORACLE)
def multimodal_gif_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF decode → resize certified arithmetically: per document a REAL
    GIF87a (global color table, LZW sub-blocks) is assembled in-cluster
    with palette p[i] = ((5i+d)%256, (7i+d)%256, (11i+d)%256) and pixel
    index (x + 2y + d) mod 64 at per-doc odd dims, decoded by the in-repo
    LZW decoder (palette indices materialized to RGB via
    ``decode_pixels``), nearest-resized to 16x10, and reduced to the pixel
    sum the oracle replays through the same floor index map over SQL
    ranges. An LZW, sub-block, palette-order, or index-map bug lands on a
    different sum — this pins the third image codec (after PNG and JPEG)
    under the driver gate.

    Same one-pass Arrow-batched shape as ``multimodal_image_resize``."""
    import numpy as np

    def render(d: int) -> list[tuple]:
        w, h = 20 + d % 13, 10 + d % 7
        pal = [((5 * i + d) % 256, (7 * i + d) % 256, (11 * i + d) % 256)
               for i in range(64)]
        idx = [(x + 2 * y + d) % 64 for y in range(h) for x in range(w)]
        return [(d, mm.encode_gif(w, h, pal, idx))]

    def pixel_sum(doc_id, width, height, n_channels, pixels) -> list[tuple]:
        return [(
            doc_id, width, height, n_channels,
            int(np.frombuffer(pixels, np.uint8).sum()),
        )]

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    gifs = map_rows(docs.select("doc_id"), render, "doc_id long, media binary")
    resized = mm.image_resize(gifs, 16, 10, method="nearest")
    return map_rows(
        resized,
        pixel_sum,
        "doc_id long, width int, height int, n_channels int, px_sum long",
    ).orderBy("doc_id")


_AUGMENT_ORACLE = """
SELECT d.doc_id,
       CAST(12 AS INT) AS width,
       CAST(9 AS INT) AS height,
       CAST(3 AS INT) AS n_channels,
       CAST(sum((3 * (16 - x.i) + 7 * (3 + y.j) + 11 * c.k + d.doc_id) % 256)
            AS BIGINT) AS px_sum,
       CAST(sum((x.i + 2 * y.j) *
                ((3 * (16 - x.i) + 7 * (3 + y.j) + 11 * c.k + d.doc_id) % 256))
            AS BIGINT) AS wsum
FROM (SELECT doc_id FROM documents WHERE doc_id < 150) d,
     range(0, 12) x(i), range(0, 9) y(j), range(0, 3) c(k)
GROUP BY d.doc_id
ORDER BY d.doc_id
"""


@register("multimodal_augment_crop_flip", oracle=_AUGMENT_ORACLE)
def multimodal_augment_crop_flip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic image augmentation certified arithmetically: per
    document a REAL 24x16 RGB PNG with pixel p(x,y,c) = (3x+7y+11c+doc_id)
    mod 256 is decoded, cropped to the (5,3)+(12x9) box, and horizontally
    flipped by ``operators/multimodal.py:image_augment``; the reduce emits
    the plain pixel sum AND a position-weighted checksum Σ(x+2y)·p —
    the weighted term pins the flip (a sum alone is flip-invariant), the
    plain term pins the crop box, and the oracle replays output pixel
    (x,y,c) = input (16−x, 3+y, c) over SQL ranges. Any codec, crop-
    clamp, flip-direction, or channel-order bug lands on a different
    hash.

    The augmentation shape every vision pipeline runs after decode: one
    Arrow-batched pass, numpy slicing per image, no shuffle."""
    import numpy as np

    def render(d: int) -> list[tuple]:
        px = bytes(
            (3 * x + 7 * y + 11 * c + d) % 256
            for y in range(16)
            for x in range(24)
            for c in range(3)
        )
        return [(d, mm.encode_png(24, 16, px, channels=3))]

    def checksums(doc_id, width, height, n_channels, pixels) -> list[tuple]:
        a = (
            np.frombuffer(pixels, np.uint8)
            .reshape(height, width, n_channels)
            .astype(np.int64)
        )
        wgrid = (
            np.arange(a.shape[1])[None, :, None]
            + 2 * np.arange(a.shape[0])[:, None, None]
        )
        return [(
            doc_id, width, height, n_channels, int(a.sum()), int((a * wgrid).sum())
        )]

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    imgs = map_rows(docs.select("doc_id"), render, "doc_id long, media binary")
    aug = mm.image_augment(imgs, crop=(5, 3, 12, 9), hflip=True)
    return map_rows(
        aug,
        checksums,
        "doc_id long, width int, height int, n_channels int, "
        "px_sum long, wsum long",
    ).orderBy("doc_id")
