"""Multimodal column plumbing (north star: image/audio/video at 100 TB).

Media are opaque ``binary`` columns plus typed metadata structs; the heavy
decode/feature steps are per-row kernels run by ``io.map_rows`` (one
``mapInPandas`` node over Arrow batches), so each task streams batches
without materializing a partition. In the pixel, audio and video
operators an undecodable or NULL cell degrades to one NULL-padded row
(``_degrading``) and NULL keys are filtered out before the map
(``_keyed``), instead of failing the task. The decode kernels
are REAL and in-repo: PNG (``decode_png``: zlib inflate + all five unfilter
paths, CRC-checked), GIF (LZW), WAV, baseline JPEG
(``operators/jpeg.py``: Annex-K tables, canonical Huffman, DCT — which also
makes MJPEG frames extracted by ``video_frame_sample`` pixel-decodable),
plus codec-free header metadata for all of them (``sniff_media``). The
remaining ``NotImplementedError`` seams are the formats genuinely outside a
pure-Python baseline (progressive JPEG, inter-frame video codecs), with
``fake_decode`` as the deterministic stand-in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_lala_spark.io import map_rows

MEDIA_SCHEMA = "doc_id long, media binary, mime string, n_bytes int"
DECODED_SCHEMA = "doc_id long, n_bytes int, width int, height int, n_channels int, digest string"


def attach_binary(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Materialize an opaque media column (utf-8 bytes of the text stand in
    for image/audio payloads) + typed metadata — the binaryFile-source shape
    (path/bytes/mime) without needing binary fixtures on disk."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.encode(F.col(text_col), "UTF-8").alias("media"),
        F.when(F.substring(text_col, 1, 1) == "{", F.lit("application/json"))
        .otherwise(F.lit("text/plain"))
        .alias("mime"),
        F.octet_length(F.col(text_col)).alias("n_bytes"),
    )


def decode_image(data: bytes) -> tuple[int, int, int]:
    """Full pixel decode to (width, height, n_channels).

    PNG decodes for real — stdlib-only (`zlib` inflate + PNG unfilter),
    see ``decode_png`` — and baseline JPEG decodes for real via
    ``operators/jpeg.py`` (Huffman + dequant + IDCT, tables read from the
    stream). Remaining formats (progressive JPEG, inter-frame video)
    raise: header metadata for those comes codec-free from ``sniff_media``.
    """
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        w, h, ch, _ = decode_png(data)
        return (w, h, ch)
    if data[:2] == b"\xff\xd8":
        from etl_lala_spark.operators.jpeg import decode_jpeg

        w, h, ch, _ = decode_jpeg(data)
        return (w, h, ch)
    raise NotImplementedError(
        "pixel codec for this format unavailable in this environment; use "
        "sniff_media for header metadata or fake_decode for the "
        "deterministic stand-in"
    )


_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type -> samples/pixel


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Real stdlib-only PNG pixel decode: chunk walk + CRC check, zlib
    inflate of the IDAT stream, and per-row unfiltering for all five PNG
    filter types (None/Sub/Up/Average/Paeth). Supports 8-bit depth,
    non-interlaced, gray/RGB/gray+alpha/RGBA color types — returns
    (width, height, n_channels, recon_pixels) with pixels row-major.

    This replaces the round-1 ``NotImplementedError`` seam with a working
    kernel: the Spark plumbing feeds whole byte payloads per row through
    Arrow batches, and the kernel is pure CPU per value — exactly the shape
    a PIL/turbojpeg kernel drops into at 100 TB.
    """
    import struct as _struct
    import zlib as _zlib

    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG byte stream")
    pos = 8
    width = height = channels = -1
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = _struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = _struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if _zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            width, height, depth, color, comp, filt, interlace = _struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or interlace != 0 or color not in _PNG_CHANNELS:
                raise NotImplementedError(
                    f"PNG depth={depth} color={color} interlace={interlace} "
                    "unsupported (8-bit non-interlaced gray/RGB/alpha only)"
                )
            channels = _PNG_CHANNELS[color]
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width < 0 or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    raw = _zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG pixel payload size mismatch")
    out = bytearray(stride * height)
    prior = bytes(stride)
    for y in range(height):
        ft = raw[y * (stride + 1)]
        row = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if ft == 1:  # Sub
            for i in range(channels, stride):
                row[i] = (row[i] + row[i - channels]) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                row[i] = (row[i] + prior[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                left = row[i - channels] if i >= channels else 0
                row[i] = (row[i] + ((left + prior[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                left = row[i - channels] if i >= channels else 0
                ul = prior[i - channels] if i >= channels else 0
                row[i] = (row[i] + _paeth(left, prior[i], ul)) & 0xFF
        elif ft != 0:
            raise ValueError(f"PNG filter type {ft} invalid")
        out[y * stride : (y + 1) * stride] = row
        prior = bytes(row)
    return (width, height, channels, bytes(out))


def encode_png(width: int, height: int, pixels: bytes, channels: int = 3) -> bytes:
    """Minimal stdlib PNG encoder (8-bit, non-interlaced) used to build real
    decodable fixtures: each row is filtered with type ``y % 5``, so a
    decode of the output exercises every PNG unfilter path."""
    import struct as _struct
    import zlib as _zlib

    color = {1: 0, 3: 2, 2: 4, 4: 6}[channels]
    stride = width * channels

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            _struct.pack(">I", len(body))
            + ctype
            + body
            + _struct.pack(">I", _zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    raw = bytearray()
    prior = bytes(stride)
    for y in range(height):
        row = pixels[y * stride : (y + 1) * stride]
        ft = y % 5
        raw.append(ft)
        if ft == 0:
            raw += row
        elif ft == 1:
            raw += bytes(
                (row[i] - (row[i - channels] if i >= channels else 0)) & 0xFF
                for i in range(stride)
            )
        elif ft == 2:
            raw += bytes((row[i] - prior[i]) & 0xFF for i in range(stride))
        elif ft == 3:
            raw += bytes(
                (
                    row[i]
                    - (((row[i - channels] if i >= channels else 0) + prior[i]) >> 1)
                )
                & 0xFF
                for i in range(stride)
            )
        else:
            raw += bytes(
                (
                    row[i]
                    - _paeth(
                        row[i - channels] if i >= channels else 0,
                        prior[i],
                        prior[i - channels] if i >= channels else 0,
                    )
                )
                & 0xFF
                for i in range(stride)
            )
        prior = row
    ihdr = _struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def encode_wav(
    sample_rate: int, samples: list[int], channels: int = 1, junk_chunk: bool = False
) -> bytes:
    """Minimal RIFF/WAVE writer for 16-bit PCM: fmt + data chunks, correct
    sizes, little-endian samples (interleaved when ``channels > 1``). With
    ``junk_chunk`` a LIST chunk of odd length precedes ``data`` — real WAV
    files carry such metadata chunks, and a correct reader must skip them
    with even-byte padding (exercised in tests and the oracle query)."""
    import struct as _struct

    pcm = b"".join(_struct.pack("<h", s) for s in samples)
    block_align = channels * 2
    fmt = _struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * block_align, block_align, 16
    )
    chunks = b"fmt " + _struct.pack("<I", len(fmt)) + fmt
    if junk_chunk:
        payload = b"INFOjunk!"  # odd length: exercises the pad byte
        chunks += b"LIST" + _struct.pack("<I", len(payload)) + payload + b"\x00"
    chunks += b"data" + _struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + _struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_wav(data: bytes) -> tuple[int, int, int, list[int]]:
    """REAL stdlib-only WAV PCM decode: walks the RIFF chunk list (skipping
    unknown chunks with odd-size padding, as the spec requires), parses the
    fmt chunk, and unpacks the 16-bit little-endian samples. Returns
    (sample_rate, n_channels, bits_per_sample, samples) with samples
    interleaved. Together with ``encode_wav`` this closes the audio half of
    the multimodal seam the same way ``decode_png`` closed the image half —
    only lossy codecs (JPEG DCT, MP3) remain pluggable."""
    import struct as _struct

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, end = 12, 8 + _struct.unpack("<I", data[4:8])[0]
    rate = nch = bits = None
    pcm = None
    while pos + 8 <= min(end, len(data)):
        cid = data[pos : pos + 4]
        size = _struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_fmt, nch, rate = _struct.unpack("<HHI", body[:8])
            bits = _struct.unpack("<H", body[14:16])[0]
            if audio_fmt != 1 or bits != 16:
                raise ValueError(f"only 16-bit PCM supported, got fmt={audio_fmt} bits={bits}")
        elif cid == b"data":
            pcm = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if rate is None or pcm is None:
        raise ValueError("missing fmt or data chunk")
    samples = list(_struct.unpack(f"<{len(pcm) // 2}h", pcm[: len(pcm) // 2 * 2]))
    return (rate, nch, bits, samples)


def sniff_media(data: bytes) -> tuple[str, int, int, int]:
    """Pure-Python media header sniffing: (kind, width, height, channels)
    for PNG / JPEG / GIF images and (kind, sample_rate, n_channels,
    bits_per_sample) for WAV audio — real metadata extraction with no
    third-party codec, which is all the manifest/partitioning plane of a
    100 TB media pipeline needs (full pixel/sample decode stays pluggable).
    Unknown formats return ("unknown", 0, 0, 0).
    """
    import struct as _struct

    if data[:8] == b"\x89PNG\r\n\x1a\n" and len(data) >= 24:
        w, h = _struct.unpack(">II", data[16:24])
        return ("png", w, h, 3)
    if data[:3] == b"GIF" and len(data) >= 10:
        w, h = _struct.unpack("<HH", data[6:10])
        return ("gif", w, h, 3)
    if data[:2] == b"\xff\xd8":  # JPEG: scan for a SOFn marker
        i = 2
        while i + 9 < len(data):
            if data[i] != 0xFF:
                break
            marker = data[i + 1]
            if marker == 0xFF:  # T.81 B.1.1.2 fill byte — not a segment
                i += 1
                continue
            seg_len = _struct.unpack(">H", data[i + 2 : i + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = _struct.unpack(">HH", data[i + 5 : i + 9])
                return ("jpeg", w, h, data[i + 9])
            i += 2 + seg_len
        return ("jpeg", 0, 0, 0)
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE" and len(data) >= 36:
        # Walk the chunk list for fmt (same as decode_wav) instead of
        # assuming it sits first: spec-legal files may carry LIST/JUNK
        # metadata ahead of fmt, and fixed offsets would misreport them.
        pos = 12
        while pos + 8 <= len(data):
            cid = data[pos : pos + 4]
            size = _struct.unpack("<I", data[pos + 4 : pos + 8])[0]
            # Bounds-check the fmt body before unpacking: a truncated fmt
            # chunk must degrade to unknown (the sniffer's contract), not
            # raise struct.error and kill the scan task.
            if cid == b"fmt " and size >= 16 and pos + 24 <= len(data):
                n_channels, sample_rate = _struct.unpack(
                    "<HI", data[pos + 10 : pos + 16]
                )
                bits = _struct.unpack("<H", data[pos + 22 : pos + 24])[0]
                return ("wav", sample_rate, n_channels, bits)
            pos += 8 + size + (size % 2)
        return ("unknown", 0, 0, 0)
    if data[:4] == b"RIFF" and data[8:12] == b"AVI " and len(data) >= 12:
        try:
            w, h, n_frames, _fps = decode_avi(data)
        except (ValueError, _struct.error, IndexError):
            return ("unknown", 0, 0, 0)
        # decode_avi degrades truncated/lying containers to partial metadata
        # rather than raising (one corrupt blob must not kill a scan task);
        # a container whose header walk produced no dimensions is garbage,
        # not a zero-pixel video — classify it unknown.
        if w <= 0 or h <= 0:
            return ("unknown", 0, 0, 0)
        return ("avi", w, h, n_frames)
    return ("unknown", 0, 0, 0)


def fake_decode(data: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for decode: metadata derived from byte length
    (so the full pipeline is testable and oracle-able end to end)."""
    n = len(data)
    return (n % 640, n % 480, 3)


def decode_media(df: DataFrame, kernel=fake_decode) -> DataFrame:
    """Arrow-batched decode over ``map_rows``: batches stream through each
    task (constant memory — the reference's T1 requirement), the kernel runs
    per value inside the batch, and output is a typed DataFrame.
    """
    import hashlib

    def row(doc_id, media):
        w, h, ch = kernel(media)[:3]
        return [(doc_id, len(media), w, h, ch, hashlib.md5(bytes(media)).hexdigest())]

    return map_rows(df.select("doc_id", "media"), row, DECODED_SCHEMA)


SNIFFED_SCHEMA = "doc_id long, kind string, dim1 int, dim2 int, dim3 int"


def sniff_media_df(df: DataFrame) -> DataFrame:
    """Arrow-batched header sniffing over ``map_rows``: real (codec-free)
    media metadata per row — (kind, width, height, channels) for images,
    (kind, sample_rate, n_channels, bits) for WAV. Input needs (doc_id,
    media binary)."""

    def row(doc_id, media):
        return [(doc_id, *sniff_media(bytes(media)))]

    return map_rows(df.select("doc_id", "media"), row, SNIFFED_SCHEMA)


def frame_sample(df: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """'Frame sampling' over opaque media: emit one row per sampled offset
    (stand-in for video frame extraction — one-to-many expansion, the S6
    archive-expansion shape). JVM-side: sequence + explode, no Python."""
    return df.select(
        "doc_id",
        "n_bytes",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("n_bytes") - 1, F.lit(0)), F.lit(every_n_bytes))
        ).alias("frame_offset"),
    )


def _lzw_encode(indices, mcs):
    """GIF-flavor LZW compression of an index stream (variable-width codes
    starting at mcs+1 bits, LSB-first packing, clear/EOI codes, dictionary
    reset at 4096). Width-change timing is the subtle part: the decoder
    adds its matching dictionary entry one code later than the encoder, so
    the encoder widens one entry after the plain-LZW boundary mid-stream
    and re-applies the decoder's rule once at flush (fuzz-verified against
    `_lzw_decode` over dictionary-reset and KwKwK regimes).
    """
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out_bits = []  # (value, width)
    width = mcs + 1
    next_code = eoi + 1
    table = {}
    out_bits.append((clear, width))
    prefix = ()
    for sym in indices:
        cur = prefix + (sym,)
        if len(cur) == 1 or cur in table:
            prefix = cur
            continue
        # emit code for prefix
        code = table[prefix] if len(prefix) > 1 else prefix[0]
        out_bits.append((code, width))
        table[cur] = next_code
        next_code += 1
        # The decoder adds its matching entry one code LATER (it adds after
        # reading the next code), so the encoder widens one entry after the
        # plain-LZW boundary to stay byte-synchronized.
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code >= 4096:
            out_bits.append((clear, width))
            table = {}
            next_code = eoi + 1
            width = mcs + 1
        prefix = (sym,)
    if prefix:
        code = table[prefix] if len(prefix) > 1 else prefix[0]
        out_bits.append((code, width))
        # Reading this final code makes the decoder's table CATCH UP to the
        # encoder's; re-apply the decoder's widen rule before emitting EOI.
        if next_code == (1 << width) and width < 12:
            width += 1
    out_bits.append((eoi, width))
    # pack LSB-first
    buf = bytearray()
    acc = nbits = 0
    for v, w in out_bits:
        acc |= v << nbits
        nbits += w
        while nbits >= 8:
            buf.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        buf.append(acc & 0xFF)
    return bytes(buf)


def _lzw_decode(data, mcs):
    """GIF-flavor LZW decompression (mirror of `_lzw_encode`; also decodes
    real-world files — validated on the published 1×1 GIF vector). Handles
    the KwKwK self-reference case and deferred clears.
    """
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    width = mcs + 1
    table = {i: (i,) for i in range(1 << mcs)}
    next_code = eoi + 1
    out = []
    prev = None
    acc = nbits = pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                return out  # tolerate missing EOI
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = {i: (i,) for i in range(1 << mcs)}
            next_code = eoi + 1
            width = mcs + 1
            prev = None
            continue
        if code == eoi:
            return out
        if prev is None:
            entry = table[code]
        elif code in table:
            entry = table[code]
        elif code == next_code:
            entry = prev + (prev[0],)  # KwKwK
        else:
            raise ValueError(f"bad LZW code {code}")
        out.extend(entry)
        if prev is not None and next_code < 4096:
            table[next_code] = prev + (entry[0],)
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out


def encode_gif(width, height, palette, indices):
    """Minimal GIF87a writer: logical screen descriptor, global color
    table (palette padded to a power of two), one image descriptor, LZW
    image data in ≤255-byte sub-blocks, trailer.
    """
    import struct as _struct

    bits = max(1, (len(palette) - 1).bit_length())
    size = 1 << bits
    pal = list(palette) + [(0, 0, 0)] * (size - len(palette))
    mcs = max(2, bits)
    hdr = b"GIF87a" + _struct.pack("<HH", width, height)
    hdr += _struct.pack("<B", 0x80 | (bits - 1)) + b"\x00\x00"
    hdr += b"".join(_struct.pack("BBB", *c) for c in pal)
    hdr += b"," + _struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
    hdr += _struct.pack("<B", mcs)
    comp = _lzw_encode(indices, mcs)
    for i in range(0, len(comp), 255):
        chunk = comp[i : i + 255]
        hdr += _struct.pack("<B", len(chunk)) + chunk
    hdr += b"\x00;"
    return hdr


def decode_gif(data):
    """REAL stdlib-only GIF decode: header + logical screen descriptor,
    global/local color tables, extension-block skipping, sub-block
    reassembly, and full LZW expansion. Returns (width, height, palette
    as (r, g, b) tuples, pixel index list). With `decode_png` and
    `decode_wav` this completes the lossless trio — only lossy codecs
    (JPEG DCT, MP3) remain behind the pluggable-kernel seam.
    """
    import struct as _struct

    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    w, h = _struct.unpack("<HH", data[6:10])
    flags = data[10]
    pos = 13
    palette = []
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        for i in range(n):
            palette.append(tuple(data[pos + 3 * i : pos + 3 * i + 3]))
        pos += 3 * n
    while pos < len(data):
        b = data[pos]
        if b == 0x21:  # extension: label + sub-blocks
            pos += 2
            while data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif b == 0x2C:
            iw, ih = _struct.unpack("<HH", data[pos + 5 : pos + 9])
            iflags = data[pos + 9]
            pos += 10
            if iflags & 0x80:
                n = 2 << (iflags & 0x07)
                palette = [tuple(data[pos + 3 * i : pos + 3 * i + 3]) for i in range(n)]
                pos += 3 * n
            mcs = data[pos]
            pos += 1
            comp = bytearray()
            while data[pos] != 0:
                ln = data[pos]
                comp += data[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            return (iw, ih, palette, _lzw_decode(bytes(comp), mcs))
        elif b == 0x3B:
            break
        else:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
    raise ValueError("no image data")


if __name__ == "__main__":
    import base64, random
    # published 1x1 transparent GIF
    tiny = base64.b64decode("R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7")
    w, h, pal, idx = decode_gif(tiny)
    assert (w, h) == (1, 1) and idx == [0], (w, h, idx)
    print("known-answer 1x1 ok:", pal[:2])
    rnd = random.Random(7)
    for trial in range(30):
        npal = rnd.choice([2, 4, 8, 16, 256])
        n = rnd.choice([1, 5, 100, 5000, 20000])
        idx0 = [rnd.randrange(npal) for _ in range(n)]
        # also high-repetition streams (dictionary stress + KwKwK)
        if trial % 3 == 0:
            idx0 = ([0] * 50 + [1, 0, 0, 1] * 40) * (n // 100 + 1)
        pal0 = [(i, 255 - i, (i * 7) % 256) for i in range(npal)]
        g = encode_gif(17, 1, pal0, idx0)  # dims not validated vs len here
        w, h, pal1, idx1 = decode_gif(g)
        assert idx1 == idx0, (trial, len(idx0), len(idx1))
    print("fuzz roundtrip ok")


# ---------------------------------------------------------------------------
# AVI (RIFF) container: real video-container parsing without a codec.
# The lossless trio (PNG/GIF/WAV) decodes pixels/samples in-stdlib; video
# pixel decode needs an external codec (the documented pluggable seam), but
# the CONTAINER layer — dimensions, frame count, fps, per-frame byte
# extraction — is pure chunk walking, and that is what a 100 TB frame-
# sampling pipeline actually runs in-cluster: extract the sampled frames'
# bytes here, hand them to the decode kernel elsewhere.
# ---------------------------------------------------------------------------


def encode_avi_mjpeg(
    width: int, height: int, fps: int, frames: list[bytes]
) -> bytes:
    """Minimal valid AVI container holding MJPEG frame blobs ('00dc'
    chunks): RIFF('AVI ' LIST hdrl(avih, LIST strl(strh, strf)),
    LIST movi, idx1). Test-fixture writer; frame bytes pass through
    opaque."""
    import struct

    def chunk(fcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return fcc + struct.pack("<I", len(body)) + body + pad

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    us_per_frame = 1_000_000 // max(fps, 1)
    avih = struct.pack(
        "<14I",
        us_per_frame, 0, 0, 0x10, len(frames), 0, 1, 0,
        width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIIi", 0, 0, 0, 0, 1, fps, 0, len(frames), 0, 0, -1)
        + struct.pack("<4H", 0, 0, width, height)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG", width * height * 3, 0, 0, 0, 0,
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_body = b"".join(chunk(b"00dc", f) for f in frames)
    movi = lst(b"movi", movi_body)
    # idx1: one entry per frame (fcc, flags, offset-into-movi, size)
    idx_entries, off = [], 4
    for f in frames:
        idx_entries.append(b"00dc" + struct.pack("<III", 0x10, off, len(f)))
        off += 8 + len(f) + (len(f) % 2)
    idx1 = chunk(b"idx1", b"".join(idx_entries))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


# Deepest LIST nesting either AVI walk descends into; a crafted container
# can nest a LIST every 12 bytes, so depth must be bounded, not recursive.
# Real files nest 2-3 levels (hdrl > strl, movi > rec).
_AVI_MAX_DEPTH = 64


def decode_avi(data: bytes) -> tuple[int, int, int, int]:
    """Container metadata (width, height, n_frames, fps) from the avih/strh
    headers — no codec involved."""
    import struct

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI (RIFF/'AVI ') container")
    pos = 12
    end = min(8 + struct.unpack("<I", data[4:8])[0], len(data))
    width = height = n_frames = fps = 0

    # Every chunk body is clamped to the real buffer before unpacking, so a
    # truncated or lying container degrades to partial metadata instead of
    # struct.error killing the task (one corrupt blob must not fail a scan).
    # The LIST walk is ITERATIVE (explicit continuation stack, in-file
    # order) with a nesting cap: a crafted container can nest a LIST every
    # 12 bytes, and a recursive walk would raise RecursionError — outside
    # sniff_media's caught set — killing the task despite the
    # degrade-don't-raise contract. Past the cap the LIST body is skipped
    # (malformed → partial metadata).
    stack: list[tuple[int, int]] = []
    while True:
        if pos + 8 > end:
            if not stack:
                break
            pos, end = stack.pop()
            continue
        fcc = data[pos : pos + 4]
        size = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        body = pos + 8
        avail = min(body + size, end)
        nxt = body + size + (size % 2)
        if fcc == b"LIST":
            if len(stack) < _AVI_MAX_DEPTH:
                stack.append((nxt, end))  # resume siblings after the LIST
                pos, end = body + 4, avail  # descend past the 4-byte kind
                continue
        elif fcc == b"avih" and avail - body >= 56:
            vals = struct.unpack("<14I", data[body : body + 56])
            n_frames, width, height = vals[4], vals[8], vals[9]
            if vals[0]:
                fps = round(1_000_000 / vals[0])
        elif (
            fcc == b"strh"
            and data[body : body + 4] == b"vids"
            and avail - body >= 28
        ):
            scale, rate = struct.unpack("<II", data[body + 20 : body + 28])
            if scale:
                fps = rate // scale
        pos = nxt
    return width, height, n_frames, fps


def avi_extract_frames(
    data: bytes, stride: int = 1
) -> list[tuple[int, bytes]]:
    """Every ``stride``-th video frame's raw bytes ('00dc'/'00db' chunks in
    the movi list), as (frame_index, frame_bytes) — the in-cluster half of
    frame sampling; pixel decode of each frame is the pluggable kernel."""
    import struct

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI (RIFF/'AVI ') container")
    out: list[tuple[int, bytes]] = []
    idx = 0
    # Iterative in-order walk with a nesting cap — same RecursionError
    # guard as decode_avi (frame indexing requires in-file order, hence
    # the continuation stack rather than a worklist).
    stack: list[tuple[int, int]] = []
    pos = 12
    end = min(8 + struct.unpack("<I", data[4:8])[0], len(data))
    while True:
        if pos + 8 > end:
            if not stack:
                break
            pos, end = stack.pop()
            continue
        fcc = data[pos : pos + 4]
        size = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        body = pos + 8
        avail = min(body + size, end)
        nxt = body + size + (size % 2)
        if fcc == b"LIST":
            kind = data[body : body + 4]
            if kind in (b"movi", b"rec ") and len(stack) < _AVI_MAX_DEPTH:
                stack.append((nxt, end))
                pos, end = body + 4, avail
                continue
        elif fcc[2:4] in (b"dc", b"db"):
            if idx % stride == 0:
                out.append((idx, data[body:avail]))
            idx += 1
        pos = nxt
    return out


def _degrading(kernel, width: int, errors: tuple):
    """Row function for ``map_rows`` over (passthrough..., data) rows: the
    passthrough cells followed by each of ``kernel(data)``'s tuples. A cell
    the kernel cannot decode (it raises one of ``errors``; ``TypeError`` is
    ``bytes(None)`` on a NULL cell) becomes ONE row of the passthrough cells
    and ``width`` NULLs — the multimodal degrade-don't-raise contract: one
    corrupt or missing blob must not kill a scan task."""

    def row(*cells):
        *keys, data = cells
        try:
            return [(*keys, *out) for out in kernel(data)]
        except errors:
            return [(*keys, *(None,) * width)]

    return row


def _keyed(df: DataFrame, id_col: str, data_col: str) -> DataFrame:
    """(id, data) rows with a non-NULL id: a NULL key has no meaningful
    output row to attach a result or a degrade row to."""
    return df.select(id_col, data_col).filter(F.col(id_col).isNotNull())


def video_frame_sample(
    df: DataFrame,
    stride: int = 2,
    data_col: str = "data",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distributed AVI frame sampling: one-to-many explode of each video
    row into its every-``stride``-th frame — (id, frame_idx, frame_bytes,
    width, height, fps). Arrow-batched ``map_rows`` (container walking
    is per-file imperative byte logic — the legitimate Python boundary);
    partition-parallel across files, so at 100 TB throughput scales with
    file count exactly like the DBC decode path. A NULL or undecodable
    video (not an AVI, or cut inside its header so the walk finds no frame
    dimensions — ``sniff_media``'s "unknown") degrades to one NULL-frame
    row; NULL keys are skipped."""
    schema = (
        f"{id_col} long, frame_idx int, frame_bytes binary, "
        "width int, height int, fps int"
    )

    def kernel(data: bytes) -> list[tuple]:
        data = bytes(data)
        w, h, _n, fps = decode_avi(data)
        if w <= 0 or h <= 0:
            raise ValueError("AVI header walk found no frame dimensions")
        return [
            (idx, fb, w, h, fps) for idx, fb in avi_extract_frames(data, stride=stride)
        ]

    row = _degrading(kernel, 5, (ValueError, TypeError))
    return map_rows(_keyed(df, id_col, data_col), row, schema)


def mjpeg_frame_decode(
    frames: DataFrame,
    frame_col: str = "frame_bytes",
) -> DataFrame:
    """Distributed pixel decode of sampled MJPEG frames: the output of
    ``video_frame_sample`` flows through a second Arrow-batched
    ``map_rows`` that runs the in-repo baseline JPEG decoder
    (``operators/jpeg.py``) per frame and emits per-frame pixel statistics
    (decoded dims/channels, min/max/mean luma) — the feature-extraction
    stage of a video training-data pipeline. Undecodable frames (truncated,
    non-baseline, NULL) degrade to a NULL-stats row instead of failing the
    task, per the multimodal degrade-don't-raise contract.

    Scale: pure per-frame CPU, no shuffle; throughput scales with frame
    count exactly like the container walk that feeds it."""
    import numpy as np

    from etl_lala_spark.operators.jpeg import decode_jpeg

    in_cols = [c for c in frames.columns if c != frame_col]
    passthrough = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                            for f in frames.schema if f.name != frame_col)
    schema = (
        f"{passthrough}, px_width int, px_height int, n_channels int, "
        "px_min int, px_max int, px_mean double"
    )

    def kernel(data: bytes) -> list[tuple]:
        w, h, ch, px = decode_jpeg(bytes(data))
        a = np.frombuffer(px, np.uint8)
        return [(w, h, ch, int(a.min()), int(a.max()), float(a.mean()))]

    row = _degrading(kernel, 6, (ValueError, NotImplementedError, TypeError))
    return map_rows(frames.select(*in_cols, frame_col), row, schema)


def decode_pixels(data: bytes) -> tuple[int, int, int, bytes]:
    """Full pixel decode to (width, height, n_channels, pixels) for the
    formats with in-repo codecs: PNG (``decode_png``), JPEG — baseline or
    progressive — (``operators/jpeg.py``), and GIF (``decode_gif``, palette
    indices materialized to RGB)."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(data)
    if data[:2] == b"\xff\xd8":
        from etl_lala_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        import numpy as np

        w, h, palette, idx = decode_gif(data)
        pal = np.asarray(palette, dtype=np.uint8)
        return w, h, 3, pal[np.asarray(idx, dtype=np.int64)].tobytes()
    raise NotImplementedError("pixel codec for this format unavailable")


def image_resize(
    df: DataFrame,
    out_w: int,
    out_h: int,
    method: str = "nearest",
    data_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distributed image resize — the preprocessing step every vision
    training pipeline runs between decode and feature extraction. Each row's
    encoded image (PNG/JPEG (baseline or progressive)/GIF, in-repo codecs)
    is decoded, resampled
    to (out_w, out_h), and emitted as raw pixels + dims. ``nearest`` uses
    the floor index map src = (dst * in) // out (integer-exact, so an
    oracle can replay it arithmetically); ``bilinear`` uses half-pixel
    centers with edge clamping (reproduces linear gradients exactly on
    downscale — the pytest invariant). Undecodable rows degrade to NULLs.

    Scale: one Arrow-batched ``map_rows`` pass, pure per-value CPU, no
    shuffle; numpy fancy-indexing does the resample, so the Python cost is
    per-image, not per-pixel-in-Python."""
    import numpy as np

    if method not in ("nearest", "bilinear"):
        raise ValueError(f"unknown resize method {method}")
    schema = (
        f"{id_col} long, width int, height int, n_channels int, pixels binary"
    )

    def kernel(data: bytes) -> list[tuple]:
        w, h, ch, px = decode_pixels(bytes(data))
        a = np.frombuffer(px, np.uint8).reshape(h, w, ch)
        if method == "nearest":
            xs = (np.arange(out_w) * w) // out_w
            ys = (np.arange(out_h) * h) // out_h
            r = a[ys[:, None], xs[None, :], :]
        else:
            sx = np.clip((np.arange(out_w) + 0.5) * (w / out_w) - 0.5, 0, w - 1)
            sy = np.clip((np.arange(out_h) + 0.5) * (h / out_h) - 0.5, 0, h - 1)
            x0 = np.floor(sx).astype(int)
            y0 = np.floor(sy).astype(int)
            x1 = np.minimum(x0 + 1, w - 1)
            y1 = np.minimum(y0 + 1, h - 1)
            fx = (sx - x0)[None, :, None]
            fy = (sy - y0)[:, None, None]
            af = a.astype(np.float64)
            top = af[y0[:, None], x0[None, :], :] * (1 - fx) + af[y0[:, None], x1[None, :], :] * fx
            bot = af[y1[:, None], x0[None, :], :] * (1 - fx) + af[y1[:, None], x1[None, :], :] * fx
            r = np.clip(np.round(top * (1 - fy) + bot * fy), 0, 255).astype(np.uint8)
        return [(out_w, out_h, ch, r.tobytes())]

    row = _degrading(kernel, 4, (ValueError, NotImplementedError, TypeError))
    return map_rows(_keyed(df, id_col, data_col), row, schema)


def image_augment(
    df: DataFrame,
    crop: tuple[int, int, int, int] | None = None,
    hflip: bool = False,
    vflip: bool = False,
    data_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distributed image augmentation — the deterministic half of a vision
    training augmentation stage (center/offset crop + axis flips; the
    random-parameter draw belongs to the caller via per-row keys). Each
    row's encoded image (PNG/JPEG/GIF, in-repo codecs) is decoded, cropped
    to the (x, y, w, h) box (clamped to the frame), flipped, and emitted
    as raw pixels + dims. All index arithmetic is integer-exact, so an
    oracle can replay the output pixel sums arithmetically. Undecodable
    rows degrade to NULLs per the multimodal contract.

    Scale: identical to ``image_resize`` — one Arrow-batched ``map_rows``
    pass, numpy slicing per image (no per-pixel Python), no shuffle."""
    import numpy as np

    schema = (
        f"{id_col} long, width int, height int, n_channels int, pixels binary"
    )

    def kernel(data: bytes) -> list[tuple]:
        w, h, ch, px = decode_pixels(bytes(data))
        a = np.frombuffer(px, np.uint8).reshape(h, w, ch)
        if crop is not None:
            cx, cy, cw, chh = crop
            # true box∩frame intersection: a negative origin shrinks the
            # extent instead of sliding the box right/down
            x0, y0 = max(0, cx), max(0, cy)
            x1, y1 = min(w, cx + cw), min(h, cy + chh)
            a = a[y0:y1, x0:x1, :]
            if a.size == 0:
                raise ValueError("crop box outside the frame")
        if hflip:
            a = a[:, ::-1, :]
        if vflip:
            a = a[::-1, :, :]
        return [(a.shape[1], a.shape[0], ch, np.ascontiguousarray(a).tobytes())]

    row = _degrading(kernel, 4, (ValueError, NotImplementedError, TypeError))
    return map_rows(_keyed(df, id_col, data_col), row, schema)


def audio_window_energy(
    df: DataFrame,
    window_samples: int,
    data_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distributed audio feature extraction: decode each row's WAV (in-repo
    16-bit PCM codec), frame the sample stream into fixed-length windows,
    and emit per-window integer statistics — (window_idx, n_samples,
    abs_sum, energy = Σs², peak) — the framing every audio training
    pipeline runs before spectral features, with integer outputs so an
    oracle can replay them exactly. The final (short) window is kept, as
    VAD/segmentation consumers expect. Undecodable rows degrade to a
    single NULL-stats row per the multimodal contract.

    Scale: one Arrow-batched ``map_rows`` pass; numpy does the framing
    (per-file Python cost), one-to-many explode scales with audio hours,
    no shuffle."""
    import numpy as np

    if window_samples <= 0:
        raise ValueError("window_samples must be positive")
    schema = (
        f"{id_col} long, window_idx int, n_samples int, "
        "abs_sum long, energy long, peak int"
    )

    def kernel(data: bytes) -> list[tuple]:
        _rate, _nch, _bits, samples = decode_wav(bytes(data))
        a = np.asarray(samples, dtype=np.int64)
        out = []
        for wi in range(0, max(1, -(-len(a) // window_samples))):
            seg = a[wi * window_samples : (wi + 1) * window_samples]
            out.append(
                (
                    wi,
                    int(len(seg)),
                    int(np.abs(seg).sum()),
                    int((seg * seg).sum()),
                    int(np.abs(seg).max()) if len(seg) else 0,
                )
            )
        return out

    row = _degrading(kernel, 5, (ValueError, IndexError, TypeError))
    return map_rows(_keyed(df, id_col, data_col), row, schema)


def audio_window_spectral(
    df: DataFrame,
    window_samples: int,
    data_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """Windowed spectral features at the three integer-exact DFT bins —
    the decode → frame → featurize shape a multimodal training pipeline
    runs after :func:`audio_window_energy`'s framing. For window length N
    (N % 4 == 0) the DFT basis at k = 0 (DC), k = N/4 (quarter band), and
    k = N/2 (Nyquist) takes only values in {-1, 0, 1}:

        X_0      = Σ s[n]
        X_{N/4}  = Σ s[n]·cos(πn/2) − j·Σ s[n]·sin(πn/2)
                 = (Σ_{n%4=0} s − Σ_{n%4=2} s) − j·(Σ_{n%4=1} s − Σ_{n%4=3} s)
        X_{N/2}  = Σ (−1)^n · s[n]

    so the components — and the bin powers |X|² — are exact integers an
    oracle replays arithmetically (same trick as the energy features). The
    short tail window keeps the SAME basis (indexed by in-window n) over
    the samples present. NULL media degrades to a NULL-stats row; NULL
    keys are skipped.

    Scale: one Arrow-batched ``map_rows`` pass, numpy per-window sums
    (per-file Python cost), one-to-many explode, no shuffle — identical
    plan shape to the framing stage it follows."""
    import numpy as np

    if window_samples <= 0 or window_samples % 4:
        raise ValueError("window_samples must be a positive multiple of 4")
    schema = (
        f"{id_col} long, window_idx int, n_samples int, "
        "dc_re long, quarter_re long, quarter_im long, nyquist_re long, "
        "dc_power long, quarter_power long, nyquist_power long"
    )

    def kernel(data: bytes) -> list[tuple]:
        _rate, _nch, _bits, samples = decode_wav(bytes(data))
        a = np.asarray(samples, dtype=np.int64)
        out = []
        for wi in range(0, max(1, -(-len(a) // window_samples))):
            seg = a[wi * window_samples : (wi + 1) * window_samples]
            n = np.arange(len(seg))
            m4 = n % 4
            dc = int(seg.sum())
            ny = int(((1 - 2 * (n % 2)) * seg).sum())
            q_re = int(seg[m4 == 0].sum() - seg[m4 == 2].sum())
            q_im = int(seg[m4 == 3].sum() - seg[m4 == 1].sum())
            out.append(
                (
                    wi, int(len(seg)),
                    dc, q_re, q_im, ny,
                    dc * dc, q_re * q_re + q_im * q_im, ny * ny,
                )
            )
        return out

    row = _degrading(kernel, 9, (ValueError, IndexError, TypeError))
    return map_rows(_keyed(df, id_col, data_col), row, schema)
