"""Pure-Python PKWare DCL "implode" codec for DATASUS ``.dbc`` files.

The reference ships ``.dbc`` members to an external converter that runs
``dbc2dbf`` (OTIMIZACAO_API_PYTHON.md:190-207); that tool — and every public
DATASUS reader — decompresses the record section with the PKWare Data
Compression Library "implode" format. This module reimplements the decoder
from the public-domain format description (zlib ``contrib/blast`` by Mark
Adler documents the bit-level layout: LSB-first bit stream, a literal/pair
flag bit, canonical Huffman tables stored as nibble-packed run lengths with
inverted code bits, length codes with base+extra tables where decoded length
519 terminates the stream, and a 4/5/6-bit dictionary).

No third-party codec is required. The engine's one DBC reader
(``dbc.read_dbc``) runs a JVM port of :func:`decompress`
(``jvm/DbcCodec.java``); this module is the reference that port is tested
against byte for byte, and the fixture encoder.

The encoder side below emits *literal-only* streams (valid implode output
that never uses matches) — enough to build round-trip test fixtures; the
decoder of course handles matches, verified against the format's published
known-answer vector (``00 04 82 24 25 8f 80 7f`` → ``AIAIAIAIAIAIA``).
"""

from __future__ import annotations

MAXBITS = 13

# Nibble-packed code-length tables from the format spec: high nibble =
# repeat-1, low nibble = code length in bits.
_LITLEN = bytes(
    [
        11, 124, 8, 7, 28, 7, 188, 13, 76, 4, 10, 8, 12, 10, 12, 10, 8, 23, 8,
        9, 7, 6, 7, 8, 7, 6, 55, 8, 23, 24, 12, 11, 7, 9, 11, 12, 6, 7, 22, 5,
        7, 24, 6, 11, 9, 6, 7, 22, 7, 11, 38, 7, 9, 8, 25, 11, 8, 11, 9, 12,
        8, 12, 5, 38, 5, 38, 5, 11, 7, 5, 6, 21, 6, 10, 53, 8, 7, 24, 10, 27,
        44, 253, 253, 253, 252, 252, 252, 13, 12, 45, 12, 45, 12, 61, 12, 45,
        44, 173,
    ]
)
_LENLEN = bytes([2, 35, 36, 53, 38, 23])
_DISTLEN = bytes([2, 20, 53, 230, 247, 151, 248])

_LEN_BASE = (3, 2, 4, 5, 6, 7, 8, 9, 10, 12, 16, 24, 40, 72, 136, 264)
_LEN_EXTRA = (0, 0, 0, 0, 0, 0, 0, 0, 1, 2, 3, 4, 5, 6, 7, 8)

_END_LENGTH = 519  # decoded length value that terminates the stream


def _expand(compact: bytes) -> list[int]:
    lengths: list[int] = []
    for b in compact:
        lengths.extend([b & 15] * ((b >> 4) + 1))
    return lengths


class _Huffman:
    """Canonical Huffman table: count of codes per length + symbols sorted
    by (length, symbol value) — the layout the bit-at-a-time decode walks."""

    __slots__ = ("count", "symbol")

    def __init__(self, compact: bytes) -> None:
        lengths = _expand(compact)
        self.count = [0] * (MAXBITS + 1)
        for ln in lengths:
            self.count[ln] += 1
        offs = [0] * (MAXBITS + 2)
        for ln in range(1, MAXBITS + 1):
            offs[ln + 1] = offs[ln] + self.count[ln]
        self.symbol = [0] * sum(self.count[1:])
        for sym, ln in enumerate(lengths):
            if ln:
                self.symbol[offs[ln]] = sym
                offs[ln] += 1


_LITCODE = _Huffman(_LITLEN)
_LENCODE = _Huffman(_LENLEN)
_DISTCODE = _Huffman(_DISTLEN)


def _decode_table(h: _Huffman) -> list:
    """MAXBITS-wide lookup: LSB-first (inverted-bit) peek → (symbol, length).

    Built by running the canonical first/count automaton once per prefix;
    entries whose prefix matches no code are None (corrupt stream). Turns
    the per-symbol bit walk into one mask + one list index at decode time.
    """
    tbl: list = [None] * (1 << MAXBITS)
    for seq in range(1 << MAXBITS):
        code = first = index = 0
        for ln in range(1, MAXBITS + 1):
            code |= ((seq >> (ln - 1)) & 1) ^ 1  # stream stores bits inverted
            cnt = h.count[ln]
            if code - first < cnt:
                tbl[seq] = (h.symbol[index + (code - first)], ln)
                break
            index += cnt
            first = (first + cnt) << 1
            code <<= 1
    return tbl


_LIT_TABLE = _decode_table(_LITCODE)
_LEN_TABLE = _decode_table(_LENCODE)
_DIST_TABLE = _decode_table(_DISTCODE)


def _canonical_codes(table: _Huffman) -> dict[int, tuple[int, int]]:
    """symbol -> (MSB-first canonical code, bit length), matching the
    first/count walk of the decoder."""
    codes: dict[int, tuple[int, int]] = {}
    first = 0
    index = 0
    for ln in range(1, MAXBITS + 1):
        cnt = table.count[ln]
        for i in range(cnt):
            codes[table.symbol[index + i]] = (first + i, ln)
        index += cnt
        first = (first + cnt) << 1
    return codes


class CorruptError(ValueError):
    pass


def decompress(data: bytes, max_output: int | None = None) -> bytes:
    """Decompress a PKWare-imploded stream.

    Header: byte 0 = literal coding flag (0 uncoded / 1 Huffman-coded),
    byte 1 = log2(dictionary size) - 6 (must be 4, 5, or 6). Then an
    LSB-first bit stream of flag-prefixed literals and length/distance
    pairs; code bits are stored inverted.
    """
    if len(data) < 2:
        raise CorruptError("input too short for implode header")
    coded_literals = data[0]
    dict_bits = data[1]
    if coded_literals > 1:
        raise CorruptError(f"bad literal flag {coded_literals}")
    if not 4 <= dict_bits <= 6:
        raise CorruptError(f"bad dictionary size {dict_bits}")

    pos = 2
    bitbuf = 0
    bitcnt = 0
    out = bytearray()
    n = len(data)

    def bits(need: int) -> int:
        nonlocal pos, bitbuf, bitcnt
        while bitcnt < need:
            if pos >= n:
                raise CorruptError("ran out of input")
            bitbuf |= data[pos] << bitcnt
            pos += 1
            bitcnt += 8
        val = bitbuf & ((1 << need) - 1)
        bitbuf >>= need
        bitcnt -= need
        return val

    def decode_slow(h: _Huffman) -> int:
        nonlocal pos, bitbuf, bitcnt
        code = first = index = 0
        for ln in range(1, MAXBITS + 1):
            if bitcnt == 0:
                if pos >= n:
                    raise CorruptError("ran out of input in code")
                bitbuf = data[pos]
                pos += 1
                bitcnt = 8
            code |= (bitbuf & 1) ^ 1  # stored inverted
            bitbuf >>= 1
            bitcnt -= 1
            cnt = h.count[ln]
            if code - first < cnt:
                return h.symbol[index + (code - first)]
            index += cnt
            first = (first + cnt) << 1
            code <<= 1
        raise CorruptError("code longer than max bits")

    mask = (1 << MAXBITS) - 1
    len_tbl, dist_tbl, lit_tbl = _LEN_TABLE, _DIST_TABLE, _LIT_TABLE

    def decode(tbl, h: _Huffman) -> int:
        # Table decode: peek MAXBITS, one dict lookup, consume. Falls back
        # to the bit-walking automaton only near end-of-input.
        nonlocal pos, bitbuf, bitcnt
        while bitcnt < MAXBITS and pos < n:
            bitbuf |= data[pos] << bitcnt
            pos += 1
            bitcnt += 8
        if bitcnt < MAXBITS:
            return decode_slow(h)
        entry = tbl[bitbuf & mask]
        if entry is None:
            raise CorruptError("invalid code")
        sym, ln = entry
        bitbuf >>= ln
        bitcnt -= ln
        return sym

    while True:
        # Inlined refill + fast burst for uncoded literals (flag bit 0,
        # then 8 raw bits) — the dominant token in DATASUS payloads.
        while bitcnt < 25 and pos < n:
            bitbuf |= data[pos] << bitcnt
            pos += 1
            bitcnt += 8
        if not coded_literals:
            while bitcnt >= 9 and not (bitbuf & 1):
                out.append((bitbuf >> 1) & 0xFF)
                bitbuf >>= 9
                bitcnt -= 9
                if bitcnt < 9:
                    while bitcnt < 25 and pos < n:
                        bitbuf |= data[pos] << bitcnt
                        pos += 1
                        bitcnt += 8
            if max_output is not None and len(out) > max_output:
                raise CorruptError("output exceeds declared size")
        if bits(1):  # length/distance pair
            sym = decode(len_tbl, _LENCODE)
            length = _LEN_BASE[sym] + bits(_LEN_EXTRA[sym])
            if length == _END_LENGTH:
                break
            nbits = 2 if length == 2 else dict_bits
            dist = (decode(dist_tbl, _DISTCODE) << nbits) + bits(nbits) + 1
            if dist > len(out):
                raise CorruptError(f"distance {dist} beyond output {len(out)}")
            start = len(out) - dist
            if dist >= length:
                out += out[start : start + length]
            else:
                # Overlapping copy: repeat the dist-sized tail.
                out += (out[start:] * (length // dist + 1))[:length]
        else:
            out.append(decode(lit_tbl, _LITCODE) if coded_literals else bits(8))
        if max_output is not None and len(out) > max_output:
            raise CorruptError("output exceeds declared size")
    return bytes(out)


def compress_literal(data: bytes, dict_bits: int = 4) -> bytes:
    """Produce a valid implode stream using only uncoded literals (no
    matches) — the fixture-generator inverse of :func:`decompress`."""
    if not 4 <= dict_bits <= 6:
        raise ValueError("dict_bits must be 4..6")
    out = bytearray([0, dict_bits])
    bitbuf = 0
    bitcnt = 0

    def put(val: int, nbits: int) -> None:  # LSB-first
        nonlocal bitbuf, bitcnt
        bitbuf |= val << bitcnt
        bitcnt += nbits
        while bitcnt >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            bitcnt -= 8

    def put_code(code: int, ln: int) -> None:  # MSB-first, inverted bits
        for i in range(ln - 1, -1, -1):
            put(((code >> i) & 1) ^ 1, 1)

    # Each literal is a fixed 9-bit group (flag 0 + byte LSB-first), so a
    # 1024-byte chunk is 9216 bits = exactly 1152 bytes: full chunks stay
    # byte-aligned and pack via big-int shifts instead of per-bit closure
    # calls — ~15× faster encode, identical stream.
    CHUNK = 1024
    full = len(data) - (len(data) % CHUNK)
    for start in range(0, full, CHUNK):
        acc = 0
        shift = 1
        for b in data[start : start + CHUNK]:
            acc |= b << shift
            shift += 9
        out += acc.to_bytes(CHUNK * 9 // 8, "little")
    for b in data[full:]:
        put(0, 1)  # literal flag
        put(b, 8)

    put(1, 1)  # pair flag: end-of-stream length code
    end_code, end_len = _canonical_codes(_LENCODE)[15]  # base 264 + 7 extra
    put_code(end_code, end_len)
    put(_END_LENGTH - _LEN_BASE[15], _LEN_EXTRA[15])
    if bitcnt:
        out.append(bitbuf & 0xFF)
    return bytes(out)
