"""WARC / Common Crawl ingestion (the web-pipeline ingestion stage).

The reference's only archive stage expands ZIPs into member rows (S6
``extrairDbcDoZip``, src/datasus/datasus.service.ts:390-413); this module is
the same one-to-many ``mapInPandas`` shape at the web layer: WARC files
(ISO 28500 — the container format Common Crawl publishes) expand into one
row per record, with HTTP response records' header/payload separated so the
payload can feed the existing HTML main-content extraction → line-dedup
chain (``operators/text.py``).

Format notes (public spec, ISO 28500 / WARC 1.1):

- A WARC file is a sequence of records; Common Crawl gzips each record as
  its OWN gzip member so a reader can split the compressed stream on member
  boundaries and seek straight to a record. Members are found by
  decompressing with ``zlib`` wbits=31 and reading ``unused_data`` — no
  magic-byte scanning (gzip magic bytes can occur inside compressed data).
- Each record: ``WARC/1.x CRLF``, named headers (case-insensitive) up to a
  blank line, ``Content-Length`` bytes of block, then CRLF CRLF.
- A *response* record's block is an HTTP/1.x message: status line, headers,
  blank line, body. The body — not the HTTP envelope — is what downstream
  text extraction wants.

Scale: ``binaryFile`` scans the .warc.gz collection as a DataFrame (one row
per file, content read lazily per task) and expansion is an Arrow-batched
one-to-many ``mapInPandas`` — per-file parallelism with no driver
involvement, the identical 100 TB shape as ``sources/archive.py:36``.
Common Crawl segments are ~1 GB gzipped; one file per task bounds memory at
one decompressed record set, and the engine's memory manager does the rest
(the reference's /tmp-spill queue, S7, is n/a by design here too).
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

WARC_RECORD_SCHEMA = (
    "file string, record_index int, member_offset bigint, member_bytes bigint,"
    " warc_type string, target_uri string, record_id string, warc_date string,"
    " content_length bigint, http_status int, http_content_type string,"
    " http_headers string, payload binary, n_payload_bytes bigint"
)


_GZIP_CHUNK = 64 * 1024


def _iter_gzip_members(blob: bytes):
    """Yield (compressed_offset, compressed_len, decompressed_bytes) per gzip
    member. Member boundaries come from the decompressor's ``unused_data``
    (the spec-true split); a member that ends mid-stream (truncated upload)
    raises ``ValueError`` carrying the offset so permissive mode can emit a
    structured error row for it. The decompressor is fed ``_GZIP_CHUNK``
    views, so no member copies the rest of the file: linear in its size."""
    view = memoryview(blob)
    pos, total = 0, len(blob)
    while pos < total:
        d = zlib.decompressobj(31)
        parts, end = [], pos
        try:
            while not d.eof and end < total:
                chunk = view[end : end + _GZIP_CHUNK]
                parts.append(d.decompress(chunk))
                end += len(chunk) - len(d.unused_data)
        except zlib.error as exc:
            raise ValueError(f"bad gzip member at offset {pos}: {exc}") from exc
        if not d.eof:
            raise ValueError(f"truncated gzip member at offset {pos}")
        yield pos, end - pos, b"".join(parts)
        pos = end


def _parse_headers(block: bytes) -> tuple[dict[str, str], str]:
    """(lower-cased header map, raw header text) of one header block.
    Line endings are universal (splitlines): real crawls contain bare-LF
    responses, and a CRLF-only split would collapse their headers into one
    value."""
    text = block.decode("latin-1")
    headers: dict[str, str] = {}
    for line in text.splitlines():
        if ":" in line:
            k, v = line.split(":", 1)
            headers[k.strip().lower()] = v.strip()
    return headers, text


def _find_blank_line(block: bytes) -> tuple[int, int]:
    """(offset, separator length) of the first blank line — CRLF CRLF per
    spec, bare LF LF tolerated (both occur in crawled HTTP) — or (-1, 0)."""
    i_crlf = block.find(b"\r\n\r\n")
    i_lf = block.find(b"\n\n")
    if i_crlf < 0 and i_lf < 0:
        return -1, 0
    if i_crlf >= 0 and (i_lf < 0 or i_crlf <= i_lf):
        return i_crlf, 4
    return i_lf, 2


def _dechunk(body: bytes) -> bytes:
    """Reassemble a Transfer-Encoding: chunked body (hex size line, chunk
    bytes, CRLF; terminated by a 0 chunk). Raises ValueError on broken
    framing — at the web layer a mis-framed body must become an error row,
    not silently pass chunk-size lines off as page text."""
    out = bytearray()
    pos = 0
    while True:
        nl = body.find(b"\n", pos)
        if nl < 0:
            raise ValueError("chunked body: missing size line")
        size_field = body[pos:nl].strip().split(b";")[0]
        try:
            size = int(size_field, 16)
        except ValueError as exc:
            raise ValueError(
                f"chunked body: bad size line {size_field[:16]!r}"
            ) from exc
        pos = nl + 1
        if size == 0:
            return bytes(out)  # trailers, if any, are ignored
        if pos + size > len(body):
            raise ValueError("chunked body: chunk overruns buffer")
        out += body[pos : pos + size]
        pos += size
        if body[pos : pos + 2] == b"\r\n":
            pos += 2
        elif body[pos : pos + 1] == b"\n":
            pos += 1


def _decode_body(headers: dict[str, str], body: bytes) -> bytes:
    """Undo the HTTP wire encodings a crawled response carries: chunked
    transfer framing first, then gzip/deflate content coding — otherwise
    chunk-size hex lines or compressed bytes flow into the text pipeline
    as 'content'. Unknown codings raise (→ structured error row under
    permissive mode)."""
    te = headers.get("transfer-encoding", "").lower()
    if "chunked" in te:
        body = _dechunk(body)
    ce = headers.get("content-encoding", "").lower().strip()
    if ce in ("", "identity"):
        return body
    if ce in ("gzip", "x-gzip"):
        return zlib.decompress(body, 31)
    if ce == "deflate":
        try:
            return zlib.decompress(body)  # zlib-wrapped (the spec form)
        except zlib.error:
            return zlib.decompress(body, -15)  # raw deflate (common bug)
    raise ValueError(f"unsupported Content-Encoding: {ce}")


def _parse_warc_records(buf: bytes, base_offset: int, member_bytes: int):
    """Yield one dict per WARC record in a decompressed buffer (a Common
    Crawl member holds one record; a plain concatenated .warc holds many).
    Raises ``ValueError`` on a malformed version line or a Content-Length
    that overruns the buffer (truncated record)."""
    pos, total = 0, len(buf)
    while pos < total:
        # tolerate inter-record padding: spec mandates exactly CRLF CRLF,
        # but real crawls occasionally pad with extra newlines
        while pos < total and buf[pos : pos + 2] in (b"\r\n", b"\n\n"):
            pos += 2
        while pos < total and buf[pos : pos + 1] == b"\n":
            pos += 1
        if pos >= total:
            return
        head_end = buf.find(b"\r\n\r\n", pos)
        if head_end < 0:
            raise ValueError(f"unterminated WARC header at record offset {pos}")
        head = buf[pos:head_end]
        first, _, rest = head.partition(b"\r\n")
        if not first.startswith(b"WARC/"):
            raise ValueError(
                f"bad WARC version line {first[:20]!r} at record offset {pos}"
            )
        headers, _raw = _parse_headers(rest)
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError) as exc:
            raise ValueError(f"missing/bad Content-Length at {pos}") from exc
        body_start = head_end + 4
        if body_start + length > total:
            raise ValueError(
                f"record block overruns buffer at {pos}"
                f" (declares {length} bytes)"
            )
        yield {
            "member_offset": base_offset,
            "member_bytes": member_bytes,
            "warc_type": headers.get("warc-type"),
            "target_uri": headers.get("warc-target-uri"),
            "record_id": headers.get("warc-record-id"),
            "warc_date": headers.get("warc-date"),
            "content_length": length,
            "block": buf[body_start : body_start + length],
        }
        pos = body_start + length


def _split_http_response(block: bytes):
    """(status, content_type, raw header text, decoded body) of an HTTP/1.x
    response block; (None, None, None, block) when the block isn't an HTTP
    message (non-response records pass through whole). Line endings are
    CRLF per spec with bare-LF tolerated (real crawls contain both); the
    body is wire-decoded (chunked / gzip / deflate — ``_decode_body``),
    which may raise ValueError on broken framing."""
    if not block.startswith(b"HTTP/"):
        return None, None, None, block
    head_end, sep = _find_blank_line(block)
    if head_end < 0:
        return None, None, None, block
    head = block[:head_end]
    status_line, _, header_rest = head.replace(b"\r\n", b"\n").partition(b"\n")
    parts = status_line.split(None, 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        return None, None, None, block
    headers, raw = _parse_headers(header_rest)
    body = _decode_body(headers, block[head_end + sep :])
    return status, headers.get("content-type"), raw, body


def warc_record_bytes(
    warc_type: str,
    block: bytes,
    target_uri: str | None = None,
    record_id: str | None = None,
    warc_date: str | None = None,
) -> bytes:
    """Serialize one spec-shaped WARC record (version line, headers,
    Content-Length'd block, CRLF CRLF trailer) — the writer half used by
    gates/tests to construct deterministic crawl fixtures."""
    lines = [b"WARC/1.0", b"WARC-Type: " + warc_type.encode()]
    if target_uri:
        lines.append(b"WARC-Target-URI: " + target_uri.encode())
    if record_id:
        lines.append(b"WARC-Record-ID: " + record_id.encode())
    if warc_date:
        lines.append(b"WARC-Date: " + warc_date.encode())
    lines.append(b"Content-Length: " + str(len(block)).encode())
    return b"\r\n".join(lines) + b"\r\n\r\n" + block + b"\r\n\r\n"


def warc_file_bytes(members: list[bytes]) -> bytes:
    """Serialize a ``.warc.gz`` file: each record gzipped as its OWN member
    (the Common Crawl layout), members concatenated — the inverse of
    ``_iter_gzip_members``; the writer half used by gates/tests to build
    crawl fixtures (level 1: fixtures favor speed over size)."""
    import gzip

    return b"".join(gzip.compress(m, compresslevel=1) for m in members)


def http_response_bytes(
    status: int,
    body: bytes,
    content_type: str = "text/html",
    reason: str | None = None,
    extra_headers: dict[str, str] | None = None,
) -> bytes:
    """Serialize an HTTP/1.1 response block (status line, Content-Type /
    Content-Length headers, optional extra headers such as Location,
    body) for a WARC *response* record fixture."""
    reasons = {200: "OK", 404: "Not Found", 503: "Service Unavailable"}
    line = f"HTTP/1.1 {status} {reason or reasons.get(status, 'X')}"
    extras = "".join(
        f"{k}: {v}\r\n" for k, v in (extra_headers or {}).items()
    )
    head = (
        f"{line}\r\nContent-Type: {content_type}\r\n"
        f"{extras}Content-Length: {len(body)}\r\n\r\n"
    )
    return head.encode() + body


def extract_warc_records(
    warcs: DataFrame,
    types: tuple[str, ...] | None = ("response",),
    max_payload_bytes: int | None = None,
    permissive: bool = False,
) -> DataFrame:
    """Expand WARC files into one row per record. Input: a ``binaryFile``
    frame (``path``, ``content``). Output: ``WARC_RECORD_SCHEMA`` — for
    *response* records the HTTP envelope is split off (``http_status`` /
    ``http_content_type`` / ``http_headers``) and ``payload`` is the HTTP
    body; other record types carry their whole block as the payload.
    ``record_index`` is the record's ordinal among ALL records in the file
    (counted before the ``types`` filter), so a reader can reconstruct
    request/response adjacency after filtering.

    ``types`` keeps only the named WARC-Types (``None`` keeps all) — the
    usual crawl pipeline wants only ``response``. ``max_payload_bytes``
    bounds the DECLARED Content-Length before the block is sliced (the
    web-layer analog of the archive cap at ``sources/archive.py:36``).
    ``permissive=True`` adds an ``_error`` column and turns truncated gzip
    members, malformed records, and over-cap blocks into structured error
    rows instead of task failures (R5, same convention as the DBC/NDJSON/
    archive sources); good rows carry NULL there.
    """
    schema = WARC_RECORD_SCHEMA + (", _error string" if permissive else "")
    keep = set(types) if types is not None else None

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.split(" ")[0] for f in schema.split(", ")]
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in cols}

            def emit(path, idx=None, rec=None, err=None, **http):
                row = dict.fromkeys(cols)
                row["file"] = path
                row["record_index"] = idx
                if rec is not None:
                    row.update(
                        member_offset=rec["member_offset"],
                        member_bytes=rec["member_bytes"],
                        warc_type=rec["warc_type"],
                        target_uri=rec["target_uri"],
                        record_id=rec["record_id"],
                        warc_date=rec["warc_date"],
                        content_length=rec["content_length"],
                    )
                row.update(http)
                row["n_payload_bytes"] = (
                    len(row["payload"]) if row["payload"] is not None else 0
                )
                if permissive:
                    row["_error"] = err
                for c in cols:
                    out[c].append(row[c])

            for path, blob in zip(pdf["path"], pdf["content"]):
                blob = bytes(blob)
                try:
                    if blob[:2] == b"\x1f\x8b":
                        members = _iter_gzip_members(blob)
                    else:  # plain concatenated .warc
                        members = iter([(0, len(blob), blob)])
                    idx = 0
                    for off, clen, data in members:
                        for rec in _parse_warc_records(data, off, clen):
                            i, cl = idx, rec["content_length"]
                            idx += 1
                            if keep is not None and rec["warc_type"] not in keep:
                                continue
                            if (
                                max_payload_bytes is not None
                                and cl > max_payload_bytes
                            ):
                                msg = (
                                    f"record {i} declares {cl} bytes > cap"
                                    f" {max_payload_bytes}"
                                )
                                if not permissive:
                                    raise ValueError(f"{path}: {msg}")
                                emit(
                                    path, i, rec, err=f"ValueError: {msg}",
                                    payload=None,
                                )
                                continue
                            # body wire-decode failures are PER-RECORD: one
                            # mis-framed chunked body must become one error
                            # row, never abort the file's remaining records
                            try:
                                status, ctype, hraw, body = (
                                    _split_http_response(rec["block"])
                                )
                            except (ValueError, zlib.error) as exc:
                                if not permissive:
                                    raise
                                emit(
                                    path, i, rec, payload=None,
                                    err=f"{type(exc).__name__}: {exc}"[:500],
                                )
                                continue
                            emit(
                                path, i, rec,
                                http_status=status,
                                http_content_type=ctype,
                                http_headers=hraw,
                                payload=body,
                            )
                except Exception as exc:  # noqa: BLE001 — per-file boundary
                    if not permissive:
                        raise
                    emit(path, err=f"{type(exc).__name__}: {exc}"[:500])
            yield pd.DataFrame(out)

    return warcs.select("path", "content").mapInPandas(expand, schema)
