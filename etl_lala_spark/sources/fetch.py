"""In-engine fetch-to-staging (reference S5 + R2/R5).

The reference downloads each month's archive over HTTP into memory with a
500 MB cap, retries with backoff, and spills to /tmp before extraction
(src/datasus/datasus.service.ts:251-275; queue/backoff R2). Spark-first:
the download manifest IS a DataFrame, and :func:`fetch_to_staging` runs
executor-side as a Java UDF of the package's JVM codec under ``inline`` —
one task per manifest partition and no Python worker, so a 10k-file
catalog fetches with cluster parallelism and no driver byte ever moves.
The staging directory is shared storage (NFS/object store via local
mount); downstream reads go through ``read_binary_files`` →
``extract_archive_members`` → ``read_dbc``, completing the ingest chain
without leaving the JVM.

Semantics carried over from the reference:
- size cap (default 500 MB): oversized bodies become structured error rows,
  never OOM (reference's in-memory cap). The body streams to disk in 1 MiB
  chunks with a running byte count, so task memory stays chunk-sized no
  matter the cap, and the download aborts the moment the cap is crossed —
  it does not finish pulling an oversized body just to reject it. Cap
  violations are NON-retryable (a too-big body is permanent; retrying it
  would re-download up to ``retries``×cap bytes for the same verdict);
- retry with exponential backoff per URL (R2), attempts recorded;
- idempotent re-run: a file already staged with bytes on disk is skipped
  (status ``skipped``), so replaying a manifest is a no-op — same contract
  as the competência skip-list in ``sinks/writer.load_incremental``;
- structured error payloads (R5): failures are (status, error) COLUMNS, not
  exceptions — one bad URL cannot kill a 10k-file job.

``file://`` URLs take the same path, so the unit tests exercise it with
zero network. :func:`fetch_ranges` and :func:`fetch_conditional` (the
web-crawl reads) stay executor-side ``mapInPandas`` over ``urllib``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from etl_lala_spark.sources._jvm import codec


class _CapExceeded(ValueError):
    """Body crossed ``max_bytes`` mid-stream: permanent, never retried.
    Reported under the ValueError name (the documented error class for the
    cap) so the structured-error contract is subclass-invisible."""


def fetch_to_staging(
    manifest: DataFrame,
    staging_dir: str,
    url_col: str = "url",
    name_col: str | None = None,
    max_bytes: int = 500 * 1024 * 1024,
    retries: int = 2,
    backoff_s: float = 0.5,
) -> DataFrame:
    """Fetch every URL in ``manifest`` into ``staging_dir``, executor-side in
    the JVM codec's ``Fetch`` UDF (:mod:`etl_lala_spark.sources._jvm`).

    Returns one row per manifest entry: (url, dest, n_bytes, status,
    attempts, error) with status in {ok, skipped, error}. Destination name
    defaults to the URL basename; pass ``name_col`` to control it (e.g. the
    parsed DATASUS filename). Control fetch concurrency by partitioning the
    manifest (``manifest.repartition(n)`` → n concurrent fetch tasks).

    Error classes are urllib's: ``HTTPError`` for a status outside 2xx,
    ``URLError`` for a failure to open (missing file, refused connection,
    unknown host or scheme), ``ValueError`` for the cap. Unlike urllib, a
    redirect is followed only within one protocol, and proxies come from
    the JVM's system properties, not from ``http_proxy``.
    """
    spark = manifest.sparkSession
    jdf = codec(spark).fetch(
        manifest._jdf, url_col, name_col, staging_dir,
        int(max_bytes), int(retries), float(backoff_s),
    )
    return DataFrame(jdf, spark)


RANGE_FETCH_SCHEMA = (
    "url string, offset long, length long, content binary,"
    " fetch_status int, status string, attempts int, error string"
)


def fetch_ranges(
    plan: DataFrame,
    url_col: str = "url",
    offset_col: str = "offset",
    length_col: str = "length",
    max_bytes: int = 64 * 1024 * 1024,
    retries: int = 2,
    backoff_s: float = 0.5,
) -> DataFrame:
    """Ranged HTTP fetch — one ``Range: bytes=o..o+n-1`` request per
    (url, offset, length) work unit. This is the CDX index-first read
    path (``operators/web.py:cdx_fetch_plan`` / ``select_captures``):
    each selected capture is one gzip member's byte range inside a WARC
    file, so pulling selected content out of a 100 TB crawl moves
    ``Σ length`` bytes — never whole files. Semantics:

    - a ``206 Partial Content`` body is the range, verbatim;
    - a ``200`` from a server without range support degrades correctly:
      the bytes before ``offset`` are discarded while streaming (fixed
      read buffer, nothing accumulated), then exactly ``length`` bytes
      are kept — the cap governs the RANGE LENGTH only, so deep offsets
      inside ~1 GB WARCs stay fetchable from range-less servers
      (``fetch_status`` records which path served the bytes);
    - a range longer than ``max_bytes`` is a permanent error row (no
      request made); a body shorter than the requested range is
      ``short_range`` (a corrupt index must surface, not truncate
      silently);
    - HTTP/network failures retry with backoff and land as structured
      error rows (R5) — one dead URL cannot kill a 10k-range job.

    Executor-side ``mapInPandas``, one task per plan partition; output
    keeps (url, offset, length) so callers join results back to their
    selection at key grain."""

    def fetch_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time
        import urllib.request

        for pdf in batches:
            out: dict[str, list] = {
                k: []
                for k in (
                    "url", "offset", "length", "content", "fetch_status",
                    "status", "attempts", "error",
                )
            }
            for url, off, ln in zip(
                pdf[url_col], pdf[offset_col], pdf[length_col]
            ):
                off, ln = int(off), int(ln)
                row = dict(url=url, offset=off, length=ln, content=None,
                           fetch_status=None, status="error", attempts=0,
                           error=None)
                if ln > max_bytes:
                    row["error"] = f"ValueError: range exceeds max_bytes={max_bytes}"
                else:
                    for attempt in range(1, retries + 2):
                        row["attempts"] = attempt
                        try:
                            req = urllib.request.Request(
                                url,
                                headers={"Range": f"bytes={off}-{off + ln - 1}"},
                            )
                            with urllib.request.urlopen(req) as resp:
                                code = int(resp.status)
                                if code == 206:
                                    body = resp.read(ln + 1)
                                else:
                                    # no range support: discard the bytes
                                    # before offset while streaming (fixed
                                    # read buffer, nothing accumulated) —
                                    # the cap bounds the range length only,
                                    # so a deep offset is not an error
                                    to_skip = off
                                    while to_skip > 0:
                                        chunk = resp.read(min(1 << 20, to_skip))
                                        if not chunk:
                                            break
                                        to_skip -= len(chunk)
                                    body = b""
                                    while to_skip == 0 and len(body) < ln:
                                        chunk = resp.read(
                                            min(1 << 20, ln - len(body))
                                        )
                                        if not chunk:
                                            break
                                        body += chunk
                            if len(body) != ln:
                                row.update(
                                    fetch_status=code,
                                    error=f"short_range: got {len(body)} of {ln}",
                                )
                                break  # the file will not grow on retry
                            row.update(content=bytes(body), fetch_status=code,
                                       status="ok", error=None)
                            break
                        except Exception as exc:  # noqa: BLE001 — R5 contract
                            cls = (
                                "ValueError"
                                if isinstance(exc, _CapExceeded)
                                else type(exc).__name__
                            )
                            row["error"] = f"{cls}: {exc}"[:500]
                            if isinstance(exc, _CapExceeded):
                                break
                            if attempt <= retries:
                                time.sleep(backoff_s * (2 ** (attempt - 1)))
                for k, v in row.items():
                    out[k].append(v)
            yield pd.DataFrame(out)

    return plan.select(url_col, offset_col, length_col).mapInPandas(
        fetch_batch, schema=RANGE_FETCH_SCHEMA
    )


REVALIDATE_SCHEMA = (
    "url string, status string, fetch_status int, content binary,"
    " n_bytes long, etag string, last_modified string, attempts int,"
    " error string"
)


def fetch_conditional(
    plan: DataFrame,
    url_col: str = "url",
    etag_col: str = "etag",
    last_modified_col: str = "last_modified",
    max_bytes: int = 64 * 1024 * 1024,
    retries: int = 2,
    backoff_s: float = 0.5,
) -> DataFrame:
    """Conditional (revalidation) fetch — the HTTP half of an incremental
    recrawl: each row carries the validators the LAST fetch recorded
    (``etag`` → ``If-None-Match``, ``last_modified`` →
    ``If-Modified-Since``; NULLs mean fetch unconditionally), and the
    server answers ``304 Not Modified`` for unchanged resources — zero
    body bytes moved. Paired with :func:`~etl_lala_spark.operators.web
    .cdx_snapshot_delta` (which prunes by INDEX digests), this prunes by
    ORIGIN validators: a monthly 100 TB recrawl pays full transfer only
    for the changed slice; everything else costs one header round trip.

    Output per row: ``status`` ``ok`` (200, fresh ``content`` + the
    response's NEW validators) / ``not_modified`` (304, NULL content,
    PRIOR validators carried forward — RFC 9110: a 304 leaves stored
    validators in force) / ``error`` (R5 structured row; network failures
    retry with backoff, over-cap bodies are permanent). Executor-side
    ``mapInPandas``, one task per plan partition — no driver byte ever
    moves."""

    def fetch_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time
        import urllib.error
        import urllib.request

        for pdf in batches:
            out: dict[str, list] = {
                k: []
                for k in (
                    "url", "status", "fetch_status", "content", "n_bytes",
                    "etag", "last_modified", "attempts", "error",
                )
            }
            for url, etag, lm in zip(
                pdf[url_col], pdf[etag_col], pdf[last_modified_col]
            ):
                row = dict(url=url, status="error", fetch_status=None,
                           content=None, n_bytes=0, etag=None,
                           last_modified=None, attempts=0, error=None)
                headers = {}
                if etag is not None and not pd.isna(etag):
                    headers["If-None-Match"] = str(etag)
                if lm is not None and not pd.isna(lm):
                    headers["If-Modified-Since"] = str(lm)
                for attempt in range(1, retries + 2):
                    row["attempts"] = attempt
                    try:
                        req = urllib.request.Request(url, headers=headers)
                        try:
                            resp = urllib.request.urlopen(req)
                        except urllib.error.HTTPError as he:
                            if he.code == 304:
                                # RFC 9110 §15.4.5: stored validators stay
                                # in force — carry the priors forward
                                row.update(
                                    status="not_modified", fetch_status=304,
                                    etag=(None if etag is None or pd.isna(etag)
                                          else str(etag)),
                                    last_modified=(None if lm is None or pd.isna(lm)
                                                   else str(lm)),
                                    error=None,
                                )
                                break
                            raise
                        with resp:
                            body = b""
                            while len(body) <= max_bytes:
                                chunk = resp.read(
                                    min(1 << 20, max_bytes + 1 - len(body))
                                )
                                if not chunk:
                                    break
                                body += chunk
                            if len(body) > max_bytes:
                                raise _CapExceeded(
                                    f"body exceeds max_bytes={max_bytes}"
                                )
                            row.update(
                                status="ok",
                                fetch_status=int(resp.status),
                                content=bytes(body),
                                n_bytes=len(body),
                                etag=resp.headers.get("ETag"),
                                last_modified=resp.headers.get("Last-Modified"),
                                error=None,
                            )
                        break
                    except Exception as exc:  # noqa: BLE001 — R5 contract
                        cls = (
                            "ValueError"
                            if isinstance(exc, _CapExceeded)
                            else type(exc).__name__
                        )
                        row["error"] = f"{cls}: {exc}"[:500]
                        if isinstance(exc, _CapExceeded):
                            break
                        if attempt <= retries:
                            time.sleep(backoff_s * (2 ** (attempt - 1)))
                for k, v in row.items():
                    out[k].append(v)
            yield pd.DataFrame(out)

    return plan.select(url_col, etag_col, last_modified_col).mapInPandas(
        fetch_batch, schema=REVALIDATE_SCHEMA
    )
