"""In-engine HTTP fetches (reference S5 + R2/R5): staging, ranged and
conditional GETs.

The reference downloads each month's archive over HTTP into memory with a
500 MB cap, retries with backoff, and spills to /tmp before extraction
(src/datasus/datasus.service.ts:251-275; queue/backoff R2). Here the
download manifest IS a DataFrame, and each fetch is one Java UDF of the
package's JVM codec (:mod:`etl_lala_spark.sources._jvm`, ``DbcCodec.Fetch``)
under ``inline``: it runs in the plan's own tasks with no Python worker and
no driver byte moved. One opener and one attempt loop serve all three:
- size cap: bodies stream in 1 MiB reads and stop the moment the cap is
  crossed, as a structured error row, never an OOM; the cap is never
  retried (a too-big body is permanent);
- retry with backoff per URL (R2): ``backoff_s·2^(attempt−1)`` seconds
  between attempts, attempts recorded;
- structured error rows (R5): failures are (status, error) COLUMNS, so one
  bad URL cannot kill a 10k-file job. A NULL url, offset or length is a
  ``ValueError`` row after 0 attempts, with no request sent.

Error classes are urllib's: ``HTTPError`` for a status outside 2xx,
``URLError`` for a failure to open (missing file, refused connection,
unknown host or scheme), ``ValueError`` for the cap or a URL without a
scheme; error texts are clipped to 500 characters. Unlike urllib, a
redirect is followed only within one protocol, proxies come from the JVM's
system properties, not from ``http_proxy``, and a failure while reading a
body reports the Java exception class. ``file://`` URLs take the same path
(the unit tests need no network); such a source has no status
(``fetch_status`` NULL), no range support and no validators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etl_lala_spark.sources._jvm import codec


def fetch_to_staging(
    manifest: DataFrame,
    staging_dir: str,
    url_col: str = "url",
    name_col: str | None = None,
    max_bytes: int = 500 * 1024 * 1024,
    retries: int = 2,
    backoff_s: float = 0.5,
) -> DataFrame:
    """Fetch every URL in ``manifest`` into ``staging_dir``.

    Returns one row per manifest entry: (url, dest, n_bytes, status,
    attempts, error) with status in {ok, skipped, error}. Destination name
    defaults to the URL basename; pass ``name_col`` to control it (e.g. the
    parsed DATASUS filename). Control fetch concurrency by partitioning the
    manifest (``manifest.repartition(n)`` → n concurrent fetch tasks).
    ``staging_dir`` is shared storage (NFS/object store via local mount),
    read next by ``read_binary_files`` → ``extract_archive_members``.

    Each body streams to ``<dest>.part`` and is renamed into place, so a
    re-run is idempotent: a file already staged with bytes on disk is
    skipped (status ``skipped``) — the same contract as the competência
    skip-list in ``sinks/writer.load_incremental``.
    """
    spark = manifest.sparkSession
    jdf = codec(spark).fetch(
        manifest._jdf, url_col, name_col, staging_dir,
        int(max_bytes), int(retries), float(backoff_s),
    )
    return DataFrame(jdf, spark)


def fetch_ranges(
    plan: DataFrame,
    url_col: str = "url",
    offset_col: str = "offset",
    length_col: str = "length",
    max_bytes: int = 64 * 1024 * 1024,
    retries: int = 2,
    backoff_s: float = 0.5,
) -> DataFrame:
    """Ranged HTTP fetch — one ``Range: bytes=o-(o+n-1)`` request per
    (url, offset, length) work unit. This is the CDX index-first read
    path (``operators/web.py:cdx_fetch_plan`` / ``select_captures``):
    each selected capture is one gzip member's byte range inside a WARC
    file, so pulling selected content out of a 100 TB crawl moves
    ``Σ length`` bytes — never whole files. Semantics:

    - a ``206 Partial Content`` body is the range, verbatim;
    - from a ``200`` without range support (or a ``file://`` source) the
      bytes before ``offset`` are discarded while streaming and ``length``
      bytes kept — the cap governs the RANGE LENGTH only, so deep offsets
      inside ~1 GB WARCs stay fetchable (``fetch_status`` records the path);
    - a range longer than ``max_bytes`` is an error row with no request; a
      body shorter than the range is ``short_range``, not retried (a
      corrupt index must surface, not truncate silently).

    Output: (url, offset, length, content, fetch_status, status, attempts,
    error), status ``ok`` or ``error``, keyed by (url, offset, length) so
    callers join results back to their selection."""
    spark = plan.sparkSession
    jdf = codec(spark).fetchRanges(
        plan._jdf, url_col, offset_col, length_col,
        int(max_bytes), int(retries), float(backoff_s),
    )
    return DataFrame(jdf, spark)


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

    Output: (url, status, fetch_status, content, n_bytes, etag,
    last_modified, attempts, error), status ``ok`` (200, fresh ``content``
    + the response's NEW validators) / ``not_modified`` (304, NULL content,
    PRIOR validators carried forward — RFC 9110) / ``error``."""
    spark = plan.sparkSession
    jdf = codec(spark).fetchConditional(
        plan._jdf, url_col, etag_col, last_modified_col,
        int(max_bytes), int(retries), float(backoff_s),
    )
    return DataFrame(jdf, spark)
