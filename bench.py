#!/usr/bin/env python
"""Benchmark harness: the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

    python bench.py                     # the whole headline suite
    python bench.py <query> [query...]  # one min line per query, no file

Every figure comes from one sample function: Spark cache cleared, the
gate fixture and build clocks reset, the query forced to full
materialization through the noop sink (no driver collect — it measures the
distributed plan, not row transfer), fixture seconds subtracted, and the
Spark jobs the run started counted. Each query is sampled N times (default
5, env SPARK_GRAFT_BENCH_RUNS) and the MIN is its figure, with a population
stddev so deltas can be judged against run noise: host CPU steal on shared
machines is strictly additive (identical runs were measured at 6.5 s and
28 s in one JVM), and min-of-N recovers the machine-limited figure.

The suite prints ONE JSON line last on stdout, {"metric", "value", "unit":
"sec", "queries": {...}, "sf"}, and writes the full record, per-query job
counts included, to BENCH_DETAIL_c{cpus}.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from typing import NamedTuple

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "window_topk_per_customer",
    "events_tumbling_window",
    "events_sessionization",
    "events_funnel_conversion",
    "text_bm25_retrieval",
    "datasus_pa_summary",
    "datasus_run_summary",
    "events_user_enrichment",
    "text_token_counts",
    "pipeline_training_data",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_incremental_minhash",
    "ann_cosine_topk",
    "ann_cosine_lsh",
    "ann_cosine_ivf",
    "hybrid_retrieval_rerank",
    "profile_documents",
    "rag_chunk_documents",
    "semantic_kmeans_clusters",
    "er_fuzzy_part_names",
    "reconcile_snapshots",
    "curate_weighted_sample",
    "events_ewma_smoothing",
    "behavior_similarity_topk",
    "text_dup_ngram_coverage",
    "dedup_repeated_blocks",
    "text_bigram_lm_perplexity",
    "curate_kcenter_coreset",
    "embedding_random_projection",
    "graph_triangle_count",
    "corpus_source_overlap",
    # round 3: single-scan rewrites of the sweep-line and seasonal queries
    "events_peak_concurrency",
    "events_seasonal_baseline",
    # round 3: PQ compressed-domain ANN, CDC merge-apply, DSIR selection
    "ann_cosine_pq",
    "cdc_merge_apply",
    "curate_importance_resampling",
    # round 4: IVFADC — PQ scoring restricted to probed IVF cells (raw +
    # residual-encoded variants)
    "ann_cosine_ivfpq",
    "ann_cosine_ivfpq_residual",
    # round 4: TPC-H shapes measured at the true partsupp grain (4/part)
    "q11_true_grain",
    "q16_true_grain",
    # round 4: drift monitors, versioned-table lifecycle, AVI frame sampling
    "drift_psi_price",
    "drift_psi_orderstatus",
    "versioned_table_lifecycle",
    "multimodal_avi_frames",
    # round 5: the streaming batch-twin gates (real foreachBatch sinks over
    # availableNow streams), now lazy plans with scan budgets like every
    # other headline query
    "stream_twin_scd2_final",
    "stream_twin_running_summary",
    "stream_twin_versioned_ingest",
    # round 5: lifecycle compositions — snapshot isolation across a schema
    # evolution, and month-over-month PSI between two pinned versions
    "versioned_snapshot_evolution_isolation",
    "drift_versioned_month_over_month",
    # round 5: real baseline-JPEG pixel decode of sampled MJPEG frames, and
    # distributed image resize over real PNG decode
    "multimodal_mjpeg_pixel_decode",
    "multimodal_image_resize",
    "multimodal_audio_windows",
    # round 6: sink/source lifecycle gates (archive expansion, JSON sink +
    # run manifest, keep-N retention, decoder limit pushdown) and windowed
    # spectral audio features at the integer-exact DFT bins
    "archive_expand_members",
    "archive_permissive_errors",
    "sink_json_manifest",
    "sink_retention_runs",
    "dbc_limit_pushdown",
    "multimodal_audio_spectral",
    # round 6: progressive (SOF2) JPEG decode — bit-exact twin of the
    # certified baseline decode over a full successive-approximation scan
    # script
    "multimodal_progressive_jpeg",
    # round 6: PERMISSIVE tagged-NDJSON error stream (R5 structured error
    # payloads) — good rows, metadata, unknown tags, and unparseable lines
    # classified against a closed-form oracle
    "ndjson_error_records",
    # round 6: stride-progress stateful-streaming twin (A6/T4) — one-batch
    # availableNow run of the real applyInPandasWithState operator
    "stream_twin_progress",
    # round 6: GIF LZW decode -> palette -> resize under an arithmetic
    # oracle (third image codec pinned after PNG and JPEG)
    "multimodal_gif_resize",
    "stream_twin_checkpoint_restart",
    # round 7: the last streaming/network seams gated (loopback-HTTP fetch,
    # tagged-NDJSON streaming form, per-trigger chunk accounting), and
    # exact substring dedup — maximal cross-doc runs (Lee et al. 2022)
    # over the real documents corpus
    "fetch_http_loopback",
    "stream_twin_tagged_ndjson",
    "stream_twin_trigger_chunks",
    "dedup_substring_runs_docs",
    # round 7 (cont.): Z-order clustered rewrite correctness gate and
    # contrastive triplet mining (hard negatives/positives per anchor)
    "sink_zorder_roundtrip",
    "contrastive_hard_negatives",
    "multimodal_augment_crop_flip",
    "events_attribution_last_touch",
    "dbc_permissive_errors",
    # round 8: T1 constant-memory certificate — per-micro-batch engine
    # state metrics (bounded while cumulative input grows 4x) reduced to a
    # closed-form oracle
    "stream_twin_bounded_state",
    # round 8: HTML boilerplate extraction (jusText family) — block
    # segmentation + link/stopword-density classification + neighbor
    # rescue, all closed-form
    "text_extract_main_content",
    # round 8: cross-document line dedup (RefinedWeb/FineWeb/C4 family) —
    # doc-frequency ban + ordered reassembly, md5-of-clean-text oracle
    "dedup_lines_crossdoc",
    # round 9: WARC/Common Crawl ingestion (gzip member split, record
    # parse, HTTP header/payload separation) + the crawl chain end-to-end
    # into HTML main-content extraction
    "web_warc_extract",
    "web_warc_pipeline",
    # round 9: URL canonicalization + URL-level exact dedup (FineWeb
    # stage 1) — pure codegen normalization, one hash agg
    "web_url_dedup",
    # round 9: byte-level BPE training (GPT-2/tiktoken family) and the
    # fastText-shaped trained language-ID (hashed char trigrams +
    # one-scan-per-round one-vs-rest logistic)
    "tokenizer_byte_bpe",
    "langid_trained",
    # round 9 (cont.): robots.txt URL filtering (RFC 9309
    # groups/wildcards/precedence, rules broadcast)
    "web_robots_filter",
    # round 9 (cont.): Bloom-filter frontier membership — one bit_or agg
    # build, pure-codegen bitmask probe, oracle replays bits AND the
    # deterministic false positives
    "web_bloom_frontier",
    # round 11 (late): the frontier-SCALE Bloom form — distributed
    # set-words sketch (no collect, no dense bitmap anywhere), probed by
    # k JVM-side word-index joins; same bit-exact oracle replay
    "web_bloom_frontier_words",
    # round 11 (late): the DURABLE sketch lifecycle — partitioned parquet
    # words store, hit-partition-only bit_or merge, idempotent replay
    # pinned at 0, probe under the store's pinned params
    "web_bloom_sketch_lifecycle",
    # round 9 (cont.): the crawl-scheduler composition as a streaming twin —
    # canonicalize -> Bloom probe -> exact anti-join on the maybe-seen
    # slice -> novel-only append, store-count-validated bitmap refresh
    "stream_twin_url_frontier",
    # round 11 (late): the same twin on the durable-sketch cache backend
    # (join-transport probe, append-only merge refresh) — one shared
    # oracle pins that the cache transport is invisible in store content
    "stream_twin_url_frontier_sketch",
    # round 9 (cont.): outlink extraction + RFC 3986 resolution (crawl URL
    # discovery) and ftfy-family encoding repair (mojibake), both codegen
    "web_link_graph",
    "text_fix_mojibake",
    # round 9 (cont.): CDX/Common Crawl index-first access — CDXJ parse
    # (codegen, permissive) + newest-good-capture selection (one key-grain
    # hash agg) + per-WARC-file fetch work units
    "web_cdx_select",
    "web_cdx_fetch_plan",
    # round 9 (cont.): C4/UT1/FineWeb document cleaning — registrable-domain
    # (eTLD+1) blocklist via broadcast join + whole-token multiset badword
    # stats via literal-array codegen
    "web_domain_badword_filter",
    # round 9 (cont.): seeded deterministic global shuffle + size-targeted
    # shard export via a distributed prefix sum (no single-partition window)
    "curate_shard_export",
    # round 9 (cont.): rule-based sentence segmentation with abbreviation
    # guard — pure codegen one-to-many explode (RAG/sentence-dedup prestage)
    "text_sentence_split",
    # round 9 (cont.): sitemap XML parsing (crawl seed discovery) — tolerant
    # codegen parse (entity/CDATA semantics), urlset + sitemapindex
    "web_sitemap_parse",
    # round 9 (cont.): the Gopher A1.1 document-quality rule battery
    # (word/char/symbol/line/stopword rules), within-row codegen
    "text_gopher_rules",
    # round 9 (cont.): SURT key generation — our URLs onto the CDX index's
    # key space, so corpus-vs-index joins are one equality join
    "web_surt_keys",
    # round 9 (cont.): recrawl delta — key-grain full-outer digest compare
    # between two crawl snapshots (fetch only added+changed)
    "web_cdx_delta",
    # round 9 (cont.): politeness scheduling — per-host fetch waves (one
    # per-host window; the only shuffle is the crawl's natural host key)
    "web_politeness_waves",
    # round 9 (cont.): streaming latest-capture index maintenance — the
    # streaming twin of web_cdx_select (append winners + replay-safe resolve)
    "stream_twin_cdx_latest",
    # round 9 (cont.): anchor-text pairs (DPR-family weak supervision) and
    # per-page HTML metadata (title/description/canonical/noindex/lang)
    "web_anchor_texts",
    "web_page_meta",
    # round 9 (cont.): SFT/chat-transcript hygiene — parse + alternation /
    # target / empty-content checks, per-role char folds, all within-row
    "chat_turn_quality",
    # round 9 (cont.): the crawl scheduling chain END TO END — sitemap →
    # canonicalize → robots → seen anti-join → politeness waves
    "web_crawl_schedule",
    # round 9 (cont.): sitemap discovery from robots.txt Sitemap: directives
    "web_robots_sitemaps",
    # round 9 (cont.): WHATWG-order charset resolution + typographic
    # punctuation folding (the pre-tokenization normalization)
    "web_charset_detect",
    "text_normalize_punct",
    # round 9 (cont.): time-aware politeness — Crawl-delay parse (max wins)
    # + wave x per-host delay fetch offsets
    "web_politeness_schedule",
    # round 9 (cont.): the Common Crawl access pattern end to end over real
    # I/O — CDX offsets -> ranged HTTP fetch (206 + 200-fallback) -> WARC
    # record decode, bytes moved = sum of selected member lengths
    "web_cdx_ranged_fetch",
    # round 10: the crawl-to-training-shards chain end to end (CDX ->
    # ranged fetch -> WARC -> charset -> main content -> MinHash dedup ->
    # sentence/line dedup -> quality filters -> trained lang-ID -> shard
    # export), and tokenizer-budgeted shard export (shards packed on
    # byte-BPE token counts via a pinned vocab)
    "web_corpus_build",
    "curate_shard_export_bpe",
    # round 10 (cont.): the other two Common Crawl formats — WET extracted
    # text (conversion records -> token counting) and WAT metadata (JSON
    # envelopes -> link-graph edges), both on the shared WARC record kernel
    "web_wet_extract",
    "web_wat_extract",
    # round 10 (cont.): CDX redirect-chain resolution — pointer-doubling
    # over the 3xx edge slice, loops/dangling targets classified
    "web_cdx_redirects",
    # round 10 (cont.): page-level robots directives (meta robots +
    # X-Robots-Tag) — the keep/outlink governor next to robots.txt fetching
    "web_robots_meta",
    # round 10 (cont.): conditional-GET revalidation over live loopback —
    # 304 zero-byte recrawl of unchanged pages, new validators captured
    "web_fetch_revalidate",
    # round 11: the monthly re-crawl workflow end to end (validators ->
    # conditional fetch -> snapshot delta -> changed-slice extraction ->
    # incremental MinHash vs the persisted index -> delete/append with a
    # replayed idempotent append -> shard update)
    "web_recrawl_incremental",
    # round 11 (cont.): the WET-first corpus build — entering the curation
    # chain at conversion records (no fetch/WARC/charset/main-content),
    # byte-identical survivor arithmetic to the cold-crawl gate
    "web_corpus_wet_build",
    # round 11 (cont.): CDX index GENERATION round trip — binaryFile scan
    # -> record extraction (offsets discovered, not planted) -> index
    # lines -> parse/select of the generated index -> ranged fetch on the
    # generated offsets -> payload sha1 equals the declared digest
    "web_cdx_index_roundtrip",
]


# The stdout metric line must fit the driver's 2000-byte tail capture, and
# 124 queries never do — r10-r12 therefore printed "queries":{} and the
# driver's per-query/geomean/scaling tables came up empty (r12 verdict
# task 2). This FIXED list of the heaviest headline queries (ranked by the
# r12 record, ~74% of suite wall, worst-case line ~1.7 KB) rides the
# stdout line instead, so cross-round and cross-cpu per-query comparison
# works driver-side. Fixed, not dynamic top-N: entry names must never
# disappear between rounds or between the cpus=32 and cpus=8 runs. The
# FULL dict still lands in BENCH_DETAIL_c{cpus}.json and on stderr.
_STDOUT_TOP = [
    "web_corpus_build", "web_recrawl_incremental",
    "stream_twin_url_frontier_sketch", "langid_trained",
    "web_corpus_wet_build", "dedup_lines_crossdoc",
    "stream_twin_url_frontier", "tokenizer_byte_bpe",
    "stream_twin_bounded_state", "ann_cosine_pq", "ann_cosine_ivfpq",
    "web_bloom_sketch_lifecycle", "text_dup_ngram_coverage",
    "ann_cosine_ivfpq_residual", "curate_kcenter_coreset",
    "web_cdx_index_roundtrip", "semantic_kmeans_clusters",
    "stream_twin_versioned_ingest", "web_warc_pipeline",
    "web_cdx_redirects", "text_bigram_lm_perplexity",
    "graph_triangle_count", "embedding_random_projection",
    "web_cdx_ranged_fetch", "stream_twin_running_summary",
    "dedup_incremental_minhash", "stream_twin_scd2_final",
    "stream_twin_progress", "hybrid_retrieval_rerank",
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "web_link_graph",
    "web_robots_filter", "stream_twin_trigger_chunks",
    "corpus_source_overlap", "fetch_http_loopback",
    "dedup_repeated_blocks", "text_bm25_retrieval",
    "dedup_substring_runs_docs", "behavior_similarity_topk",
    "web_crawl_schedule", "text_extract_main_content", "ann_cosine_lsh",
    "versioned_table_lifecycle", "web_fetch_revalidate",
    "web_warc_extract", "stream_twin_checkpoint_restart", "web_cdx_delta",
]


class Sample(NamedTuple):
    seconds: float  # wall time less fixture time
    fixture: float
    build: float
    jobs: int


def session(cpus: int):
    from etl_lala_spark.session import get_spark

    return get_spark(
        app_name="etl_lala_spark_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        # Console-progress \r spam interleaves with stdout and can blow the
        # driver's stdout-tail budget, truncating the JSON metric line.
        extra_confs={"spark.ui.showConsoleProgress": "false"},
    )


def warm_up(spark, fns) -> None:
    """JVM/codegen warm-up on the smallest sf, so timings measure the plan,
    not first-call JIT + class loading."""
    fns["q1_pricing_summary"](spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()


def sample(spark, fns, name: str, sf_dir: str) -> Sample:
    """One timed run of query ``name``.

    Gate queries build on-disk fixtures before exercising the operator
    under test and account that wall time via ``plans._gates.fixture_region``;
    it is subtracted here, so the figure is operator cost, not fixture
    render. Jobs are the delta of DAGScheduler's job-id counter, not a job
    group: a streaming twin's micro-batches run under the stream's own
    group, which a group set around the call never sees.
    """
    from etl_lala_spark.plans import _gates

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    spark.catalog.clearCache()
    _gates.reset_fixture(name)
    _gates.reset_build(name)
    jobs0 = dag.nextJobId()
    t0 = time.perf_counter()
    fns[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    jobs = dag.nextJobId() - jobs0
    fixture = _gates.FIXTURE_SECONDS.get(name, 0.0)
    return Sample(wall - fixture, fixture, _gates.BUILD_SECONDS.get(name, 0.0), jobs)


def measure(spark, fns, name: str, sf_dir: str, n_runs: int) -> dict:
    """Min-of-N figures of query ``name``. ANN gates split the figure
    (still build+probe) into ``build`` (driver-elected quantizer training)
    and ``probe`` legs, each min-of-N on its own, so a probe regression
    cannot hide inside training noise. ``jobs`` is the most any sample
    started, fixture jobs included.
    """
    samples = [sample(spark, fns, name, sf_dir) for _ in range(n_runs)]
    secs = [s.seconds for s in samples]
    row = {
        "min": round(min(secs), 3),
        "stddev": round(statistics.pstdev(secs), 3),
        "samples": len(secs),
        "fixture": round(min(s.fixture for s in samples), 3),
        "jobs": max(s.jobs for s in samples),
    }
    if max(s.build for s in samples) > 0:
        row["build"] = round(min(s.build for s in samples), 3)
        row["probe"] = round(min(s.seconds - s.build for s in samples), 3)
    return row


def min_line(name: str, row: dict) -> str:
    notes = [f"jobs {row['jobs']}"]
    if row["fixture"]:
        notes.append(f"fixture {row['fixture']:.3f}s excluded")
    if "build" in row:
        notes.append(f"build {row['build']:.3f}s / probe {row['probe']:.3f}s")
    return (
        f"{name}: min {row['min']:.3f}s over {row['samples']} "
        f"(±{row['stddev']:.3f}, {', '.join(notes)})"
    )


def stdout_line(total: float, timings: dict[str, float], sf: str) -> str:
    """The driver's metric line. It must fit the driver's 2000-byte stdout
    tail capture (r2's line overflowed it and parsed as null), so it stays
    ≤ 1900 bytes: the full per-query dict when it fits, else the fixed
    ``_STDOUT_TOP`` rows, else ``{}``."""
    top = {n: timings[n] for n in _STDOUT_TOP if n in timings}
    for queries in (timings, top, {}):
        line = json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": round(total, 3),
                "unit": "sec",
                "queries": queries,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            },
            separators=(",", ":"),
        )
        if len(line) <= 1900:
            break
    return line


def _canary_sample(spark, li, F) -> float:
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    li.agg(F.sum("l_extendedprice")).collect()
    return time.perf_counter() - t0


def _canary_python_sample(spark, li, F) -> float:
    """Python-worker-path canary: a fixed 256-row mapInPandas round trip
    (identity-shaped arithmetic), measuring worker fork/reuse + Arrow
    serialization cost — the component of the multimodal/mapInPandas gate
    class that the JVM-only scan canary cannot see."""
    import pandas as pd  # noqa: PLC0415

    def _ident(it):
        for pdf in it:
            yield pd.DataFrame({"v": pdf["v"] * 2 + 1})

    df = spark.range(256).selectExpr("id as v")
    t0 = time.perf_counter()
    df.mapInPandas(_ident, "v long").agg(F.sum("v")).collect()
    return time.perf_counter() - t0


def suite(spark, fns, sf_dir: str, cpus: int, n_runs: int) -> None:
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Host-speed canaries (SCALE.md): a bare lineitem scan+sum whose plan
    # has not changed since round 1, and a fixed-size mapInPandas round trip
    # for the Python-worker path the scan never leaves the JVM for. Bench
    # totals are only comparable ACROSS rounds relative to them — the host
    # baseline itself was measured drifting 1.3× between windows. Same
    # min-of-N discipline as the figures they normalize.
    from pyspark.sql import functions as F  # noqa: PLC0415

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    li.agg(F.sum("l_extendedprice")).collect()  # warm
    canary = min(_canary_sample(spark, li, F) for _ in range(n_runs))
    print(f"# canary bare-scan+sum: min {canary:.3f}s over {n_runs}", file=sys.stderr)
    canary_py = min(_canary_python_sample(spark, li, F) for _ in range(n_runs))
    print(
        f"# canary python mapInPandas: min {canary_py:.3f}s over {n_runs}",
        file=sys.stderr,
    )
    # One scan + one Python-worker canary sample every _CANARY_STRIDE
    # queries timestamps host speed THROUGH the window, so a delta can be
    # read against host speed at the moment the query ran, not at the
    # window's edges; a trailing sample closes the series.
    canary_series: list[dict[str, float | int | str]] = []
    canary_at: dict[str, dict[str, float]] = {}
    _CANARY_STRIDE = 15

    def _canary_point(qi: int, name: str) -> dict[str, float]:
        entry = {
            "at_query_index": qi,
            "at_query": name,
            "scan_s": round(_canary_sample(spark, li, F), 3),
            "python_s": round(_canary_python_sample(spark, li, F), 3),
        }
        canary_series.append(entry)
        return {"scan_s": entry["scan_s"], "python_s": entry["python_s"]}

    rows: dict[str, dict] = {}
    for qi, name in enumerate(HEADLINE):
        if qi % _CANARY_STRIDE == 0:
            last_canary = _canary_point(qi, name)
        canary_at[name] = last_canary
        rows[name] = measure(spark, fns, name, sf_dir, n_runs)
        print(f"# {min_line(name, rows[name])}", file=sys.stderr, flush=True)
    _canary_point(len(HEADLINE), "(end)")

    timings = {n: r["min"] for n, r in rows.items()}
    total = sum(timings.values())
    spreads = {n: r["stddev"] for n, r in rows.items()}
    fixtures = {n: r["fixture"] for n, r in rows.items() if r["fixture"] > 0}
    # The full per-query record lands in a repo file per core count: the
    # stdout line cannot carry it, and the stderr copy is front-truncated
    # by the same tail budget.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), f"BENCH_DETAIL_c{cpus}.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "sf": sf,
                "cpus": cpus,
                "runs_per_query": n_runs,
                "total_wall_s": round(total, 3),
                "canary_scan_sum_s": round(canary, 3),
                "canary_python_s": round(canary_py, 3),
                "queries": timings,
                "stddev": spreads,
                "jobs": {n: r["jobs"] for n, r in rows.items()},
                "fixture_seconds_excluded": fixtures,
                "build_probe_split": {
                    n: {"build": r["build"], "probe": r["probe"]}
                    for n, r in rows.items()
                    if "build" in r
                },
                "canary_series": canary_series,
                "canary_at": canary_at,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
        fh.write("\n")

    print(
        json.dumps(
            {
                "stddev": spreads,
                "runs_per_query": n_runs,
                "fixture_seconds_excluded": fixtures,
                "canary_scan_sum_s": round(canary, 3),
                "canary_python_s": round(canary_py, 3),
            }
        ),
        file=sys.stderr,
        flush=True,
    )
    line = stdout_line(total, timings, sf)
    carried = len(json.loads(line)["queries"])
    if carried < len(timings):
        print(
            "# full queries dict exceeds the stdout 2000-byte budget; "
            f"stdout line carries {len(line)} bytes / {carried} fixed heavy "
            "rows, full detail on stderr",
            file=sys.stderr,
        )
        print(json.dumps({"queries": timings}), file=sys.stderr, flush=True)
    # The metric line must be the LAST line on stdout.
    print(line, flush=True)


def main(names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    # Min-of-5 by default since round 4: min-of-3 failed to filter the
    # steal noise of one round (SCALE.md methodology note); 5 samples on
    # this host reliably catch a quiet window per query.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))

    from etl_lala_spark.plans import query_fns

    fns = query_fns()
    unknown = [n for n in names if n not in fns]
    if unknown:
        raise SystemExit(f"unknown queries: {' '.join(unknown)}")
    spark = session(cpus)
    warm_up(spark, fns)
    if not names:
        suite(spark, fns, sf_dir, cpus, n_runs)
    for name in names:
        print(min_line(name, measure(spark, fns, name, sf_dir, n_runs)), flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
