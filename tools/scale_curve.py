"""Measure the time-vs-scale-factor curve (round-5 verdict #2).

Runs a selected headline-query subset at sf0.1 (driver testdata) AND at the
locally generated sf1.0 (``tools/make_scale_sf.py`` — 10x FK-consistent
copies, content-decorrelated), min-of-N each, with bench.py's session,
warm-up and sample: noop sink, cache cleared, fixture seconds excluded.
Emits one JSON line with per-query times at both SFs and the time ratio; a
query is flagged when its ratio exceeds DATA_RATIO * TOLERANCE
(super-linear).

The selection: q1/q3/q5 (the canonical scan/join/agg shapes) + the 10 most
expensive headline queries from the round-5 bench — iteration-heavy ANN /
k-means training, streaming-lifecycle twins, graph, minhash dedup.

Usage: python tools/scale_curve.py [--all] [runs_per_query]
Env: SPARK_GRAFT_CPUS (default: all), SCALE_SF_DIR (default .scale/sf1.0).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    # 10 most expensive headline queries, round-5 bench order
    "ann_cosine_ivfpq_residual",
    "semantic_kmeans_clusters",
    "ann_cosine_ivfpq",
    "ann_cosine_pq",
    "stream_twin_versioned_ingest",
    "curate_kcenter_coreset",
    "graph_triangle_count",
    "stream_twin_running_summary",
    "text_bigram_lm_perplexity",
    "versioned_table_lifecycle",
    # bonus coverage: banded near-dup join (the pair-explosion risk)
    "dedup_minhash_lsh",
]

DATA_RATIO = 10.0  # sf1.0 / sf0.1 row-count ratio
TOLERANCE = 1.3  # verdict bar: worse than ~1.3x data-linear needs a diagnosis


def main() -> None:
    # "--all" sweeps every bench HEADLINE query instead of the curated set
    args = [a for a in sys.argv[1:] if a != "--all"]
    sweep_all = "--all" in sys.argv[1:]
    runs = int(args[0]) if args else 3
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    sf_small = "/root/testdata/sf0.1"
    sf_big = os.environ.get("SCALE_SF_DIR", os.path.join(REPO, ".scale", "sf1.0"))

    from bench import HEADLINE, sample, session, warm_up
    from etl_lala_spark.plans import query_fns

    spark = session(cpus)
    fns = query_fns()
    warm_up(spark, fns)
    queries = HEADLINE if sweep_all else QUERIES

    def run(name: str, sf_dir: str) -> float:
        return round(min(sample(spark, fns, name, sf_dir).seconds for _ in range(runs)), 3)

    out: dict = {"runs_per_query": runs, "cpus": cpus, "queries": {}}
    for name in queries:
        t_small = run(name, sf_small)
        t_big = run(name, sf_big)
        ratio = round(t_big / t_small, 2) if t_small > 0 else None
        flag = ratio is not None and ratio > DATA_RATIO * TOLERANCE
        out["queries"][name] = {
            "sf0.1_s": t_small,
            "sf1.0_s": t_big,
            "ratio": ratio,
            "super_linear": flag,
        }
        print(
            f"# {name}: sf0.1 {t_small}s  sf1.0 {t_big}s  ratio {ratio}"
            + ("  ** SUPER-LINEAR **" if flag else ""),
            file=sys.stderr,
            flush=True,
        )
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
