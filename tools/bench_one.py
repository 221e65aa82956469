#!/usr/bin/env python
"""Isolated per-query measurement for optimization work: run a subset of
headline queries with the bench's exact methodology (noop sink, fixture
seconds excluded, min-of-N with per-sample prints) without paying for the
whole suite. Usage:

    python tools/bench_one.py q1_pricing_summary web_corpus_build ...

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_RUNS (default 5).
This is a developer tool; the official record stays bench.py.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    names = sys.argv[1:]
    if not names:
        raise SystemExit("usage: bench_one.py <query> [query...]")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))

    from etl_lala_spark.plans import _gates, query_fns
    from etl_lala_spark.session import get_spark

    spark = get_spark(
        app_name="etl_lala_spark_bench_one",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_confs={"spark.ui.showConsoleProgress": "false"},
    )
    fns = query_fns()
    # same warm-up as bench.py
    fns["q1_pricing_summary"](spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()

    for name in names:
        samples = []
        fix_samples = []
        for _ in range(n_runs):
            spark.catalog.clearCache()
            _gates.reset_fixture(name)
            _gates.reset_build(name)
            t0 = time.perf_counter()
            fns[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            wall = time.perf_counter() - t0
            fix = _gates.FIXTURE_SECONDS.get(name, 0.0)
            samples.append(wall - fix)
            fix_samples.append(fix)
        print(
            f"{name}: min {min(samples):.3f}s over {n_runs} "
            f"(±{statistics.pstdev(samples):.3f}) samples="
            f"{[round(s, 3) for s in samples]} "
            f"fixture_min={min(fix_samples):.3f}",
            flush=True,
        )


if __name__ == "__main__":
    main()
