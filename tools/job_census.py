#!/usr/bin/env python
"""Per-query JOB CENSUS for optimization work: run one or more headline
queries exactly like bench.py (noop sink, fixture reset) and report

- total Spark jobs submitted during the timed region (DAGScheduler's
  nextJobId counter, exact — includes foreachBatch/streaming jobs), and
- a trace of every DataFrame ACTION crossing the py4j boundary
  (collect/count/save/localCheckpoint/toPandas/first) with wall seconds,
  so driver-cost hot spots show up by call site.

Spark 4 note (memory: bench-measurement-gotchas): the public
pyspark.sql.DataFrame methods are overridden by the classic subclass, so
the patch target is pyspark.sql.classic.dataframe.DataFrame.

Usage: python tools/job_census.py <query> [query...]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_TRACE=0 to disable
the action trace (job counts only).
"""

from __future__ import annotations

import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    names = sys.argv[1:]
    if not names:
        raise SystemExit("usage: job_census.py <query> [query...]")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    do_trace = os.environ.get("SPARK_GRAFT_TRACE", "1") != "0"

    from etl_lala_spark.plans import _gates, query_fns
    from etl_lala_spark.session import get_spark

    spark = get_spark(
        app_name="etl_lala_spark_job_census",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_confs={"spark.ui.showConsoleProgress": "false"},
    )
    fns = query_fns()
    fns["q1_pricing_summary"](spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()

    trace: list[tuple[str, float, str]] = []
    if do_trace:
        from pyspark.sql.classic.dataframe import DataFrame as CDF
        from pyspark.sql.readwriter import DataFrameWriter as CDW

        def wrap(cls, meth):
            orig = getattr(cls, meth)

            def patched(self, *a, **kw):
                t0 = time.perf_counter()
                try:
                    return orig(self, *a, **kw)
                finally:
                    dt = time.perf_counter() - t0
                    # caller frame OUTSIDE pyspark, for a usable call site
                    site = "?"
                    for fr in reversed(traceback.extract_stack()[:-1]):
                        if "/pyspark/" not in fr.filename and fr.filename != __file__:
                            site = f"{os.path.basename(fr.filename)}:{fr.lineno}"
                            break
                    trace.append((meth, dt, site))

            setattr(cls, meth, patched)

        for m in ("collect", "count", "localCheckpoint", "toPandas", "first",
                  "head", "take"):
            wrap(CDF, m)
        wrap(CDW, "save")
        wrap(CDW, "parquet")

    jsc = spark.sparkContext._jsc.sc()

    def job_counter() -> int:
        # DAGScheduler.nextJobId is an AtomicInteger; py4j auto-unboxes the
        # accessor's value to a Python int
        n = jsc.dagScheduler().nextJobId()
        return n if isinstance(n, int) else n.get()

    for name in names:
        spark.catalog.clearCache()
        _gates.reset_fixture(name)
        _gates.reset_build(name)
        trace.clear()
        j0 = job_counter()
        t0 = time.perf_counter()
        fns[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        j1 = job_counter()
        fix = _gates.FIXTURE_SECONDS.get(name, 0.0)
        print(f"== {name}: wall {wall:.3f}s (fixture {fix:.3f}s) "
              f"jobs {j1 - j0}", flush=True)
        if do_trace:
            tot = sum(dt for _, dt, _ in trace)
            print(f"   {len(trace)} traced actions, {tot:.3f}s in actions")
            for meth, dt, site in trace:
                if dt >= 0.02:
                    print(f"   {dt:7.3f}s  {meth:<16} {site}")


if __name__ == "__main__":
    main()
