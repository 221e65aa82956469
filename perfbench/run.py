"""Benchmark of the etl_lala_spark engine at local[<cores>] from one client.

    python3 perfbench/run.py --workload datasus_ingest --seed 1 --seconds 6 --trace 0

Workloads (see workloads.py): ``datasus_ingest``, ``analytic_queries``,
``corpus_curation``. Inputs are generated from ``--seed`` inside the
checkout; the run sets up Spark several times, runs the workload's untimed
warm-up cycles, measures a fixed number of whole cycles sized so that they
take about ``--seconds`` on a 4-core host (at least one), checks every
answer, and prints a table followed by one JSON line.

``--trace 0`` reports the end-to-end metrics:

- ``setup_s``: session start + plan-module import + warm-up jobs, the
  median of several set-ups (the first one also launches the JVM);
- ``cycle_s``: median wall time of one cycle of the workload (cold load +
  replay; one pass over the query set; one run of the gate);
- ``op_p50_s``: median latency of the operation a user repeats (the
  replay load; one query; one gate).

The table above the JSON line adds each workload's own names for these,
``error_rate``, ``host_steal_share`` (the share of the machine's CPU time a
hypervisor gave to other guests during the timed cycles, which slows every
cycle it touches) and ``peak_rss_mb``, the peak resident memory (PSS) of the
Spark JVM and its Python workers while the workload runs. Peak memory
stays out of the JSON line: it moved by up to a quarter between runs of the
same inputs (JVM heap growth), too much for a regression bound.

``--trace 1`` repeats the run with Spark's event log on, a job group per
operation and spans around each layer call, and reports per-layer metrics
(per cycle). Results of every run go to ``perfbench/results/c<cores>/``.
"""

from __future__ import annotations

import argparse
import glob
import importlib
import json
import os
import shutil
import statistics
import struct
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
DRIVER_MEMORY = "2g"

E2E_UNITS = {"setup_s": "s", "cycle_s": "s", "op_p50_s": "s"}
LAYER_UNITS = {
    "session.start_s": "s", "plans.import_s": "s", "warmup_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_gap_s": "s", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "dbc.records": "count", "writer.rows_inserted": "count",
}


class Context:
    def __init__(self, args, work: str, cpus: int, tracer) -> None:
        self.seed, self.work, self.cpus, self.tracer = args.seed, work, cpus, tracer
        self.spark = None


def _prepare_process(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the engine
    importable by the driver and its Python workers."""
    sys.dont_write_bytecode = True
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Every JVM, the launcher's included: temp files under work, no
    # hsperfdata in the system temp dir.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    os.chdir(work)


def _warm_up(spark, cpus: int, workload) -> None:
    """JVM warm-up: a shuffle job, and a scan of the workload's table."""
    from pyspark.sql import functions as F

    spark.range(0, 200_000, 1, cpus).selectExpr("id % 97 AS k").groupBy("k").count().collect()
    if workload.warm_table():
        spark.read.parquet(workload.warm_table()).groupBy(F.spark_partition_id()).count().collect()


def set_up(ctx, workload, confs: dict) -> list[dict]:
    """Start (or restart) the session, import the plan modules and warm up,
    ``SETUPS`` times; the workload runs on the last session."""
    from etl_lala_spark.session import get_spark

    samples, import_s = [], 0.0
    for i in range(SETUPS):
        t0 = time.perf_counter()
        if ctx.spark is not None:
            ctx.spark.stop()
        ctx.spark = get_spark(app_name=f"perfbench-{workload.name}", extra_confs=confs)
        t1 = time.perf_counter()
        if i == 0:
            from etl_lala_spark import plans

            for mod in plans._PLAN_MODULES:
                importlib.import_module(mod)
            import_s = time.perf_counter() - t1
        t2 = time.perf_counter()
        if ctx.tracer.enabled:
            ctx.spark.sparkContext.setJobGroup("setup", "setup")
        _warm_up(ctx.spark, ctx.cpus, workload)
        t3 = time.perf_counter()
        samples.append({"session.start_s": t1 - t0, "warmup_s": t3 - t2})
    for s in samples:
        s["plans.import_s"] = import_s
        s["setup_s"] = s["session.start_s"] + import_s + s["warmup_s"]
    return samples


def stop_spark(ctx) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    if ctx.spark is None:
        return
    ctx.spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:  # the JVM must not outlive the run
                proc.kill()
                proc.wait(timeout=10)
    SparkContext._gateway = SparkContext._jvm = None


def _median(xs) -> float:
    return statistics.median(xs) if xs else float("nan")


def end_to_end(workload, samples: list[dict], peak_mb: float) -> tuple[dict, dict]:
    """(metrics in BENCHMARK.json, the workload's own named metrics)."""
    timed = [o for o in workload.ops if o.cycle >= 0]
    cycles = sorted({o.cycle for o in timed})
    per_cycle = [sum(o.seconds for o in timed if o.cycle == c) for c in cycles]
    e2e = {
        "setup_s": _median([s["setup_s"] for s in samples]),
        "cycle_s": _median(per_cycle),
        "op_p50_s": _median([o.seconds for o in timed if o.kind == workload.steady_kind]),
    }
    named = {"setup_s": e2e["setup_s"], "peak_rss_mb": peak_mb, "cycles": len(cycles)}
    if workload.name == "datasus_ingest":
        cold = _median([o.seconds for o in timed if o.kind == "cold"])
        named.update(
            ingest_cold_s=cold,
            ingest_replay_s=e2e["op_p50_s"],
            ingest_records_per_s=workload.inputs.rows(workload.inputs.cold_months) / cold,
        )
    elif workload.name == "analytic_queries":
        lat = sorted(o.seconds for o in timed)
        named.update(analytic_pass_s=e2e["cycle_s"], query_p50_s=_median(lat), executions=len(lat))
        if len(lat) >= 100:
            named["query_p90_s"] = statistics.quantiles(lat, n=10)[-1]
    else:
        named["curation_pass_s"] = e2e["cycle_s"]
    failed = sum(not o.ok for o in workload.ops)
    named["error_rate"] = failed / max(1, len(workload.ops))
    return e2e, named


def per_layer(workload, tracer, samples: list[dict], log_dir: str) -> tuple[dict, dict]:
    """(per-layer metrics in BENCHMARK.json, full per-layer detail)."""
    from perfbench.tracing import SPARK_KEYS, read_event_logs, spark_rows

    timed = [o for o in workload.ops if o.cycle >= 0]
    n_cycles = max(1, len({o.cycle for o in timed}))
    spans = tracer.spans
    groups = {f"c{o.cycle}:{o.name}": (spans[o.span].start, spans[o.span].end) for o in timed}
    log = read_event_logs(log_dir)
    rows = spark_rows(log, groups)
    layer = {
        k: _median([s[k] for s in samples])
        for k in ("session.start_s", "plans.import_s", "warmup_s")
    }
    for k in SPARK_KEYS:
        layer[k] = sum(r[k] for r in rows.values()) / n_cycles
    for k in ("dbc.records", "writer.rows_inserted"):
        layer[k] = sum(o.layers.get(k, 0) for o in timed) / n_cycles

    # Jobs per job description inside each op: the layer that issued them.
    jobs_by_layer: dict = {}
    for j in log.jobs:
        if j.group in groups:
            per = jobs_by_layer.setdefault(j.group, {})
            per[j.description] = per.get(j.description, 0) + 1

    detail: dict = {"ops": {}, "layers": {}, "op_functions": {}}
    for o in timed:
        group = f"c{o.cycle}:{o.name}"
        d = detail["ops"].setdefault(o.name, {"wall_s": []})
        d["wall_s"].append(o.seconds)
        for k, v in rows[group].items():
            d.setdefault(k, []).append(v)
        for desc, n in jobs_by_layer.get(group, {}).items():
            if desc != o.name:
                d.setdefault(f"spark.jobs[{desc}]", []).append(n)
        for child in (i for i, s in enumerate(spans) if s.parent == o.span):
            d.setdefault(spans[child].name + "_s", []).append(spans[child].seconds)
        for k, v in o.layers.items():
            d.setdefault(k, []).append(v)
    for d in detail["ops"].values():
        for k, v in d.items():
            d[k] = _median(v)
    if workload.name == "datasus_ingest":
        for phase, d in detail["ops"].items():
            d["dbc.decode_s"] = d.get("dbc.decode_probe_s", 0.0) - d.get("archive.busy_s", 0.0)
            d["writer.useful_ratio"] = d.get("writer.rows_inserted", 0) / max(1, d.get("dbc.records", 0))
        detail["layers"].update(decoder_rates(workload.inputs.dbc_members))
    elif timed:
        for key in ("plans.build", "plans.exec"):
            layer_s = sum(
                s.seconds for s in spans if s.name == key and s.parent is not None
                and spans[s.parent].attrs.get("cycle", -1) >= 0
            )
            detail["layers"][key + "_s"] = layer_s / n_cycles
        detail["layers"]["plans.fixture_s"] = (
            sum(o.layers.get("plans.fixture_s", 0.0) for o in timed) / n_cycles
        )
    in_cycles = [(s.start, s.end) for s in spans if s.name == "op" and s.attrs.get("cycle", -1) >= 0]
    for i, s in enumerate(spans):
        if not s.name.startswith("op.") or not any(a <= s.start <= b for a, b in in_cycles):
            continue
        f = detail["op_functions"].setdefault(s.name, {"s": 0.0, "self_s": 0.0, "jobs": 0})
        f["s"] += s.seconds / n_cycles
        f["self_s"] += tracer.self_seconds(i) / n_cycles
        f["jobs"] += sum(1 for j in log.jobs if s.start <= j.submitted <= s.end) / n_cycles
    return layer, detail


def decoder_rates(members: list[bytes], limit: int = 4) -> dict:
    """Single-thread implode and DBF-parse rates on the seeded members."""
    from etl_lala_spark.sources import implode
    from etl_lala_spark.sources.dbc import parse_dbf_columns

    out_bytes = records = 0
    t_implode = t_parse = 0.0
    for m in members[:limit]:
        hlen = struct.unpack("<H", m[8:10])[0]
        t0 = time.perf_counter()
        body = implode.decompress(m[hlen + 4 :])
        t1 = time.perf_counter()
        _names, cols = parse_dbf_columns(m[:hlen] + body)
        t2 = time.perf_counter()
        out_bytes += len(body)
        records += len(cols[0]) if cols else 0
        t_implode, t_parse = t_implode + t1 - t0, t_parse + t2 - t1
    return {
        "implode.mb_per_s_core": out_bytes / 1e6 / t_implode,
        "dbf.parse_records_per_s_core": records / t_parse,
    }


def _untraced_reference(results_dir: str) -> dict:
    runs = []
    for path in glob.glob(os.path.join(results_dir, "*-trace0.json")):
        with open(path) as fh:
            runs.append(json.load(fh))
    keys = {k for r in runs for k in r.get("named", {})}
    return {
        k: _median([r["named"][k] for r in runs if isinstance(r["named"].get(k), (int, float))])
        for k in keys
    }


def _fmt(v) -> str:
    if isinstance(v, float):
        return f"{v:.4g}" if abs(v) < 1e5 else f"{v:.0f}"
    return str(v)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "etl_lala_spark", "__init__.py")):
        print(f"perfbench: no etl_lala_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_process(work)
    try:
        return _run(args, cpus, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def _run(args, cpus: int, work: str) -> int:
    from perfbench.tracing import MemorySampler, Tracer, instrument
    from perfbench.workloads import TRACED_MODULES, WORKLOADS

    tracer = Tracer(enabled=bool(args.trace))
    ctx = Context(args, work, cpus, tracer)
    log_dir = os.path.join(work, "eventlog")
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(log_dir)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    phases = {}
    t0 = time.perf_counter()
    try:
        workload = WORKLOADS[args.workload](ctx)
        phases["inputs_s"] = time.perf_counter() - t0
        samples = set_up(ctx, workload, confs)
        phases["setups_s"] = time.perf_counter() - t0 - phases["inputs_s"]
        restore = instrument(tracer, TRACED_MODULES) if args.trace else (lambda: None)
        try:
            with MemorySampler(ctx.spark.sparkContext._gateway.proc.pid) as mem:
                workload.run(args.seconds)
        finally:
            restore()
    finally:
        stop_spark(ctx)
    phases["total_s"] = time.perf_counter() - t0

    e2e, named = end_to_end(workload, samples, mem.peak_mb)
    results_dir = os.path.join(HERE, "results", f"c{cpus}", args.workload)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "e2e": e2e, "named": named,
        "setups": samples, "phases": phases,
        "host_steal_share": workload.steal_share,
        "ops": [(o.name, o.cycle, o.seconds) for o in workload.ops],
        "failures": [(o.name, o.cycle, o.error) for o in workload.ops if not o.ok],
    }
    print(f"# {args.workload} seed={args.seed} local[{cpus}] trace={args.trace}")
    for k, v in named.items():
        unit = {"peak_rss_mb": "MB", "ingest_records_per_s": "rec/s", "error_rate": "ratio",
                "cycles": "count", "executions": "count"}.get(k, "s")
        print(f"{k:<28} {_fmt(v):>12} {unit}")
    if workload.steal_share is not None:
        print(f"{'host_steal_share':<28} {_fmt(workload.steal_share):>12} ratio")
    if "executions" in named and "query_p90_s" not in named:
        print(f"{'query_p90_s':<28} {'n/a':>12} s  (needs >=100 executions per run)")
    for name, _cycle, err in record["failures"]:
        print(f"FAILED {name}: {err}")

    if args.trace:
        metrics, detail = per_layer(workload, tracer, samples, log_dir)
        ref = _untraced_reference(results_dir)
        detail["trace_overhead"] = {
            k: named[k] - ref[k] for k in named if k in ref and isinstance(named[k], float)
        }
        record.update(per_layer=metrics, detail=detail)
        print("# per layer, per cycle")
        for k, v in {**metrics, **detail["layers"]}.items():
            print(f"{k:<34} {_fmt(v):>12}")
        for op, d in sorted(detail["ops"].items()):
            print(f"## op {op}: " + "  ".join(f"{k}={_fmt(v)}" for k, v in sorted(d.items())))
        for f, d in sorted(detail["op_functions"].items(), key=lambda kv: -kv[1]["s"]):
            print(f"{f + '.s':<56} {_fmt(d['s']):>10}  jobs={_fmt(d['jobs'])}")
        for k, v in detail["trace_overhead"].items():
            print(f"trace overhead {k:<24} {_fmt(v):>12}")
        units = LAYER_UNITS
    else:
        metrics, units = e2e, E2E_UNITS

    os.makedirs(results_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    with open(os.path.join(results_dir, f"{stamp}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    print(json.dumps({
        "correct": not record["failures"],
        "attempted": len(workload.ops),
        "failed": len(record["failures"]),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
