"""The three workloads. Each drives the engine only through its public
functions, as one closed-loop client, and times one *operation* at a time
inside an ``op`` span:

- ``datasus_ingest``: the paper's chain, file:// manifest → fetch → ZIP
  members → DBC decode → idempotent partitioned load → per-competência
  summary, once cold and once as a replay with a new month. Python-worker
  decode and parquet writes; few Spark jobs.
- ``analytic_queries``: 17 JVM-only registered queries back to back.
  Catalyst, shuffle and per-job overhead; Python workers idle.
- ``corpus_curation``: the WET-first LLM-corpus gate, ~90 small Spark jobs
  over loopback fixtures, so driver orchestration dominates.

Every answer is compared with its expected value after the operation,
outside its span; a wrong answer counts as a failed operation.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time
from dataclasses import dataclass, field

ANALYTIC_QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q11_true_grain", "q16_true_grain",
    "window_topk_per_customer", "events_tumbling_window", "events_sessionization",
    "events_funnel_conversion", "events_peak_concurrency", "events_user_enrichment",
    "datasus_pa_summary", "datasus_run_summary", "cdc_merge_apply",
    "drift_psi_price", "reconcile_snapshots",
]
CURATION_GATES = ["web_corpus_wet_build"]

# Star-schema scale of the analytic workload (sf 0.1 = 600k lineitem rows).
ANALYTIC_SF = 0.02
# DATASUS archives: UFs × cold months, plus new months in the replay, and
# the range of rows per file.
INGEST_UFS, INGEST_MONTHS, INGEST_NEW_MONTHS, INGEST_ROWS = 2, 2, 1, (400, 600)

# Modules whose public functions get op.<module>.<function> spans in traced
# runs (the gates import them function-locally, so rebinding reaches them).
TRACED_MODULES = [
    "etl_lala_spark.operators.web", "etl_lala_spark.operators.dedup",
    "etl_lala_spark.operators.text", "etl_lala_spark.sources.warc",
    "etl_lala_spark.sources.fetch", "etl_lala_spark.sinks.writer",
]


@dataclass
class Op:
    """One timed operation: its wall time, cycle, kind and whether its
    output was correct."""

    name: str
    kind: str
    cycle: int
    span: int  # index into Tracer.spans
    seconds: float
    ok: bool = True
    error: str | None = None
    layers: dict = field(default_factory=dict)
    result: object = None


class Workload:
    """Shared driver loop: ``prepare`` once, the warm-up cycles (numbered
    below 0), then ``timed_cycles(seconds)`` whole cycles."""

    name = ""
    steady_kind = "query"  # the kind of op a user repeats (op_p50_s)
    # Untimed cycles run first: they pay the first-use costs (Python worker
    # start, JIT, code generation) and their answers are checked too.
    warmup_cycles = 1
    # Wall time of one warm cycle at local[4] on a moderately busy 4-core
    # host; sizes the timed cycle count.
    nominal_cycle_s = 1.0

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.ops: list[Op] = []
        # Share of the machine's CPU time the hypervisor gave to others
        # while the timed cycles ran (steal in /proc/stat), if known.
        self.steal_share: float | None = None

    def prepare(self) -> None:
        pass

    def warm_table(self) -> str | None:
        """A parquet path the setup warm-up reads, if the workload has one."""
        return None

    def timed_cycles(self, seconds: float) -> int:
        """Cycles to time, fixed by ``seconds`` alone (about ``seconds`` of
        work at local[4]). Cycle times keep falling for several cycles as the
        JVM warms, so a run that fitted one cycle more or fewer than another
        would report a different median."""
        return max(1, round(seconds / self.nominal_cycle_s))

    def run(self, seconds: float) -> None:
        """Warm up, then time the cycles. A cycle that would start after
        ``seconds`` is skipped, which only happens on a starved host and
        keeps the run's length bounded there."""
        self.prepare()
        for cycle in range(-self.warmup_cycles, 0):
            self.cycle(cycle)
        steal0, t0 = _steal_ticks(), time.perf_counter()
        for cycle in range(self.timed_cycles(seconds)):
            if cycle and time.perf_counter() - t0 > seconds:
                break
            self.cycle(cycle)
        steal1 = _steal_ticks()
        if steal0 and steal1:
            busy = steal1[1] - steal0[1]
            self.steal_share = (steal1[0] - steal0[0]) / busy if busy else 0.0

    def timed(self, name: str, kind: str, cycle: int, fn) -> Op:
        """Run ``fn`` inside an op span under its own job group; failures
        are recorded, never raised."""
        ctx = self.ctx
        if ctx.tracer.enabled:
            ctx.spark.sparkContext.setJobGroup(f"c{cycle}:{name}", name)
        op = Op(name, kind, cycle, len(ctx.tracer.spans), 0.0)
        try:
            with ctx.tracer.span("op", op=name, cycle=cycle) as s:
                op.result = fn(op)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, the run goes on
            op.ok, op.error, op.result = False, f"{type(exc).__name__}: {exc}"[:300], None
        op.seconds = s.seconds
        if ctx.tracer.enabled:
            ctx.spark.sparkContext.setJobGroup("untimed", "untimed")
        self.ops.append(op)
        return op


def _steal_ticks() -> tuple[int, int] | None:
    """(steal, all) CPU ticks of the machine so far, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (ticks[7], sum(ticks[:8])) if len(ticks) > 7 else None


# --- datasus_ingest ------------------------------------------------------------


class DatasusIngest(Workload):
    name = "datasus_ingest"
    steady_kind = "replay"  # the monthly incremental run
    # Cycle times settle after the second cycle.
    warmup_cycles = 2
    nominal_cycle_s = 5.0

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        from perfbench.inputs import render_datasus

        self.inputs = render_datasus(
            os.path.join(ctx.work, "datasus_src"), ctx.seed,
            INGEST_UFS, INGEST_MONTHS, INGEST_NEW_MONTHS, INGEST_ROWS,
        )

    def cycle(self, cycle: int) -> None:
        root = os.path.join(self.ctx.work, "ingest")
        shutil.rmtree(root, ignore_errors=True)
        staging, table = os.path.join(root, "staging"), os.path.join(root, "table")
        inp = self.inputs
        for phase, manifest, new, loaded in (
            ("cold", inp.cold, inp.cold_months, inp.cold_months),
            ("replay", inp.replay, inp.new_months, sorted(inp.totals)),
        ):
            op = self.timed(phase, phase, cycle, lambda op: self.load(op, manifest, staging, table))
            if op.ok:
                self.check(op, new, loaded)
        shutil.rmtree(root, ignore_errors=True)

    def load(self, op: Op, manifest, staging: str, table: str):
        from pyspark.sql import functions as F

        from etl_lala_spark.io import tiny_df
        from etl_lala_spark.sinks.writer import load_incremental
        from etl_lala_spark.sources.archive import extract_archive_members, read_binary_files
        from etl_lala_spark.sources.dbc import read_dbc
        from etl_lala_spark.sources.fetch import fetch_to_staging
        from perfbench.inputs import DATASUS_COLUMNS

        ctx, tr, sc = self.ctx, self.ctx.tracer, self.ctx.spark.sparkContext

        def tag(layer: str) -> None:
            if tr.enabled:
                sc.setJobDescription(layer)

        spark = ctx.spark
        tag("fetch")
        with tr.layer("fetch.busy"):
            fetched = fetch_to_staging(
                tiny_df(spark, manifest, "url string, name string"), staging, name_col="name"
            ).collect()
        archives = read_binary_files(spark, staging, glob="*.zip")
        members = extract_archive_members(archives)
        if tr.enabled:
            # Extraction and decode fuse into the load's stage; traced runs
            # time each on its own with one extra action apiece.
            tag("archive")
            with tr.layer("archive.busy"):
                n_members = members.count()
            op.layers["archive.members"] = n_members
            tag("dbc.decode")
            with tr.layer("dbc.decode_probe"):
                decoded = read_dbc(members, columns=DATASUS_COLUMNS).count()
            op.layers["dbc.records"] = decoded
        tag("dbc.schema_infer")
        with tr.layer("dbc.schema_infer"):
            records = read_dbc(members)
        tag("writer.load")
        before = _dir_stats(table)
        with tr.layer("writer.load"):
            res = load_incremental(spark, records.withColumn("competencia", F.col("PA_MVM")), table)
        after = _dir_stats(table)
        op.layers["writer.files_written"] = after[0] - before[0]
        op.layers["writer.bytes_written"] = after[1] - before[1]
        tag("summary")
        with tr.layer("summary"):
            summary = (
                spark.read.parquet(table)
                .groupBy("competencia")
                .agg(
                    F.count("*").alias("n"),
                    F.sum(F.col("PA_QTDAPR").cast("long")).alias("qtd"),
                    F.sum(F.col("PA_VALAPR").cast("decimal(18,2)")).alias("val"),
                )
                .collect()
            )
        return fetched, res, summary

    def check(self, op: Op, new_months: list[str], loaded_months: list[str]) -> None:
        """The replay must insert exactly the new months, and the table must
        hold the generator's per-competência totals."""
        fetched, res, summary = op.result
        exp = {m: self.inputs.totals[m] for m in loaded_months}
        got = {r["competencia"]: (r["n"], r["qtd"], int(round(r["val"] * 100))) for r in summary}
        statuses = [r["status"] for r in fetched]
        op.layers.update(
            {
                "fetch.files_ok": statuses.count("ok"),
                "fetch.files_skipped": statuses.count("skipped"),
                "fetch.retries": sum(r["attempts"] - 1 for r in fetched if r["attempts"]),
                "writer.rows_inserted": res["registros_inseridos"],
            }
        )
        inserted = self.inputs.rows(new_months)
        problems = []
        if "error" in statuses:
            problems.append(f"fetch errors: {statuses.count('error')}")
        if res["registros_inseridos"] != inserted:
            problems.append(f"inserted {res['registros_inseridos']} != {inserted}")
        if got != exp:
            problems.append("per-competência totals differ from the generator's")
        if problems:
            op.ok, op.error = False, "; ".join(problems)


def _dir_stats(root: str) -> tuple[int, int]:
    """(data files, bytes) under ``root``."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


# --- registered queries (analytic_queries, corpus_curation) --------------------


def normalize(rows, cols) -> list[tuple]:
    """Order-insensitive multiset of rows with columns sorted by name and
    doubles rounded to 9 places (-0.0 and NaN collapsed)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else (round(v, 9) or 0.0)
            vals.append(repr(v))
        out.append(tuple(vals))
    return sorted(out)


class RegisteredQueries(Workload):
    """Runs registered queries by name, in a seed-permuted order, over a
    seeded star schema written at ``sf``. Each query runs once per cycle;
    its answer is collected inside the timed span and compared with the
    query's DuckDB oracle after it."""

    names: list[str] = []
    sf = 0.0

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        from perfbench.inputs import write_star_schema

        self.sf_dir = os.path.join(ctx.work, "sf")
        write_star_schema(self.sf_dir, ctx.seed, self.sf)
        self.expected: dict[str, tuple[list[str], list[tuple]]] = {}

    def warm_table(self) -> str:
        return os.path.join(self.sf_dir, "lineitem.parquet")

    def prepare(self) -> None:
        from etl_lala_spark import plans

        self.registry = plans._REGISTRY
        self.order = list(self.names)
        random.Random(self.ctx.seed).shuffle(self.order)

    def oracle(self, name: str) -> tuple[list[str], list[tuple]]:
        """(sorted column names, normalised rows) of the query's oracle."""
        if name not in self.expected:
            import duckdb

            con = duckdb.connect()
            for path in sorted(os.listdir(self.sf_dir)):
                table = path.removesuffix(".parquet")
                con.execute(
                    f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.sf_dir, path)}')"
                )
            res = con.execute(self.registry[name].oracle)
            cols = [d[0] for d in res.description]
            self.expected[name] = sorted(cols), normalize(res.fetchall(), cols)
            con.close()
        return self.expected[name]

    def verify(self, name: str, cols: list[str], rows: list[tuple]) -> str | None:
        """Compare a query's answer with its DuckDB oracle; None when equal."""
        ocols, orows = self.oracle(name)
        if sorted(cols) != ocols:
            return f"columns {sorted(cols)} != oracle {ocols}"
        if normalize(rows, cols) != orows:
            return f"values differ from the oracle ({len(rows)} vs {len(orows)} rows)"
        return None

    def cycle(self, cycle: int) -> None:
        from etl_lala_spark.plans import _gates

        spark, tr = self.ctx.spark, self.ctx.tracer
        for name in self.order:
            spark.catalog.clearCache()
            _gates.reset_fixture(name)

            def body(op: Op, name=name):
                with tr.layer("plans.build"):
                    df = self.registry[name].fn(spark, self.sf_dir)
                with tr.layer("plans.exec"):
                    return df.columns, [tuple(r) for r in df.collect()]

            op = self.timed(name, "query", cycle, body)
            op.layers["plans.fixture_s"] = _gates.FIXTURE_SECONDS.get(name, 0.0)
            if op.ok:
                try:
                    err = self.verify(name, *op.result)
                except Exception as exc:  # noqa: BLE001 — counted as a wrong answer
                    err = f"{type(exc).__name__}: {exc}"[:300]
                if err:
                    op.ok, op.error = False, err
            op.result = None


class AnalyticQueries(RegisteredQueries):
    name = "analytic_queries"
    # Each run measures the first pass of seventeen distinct queries; an
    # untimed warm-up pass would double the length of a run.
    warmup_cycles = 0
    nominal_cycle_s = 22.0
    names = ANALYTIC_QUERIES
    sf = ANALYTIC_SF


class CorpusCuration(RegisteredQueries):
    name = "corpus_curation"
    names = CURATION_GATES
    nominal_cycle_s = 10.0
    # The gates build their own fixtures; they read only doc_id < 32 of
    # ``documents``.
    sf = 0.001

    def warm_table(self) -> str:
        return os.path.join(self.sf_dir, "documents.parquet")


WORKLOADS = {
    w.name: w for w in (DatasusIngest, AnalyticQueries, CorpusCuration)
}
