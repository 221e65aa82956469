"""Session-scoped scratch roots for driver-gate queries.

Gate queries (versioned-table lifecycle, streaming batch twins) build real
on-disk state — transaction logs, SCD2 dimension tables, summary tables —
and return a DataFrame over it. A function-scoped tempdir would force the
gate to ``collect()`` before cleanup (the round-4 verdict flagged exactly
that pattern as one not to copy into production read paths); instead each
gate builds under a root keyed by the Spark application id, so the returned
plan stays LAZY and valid for the whole session, and a crashed prior run of
the same session can never leak into a rebuild (the per-gate dir is wiped
before each build). The root is removed when the driver process exits.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_CLEANUP_REGISTERED: set[str] = set()


def gate_workdir(spark: SparkSession, name: str) -> str:
    """A fresh, empty scratch dir for gate ``name``, alive until the driver
    process exits. Re-invoking the same gate in one session rebuilds from
    scratch (DataFrames returned by the PREVIOUS invocation become invalid —
    gate queries are run once per driver round by contract)."""
    root = os.path.join(
        tempfile.gettempdir(),
        f"etl_lala_gates-{spark.sparkContext.applicationId}",
    )
    if root not in _CLEANUP_REGISTERED:
        _CLEANUP_REGISTERED.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    work = os.path.join(root, name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def counted_checkpoint(df: DataFrame, agg: Column | None = None) -> tuple:
    """Eagerly ``localCheckpoint`` ``df`` and return ``(checkpoint, n)``,
    where ``n`` is the row count observed by the checkpoint job itself: a
    gate's stage count without a ``count()`` job that re-scans the
    checkpoint. ``agg`` observes another aggregate instead of the count
    (e.g. ``F.sum(...)``, which is ``None`` over an empty frame)."""
    obs = Observation()
    agg = F.count(F.lit(1)) if agg is None else agg
    cp = df.observe(obs, agg.alias("n")).localCheckpoint(eager=True)
    return cp, obs.get["n"]


# --- fixture-time accounting -------------------------------------------------
#
# Gate queries build real on-disk fixtures (landing source parquet, rendering
# DBC files, pre-staging downloads) before exercising the operator under
# test. bench.py times the whole query fn, so a regression in the OPERATOR
# could hide inside fixture noise (round-6 verdict). Gates wrap their
# fixture-building region in ``fixture_region(name)``; the bench subtracts
# the recorded wall time per sample and reports operator-only figures, with
# the fixture share on stderr.

import time as _time
from contextlib import contextmanager

FIXTURE_SECONDS: dict[str, float] = {}


@contextmanager
def fixture_region(name: str):
    """Accumulate wall time spent building gate fixtures under ``name``
    (reset by the bench before each timed sample via ``reset_fixture``)."""
    t0 = _time.perf_counter()
    try:
        yield
    finally:
        FIXTURE_SECONDS[name] = (
            FIXTURE_SECONDS.get(name, 0.0) + _time.perf_counter() - t0
        )


def reset_fixture(name: str) -> None:
    FIXTURE_SECONDS.pop(name, None)


# --- index-build-time accounting ----------------------------------------------
#
# ANN gates TRAIN their quantizers / build their index inside the query fn
# (Lloyd/PQ iterations are driver-elected actions), then return the lazy
# probe plan. Both costs matter, but they scale differently — training
# amortizes at 100 TB while the probe path is the per-query cost — so a
# probe regression could hide inside training noise in a single wall
# figure (round-8 verdict task 5). Gates wrap the build in
# ``build_region(name)``; bench.py reports *_build / *_probe sub-rows in
# BENCH_DETAIL.json while the headline figure stays build+probe (the
# round-over-round comparable number).

BUILD_SECONDS: dict[str, float] = {}


@contextmanager
def build_region(name: str):
    """Accumulate wall time spent training/building an index under
    ``name`` (reset by the bench before each timed sample via
    ``reset_build``)."""
    t0 = _time.perf_counter()
    try:
        yield
    finally:
        BUILD_SECONDS[name] = (
            BUILD_SECONDS.get(name, 0.0) + _time.perf_counter() - t0
        )


def reset_build(name: str) -> None:
    BUILD_SECONDS.pop(name, None)
