"""Replica of the driver's correctness gate: run every registered query on
Spark and its DuckDB oracle on the same parquet, compare row count, column
names, and order-insensitive value content. Catches oracle drift before the
driver does (at sf0.001 for speed; the driver uses sf0.01)."""

from __future__ import annotations

import math

import duckdb
import pytest

from etl_lala_spark.io import TABLES, table_path
from etl_lala_spark.plans import all_queries

QUERIES = all_queries()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def normalize(rows, cols):
    """Sort columns by name, normalize values, return a sortable multiset."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 9)
                    if v == 0:
                        v = 0.0  # collapse -0.0
            vals.append(repr(v))
        out.append(tuple(vals))
    return sorted(out)


# DuckDB output types whose value encoding diverges from Spark's even when
# the values are numerically identical — each burned a driver round before
# this gate existed: HUGEINT (r3 `dq_lineitem_expectations`: DuckDB
# sum(CASE) is int128, Spark's is int64 — same values, different hash) and
# list/struct/map columns (r2 `embedding_centroids`: array column hashed
# differently; flat string encodings are the convention now). The driver's
# value-hash is encoding-sensitive, so registered oracles must only emit
# types both engines encode identically.
def assert_driver_safe_types(con, sql: str, name: str) -> None:
    types = [str(t).upper() for t in con.sql(sql).types]
    for t in types:
        assert "HUGEINT" not in t, (
            f"{name}: oracle emits {t}; wrap in CAST(... AS BIGINT) — "
            "DuckDB int128 hash-mismatches Spark's int64 in the driver"
        )
        assert "[]" not in t and not t.startswith(("STRUCT", "MAP", "UNION")), (
            f"{name}: oracle emits nested type {t}; encode as a flat string "
            "(the embedding_centroids convention) for driver hash stability"
        )


def test_type_gate_rejects_hugeint():
    """The gate itself must fail on a deliberately-HUGEINT oracle."""
    con = duckdb.connect()
    with pytest.raises(AssertionError, match="HUGEINT"):
        assert_driver_safe_types(con, "SELECT sum(i) AS s FROM range(10) t(i)", "demo")
    with pytest.raises(AssertionError, match="nested"):
        assert_driver_safe_types(con, "SELECT [1, 2] AS a", "demo")
    # and pass on the CAST-disciplined form
    assert_driver_safe_types(
        con, "SELECT CAST(sum(i) AS BIGINT) AS s FROM range(10) t(i)", "demo"
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    q = QUERIES[name]
    sdf = q.fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns

    if q.oracle is None:
        # rows-only: the driver records the weaker check; assert it runs.
        assert isinstance(srows, list)
        return

    con = duck_con(sf_dir)
    assert_driver_safe_types(con, q.oracle, name)
    res = con.execute(q.oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()

    assert sorted(scols) == sorted(ocols), f"{name}: column names differ"
    assert len(srows) == len(orows), f"{name}: row count {len(srows)} != {len(orows)}"
    snorm, onorm = normalize(srows, scols), normalize(orows, ocols)
    mismatch = [(a, b) for a, b in zip(snorm, onorm) if a != b][:5]
    assert snorm == onorm, f"{name}: value mismatch, first diffs: {mismatch}"


@pytest.mark.parametrize("name", ["events_sessionization", "events_peak_concurrency"])
def test_session_gap_rule_subsecond_matches_oracle(spark, tmp_path, name):
    """The 30-minute gap rule compares sub-second timestamps exactly, as the
    oracle's ``INTERVAL 30 MINUTE`` does: a 1800.5 s gap that reads as 1800 in
    truncated whole seconds still starts a new session."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0, 200_000)
    sec = datetime.timedelta(seconds=1)
    user1 = [t0, t0 + 1800.5 * sec, t0 + 3600.5 * sec, t0 + 5400.1 * sec]
    user2 = [t0 + 0.7 * sec, t0 + 1800.9 * sec]  # 1800.2 s: a new session
    ts = user1 + user2
    n = len(ts)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array([1] * len(user1) + [2] * len(user2), pa.int64()),
                "event_type": ["view"] * n,
                "value": [float(i) for i in range(n)],
                "props": ["{}"] * n,
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    sf = str(tmp_path)
    sdf = QUERIES[name].fn(spark, sf)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{table_path(sf, 'events')}')")
    res = con.execute(QUERIES[name].oracle)
    orows = res.fetchall()
    assert normalize(srows, sdf.columns) == normalize(orows, [d[0] for d in res.description])
    if name == "events_sessionization":
        assert [r["n_events"] for r in sdf.collect()] == [1, 3, 1, 1]
