"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The real surface lives in ``etl_lala_spark`` (plans registry). The driver
records a CORRECTNESS row for only the first 50 queries of a round, so this
module serves the registry in rotation order, read from the repo-root
records:

1. never driver-checked, in registration order;
2. oracle-backed, checked, never green (red retries), in registration order;
3. pins: the verified queries named in ``RECHECK_PINS.json``, whose code
   changed after the round that verified them;
4. the other verified queries.

Tiers 3 and 4 are each sorted least-recently-verified first (last green
round for oracle-backed queries, last checked round for rows-only ones),
ties by registration position. ``oracle_sql()`` keeps the same order.

Round boundary: after a round's ``CORRECTNESS_r{N}.json`` lands, run
``python tools/recheck_pins.py`` to rewrite ``RECHECK_PINS.json``.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

REPO = os.path.dirname(os.path.abspath(__file__))
PINS_PATH = os.path.join(REPO, "RECHECK_PINS.json")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shaped pricing summary) on sf0.001."""
    from etl_lala_spark.plans import query_fns
    from etl_lala_spark.session import apply_session_confs

    apply_session_confs(spark)
    return query_fns()["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


def correctness_records() -> tuple[dict[str, int], dict[str, int]]:
    """(last_checked, last_green): per query with any row in the repo's
    CORRECTNESS_r*.json files, the latest round with a row, and the latest
    round with an all-green row (rows_match + schema_match + hash_match)."""
    last_checked: dict[str, int] = {}
    last_green: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            last_checked[name] = max(rnd, last_checked.get(name, 0))
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                last_green[name] = max(rnd, last_green.get(name, 0))
    return last_checked, last_green


def verified_rounds(
    qs: dict, last_checked: dict[str, int], last_green: dict[str, int]
) -> dict[str, int]:
    """name -> the round that last verified it: the last green round of an
    oracle-backed query, the last checked round of a rows-only one. Queries
    never checked and red retries (oracle-backed, never green) are absent."""
    out: dict[str, int] = {}
    for name, q in qs.items():
        if name not in last_checked:
            continue
        if q.oracle is None:
            out[name] = last_checked[name]
        elif name in last_green:
            out[name] = last_green[name]
    return out


def driver_order() -> list[str]:
    """Every registered query name, in the rotation order above."""
    from etl_lala_spark.plans import all_queries

    qs = all_queries()
    last_checked, last_green = correctness_records()
    verified = verified_rounds(qs, last_checked, last_green)
    with open(PINS_PATH) as fh:
        pins = set(json.load(fh))
    reg_pos = {n: i for i, n in enumerate(qs)}

    def key(name: str) -> tuple[int, int, int]:
        if name in verified:
            return (3 if name in pins else 4, verified[name], reg_pos[name])
        return (1 if name not in last_checked else 2, reg_pos[name], 0)

    return sorted(qs, key=key)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 + north-star ops."""
    from etl_lala_spark.plans import query_fns

    fns = query_fns()
    return {name: fns[name] for name in driver_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query; approximate
    operators (MinHash-LSH, SimHash, LSH-ANN) are intentionally omitted →
    rows-only check."""
    from etl_lala_spark.plans import oracle_sqls

    sqls = oracle_sqls()
    return {name: sqls[name] for name in driver_order() if name in sqls}
