"""Seeded inputs for the benchmark workloads.

Everything here runs before any timed region and only writes files: the
engine sees the generated files, never the seed.

- ``write_star_schema``: the TPC-H-shaped star schema plus the ``events``
  and ``documents`` tables that the registered queries read, with the same
  column names, types and value domains as the repository's test data.
- ``render_datasus``: DATASUS-shaped archives, one ``.dbc`` member per ZIP
  and one ZIP per (UF, competência), plus the closed-form totals the loaded
  table must reproduce.
"""

from __future__ import annotations

import datetime as dt
import os
import zipfile
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "hot", "blue", "small", "red", "green", "cold", "old"]
_PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line"
    " merge order part query row scan slow small sort spark stream table the"
    " value vector window"
).split()
_DOC_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _days(start: str, rng: np.random.Generator, n: int, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[us]")


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_star_schema(out_dir: str, seed: int, sf: float) -> None:
    """Write one parquet file per table under ``out_dir`` at scale ``sf``
    (sf 0.1 = 600k lineitem rows)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(150, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), n_part)]
    noun = np.array(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), n_part)]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days("1995-01-01", rng, n_ord, 2404),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days("1995-01-02", rng, n_li, 2498),
    })
    # Whole seconds: events_sessionization compares gaps in whole seconds
    # (ts cast to long), so a sub-second part can flip a session boundary
    # against its oracle.
    ts = np.sort(rng.integers(0, 30 * 86_400, n_ev)) * 1_000_000
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    lengths = rng.integers(8, 70, n_docs)
    words = np.array(_DOC_WORDS)[rng.integers(0, len(_DOC_WORDS), int(lengths.sum()))]
    texts, pos = [], 0
    for n in lengths:
        texts.append(" ".join(words[pos : pos + n]))
        pos += n
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_DOC_LANGS)[rng.integers(0, len(_DOC_LANGS), n_docs)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


# --- DATASUS archives ---------------------------------------------------------

# SIA "PA" (produção ambulatorial) layout, cut to twelve character fields.
DATASUS_COLUMNS = [
    "PA_CODUNI", "PA_GESTAO", "PA_CONDIC", "PA_UFMUN", "PA_TPUPS", "PA_TIPPRE",
    "PA_MVM", "PA_CMP", "PA_PROC_ID", "PA_CBOCOD", "PA_QTDAPR", "PA_VALAPR",
]
_UFS = ["AL", "PB", "PE", "RN", "SE", "BA", "CE", "PI"]


@dataclass
class DatasusInputs:
    """Rendered archives and what a correct load of them must produce."""

    cold: list[tuple[str, str]]  # (file:// url, archive name) of the cold manifest
    replay: list[tuple[str, str]]  # cold manifest plus the new months
    new_months: list[str]
    # competência -> (rows, sum of PA_QTDAPR, sum of PA_VALAPR in cents)
    totals: dict[str, tuple[int, int, int]] = field(default_factory=dict)
    dbc_members: list[bytes] = field(default_factory=list)

    def rows(self, months) -> int:
        return sum(self.totals[m][0] for m in months)

    @property
    def cold_months(self) -> list[str]:
        return sorted(set(self.totals) - set(self.new_months))


def _month(anchor: dt.date, k: int) -> str:
    y, m = divmod(anchor.year * 12 + anchor.month - 1 + k, 12)
    return f"{y:04d}{m + 1:02d}"


def render_datasus(
    out_dir: str, seed: int, n_ufs: int, n_months: int, n_new: int, rows: tuple[int, int]
) -> DatasusInputs:
    """Render ``n_ufs × (n_months + n_new)`` archives ``PA{UF}{YYMM}.zip``.

    The seed sets the first month, the rows of each file (uniform in
    ``rows``) and every value. The first ``n_months`` months form the cold
    manifest; the replay manifest adds the ``n_new`` months after them.
    """
    from etl_lala_spark.sources.dbc import dbf_to_dbc, write_dbf

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    anchor = dt.date(2015 + int(rng.integers(0, 8)), int(rng.integers(1, 13)), 1)
    months = [_month(anchor, k) for k in range(n_months + n_new)]
    ufs = _UFS[:n_ufs]
    inputs = DatasusInputs([], [], months[n_months:])
    for mi, mvm in enumerate(months):
        n_rows_uf = rng.integers(rows[0], rows[1] + 1, len(ufs))
        for uf, n in zip(ufs, n_rows_uf):
            qtd = rng.integers(1, 100, n)
            val = rng.integers(100, 5_000_00, n)
            cols = [
                rng.integers(2_000_000, 9_999_999, n).astype(str),  # PA_CODUNI
                rng.integers(260_000, 269_999, n).astype(str),  # PA_GESTAO
                np.array(["EP", "IN", "PG"])[rng.integers(0, 3, n)],  # PA_CONDIC
                rng.integers(260_010, 261_650, n).astype(str),  # PA_UFMUN
                np.array(["02", "04", "05", "36", "39"])[rng.integers(0, 5, n)],
                np.array(["00", "01", "10"])[rng.integers(0, 3, n)],  # PA_TIPPRE
                np.full(n, mvm),  # PA_MVM
                np.full(n, months[max(0, mi - int(rng.integers(0, 3)))]),  # PA_CMP
                rng.integers(101_010_010, 999_999_999, n).astype(str),
                np.array(["225125", "223505", "322205", "515105"])[rng.integers(0, 4, n)],
                qtd.astype(str),
                np.char.mod("%.2f", val / 100.0),
            ]
            records = np.stack(cols, axis=1).tolist()
            member = dbf_to_dbc(write_dbf(DATASUS_COLUMNS, records))
            name = f"PA{uf}{mvm[2:]}"
            path = os.path.join(out_dir, name + ".zip")
            with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as zf:
                zf.writestr(name + ".dbc", member)
            entry = ("file://" + os.path.abspath(path), name + ".zip")
            if mi < n_months:
                inputs.cold.append(entry)
            inputs.replay.append(entry)
            inputs.dbc_members.append(member)
            r, q, v = inputs.totals.get(mvm, (0, 0, 0))
            inputs.totals[mvm] = (r + int(n), q + int(qtd.sum()), v + int(val.sum()))
    return inputs
