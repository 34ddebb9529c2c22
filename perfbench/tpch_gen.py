"""Seeded generator for the TPC-H-ish star schema the library's catalog
describes (``scardina_spark.catalog``): the same seven relational tables,
column names, types and value domains as the repository's fixture data,
so ``job_light_suite`` predicates and ``UR_MODEL_COLUMNS`` apply unchanged.

Rows are drawn with NumPy from one ``RandomState(seed)`` and written as
one parquet file per table; equal ``(sf, seed)`` gives byte-equal files.
Foreign keys are uniform over the referenced keys, so a few parent rows
have no children (as in the fixtures).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "hot", "large", "small", "red", "green", "cold", "shiny"]
_NOUN = ["anvil", "bolt", "ring", "widget", "gear", "spring", "valve", "nut"]

# rows per unit of scale factor (TPC-H proportions)
BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "lineitem": 6_000_000}

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def table_rows(sf: float) -> dict[str, int]:
    return {t: max(int(n * sf), 10) for t, n in BASE_ROWS.items()}


def _choice(rs: np.random.RandomState, values: list[str], n: int):
    return pa.array(np.asarray(values, dtype=object)[rs.randint(0, len(values), n)],
                    type=pa.string())


def _money(rs: np.random.RandomState, lo: float, hi: float, n: int):
    return np.round(rs.uniform(lo, hi, n), 2)


def _days(rs: np.random.RandomState, first_day: int, n_days: int, n: int):
    us = _EPOCH_1995 + (first_day + rs.randint(0, n_days, n)) * _US_PER_DAY
    return pa.array(us, type=pa.timestamp("us"))


def generate(sf: float, seed: int) -> dict[str, pa.Table]:
    rs = np.random.RandomState(seed)
    n = table_rows(sf)
    keys = {t: np.arange(k, dtype=np.int64) for t, k in n.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pa.table({
        "n_nationkey": pa.array(nk),
        "n_name": pa.array([f"NATION_{i}" for i in nk]),
        "n_regionkey": pa.array(nk % 5)})
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": keys["customer"],
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": rs.randint(0, 25, c).astype(np.int32),
        "c_acctbal": _money(rs, -999.99, 9999.99, c),
        "c_mktsegment": _choice(rs, SEGMENTS, c)})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": keys["supplier"],
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": rs.randint(0, 25, s).astype(np.int32),
        "s_acctbal": _money(rs, -999.99, 9999.99, s)})
    p = n["part"]
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table({
        "p_partkey": keys["part"],
        "p_name": _choice(rs, names, p),
        "p_brand": _choice(rs, [f"Brand#{i}" for i in range(1, 26)], p),
        "p_type": _choice(rs, PART_TYPES, p),
        "p_size": rs.randint(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys["part"] % 1000) / 10.0, 1)})
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": keys["orders"],
        "o_custkey": rs.randint(0, c, o).astype(np.int64),
        "o_orderstatus": _choice(rs, ["F", "O", "P"], o),
        "o_totalprice": _money(rs, 1000.0, 500_000.0, o),
        "o_orderdate": _days(rs, 0, 2404, o),
        "o_orderpriority": _choice(rs, PRIORITIES, o)})
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rs.randint(0, o, li).astype(np.int64),
        "l_partkey": rs.randint(0, p, li).astype(np.int64),
        "l_suppkey": rs.randint(0, s, li).astype(np.int64),
        "l_linenumber": rs.randint(1, 8, li).astype(np.int32),
        "l_quantity": rs.randint(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rs, 900.0, 105_000.0, li),
        "l_discount": rs.randint(0, 11, li) / 100.0,
        "l_tax": rs.randint(0, 9, li) / 100.0,
        "l_returnflag": _choice(rs, ["A", "N", "R"], li),
        "l_linestatus": _choice(rs, ["F", "O"], li),
        "l_shipdate": _days(rs, 1, 2499, li)})
    return out


def write(sf: float, seed: int, out_dir: str) -> dict[str, str]:
    """Generate and write one parquet file per table; returns the paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in generate(sf, seed).items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
