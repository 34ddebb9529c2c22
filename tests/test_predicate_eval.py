"""One meaning per predicate on driver-side values.

The model's dictionary valid masks (``progressive.valid_mask``) and the
localized HT sample (``sample._column_mask``) both evaluate through
``plans.predicates.value_mask`` / ``accepts_null``.  These tests pin the
two consumers to each other and to DuckDB's ``WHERE`` on the same
values, for every op ``parse_query`` emits, on five column kinds, for
single predicates and for every pair of them.  Spark-free.
"""

from __future__ import annotations

import itertools
from types import SimpleNamespace

import duckdb
import numpy as np
import pandas as pd
import pytest

from scardina_spark.estimators.sample import _column_mask
from scardina_spark.model.progressive import (
    NULL_SLOT, ColumnDomain, valid_mask)
from scardina_spark.plans.parse import parse_query
from scardina_spark.plans.predicates import normalize_predicates

N = 60
_rs = np.random.RandomState(5)
_NULLS = _rs.rand(N) < 0.2
_STRINGS = ["a", "b", "b.c", "bxc", "a+b", "aab", "aa", "#1", "x#y",
            "_", "%", "ab.c"]


def _with_nulls(vals: list) -> list:
    return [None if n else v for v, n in zip(vals, _NULLS)]


_NUM = ["x = 3", "x != 3", "x > 3", "x >= 3", "x < 6", "x <= 6",
        "x IN (1, 4, 9)", "x BETWEEN 2 AND 5", "x IS NULL",
        "x IS NOT NULL", "(x = 1 OR x > 7)", "(x IS NULL OR x < 2)",
        "(x BETWEEN 1 AND 2 OR x IN (8, 9))"]
# LIKE is a string op: the regex metacharacters . + # must be literal,
# _ one character and % any run
_STR = ["x = 'b.c'", "x != 'b.c'", "x > 'b'", "x >= 'b.c'", "x < 'b'",
        "x <= 'a+b'", "x IN ('a', 'a+b', 'zz')",
        "x BETWEEN 'a' AND 'b.c'", "x IS NULL", "x IS NOT NULL",
        "x LIKE 'b.%'", "x LIKE 'a+_'", "x LIKE '#%'", "x LIKE '_'",
        "x LIKE '%#%'", "x NOT LIKE '%.c'", "x NOT LIKE 'a%'",
        "(x LIKE 'b_c' OR x = 'a')", "(x IS NULL OR x LIKE '%+%')"]
_TS = ["x = '2020-01-03'", "x != '2020-01-03'", "x > '2020-01-04'",
       "x >= '2020-01-04 00:00:00'", "x < '2020-01-05'",
       "x <= '2020-01-02'", "x IN ('2020-01-01', '2020-01-07')",
       "x BETWEEN '2020-01-02' AND '2020-01-05'", "x IS NULL",
       "x IS NOT NULL", "(x < '2020-01-02' OR x > '2020-01-08')",
       "(x IS NULL OR x = '2020-01-06')"]

_days = pd.Timestamp("2020-01-01") + pd.to_timedelta(
    _rs.randint(0, 10, N), unit="D")
KINDS = {
    # kind: (localized pandas column, dtype DuckDB reads it as (None:
    # unchanged), WHERE clauses)
    "int": (pd.Series(_rs.randint(0, 10, N)), None, _NUM),
    "float": (pd.Series(_with_nulls(list(_rs.randint(0, 20, N) / 2)),
                        dtype=float), None, _NUM),
    "categorical": (pd.Series(_with_nulls(list(_rs.choice(_STRINGS, N))),
                              dtype="category"), "object", _STR),
    "object": (pd.Series(_with_nulls(list(_rs.choice(_STRINGS, N))),
                         dtype=object), None, _STR),
    "timestamp": (pd.Series(_days).where(~_NULLS), None, _TS),
}


def _dictionary(col: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(sorted distinct non-NULL values, per-row code: NULL -> 1,
    value i -> i + 2) — the model's domain layout."""
    notna = col.notna().to_numpy()
    raw = col.astype(object) if isinstance(
        col.dtype, pd.CategoricalDtype) else col
    vals = raw[notna].to_numpy()
    dic = np.unique(vals)
    codes = np.ones(len(col), dtype=np.int64)
    codes[notna] = np.searchsorted(dic, vals) + 2
    return dic, codes


def _cases(singles: list[str]) -> list[str]:
    return singles + [f"{a} AND {b}"
                      for a, b in itertools.combinations(singles, 2)]


@pytest.mark.parametrize("kind", list(KINDS))
def test_ht_mask_model_mask_and_duckdb_agree(kind):
    col, duck_dtype, singles = KINDS[kind]
    ts = SimpleNamespace(local=pd.DataFrame({"t.x": col}))
    dom_values, codes = _dictionary(col)
    dom = ColumnDomain("t.x", dom_values)
    con = duckdb.connect()
    con.register("t", pd.DataFrame({
        "i": np.arange(N),
        "x": col.astype(duck_dtype) if duck_dtype else col}))
    bad = []
    for where in _cases(singles):
        preds = normalize_predicates(
            parse_query(f"SELECT COUNT(*) FROM t WHERE {where}").filters)
        ht = np.logical_and.reduce([_column_mask(ts, p) for p in preds])
        model = valid_mask(dom, preds)[codes] > 0.5
        duck = np.zeros(N, dtype=bool)
        duck[[r[0] for r in con.sql(
            f"SELECT i FROM t WHERE {where}").fetchall()]] = True
        if not (np.array_equal(ht, duck) and np.array_equal(model, duck)):
            bad.append(where)
    assert not bad, bad


@pytest.mark.parametrize("where", [
    "x IS NULL AND x > 5",
    "x IS NOT NULL AND x IS NULL",
    "(x IS NULL OR x < 5) AND x < 8",
])
def test_valid_mask_null_slot_matches_duckdb(where):
    """The NULL slot is open only when every conjunct accepts NULL: no
    NULL row passes any of these conjunctions in DuckDB."""
    col = KINDS["float"][0]
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"x": col}))
    nulls_pass = con.sql(
        f"SELECT COUNT(*) FROM t WHERE x IS NULL AND ({where})"
    ).fetchone()[0]
    assert nulls_pass == 0
    preds = normalize_predicates(
        parse_query(f"SELECT COUNT(*) FROM t WHERE {where}").filters)
    m = valid_mask(ColumnDomain("t.x", _dictionary(col)[0]), preds)
    assert m[NULL_SLOT] == 0.0
