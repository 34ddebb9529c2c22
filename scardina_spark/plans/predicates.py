"""Predicate model, normalization, and lowering to Spark SQL.

Reference semantics (NOT code): scardina/common.py:635-645 (frozen predicate
tuple), scardina/estimators.py:94-116 (op table: > < >= <= = != <> IN
BETWEEN IS IS_NOT LIKE NOT_LIKE) and
scardina/estimators.py:476-549 (normalization: BETWEEN → >= AND <=,
``<>`` → ``!=``, ``= NULL`` → IS NULL, LIKE kept for dictionary
compilation).

Two consumers:
* execution on Spark data — ``predicates_to_sql`` lowers a conjunction
  to one SQL boolean expression for ``DataFrame.where`` (or inside an
  aggregate), which Catalyst pushes into the parquet scan (predicate
  pushdown is the free win the reference's numpy loop cannot have);
* evaluation on driver-side NumPy values — ``value_mask`` and
  ``accepts_null`` give one predicate one meaning for both the model's
  dictionary valid masks (model/progressive.py) and the localized join
  sample (estimators/sample.py).
"""

from __future__ import annotations

import math
import operator
import re
from dataclasses import dataclass
from datetime import datetime
from typing import Any

import numpy as np


@dataclass(frozen=True)
class Predicate:
    """``c`` is ``table.column`` (or a bare column name), ``o`` an op
    (``= != <> < <= > >= IN BETWEEN LIKE NOT LIKE IS IS NOT OR``), ``v``
    the literal (tuple for IN/BETWEEN, None for IS [NOT]).

    ``o == "OR"`` is a disjunction group (beyond the reference's AND-only
    language, scardina/run.py:796-917): ``v`` is a tuple of simple
    Predicates (the branches) and ``c`` is the first branch's column —
    table routing must consult :func:`pred_tables`, not ``.table``."""

    c: str
    o: str
    v: Any = None

    @property
    def table(self) -> str | None:
        return self.c.split(".", 1)[0] if "." in self.c else None

    @property
    def column(self) -> str:
        return self.c.split(".", 1)[1] if "." in self.c else self.c

    @property
    def branches(self) -> tuple["Predicate", ...]:
        """The disjuncts of an OR group (``()`` for simple predicates)."""
        return tuple(self.v) if self.o.upper() == "OR" else ()


def or_predicate(branches: list["Predicate"]) -> "Predicate":
    if not branches:
        raise ValueError("OR group needs at least one branch")
    if len(branches) == 1:
        return branches[0]
    return Predicate(branches[0].c, "OR", tuple(branches))


def pred_tables(p: Predicate) -> set:
    """Table qualifiers referenced by a predicate (OR-aware)."""
    if p.o.upper() == "OR":
        return {b.table for b in p.branches}
    return {p.table}


def normalize_predicates(preds: list[Predicate]) -> list[Predicate]:
    """Driver-side rewrite mirroring the reference's estimation-domain
    normalization (scardina/estimators.py:476-549): BETWEEN splits into a
    >=/<= pair, ``<>`` becomes ``!=``, equality/inequality with NULL
    becomes IS / IS NOT NULL."""
    out: list[Predicate] = []
    for p in preds:
        o = p.o.upper()
        if o == "OR":
            # branch-local rewrites only: BETWEEN must stay a single
            # predicate inside a disjunct (splitting it would turn one
            # branch into two independently-OR'd conjuncts)
            branches = []
            for b in p.branches:
                bo = b.o.upper()
                if bo == "<>":
                    branches.append(Predicate(b.c, "!=", b.v))
                elif bo in ("=", "==") and b.v is None:
                    branches.append(Predicate(b.c, "IS", None))
                elif bo == "!=" and b.v is None:
                    branches.append(Predicate(b.c, "IS NOT", None))
                elif bo == "OR":
                    raise ValueError("nested OR groups are not supported")
                else:
                    branches.append(Predicate(b.c, bo, b.v))
            out.append(Predicate(p.c, "OR", tuple(branches)))
            continue
        if o == "BETWEEN":
            lo, hi = p.v
            out.append(Predicate(p.c, ">=", lo))
            out.append(Predicate(p.c, "<=", hi))
        elif o == "<>":
            out.append(Predicate(p.c, "!=", p.v))
        elif o in ("=", "==") and p.v is None:
            out.append(Predicate(p.c, "IS", None))
        elif o == "!=" and p.v is None:
            out.append(Predicate(p.c, "IS NOT", None))
        else:
            out.append(Predicate(p.c, o, p.v))
    return out


def _like_to_rlike(pattern: str) -> str:
    """SQL LIKE wildcards to an anchored regex (reference analog:
    scardina/estimators.py:29-40 — lowered to Spark's native ``rlike``
    and compiled by ``value_mask`` for driver-side values)."""
    out = []
    for ch in pattern:
        if ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "^" + "".join(out) + "$"


# --- SQL-string lowering -----------------------------------------------------
#
# Building a Column expression tree costs one py4j round-trip per node;
# a batched estimator aggregate over ~80 queries spent ~6 s of pure
# driver time in those round-trips while the cluster idled (guide §4 —
# the same pathology similarity._lit_vec fixed for vector literals).
# Rendering the predicate as ONE SQL string hands the whole tree to
# Catalyst's parser in a single call.  The parsed tree is
# node-for-node the tree the Column API would build (typed literals:
# bare integers, 'D'-suffixed doubles, TIMESTAMP '...' — so no
# decimal-vs-double coercion drift), pinned bit-identical against a
# Column-API reference kept in tests/column_lowering.py by
# test_contrib_sql_matches_column_estimates and its _fast variant.


def sql_literal(v: Any) -> str:
    """Render a predicate literal so Catalyst parses it to the SAME
    typed literal ``F.lit`` would build."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        # bare integral literals parse as INT when they fit, else
        # BIGINT — the same rule F.lit applies
        return str(v)
    if isinstance(v, float):
        # Catalyst has no literal for inf/nan (``infD`` fails to parse)
        if not math.isfinite(v):
            raise ValueError(f"non-finite literal: {v!r}")
        # shortest-repr round-trips the double exactly; the D suffix
        # pins DoubleType (a bare decimal would parse as DECIMAL)
        return repr(v) + "D"
    if isinstance(v, datetime):
        return "TIMESTAMP '" + v.strftime("%Y-%m-%d %H:%M:%S.%f") + "'"
    s = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


def predicate_to_sql(p: Predicate, qualify: bool = False) -> str:
    """Lower one predicate to a SQL boolean expression over Spark data.
    With ``qualify`` the prefixed sample layout (``table.column``) is
    used."""
    o = p.o.upper()
    if o == "OR":
        return "(" + " OR ".join(
            predicate_to_sql(b, qualify) for b in p.branches) + ")"
    name = p.c if qualify else p.column
    c = f"`{name}`"
    if o in (">", "<", ">=", "<="):
        return f"({c} {o} {sql_literal(p.v)})"
    if o in ("=", "=="):
        return f"({c} = {sql_literal(p.v)})"
    if o in ("!=", "<>"):
        return f"({c} != {sql_literal(p.v)})"
    if o == "IN":
        return f"({c} IN (" + ", ".join(
            sql_literal(x) for x in p.v) + "))"
    if o == "BETWEEN":
        lo, hi = p.v
        return (f"({c} BETWEEN {sql_literal(lo)}"
                f" AND {sql_literal(hi)})")
    if o == "IS":
        return f"({c} IS NULL)"
    if o == "IS NOT":
        return f"({c} IS NOT NULL)"
    if o == "LIKE":
        return f"({c} RLIKE {sql_literal(_like_to_rlike(p.v))})"
    if o == "NOT LIKE":
        return f"(NOT ({c} RLIKE {sql_literal(_like_to_rlike(p.v))}))"
    raise ValueError(f"unsupported op: {p.o}")


def predicates_to_sql(preds: list[Predicate], qualify: bool = False) -> str:
    """AND-conjunction (the only connective the reference's query
    language has, scardina/run.py:796-917), left-associated."""
    if not preds:
        return "TRUE"
    return " AND ".join(predicate_to_sql(p, qualify) for p in preds)


# --- driver-side evaluation --------------------------------------------------
#
# SQL three-valued logic split in two: ``value_mask`` says which non-NULL
# values pass, ``accepts_null`` whether a NULL passes.  Only IS NULL (or
# an OR with an IS NULL branch) admits NULL, and a conjunction admits it
# only when every conjunct does.

_COMPARE = {"=": operator.eq, "!=": operator.ne, ">": operator.gt,
            ">=": operator.ge, "<": operator.lt, "<=": operator.le}


def _np_literal(values: np.ndarray, v: Any) -> Any:
    """numpy will not compare a datetime64 array against a python
    ``datetime``, so literals on datetime64 values become datetime64;
    every other literal passes through."""
    if np.issubdtype(values.dtype, np.datetime64):
        return np.datetime64(v)
    return v


def value_mask(values: np.ndarray, p: Predicate) -> np.ndarray:
    """Bool mask of the non-NULL ``values`` that satisfy ``p`` (an op as
    ``normalize_predicates`` emits it; OR branches share ``values``)."""
    o = p.o.upper()
    if o == "OR":
        return np.logical_or.reduce([value_mask(values, b)
                                     for b in p.branches])
    if o in ("IS", "IS NOT"):
        return np.full(len(values), o == "IS NOT")
    if o in ("LIKE", "NOT LIKE"):
        rx = re.compile(_like_to_rlike(str(p.v)))
        m = np.fromiter((rx.match(str(x)) is not None for x in values),
                        dtype=bool, count=len(values))
        return m if o == "LIKE" else ~m
    if o == "IN":
        return np.isin(values, [_np_literal(values, x) for x in p.v])
    if o == "BETWEEN":
        lo, hi = (_np_literal(values, x) for x in p.v)
        return (values >= lo) & (values <= hi)
    if o not in _COMPARE:
        raise ValueError(f"unsupported op: {p.o}")
    return _COMPARE[o](values, _np_literal(values, p.v))


def accepts_null(p: Predicate) -> bool:
    """Whether a NULL value satisfies ``p``."""
    if p.o.upper() == "OR":
        return any(accepts_null(b) for b in p.branches)
    return p.o.upper() == "IS"


def parse_datetime(s: str) -> datetime | None:
    """``datetime`` from an ISO date(time) string, or ``None`` — the ONE
    format list shared by bare literals and the explicit
    ``TIMESTAMP '...'`` / ``::timestamp`` grammar in plans/parse.py, so
    the two forms can never diverge on what parses."""
    for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            return datetime.strptime(s, fmt)
        except ValueError:
            pass
    return None


def literal_value(tok: str) -> Any:
    """Type a SQL literal token: int, float, ISO date(time), NULL, or
    string.  Datetime literals follow the reference's convention of parsing
    date-looking strings (scardina/run.py:863-867) but detect by value, not
    by column name."""
    t = tok.strip()
    if t.upper() == "NULL":
        return None
    if (t.startswith("'") and t.endswith("'")) or (
            t.startswith('"') and t.endswith('"')):
        s = t[1:-1]
        dt = parse_datetime(s)
        if dt is not None:
            return dt
        return s
    try:
        return int(t)
    except ValueError:
        pass
    try:
        return float(t)
    except ValueError:
        pass
    return t
