"""Bit-slice factorization of large-domain dictionary codes.

Reference semantics (NOT code): scardina/common.py:131-196 — a column whose
dictionary exceeds ``2**threshold`` entries has its code bit-sliced into
``ceil(bit_length(dist_size)/threshold)`` sub-columns.  Windows are
little-endian (sub-column 0 takes the low bits); window widths are the even
split of ``bit_length`` with the remainder bits going to the FIRST windows.
Each sub-code is ``((code >> offset) & (2**window - 1)) + 1`` — the +1
reserves 0 for MASK inside each sub-column's own code space.  ``fact_upper``
(the projection of the largest real code) bounds sampling of the most
significant sub-column.

In Spark this is a pure projection — ``shiftright`` + bitwise AND — that
stays entirely inside whole-stage codegen; no shuffle, no UDF.  The model
side splits NumPy code arrays with :func:`sub_codes`, the same arithmetic.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, functions as F


@dataclass(frozen=True)
class SubColumnSpec:
    name: str
    offset: int
    window: int
    upper: int  # projection of the largest real code (fact_upper)
    dist_size: int  # sub-domain size incl MASK slot (+1)


@dataclass(frozen=True)
class FactorizationSpec:
    col: str
    dist_size: int
    threshold: int
    sub_cols: tuple[SubColumnSpec, ...]

    @property
    def is_factorized(self) -> bool:
        return len(self.sub_cols) > 1


def factorization_spec(col: str, dist_size: int, threshold: int = 16
                       ) -> FactorizationSpec:
    """Plan the bit windows for a column with ``dist_size`` codes (incl the
    MASK/NULL slots).  Not factorized when ``dist_size <= 2**threshold``."""
    if dist_size <= 2 ** threshold:
        return FactorizationSpec(col, dist_size, threshold, (
            SubColumnSpec(col, 0, max(dist_size - 1, 1).bit_length(),
                          dist_size - 1, dist_size),))
    bits = dist_size.bit_length()
    n_scols = math.ceil(bits / threshold)
    widths = [bits // n_scols] * n_scols
    for i in range(bits - sum(widths)):
        widths[i] += 1
    subs = []
    offset = 0
    max_code = dist_size - 1
    for i, w in enumerate(widths):
        upper = ((max_code >> offset) & (2 ** w - 1)) + 1
        # sub-domain: dense values 1..largest_projected + MASK slot
        largest = (2 ** w) if i < len(widths) - 1 else upper
        subs.append(SubColumnSpec(f"{col}:{i}", offset, w, upper, largest + 1))
        offset += w
    return FactorizationSpec(col, dist_size, threshold, tuple(subs))


def sub_code_expr(code_col: str, sub: SubColumnSpec) -> Column:
    """``((code >> offset) & (2**window - 1)) + 1`` — JVM-side projection
    (reference semantics: scardina/common.py:188-196)."""
    c = F.col(f"`{code_col}`").cast("long")
    return (
        (F.shiftright(c, sub.offset).bitwiseAND(F.lit(2 ** sub.window - 1)))
        + F.lit(1)
    ).cast("int")


def sub_codes(codes: np.ndarray, sub: SubColumnSpec) -> np.ndarray:
    """NumPy twin of :func:`sub_code_expr` over int64 code arrays."""
    return ((codes >> sub.offset) & ((1 << sub.window) - 1)) + 1
