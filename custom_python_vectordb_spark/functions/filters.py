"""Metadata predicate library (SURVEY.md §2.2).

Reproduces the reference's filter semantics (``FilterOp``
``vectordb_optimized.py:59-69``, ``FilterCondition.evaluate``
``vectordb_optimized.py:79-105``) as Catalyst Column expressions:

- ops: EQ NE GT GTE LT LTE IN NIN CONTAINS REGEX
- **missing field ⇒ predicate is False** — including NE/NIN. This is NOT SQL
  NULL semantics (SQL `x <> v` on NULL yields NULL → filtered, which happens
  to agree; but `NOT (x = v)` under our combinators must also be False for
  missing, so every leaf is wrapped `col IS NOT NULL AND …` to make the
  tri-state logic collapse to the reference's two-state logic).
- combinators AND / OR / NOT compose as Column `& | ~`
  (``Filter.and_/or_/not_`` ``vectordb_optimized.py:167-177``).

Because every leaf is null-guarded, NOT over a missing field yields True —
matching `Filter.not_` over a False leaf. The closure tree of the reference
IS Catalyst's expression tree here; pushdown to the Parquet scan is free.
"""

from __future__ import annotations

from enum import Enum
from functools import reduce
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F


class FilterOp(str, Enum):
    EQ = "eq"
    NE = "ne"
    GT = "gt"
    GTE = "gte"
    LT = "lt"
    LTE = "lte"
    IN = "in"
    NIN = "nin"
    CONTAINS = "contains"
    REGEX = "regex"


def _leaf(field: str, op: FilterOp, value: Any) -> Column:
    c = F.col(field)
    if op is FilterOp.EQ:
        pred = c == F.lit(value)
    elif op is FilterOp.NE:
        pred = c != F.lit(value)
    elif op is FilterOp.GT:
        pred = c > F.lit(value)
    elif op is FilterOp.GTE:
        pred = c >= F.lit(value)
    elif op is FilterOp.LT:
        pred = c < F.lit(value)
    elif op is FilterOp.LTE:
        pred = c <= F.lit(value)
    elif op is FilterOp.IN:
        pred = c.isin(list(value))
    elif op is FilterOp.NIN:
        pred = ~c.isin(list(value))
    elif op is FilterOp.CONTAINS:
        pred = c.contains(value)
    elif op is FilterOp.REGEX:
        pred = c.rlike(value)
    else:  # pragma: no cover
        raise ValueError(f"unknown op {op}")
    # missing field ⇒ False, for every op (vectordb_optimized.py:80-81)
    return c.isNotNull() & pred


class Filter:
    """Composable predicate; mirrors the reference's Filter builder API
    (``vectordb_optimized.py:108-184``) but compiles to a Catalyst Column.

    Filters built through this API additionally carry a structured `spec`
    tree — ``("leaf", field, op, value)`` / ``("and"|"or", l, r)`` /
    ``("not", x)`` / ``("true",)`` — which :meth:`mask` evaluates directly
    over NumPy/pandas metadata columns with the SAME missing⇒False
    semantics. That is the serving-replica twin of the reference's
    vectorized filter-mask path (P5, ``parallel_search.py:212-217``):
    declarative plans compile the Column; the in-process replica evaluates
    the spec. A Filter wrapped around a raw external Column has no spec
    (`spec is None`) and is declarative-only."""

    def __init__(self, column: Column, spec: tuple | None = None):
        self.column = column
        self.spec = spec

    # -- construction -----------------------------------------------------
    @classmethod
    def where(cls, field: str, op: FilterOp | str, value: Any) -> "Filter":
        op = FilterOp(op)
        return cls(_leaf(field, op, value), ("leaf", field, op, value))

    @classmethod
    def from_dict(cls, conditions: dict[str, Any]) -> "Filter":
        """`{k: v, …}` → AND of equality (``vectordb_optimized.py:179-184``)."""
        if not conditions:
            return cls(F.lit(True), ("true",))
        out = None
        for k, v in conditions.items():
            leaf = cls.where(k, FilterOp.EQ, v)
            out = leaf if out is None else out.and_(leaf)
        return out

    # -- combinators ------------------------------------------------------
    def _compose(self, kind: str, other: "Filter | None") -> tuple | None:
        if self.spec is None or (other is not None and other.spec is None):
            return None
        return (kind, self.spec) if other is None else (kind, self.spec, other.spec)

    def and_(self, other: "Filter") -> "Filter":
        return Filter(self.column & other.column, self._compose("and", other))

    def or_(self, other: "Filter") -> "Filter":
        return Filter(self.column | other.column, self._compose("or", other))

    def not_(self) -> "Filter":
        return Filter(~self.column, self._compose("not", None))

    __and__ = and_
    __or__ = or_
    __invert__ = not_

    # -- serving-replica evaluation ---------------------------------------
    def fields(self) -> set[str]:
        """Metadata columns the spec reads (empty for spec-less filters)."""

        def walk(s) -> set[str]:
            if s is None or s[0] == "true":
                return set()
            if s[0] == "leaf":
                return {s[1]}
            if s[0] == "not":
                return walk(s[1])
            return walk(s[1]) | walk(s[2])

        return walk(self.spec)

    def mask(self, columns: dict, n: int):
        """Boolean NumPy mask of length `n` over resident metadata arrays
        (`columns[field]` aligned with the replica's row order). Missing
        field or NULL value ⇒ leaf is False, including under NOT — the
        reference's two-state logic, identical to the Column compilation."""
        import numpy as np
        import pandas as pd

        if self.spec is None:
            raise ValueError("filter has no spec (built from a raw Column); "
                             "use the declarative plan")

        def ev(s):
            if s[0] == "true":
                return np.ones(n, dtype=bool)
            if s[0] == "not":
                return ~ev(s[1])
            if s[0] == "and":
                return ev(s[1]) & ev(s[2])
            if s[0] == "or":
                return ev(s[1]) | ev(s[2])
            _, field, op, value = s
            if field not in columns:
                return np.zeros(n, dtype=bool)
            ser = pd.Series(columns[field])
            ok = ser.notna()
            if op is FilterOp.EQ:
                pred = ser == value
            elif op is FilterOp.NE:
                pred = ser != value
            elif op is FilterOp.GT:
                pred = ser > value
            elif op is FilterOp.GTE:
                pred = ser >= value
            elif op is FilterOp.LT:
                pred = ser < value
            elif op is FilterOp.LTE:
                pred = ser <= value
            elif op is FilterOp.IN:
                pred = ser.isin(list(value))
            elif op is FilterOp.NIN:
                pred = ~ser.isin(list(value))
            elif op is FilterOp.CONTAINS:
                pred = ser.astype("string").str.contains(str(value), regex=False)
            elif op is FilterOp.REGEX:
                # unanchored search, matching Spark's rlike
                pred = ser.astype("string").str.contains(str(value), regex=True)
            else:  # pragma: no cover
                raise ValueError(f"unknown op {op}")
            return (ok & pred.fillna(False)).to_numpy(dtype=bool)

        return ev(self.spec)


def compile_filter(field: str, op: FilterOp | str, value: Any) -> Column:
    return Filter.where(field, op, value).column


def filter_from_dict(conditions: dict[str, Any]) -> Column:
    return Filter.from_dict(conditions).column


# DuckDB oracle equivalents — leaf predicate as SQL text with the same
# missing⇒False guard.
_DUCK_OPS = {
    FilterOp.EQ: lambda f, v: f"({f} IS NOT NULL AND {f} = {v})",
    FilterOp.NE: lambda f, v: f"({f} IS NOT NULL AND {f} <> {v})",
    FilterOp.GT: lambda f, v: f"({f} IS NOT NULL AND {f} > {v})",
    FilterOp.GTE: lambda f, v: f"({f} IS NOT NULL AND {f} >= {v})",
    FilterOp.LT: lambda f, v: f"({f} IS NOT NULL AND {f} < {v})",
    FilterOp.LTE: lambda f, v: f"({f} IS NOT NULL AND {f} <= {v})",
    FilterOp.IN: lambda f, v: f"({f} IS NOT NULL AND {f} IN {v})",
    FilterOp.NIN: lambda f, v: f"({f} IS NOT NULL AND {f} NOT IN {v})",
    FilterOp.CONTAINS: lambda f, v: f"({f} IS NOT NULL AND contains({f}, {v}))",
    FilterOp.REGEX: lambda f, v: f"({f} IS NOT NULL AND regexp_matches({f}, {v}))",
}
