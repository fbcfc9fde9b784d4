"""Aggregate function registry.

The reference accepts any pandas agg spec — a string name or a callable
(``flatbread/transforms/aggregation.py:105-118``). Here string names map to
JVM-side built-ins (whole-stage-codegen'd, the fast path at scale); callables
fall back to a grouped-map Pandas UDF (Arrow-batched) — the documented slow
path, still distributed.

Two registries are needed because the reference implements axis=1 by
transposing (``flatbread/tooling.py:31-43``) which is infeasible at scale:

- ``COLUMN_AGGS``: name → fn(Column) → Column, used inside ``groupBy().agg``
  for axis=0 margins (aggregate *down* rows).
- ``row_wise``: name → expression over a row's value columns, used for axis=1
  margins (aggregate *across* columns) — pure per-row expressions, no shuffle.
"""
from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

COLUMN_AGGS: dict[str, Callable[[Column], Column]] = {
    "sum": F.sum,
    "mean": F.avg,
    "median": F.median,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "size": lambda c: F.count(F.lit(1)),
    "std": F.stddev_samp,
    "var": F.var_samp,
    "nunique": F.countDistinct,
    "first": F.first,
    "last": F.last,
}


def column_agg(aggfunc: str) -> Callable[[Column], Column]:
    try:
        return COLUMN_AGGS[aggfunc]
    except KeyError:
        raise ValueError(
            f"Unknown aggfunc {aggfunc!r}; known: {sorted(COLUMN_AGGS)} "
            "(or pass a callable for the pandas-UDF path)"
        ) from None


def nan_safe(df, name: str) -> Column:
    """Column reference with pandas missing semantics for aggregation.

    pandas treats NaN as *missing* (every agg is skipna); Spark aggregates
    include NaN and let it poison sums/means. For float/double columns,
    mask NaN to NULL before the aggregate — the branch is decided at plan
    time, so non-float columns pay nothing and float columns add one
    codegen'd conditional per value (noise next to the scan at any scale).
    """
    from pyspark.sql.types import DoubleType, FloatType

    for f in df.schema.fields:
        if f.name == name and isinstance(f.dataType, (DoubleType, FloatType)):
            return F.when(~F.isnan(F.col(name)), F.col(name))
    return F.col(name)


def pandas_div(num: Column, den: Column) -> Column:
    """``num / den`` in double with pandas' ``div`` result on a zero
    denominator: x/0 is +inf or -inf by the sign of x, 0/0 and NaN/0 are
    NaN, and a NULL operand stays NULL. Spark 4's ANSI mode would instead
    raise ``DIVIDE_BY_ZERO`` and fail the whole query (a totals row or
    column of signed values can sum to 0). A -0.0 denominator counts as
    +0.0. Every percentage division goes through here."""
    n, d = num.cast("double"), den.cast("double")
    inf = F.lit(float("inf"))
    at_zero = (
        F.when(F.isnan(n) | (n == 0), F.lit(float("nan")))
        .when(n > 0, inf)
        .when(n < 0, -inf)
    )
    return F.when(d == 0, at_zero).otherwise(n / d)


def _nn_array(cols: list[Column]) -> Column:
    """Array of the row's non-null values, cast to double.

    NaN is filtered alongside NULL: the reference's pandas semantics treat
    NaN as *missing* (skipna), while Spark treats NaN as an ordinary double
    that propagates through arithmetic — without this filter a single NaN
    cell would poison the whole row margin."""
    arr = F.array(*[c.cast("double") for c in cols])
    return F.filter(arr, lambda x: x.isNotNull() & ~F.isnan(x))


def row_wise(aggfunc: str, cols: list[Column], integral: bool = False) -> Column:
    """Row-wise (axis=1) aggregate across value columns.

    Matches pandas NaN-skipping semantics: ``sum`` of an all-null row is 0.0
    (pandas ``sum(axis=1)`` with skipna), ``mean``/``std`` of an all-null row
    is null. ``integral=True`` (all input columns are integer types) keeps
    sum/min/max as bigint — pandas dtype semantics, where a row margin over
    an int frame stays int while mean/std float.
    """
    nn = _nn_array(cols)
    n = F.size(nn)
    total = F.aggregate(nn, F.lit(0.0), lambda acc, x: acc + x)
    # integral=True promises bigint results — accumulate in BIGINT over the
    # uncast integer values, not by casting the double total: int64 rows
    # summing past 2^53 would silently lose precision through the double
    # lane (ADVICE r6). Integer columns can't hold NaN, so a plain
    # isNotNull filter matches _nn_array's missing semantics exactly.
    if integral and aggfunc in ("sum", "min", "max"):
        nn_i = F.filter(
            F.array(*[c.cast("bigint") for c in cols]),
            lambda x: x.isNotNull(),
        )
        if aggfunc == "sum":
            return F.aggregate(
                nn_i, F.lit(0).cast("bigint"), lambda acc, x: acc + x
            )
        return F.array_min(nn_i) if aggfunc == "min" else F.array_max(nn_i)
    if aggfunc == "sum":
        return total
    if aggfunc == "count":
        return n.cast("bigint")
    if aggfunc == "size":
        return F.lit(len(cols)).cast("bigint")
    if aggfunc == "mean":
        return F.when(n > 0, total / n)
    if aggfunc == "min":
        return F.array_min(nn)
    if aggfunc == "max":
        return F.array_max(nn)
    if aggfunc == "nunique":
        return F.size(F.array_distinct(nn)).cast("bigint")
    if aggfunc == "median":
        # element_at needs an integer index; (n+1)/2 is double division in
        # Spark, which fails analysis (DATATYPE_MISMATCH).
        s = F.sort_array(nn)
        lo = F.element_at(s, F.floor((n + 1) / 2).cast("int"))
        hi = F.element_at(s, F.floor((n + 2) / 2).cast("int"))
        return F.when(n > 0, (lo + hi) / 2.0)
    if aggfunc in ("std", "var"):
        mean = total / n
        ssq = F.aggregate(nn, F.lit(0.0), lambda acc, x: acc + (x - mean) * (x - mean))
        var = F.when(n > 1, ssq / (n - 1))
        return var if aggfunc == "var" else F.sqrt(var)
    raise ValueError(f"Unknown row-wise aggfunc {aggfunc!r}")


def get_label(label, aggfunc) -> str:
    """Default margin label from the agg spec (reference ``aggregation.py:22-29``)."""
    if label is not None:
        return label
    if isinstance(aggfunc, str):
        return aggfunc
    if hasattr(aggfunc, "__name__") and aggfunc.__name__ != "<lambda>":
        return aggfunc.__name__
    return "aggregation"
