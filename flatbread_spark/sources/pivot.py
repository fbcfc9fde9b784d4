"""Pivot-table construction: long/fact table → FlatFrame.

The reference *assumes* its inputs are already pivoted (crosstab-shaped)
pandas frames; producing them at 100 TB is the engine's job. This module maps
``pd.pivot_table``-style construction onto one of two plans, chosen by the
number of pivot keys:

- up to ``MAX_ONE_AGG_KEYS`` keys, ONE ``groupBy(index).agg(...)`` with one
  aggregate per (value, pivot value) cell — a single shuffle with map-side
  partial aggregation. Spark's own ``groupBy().pivot()`` plans numeric
  pivots as PivotFirst: an aggregate on (index, pivot), a second exchange,
  then ``pivotfirst`` per index — two shuffles where one does.
- above it, Spark's own ``groupBy().pivot()``: every one-aggregate cell
  tests every input row, so that plan's cost per row grows with the key
  count, while PivotFirst updates one (index, pivot) group per row.

Design notes for scale:
- Pass ``column_values`` whenever known: it skips the distinct job that
  discovers them AND bounds the output width (a pivot over an
  unbounded-cardinality column is a modelling error at any scale). Without
  it, more distinct values than ``spark.sql.pivotMaxValues`` raise
  :class:`PivotCardinalityError`, the cap Spark's own pivot applies.
- Multiple pivot fields are combined into one key with a ``\\x1f`` separator
  (Spark pivots a single expression); labels are split back for the
  column-MultiIndex metadata.
- Row order: ``__pos__`` by index order — matching ``pd.pivot_table``'s sorted
  group keys.
"""
from __future__ import annotations

from typing import Any, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, NumericType

from flatbread_spark.aggfuncs import column_agg, nan_safe
from flatbread_spark.frame import ColInfo, FlatFrame, make_col_name

_SEP = "\x1f"
_PIV = "__piv__"
# A pivot Spark would plan as PivotFirst takes the one-aggregate plan up to
# this many keys and Spark's own ``groupBy().pivot()`` above it. Process
# CPU of one pivot, one-aggregate vs Spark's plan (lineitem l_quantity sum
# over l_suppkey % keys, local[4] on a 4-core VM, alternating pairs):
# 60k rows -14% at 2 keys, -2% at 4, +12% at 16; 2.4M rows -1% at 2 keys,
# +8% at 3, +11% at 4; 600k rows 2.3x at 64 keys, 5.0x at 256.
MAX_ONE_AGG_KEYS = 2


class PivotCardinalityError(ValueError):
    """The pivot column has more distinct values than
    ``spark.sql.pivotMaxValues`` and no ``column_values`` were given."""


def _pivot_values(df: DataFrame) -> list[str | None]:
    """The distinct pivot keys, NULL first then ascending as Spark's own
    discovery job returns them (the order column names are assigned in)."""
    cap = int(df.sparkSession.conf.get("spark.sql.pivotMaxValues"))
    rows = df.select(_PIV).distinct().limit(cap + 1).collect()
    if len(rows) > cap:
        raise PivotCardinalityError(
            f"the pivot column has more than spark.sql.pivotMaxValues={cap} "
            "distinct values; pass column_values or raise the conf"
        )
    return sorted((r[0] for r in rows), key=lambda v: (v is not None, v or ""))


def _cell(aggfunc: str, x: Column, hit: Column, pivot_first: bool) -> Column:
    """One pivot cell as a plain aggregate over the rows whose pivot key
    matches (``hit``), with the value Spark's own pivot gives. When every
    cell's type suits PivotFirst (numeric/boolean) Spark aggregates per
    (index, pivot) group first, so an absent combination is NULL even for
    counts, and ``first``/``last`` pick the first/last matching row, NULL
    value or not. Otherwise Spark rewrites each aggregate over
    ``if(hit, x, null)`` itself, with ``first``/``last`` ignoring nulls."""
    fn = column_agg(aggfunc)
    if aggfunc == "size":
        agg = F.count(F.when(hit, F.lit(1)))
    elif aggfunc in ("first", "last") and pivot_first:
        agg = fn(F.when(hit, F.struct(x.alias("v"))), ignorenulls=True)["v"]
    elif aggfunc in ("first", "last"):
        agg = fn(F.when(hit, x), ignorenulls=True)
    else:
        agg = fn(F.when(hit, x))
    return F.when(F.bool_or(hit), agg) if pivot_first else agg


def pivot_table(
    df: DataFrame,
    index: str | Sequence[str],
    columns: str | Sequence[str] | None = None,
    values: str | Sequence[str] = None,
    aggfunc: str = "sum",
    column_values: Sequence[Any] | None = None,
    fill_value: Any = None,
) -> FlatFrame:
    """Spark analog of ``pd.pivot_table`` returning a FlatFrame.

    index/columns/values are column names of ``df``; ``aggfunc`` is a named
    aggregate (JVM built-in — see ``flatbread_spark.aggfuncs``).

    The pivot output is where cardinality collapses from fact scale to
    presentation scale (#groups). ``FlatFrame.from_df`` collects it there
    once and puts it back into the plan as a local relation, so the
    margin/percentage branches chained on it never re-run the fact-table
    scan and aggregate; a pivot above ``engine.pos_auto_threshold`` rows or
    ``frame.LOCAL_FRAME_BYTES`` stays distributed on a pinned input
    instead (see ``from_df``).
    """
    index = [index] if isinstance(index, str) else list(index)
    columns = (
        [] if columns is None else [columns] if isinstance(columns, str) else list(columns)
    )
    if values is None:
        raise ValueError("values is required")
    values = [values] if isinstance(values, str) else list(values)
    fn = column_agg(aggfunc)

    if not columns:
        agged = df.groupBy(*index).agg(*[fn(nan_safe(df, v)).alias(v) for v in values])
        ff = FlatFrame.from_df(agged, index=index)
        ff.col_names = [None]
        return ff

    pivot_expr = (
        F.col(columns[0]).cast("string")
        if len(columns) == 1
        else F.concat_ws(_SEP, *[F.col(c).cast("string") for c in columns])
    )
    src = df.withColumn(_PIV, pivot_expr)
    if column_values is not None:
        pv = [
            str(v) if not isinstance(v, (list, tuple)) else _SEP.join(map(str, v))
            for v in column_values
        ]
    else:
        pv = _pivot_values(src)
    pivot_first = aggfunc not in ("min", "max", "first", "last") or all(
        isinstance(f.dataType, (NumericType, BooleanType))
        for f in df.select(*values).schema.fields
    )

    spark_pivot = pivot_first and len(pv) > MAX_ONE_AGG_KEYS
    cells: list[tuple[ColInfo, Column]] = []
    used: list[str] = list(index)
    for key in pv:
        parts = tuple(("null" if key is None else key).split(_SEP))
        hit = F.col(_PIV).eqNullSafe(F.lit(key))
        for v in values:
            labels = parts + (v,) if len(values) > 1 else parts
            name = make_col_name(labels, used)
            used.append(name)
            e = F.col(name) if spark_pivot else _cell(aggfunc, nan_safe(df, v), hit, pivot_first)
            if fill_value is not None:
                e = F.coalesce(e, F.lit(fill_value))
            cells.append((ColInfo(labels, name), e.alias(name)))

    if not cells:
        # no pivot keys (empty input, or column_values=[]): the index groups
        out = src.select(*index).distinct()
    elif spark_pivot:
        # Spark's own pivot; its cells come key-major in ``pv`` order, the
        # order ``used`` named them in
        out = (
            src.groupBy(*index).pivot(_PIV, pv)
            .agg(*[fn(nan_safe(df, v)) for v in values])
            .toDF(*used)
        )
    else:
        out = src.groupBy(*index).agg(*[e for _, e in cells])
    # stable column order: pandas sorts pivoted labels
    cells.sort(key=lambda c: c[0].labels)
    if spark_pivot:
        out = out.select(*index, *[e for _, e in cells])
    return FlatFrame.from_df(
        out,
        index=index,
        value_cols=[ci.name for ci, _ in cells],
        col_labels=[ci.labels for ci, _ in cells],
        col_names=columns + ([None] if len(values) > 1 else []),
    )


def crosstab(
    df: DataFrame,
    index: str | Sequence[str],
    columns: str | Sequence[str],
    column_values: Sequence[Any] | None = None,
) -> FlatFrame:
    """Count crosstab (``pd.crosstab`` analog): pivot with count agg."""
    return pivot_table(
        df.withColumn("__one__", F.lit(1)),
        index=index,
        columns=columns,
        values="__one__",
        aggfunc="count",
        column_values=column_values,
        fill_value=0,
    )
