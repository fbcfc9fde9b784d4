"""Margin aggregation: ``add_agg`` and ``add_subagg``.

Reference semantics: ``flatbread/transforms/aggregation.py:103-209``.
An aggregate *row* (axis=0) is computed over the non-margin rows and appended
with key ``(label, fill, fill, …)``; a subaggregate row per group at index
level L gets key ``(g0..gL, label, fill…)`` (``aggregation.py:56-70``).

Spark-first design (NOT a port):

- axis=0 margin = one global aggregate whose cells each see only the data
  rows (``fn(when(data_mask, x))``) and which also takes ``max(__pos__)``
  over all rows, ``→ unionByName``; subtotals are
  ``filter(data_mask) → groupBy().agg``. No row is ever "inserted" —
  position is data (``__pos__``).
- axis=1 margin = a new *column* built from a per-row expression over the value
  columns (``flatbread_spark.aggfuncs.row_wise``) — zero shuffle, stays inside
  whole-stage codegen. The reference transposes instead
  (``flatbread/tooling.py:31-43``); a transpose is a non-starter at scale.
- Subtotal placement: ``max(__pos__) within the group + eps`` keeps subtotal
  rows inside their group without renumbering anything (see
  ``FlatFrame.next_eps``). The reference gets this for free from eager
  list-order concat (``aggregation.py:200-203``).
- Callable aggfuncs run as Arrow-batched grouped-map pandas UDFs
  (``applyInPandas``) — the engine's UDAF story; string aggfuncs stay JVM-side.
"""
from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flatbread_spark.aggfuncs import column_agg, get_label, nan_safe, row_wise
from flatbread_spark.frame import POS, ColInfo, FlatFrame, make_col_name, union_aligned


def _resolve_levels(ff: FlatFrame, level) -> list[int]:
    """Positions from int/str/list level spec (reference ``aggregation.py:32-36``)."""
    def one(lv):
        if isinstance(lv, str):
            if lv not in ff.index_names:
                raise ValueError(f"Level name {lv!r} not found in index names")
            return ff.index_names.index(lv)
        n = ff.nlevels
        if lv >= n or lv < -n:
            raise IndexError(f"Level {lv} out of range for index with {n} levels")
        return lv if lv >= 0 else n + lv

    if isinstance(level, (int, str)):
        return [one(level)]
    return [one(lv) for lv in level]


def _check_duplicate_key(ff: FlatFrame, key: tuple) -> None:
    """Reference raises on duplicate margin keys (``aggregation.py:73-79``).
    Checking the actual data would force a Spark action mid-plan, so the check
    runs against the metadata of keys this FlatFrame already created."""
    created = ff.labels.get("__keys__", [])
    if list(key) in [list(k) for k in created]:
        raise ValueError(f"Aggregation row with key {key} already exists")


def _record_key(ff: FlatFrame, key: tuple) -> FlatFrame:
    labels = {k: list(v) for k, v in ff.labels.items()}
    labels.setdefault("__keys__", []).append(tuple(key))
    return ff._copy(labels=labels)


def _callable_agg_row(
    df: DataFrame, value_names: list[str], aggfunc: Callable, *args, **kwargs
) -> DataFrame:
    """Arbitrary-callable aggregation over all (masked) rows via an
    Arrow-batched grouped-map UDF. One group ⇒ one output row."""
    schema = ", ".join(f"`{c}` double" for c in value_names)

    def run(pdf):
        import pandas as pd

        agged = pdf[value_names].agg(aggfunc, *args, **kwargs)
        return pd.DataFrame([agged.astype("float64")])

    return (
        df.select(*value_names)
        .withColumn("__g__", F.lit(1))
        .groupBy("__g__")
        .applyInPandas(lambda pdf: run(pdf), schema=schema)
    )


def _masked_agg(aggfunc: str, x: Column, mask: Column) -> Column:
    """``aggfunc`` over the rows where ``mask`` holds, as one aggregate
    over all rows (the value of ``filter(mask).agg(fn(x))``). ``first`` /
    ``last`` wrap the value in a struct so a NULL value on a masked-in row
    is still picked, while the masked-out rows (NULL structs) are skipped."""
    fn = column_agg(aggfunc)
    if aggfunc == "size":
        return F.count(F.when(mask, F.lit(1)))
    if aggfunc in ("first", "last"):
        return fn(F.when(mask, F.struct(x.alias("v"))), ignorenulls=True)["v"]
    return fn(F.when(mask, x))


def add_agg(
    ff: FlatFrame,
    aggfunc: str | Callable,
    *args,
    axis: int = 0,
    label: str | None = None,
    ignore_keys: str | Sequence[str] | None = None,
    _fill: str = "",
    **kwargs,
) -> FlatFrame:
    """Append one aggregate row (axis=0) or column (axis=1).

    Parity: ``flatbread/transforms/aggregation.py:103-125``.
    """
    label = get_label(label, aggfunc)
    if axis in (1, "columns"):
        return _add_agg_column(ff, aggfunc, label, ignore_keys, _fill, *args, **kwargs)

    mask = ff.data_row_mask(ignore_keys)
    key = (label,) + (_fill,) * (ff.nlevels - 1)
    _check_duplicate_key(ff, key)

    vnames = ff.value_names
    # place after the current last row; max over ALL rows incl. earlier margins
    maxpos = (F.coalesce(F.max(POS), F.lit(0.0)) + 1.0).alias(POS)
    if callable(aggfunc):
        agg_row = _callable_agg_row(ff.df.filter(mask), vnames, aggfunc, *args, **kwargs)
        agg_row = agg_row.crossJoin(ff.df.agg(maxpos))
    else:
        # one aggregate over all rows: each cell sees only the data rows
        agg_row = ff.df.agg(
            *[_masked_agg(aggfunc, nan_safe(ff.df, c), mask).alias(c) for c in vnames],
            maxpos,
        )
    row = agg_row.select(
        *[F.lit(k).cast("string").alias(c) for k, c in zip(key, ff.index)],
        *vnames,
        POS,
    )
    out = ff._copy(df=union_aligned(ff.df, row))
    return _record_key(out, key)


def _all_integral(df, cols: list[ColInfo]) -> bool:
    """True when every named column is an integer type — lets row margins
    keep pandas dtype semantics (int frame -> int sum/min/max margin)."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    kinds = {f.name: f.dataType for f in df.schema.fields}
    return all(
        isinstance(kinds.get(c.name), (ByteType, ShortType, IntegerType, LongType))
        for c in cols
    )


def _row_expr(aggfunc, cols: list[ColInfo], *args, integral: bool = False, **kwargs):
    """Row-wise aggregate expression over value columns: named aggfuncs stay
    JVM-side (``row_wise`` codegen expressions); callables run through an
    Arrow-batched pandas UDF that hands each row to the callable as a Series
    indexed by the column labels — reference-parity with the transpose path
    (``flatbread/tooling.py:31-43``) without a transpose."""
    if callable(aggfunc):
        from flatbread_spark.functions._arrow_kernels import make_row_agg_udf

        labels = [c.labels[0] if len(c.labels) == 1 else c.labels for c in cols]
        kernel = make_row_agg_udf(aggfunc, labels, args, kwargs)
        return kernel(F.array(*[F.col(c.name).cast("double") for c in cols]))
    return row_wise(aggfunc, [F.col(c.name) for c in cols], integral=integral)


def _add_agg_column(
    ff: FlatFrame,
    aggfunc: str | Callable,
    label: str,
    ignore_keys: str | Sequence[str] | None,
    _fill: str,
    *args,
    **kwargs,
) -> FlatFrame:
    """axis=1: one new value column = row-wise aggregate over data columns.

    Pure projection — no shuffle, no transpose. Named aggfuncs stay inside
    whole-stage codegen; callables take the Arrow-batched pandas-UDF path.
    """
    data_cols = ff.data_cols(ignore_keys)
    if not data_cols:
        raise ValueError("no data columns to aggregate")
    new_labels = (label,) + (_fill,) * (ff.ncol_levels - 1)
    if any(c.labels == new_labels for c in ff.cols):
        raise ValueError(f"Aggregation column with key {new_labels} already exists")
    name = make_col_name(new_labels, ff.df.columns)
    expr = _row_expr(
        aggfunc, data_cols, *args,
        integral=_all_integral(ff.df, data_cols), **kwargs,
    )
    return ff._copy(
        df=ff.df.withColumn(name, expr),
        cols=ff.cols + [ColInfo(new_labels, name)],
    )


def add_subagg(
    ff: FlatFrame,
    aggfunc: str | Callable,
    *args,
    axis: int = 0,
    level=0,
    label: str | None = None,
    include_level_name: bool = False,
    ignore_keys: str | Sequence[str] | None = None,
    skip_single_rows: bool = True,
    _fill: str = "",
    **kwargs,
) -> FlatFrame:
    """Per-group aggregate rows at index level(s).

    Parity: ``flatbread/transforms/aggregation.py:129-209`` — levels processed
    innermost-first, group order preserved, groups with ≤1 data row skipped by
    default. One shuffle per level (groupBy on the level prefix); a single
    ROLLUP pass is available via ``flatbread_spark.operators.totals.rollup_subtotals``.
    """
    if axis in (1, "columns"):
        return _subagg_columns(
            ff, aggfunc, level, get_label(label, aggfunc), include_level_name,
            ignore_keys, skip_single_rows, _fill,
        )
    label = get_label(label, aggfunc)
    if ff.nlevels < 2:
        raise AssertionError(
            "Flatbread cannot perform subaggregation if axis is not MultiIndex"
        )
    levels = _resolve_levels(ff, level)
    for lv in levels:
        assert lv < ff.nlevels - 1, f"Level must be smaller than {ff.nlevels - 1}"

    out = ff
    for lv in sorted(levels, reverse=True):
        out = _subagg_one(
            out, aggfunc, lv, label, include_level_name, ignore_keys,
            skip_single_rows, _fill, *args, **kwargs,
        )
    return out


def _subagg_columns(
    ff: FlatFrame,
    aggfunc,
    level,
    label: str,
    include_level_name: bool,
    ignore_keys,
    skip_single_rows: bool,
    _fill: str,
) -> FlatFrame:
    """Column-axis subaggregates: one new value column per group of data
    columns sharing a label prefix at ``level``, inserted after its group.

    The reference reaches this via transpose (``tooling.py:31-43``); here it
    is a pure projection — per-row ``row_wise`` expressions over the group's
    columns, zero shuffle, column hierarchy handled as metadata (§1.3)."""
    ncl = ff.ncol_levels
    if ncl < 2:
        raise AssertionError(
            "Flatbread cannot perform subaggregation if axis is not MultiIndex"
        )
    levels = [level] if isinstance(level, int) else list(level)
    for lv in levels:
        assert lv < ncl - 1, f"Level must be smaller than {ncl - 1}"

    out = ff
    for lv in sorted(levels, reverse=True):
        dcols = out.data_cols(ignore_keys)
        groups: dict[tuple, list[ColInfo]] = {}
        for c in dcols:
            groups.setdefault(c.labels[: lv + 1], []).append(c)
        df = out.df
        new_cols = list(out.cols)
        used = list(df.columns)
        min_cols = 1 if skip_single_rows else 0
        for prefix, members in groups.items():
            if len(members) <= min_cols:
                continue
            sub_label = f"{label} {prefix[-1]}" if include_level_name else label
            labels = prefix + (sub_label,) + (_fill,) * (ncl - lv - 2)
            if any(c.labels == labels for c in new_cols):
                raise ValueError(f"Aggregation column with key {labels} already exists")
            name = make_col_name(labels, used)
            used.append(name)
            df = df.withColumn(
                name,
                _row_expr(aggfunc, members, integral=_all_integral(df, members)),
            )
            insert_at = max(i for i, c in enumerate(new_cols) if c in members) + 1
            new_cols.insert(insert_at, ColInfo(labels, name))
        out = out._copy(df=df, cols=new_cols)
    return out


def _subagg_one(
    ff: FlatFrame,
    aggfunc,
    level: int,
    label: str,
    include_level_name: bool,
    ignore_keys,
    skip_single_rows: bool,
    _fill: str,
    *args,
    **kwargs,
) -> FlatFrame:
    grp = ff.index[: level + 1]
    vnames = ff.value_names
    mask = ff.data_row_mask(ignore_keys)

    if callable(aggfunc):
        schema = ", ".join(f"`{c}` string" for c in grp) + ", " + ", ".join(
            f"`{c}` double" for c in vnames
        ) + ", `__n__` bigint"

        def run(key, pdf):
            import pandas as pd

            agged = pdf[vnames].agg(aggfunc, *args, **kwargs).astype("float64")
            row = dict(zip(grp, key))
            row.update(agged.to_dict())
            row["__n__"] = len(pdf)
            return pd.DataFrame([row])

        agged = ff.df.filter(mask).groupBy(*grp).applyInPandas(run, schema=schema)
    else:
        fn = column_agg(aggfunc)
        agged = (
            ff.df.filter(mask)
            .groupBy(*grp)
            .agg(
                *[fn(nan_safe(ff.df, c)).alias(c) for c in vnames],
                F.count(F.lit(1)).alias("__n__"),
            )
        )
    min_rows = 1 if skip_single_rows else 0
    agged = agged.filter(F.col("__n__") > min_rows).drop("__n__")

    # placement: after the group's current last row (incl. inner-level margins)
    eps, ff = ff.next_eps()
    gmax = ff.df.groupBy(*grp).agg(F.max(POS).alias("__gmax__"))
    rows = agged.join(gmax, on=grp, how="inner")

    label_col = (
        F.concat(F.lit(label + " "), F.col(grp[-1]))
        if include_level_name
        else F.lit(label)
    )
    sel = [F.col(c) for c in grp]
    sel.append(label_col.cast("string").alias(ff.index[level + 1]))
    for c in ff.index[level + 2 :]:
        sel.append(F.lit(_fill).cast("string").alias(c))
    sel += [F.col(c) for c in vnames]
    sel.append((F.col("__gmax__") + eps).alias(POS))
    rows = rows.select(*sel)

    return ff._copy(df=union_aligned(ff.df, rows))
