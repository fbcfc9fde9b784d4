"""Percentage transforms.

Parity: ``flatbread/transforms/percentages.py``. A margined table is converted
to fractions of a totals row (axis=0), totals column (axis=1) or the grand
total corner (axis=2); totals are located by label or positionally last
(``percentages.py:63-91`` — position = max ``__pos__`` here). ``add_percentages``
keeps the original block under an ``n`` column level and adds a ``pct`` block
(``percentages.py:357-371``) — in this engine a "column level" is pure
metadata, so adding the level moves no data.

Spark-first notes:
- axis=1 is plain column arithmetic (no shuffle at all).
- A zero totals cell divides the pandas way (``aggfuncs.pandas_div``:
  ±inf, 0/0 NaN), not into Spark's ANSI ``DIVIDE_BY_ZERO``.
- axis=0/2 cross-join the 1-row totals slice — Catalyst broadcasts it.
- Apportioned rounding (largest-remainder via running sums,
  ``percentages.py:390-419``) is the one order-dependent kernel: a window
  running sum ordered by ``__pos__``, per column — exactly pandas' per-column
  cumsum. ``rounded = round(cum, nd) - round(cum - v, nd)`` avoids a lag.
- The rounding-mode heuristic ("do values sum to totals?",
  ``percentages.py:93-105``) needs the answer at plan-build time, so it runs
  one tiny aggregate eagerly. Pass ``apportioned_rounding`` explicitly to stay
  fully lazy.
- Rounding is HALF_UP (Spark/DuckDB convention) vs pandas' banker's rounding;
  identical off the exact .5 boundary.
"""
from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from flatbread_spark.aggfuncs import pandas_div
from flatbread_spark.frame import POS, ColInfo, FlatFrame, make_col_name
from flatbread_spark.operators.totals import _resolve_axis

_T = "__tot_"


def _resolve_ignored_keys(ff: FlatFrame, ignore_keys) -> list[str]:
    """User keys + tracked pct labels. The reference reads the stale attrs key
    ``'percentage'`` (``percentages.py:28``) while tagging writes
    ``'percentages'`` — we implement the intended behavior."""
    keys: list[str] = []
    if isinstance(ignore_keys, str):
        keys.append(ignore_keys)
    elif isinstance(ignore_keys, (list, tuple)):
        keys.extend(ignore_keys)
    keys.extend(ff.tracked("percentages"))
    return keys


def _attach_totals(ff: FlatFrame, dcols: list[ColInfo], axis: int, label_totals):
    """Return (df_with_totals_attached, divisor_expr_fn, totals_colinfo).

    - axis=0: broadcast the totals *row* as ``__tot_<col>`` columns.
    - axis=1: divisor is the totals *column* (label or last data column).
    - axis=2: broadcast the grand-total corner scalar as ``__tot__``.
    """
    df = ff.df
    if axis == 0:
        if label_totals is None:
            tot = df.orderBy(F.desc(POS)).limit(1)
        else:
            tot = df.filter(F.col(ff.index[0]) == F.lit(label_totals)).limit(1)
        tot = tot.select(*[F.col(c.name).alias(_T + c.name) for c in dcols])
        return df.crossJoin(F.broadcast(tot)), (lambda c: F.col(_T + c.name)), None

    if axis == 1:
        if label_totals is None:
            tcol = dcols[-1]
        else:
            match = [c for c in dcols if str(c.labels[0]) == str(label_totals)]
            if not match:
                raise KeyError(f"totals column {label_totals!r} not found")
            tcol = match[0]
        return df, (lambda c: F.col(tcol.name)), tcol

    # axis == 2: corner = totals column value in the totals row
    corner_col = dcols[-1].name
    if label_totals is None:
        tot = df.orderBy(F.desc(POS)).limit(1)
    else:
        tot = df.filter(F.col(ff.index[0]) == F.lit(label_totals)).limit(1)
        match = [c for c in dcols if str(c.labels[0]) == str(label_totals)]
        if match:
            corner_col = match[0].name
    tot = tot.select(F.col(corner_col).alias(_T))
    return df.crossJoin(F.broadcast(tot)), (lambda c: F.col(_T)), None


def _should_apportion(ff: FlatFrame, dcols: list[ColInfo], axis: int, label_totals) -> bool:
    """Heuristic (reference ``percentages.py:93-105``): values are complete
    proportions of totals within 1e-10. One small eager aggregate."""
    df = ff.df
    tol = 1e-10
    if axis in (0, 2):
        if label_totals is None:
            mx = df.agg(F.max(POS).alias("m"))
            df = df.crossJoin(F.broadcast(mx))
            is_tot = F.col(POS) == F.col("m")
        else:
            is_tot = F.col(ff.index[0]) == F.lit(label_totals)
        sums = df.agg(
            *[F.sum(F.when(~is_tot, F.col(c.name))).alias(f"s_{i}") for i, c in enumerate(dcols)],
            *[F.max(F.when(is_tot, F.col(c.name))).alias(f"t_{i}") for i, c in enumerate(dcols)],
        ).first()
        if axis == 0:
            pairs = [(sums[f"s_{i}"], sums[f"t_{i}"]) for i in range(len(dcols))]
        else:
            grand = sum(x for i in range(len(dcols) - 1) if (x := sums[f"s_{i}"]) is not None)
            pairs = [(grand, sums[f"t_{len(dcols) - 1}"])]
        return all(s is not None and t is not None and abs(s - t) < tol for s, t in pairs)

    # axis == 1: every row's sum over value cols (excl. totals col) vs totals col
    tcol = dcols[-1] if label_totals is None else next(
        c for c in dcols if str(c.labels[0]) == str(label_totals)
    )
    vals = [c for c in dcols if c.name != tcol.name]
    rowsum = sum((F.coalesce(F.col(c.name).cast("double"), F.lit(0.0)) for c in vals), F.lit(0.0))
    ok = df.agg(
        F.min((F.abs(rowsum - F.col(tcol.name)) < tol).cast("int")).alias("ok")
    ).first()["ok"]
    return bool(ok)


def _apportioned_round(col: Column, nd: int) -> Column:
    """Largest-remainder rounding via running sums ordered by ``__pos__``
    (reference ``percentages.py:390-419``): round(cum) - round(cum - v),
    nulls contribute 0 and stay null."""
    w = Window.orderBy(POS).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # Parity note: apportioning always runs DOWN THE ROWS of each value
    # column, matching the reference, which pipes the whole pcts DataFrame
    # through a Series-wise cumsum (``percentages.py:229-233`` with
    # ``round_apportioned`` at ``:413-419``) — even for axis=1 percentages,
    # where it preserves each column's rounded sum, not each row's.
    # Accumulate in DECIMAL: the running sum is then exact and
    # engine-independent (double cumsum is ulp-sensitive to order), and
    # decimal arithmetic cannot produce -0.0, which hashes differently from
    # 0.0 even though == treats them as equal.
    #
    # The previous cumulative MUST be its own window sum (frame ending at
    # -1 row), NOT ``cum - v``: subtracting decimal(38,12) - decimal(28,12)
    # trips Spark's allowPrecisionLoss rescale to scale 11, which rounds
    # ...499999999999 up to ...5 BEFORE the outer round and breaks the
    # telescoping sum-preservation guarantee (found by Hypothesis on
    # [5,32,47,12]/96; DuckDB keeps full scale, so the oracle was already
    # exact).
    v = F.coalesce(col, F.lit(0.0)).cast("decimal(28,12)")
    cum = F.sum(v).over(w)
    w_prev = Window.orderBy(POS).rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    prev = F.coalesce(
        F.sum(v).over(w_prev), F.lit(0).cast("decimal(38,12)")
    )
    rounded = (F.round(cum, nd) - F.round(prev, nd)).cast("double")
    return F.when(col.isNull(), F.lit(None)).otherwise(rounded)


def _apportion_ranged(df, raw: dict[str, "Column"], nd: int):
    """Scale path for :func:`_apportioned_round`: identical values, no
    unpartitioned window. Used when the frame was probed large at
    construction (``FlatFrame.pos_ranged`` — e.g. ``value_counts`` over a
    high-cardinality column with ``add_pct=True``, the one place a
    presentation op can see an arbitrarily large frame). All columns share
    one range repartition on ``__pos__`` and one per-partition-offset
    collect (:func:`flatbread_spark.operators.ranking.two_phase_decimal_cumsums`).

    Appends each entry of ``raw`` (output column name → raw percentage
    expression) apportion-rounded to ``nd`` digits; nulls stay null, the
    decimal ladder matches the window path digit-for-digit:
    v=(28,12) → cum=(27,12)+(27,12)=(28,12) → prev=cum-v=(29,12) — every
    step exact, so round(cum,nd)-round(prev,nd) telescopes identically.
    """
    from flatbread_spark.operators.ranking import two_phase_decimal_cumsums

    names = list(raw)
    staged = df
    for i, name in enumerate(names):
        e = raw[name]
        staged = staged.withColumn(
            f"__apv{i}__", F.coalesce(e, F.lit(0.0)).cast("decimal(28,12)")
        ).withColumn(f"__apn{i}__", e.isNull())
    vcols = [f"__apv{i}__" for i in range(len(names))]
    out = two_phase_decimal_cumsums(staged, [POS], vcols)
    for i, name in enumerate(names):
        cum = F.col(f"__apv{i}__{'__cum__'}")
        prev = cum - F.col(f"__apv{i}__")
        rounded = (F.round(cum, nd) - F.round(prev, nd)).cast("double")
        out = out.withColumn(
            name,
            F.when(F.col(f"__apn{i}__"), F.lit(None).cast("double")).otherwise(rounded),
        )
    drops = [f"__apv{i}__" for i in range(len(names))]
    drops += [f"__apv{i}____cum__" for i in range(len(names))]
    drops += [f"__apn{i}__" for i in range(len(names))]
    return out.drop(*drops)


def as_percentages(
    ff: FlatFrame,
    axis=2,
    label_totals: str | None = None,
    ignore_keys: str | Sequence[str] | None = None,
    ndigits: int = -1,
    base: int = 1,
    apportioned_rounding: bool | None = None,
    label_pct: str = "pct",
) -> FlatFrame:
    """Convert cells to fractions of totals (reference ``percentages.py:195-233``).

    Output keeps only the non-pct (data) columns, all rows — the totals
    row/column itself divides to ``base``.
    """
    axis = _resolve_axis(axis)
    keys = _resolve_ignored_keys(ff, ignore_keys)
    dcols = ff.data_cols(keys) if keys else list(ff.cols)
    if not dcols:
        raise ValueError("no data columns")

    df, divisor, _ = _attach_totals(ff, dcols, axis, label_totals)

    if ndigits >= 0 and apportioned_rounding is None:
        apportioned_rounding = _should_apportion(ff, dcols, axis, label_totals)

    pct_exprs: dict[str, Column] = {}
    for c in dcols:
        e = pandas_div(F.col(c.name), divisor(c)) * F.lit(base)
        pct_exprs[c.name] = e

    if ndigits >= 0:
        if apportioned_rounding and ff.pos_ranged:
            # large frame (probed at construction): two-phase ranged cumsum,
            # no single-task window — values identical to the window path
            raw = {f"__ap_{c.name}__": pct_exprs[c.name] for c in dcols}
            apdf = _apportion_ranged(df, raw, ndigits)
            out = apdf.select(
                *ff.index, POS,
                *[F.col(f"__ap_{c.name}__").alias(c.name) for c in dcols],
            )
            res = ff._copy(df=out, cols=dcols)
            return res.tag("percentages", label_pct)
        if apportioned_rounding:
            pct_exprs = {n: _apportioned_round(e, ndigits) for n, e in pct_exprs.items()}
        else:
            pct_exprs = {n: F.round(e, ndigits) for n, e in pct_exprs.items()}

    out = df.select(
        *ff.index, POS, *[pct_exprs[c.name].alias(c.name) for c in dcols]
    )
    res = ff._copy(df=out, cols=dcols)
    return res.tag("percentages", label_pct)


def add_percentages(
    ff: FlatFrame,
    axis=2,
    label_n: str = "n",
    label_pct: str = "pct",
    label_totals: str | None = None,
    ignore_keys: str | Sequence[str] | None = None,
    ndigits: int = -1,
    base: int = 1,
    apportioned_rounding: bool | None = True,
    interleaf: bool = False,
) -> FlatFrame:
    """Side-by-side n/pct blocks (reference ``percentages.py:333-386``).

    Fresh table → new outer column level {n, pct} (metadata only); table that
    already has pct columns → re-derive and append without a new level
    (``percentages.py:367-377``); ``interleaf`` pairs each n with its pct by
    rotating the n/pct level innermost (a pure select-order permutation).
    """
    axis = _resolve_axis(axis)
    keys = _resolve_ignored_keys(ff, ignore_keys)
    dcols = ff.data_cols(keys) if keys else list(ff.cols)
    fresh = len(dcols) == len(ff.cols)

    df, divisor, _ = _attach_totals(ff, dcols, axis, label_totals)
    if ndigits >= 0 and apportioned_rounding is None:
        apportioned_rounding = _should_apportion(ff, dcols, axis, label_totals)

    used = list(df.columns)
    new_cols: list[ColInfo] = []
    exprs: list[Column] = []
    ranged_ap = ndigits >= 0 and apportioned_rounding and ff.pos_ranged
    raw_named: dict[str, Column] = {}
    for c in dcols:
        e = pandas_div(F.col(c.name), divisor(c)) * F.lit(base)
        if ndigits >= 0 and not ranged_ap:
            e = _apportioned_round(e, ndigits) if apportioned_rounding else F.round(e, ndigits)
        if fresh:
            labels = (label_pct,) + c.labels
        else:
            labels = (label_pct,) + c.labels[1:]
        name = make_col_name(labels, used)
        used.append(name)
        if ranged_ap:
            raw_named[name] = e
        else:
            exprs.append(e.alias(name))
        new_cols.append(ColInfo(labels, name))

    if ranged_ap:
        # large frame (probed at construction): two-phase ranged cumsum,
        # no single-task window — values identical to the window path
        apdf = _apportion_ranged(df, raw_named, ndigits)
        out = apdf.select(
            *ff.index, POS, *[c.name for c in ff.cols], *raw_named.keys()
        )
    else:
        out = df.select(*ff.index, POS, *[c.name for c in ff.cols], *exprs)

    if fresh:
        n_block = [ColInfo((label_n,) + c.labels, c.name) for c in ff.cols]
        col_names = [None] + list(ff.col_names)
    else:
        n_block = list(ff.cols)
        col_names = list(ff.col_names)
    cols = n_block + new_cols

    res = ff._copy(df=out, cols=cols, col_names=col_names)
    res = res.tag("percentages", label_pct)
    if interleaf:
        res = _interleaf(res, dcols, label_n, label_pct)
    return res


def _interleaf(ff: FlatFrame, dcols: list[ColInfo], label_n: str, label_pct: str) -> FlatFrame:
    """Rotate the n/pct level innermost and pair columns (reference
    ``percentages.py:378-385`` + ``tooling.py:121-156``). Metadata only."""
    rotated = [ColInfo(c.labels[1:] + (c.labels[0],), c.name) for c in ff.cols]
    base_rank = {c.labels: i for i, c in enumerate(dcols)}
    np_rank = {label_n: 0, label_pct: 1}

    def key(c: ColInfo):
        return (
            base_rank.get(c.labels[:-1], len(base_rank)),
            np_rank.get(c.labels[-1], 2),
        )

    ordered = sorted(rotated, key=key)
    col_names = list(ff.col_names[1:]) + [ff.col_names[0]]
    return ff._copy(cols=ordered, col_names=col_names)
