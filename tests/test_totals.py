"""Pandas-oracle tests for margins, mirroring the reference suite
(``/root/reference/tests/transforms/test_totals.py``): totals equal ``df.sum()``,
subtotal cross-sections equal ``groupby(level).sum()``, custom labels,
ignore_keys, skip_single_rows, include_level_name, commutativity."""
import numpy as np
import pandas as pd
import pytest

from flatbread_spark import FlatFrame
from flatbread_spark.aggfuncs import COLUMN_AGGS
from flatbread_spark.operators.aggregation import add_agg, add_subagg
from flatbread_spark.operators.totals import (
    add_subtotals,
    add_totals,
    drop_totals,
    rollup_subtotals,
)

rng = np.random.default_rng(42)


def simple_pdf(nrows=5, ncols=4):
    return pd.DataFrame(
        rng.integers(1, 100, size=(nrows, ncols)),
        index=pd.Index([f"r{i}" for i in range(nrows)], name="R0"),
        columns=[f"c{j}" for j in range(ncols)],
    )


def multi_pdf():
    idx = pd.MultiIndex.from_tuples(
        [
            ("A", "x", "r0"), ("A", "x", "r1"), ("A", "y", "r2"), ("A", "y", "r3"),
            ("B", "x", "r4"), ("B", "x", "r5"), ("B", "z", "r6"),
        ],
        names=["R0", "R1", "R2"],
    )
    cols = pd.MultiIndex.from_tuples(
        [("G0", "c0"), ("G0", "c1"), ("G1", "c2"), ("G1", "c3")], names=["C0", "C1"]
    )
    return pd.DataFrame(rng.integers(1, 100, size=(7, 4)), index=idx, columns=cols)


def test_totals_row_equals_sum(spark):
    pdf = simple_pdf()
    ff = add_totals(FlatFrame.from_pandas(spark, pdf), axis=0)
    out = ff.to_pandas()
    expected = pdf.sum()
    assert (out.loc["Totals"].astype(int) == expected).all()
    assert list(out.index[:-1]) == list(pdf.index)


def test_totals_axis1_and_both(spark):
    pdf = simple_pdf()
    ff = add_totals(FlatFrame.from_pandas(spark, pdf), axis=2)
    out = ff.to_pandas()
    assert out.loc["Totals", "Totals"] == pdf.values.sum()
    assert (out["Totals"].iloc[:-1].astype(int) == pdf.sum(axis=1)).all()
    assert (out.loc["Totals"].iloc[:-1].astype(int) == pdf.sum(axis=0)).all()


def test_totals_custom_label_and_ignore_keys(spark):
    pdf = simple_pdf()
    pdf.loc["To be ignored"] = 999
    ff = FlatFrame.from_pandas(spark, pdf)
    ff = add_totals(ff, axis=0, label="TOTAAL", ignore_keys=["To be ignored"])
    out = ff.to_pandas()
    expected = pdf.drop("To be ignored").sum()
    assert (out.loc["TOTAAL"].astype(int) == expected).all()


def test_totals_then_totals_ignores_previous(spark):
    """A second totals op must not double-count the first margin row
    (label tracking, reference ``totals.py:14-32``)."""
    pdf = simple_pdf()
    ff = add_totals(FlatFrame.from_pandas(spark, pdf), axis=0)
    ff = add_totals(ff, axis=0, label="Totals2")
    out = ff.to_pandas()
    assert (out.loc["Totals2"].astype(int) == pdf.sum()).all()


def test_subtotals_equal_groupby_sum(spark):
    pdf = multi_pdf()
    ff = add_subtotals(FlatFrame.from_pandas(spark, pdf), axis=0, level=0)
    out = ff.to_pandas()
    sub = out.xs("Subtotals", level=1)
    expected = pdf.groupby(level=0).sum()
    for g in expected.index:
        assert (sub.loc[g].astype(int).values == expected.loc[g].values).all()


def test_subtotals_level1_and_skip_single(spark):
    pdf = multi_pdf()
    ff = add_subtotals(FlatFrame.from_pandas(spark, pdf), axis=0, level=1)
    out = ff.to_pandas()
    sub = out.xs("Subtotals", level=2)
    expected = pdf.groupby(level=[0, 1]).sum()
    counts = pdf.groupby(level=[0, 1]).size()
    for g in expected.index:
        if counts.loc[g] > 1:
            assert (sub.loc[g].astype(int).values == expected.loc[g].values).all()
        else:
            assert g not in sub.index  # single-row group skipped


def test_subtotals_no_skip_single(spark):
    pdf = multi_pdf()
    ff = add_subtotals(
        FlatFrame.from_pandas(spark, pdf), axis=0, level=1, skip_single_rows=False
    )
    out = ff.to_pandas()
    sub = out.xs("Subtotals", level=2)
    assert ("B", "z") in sub.index


def test_subtotals_include_level_name(spark):
    pdf = multi_pdf()
    ff = add_subtotals(
        FlatFrame.from_pandas(spark, pdf), axis=0, level=0, include_level_name=True
    )
    out = ff.to_pandas()
    labels = out.index.get_level_values(1)
    assert "Subtotals A" in labels and "Subtotals B" in labels


def test_subtotals_multiple_levels_positions(spark):
    pdf = multi_pdf()
    ff = add_subtotals(FlatFrame.from_pandas(spark, pdf), axis=0, level=[0, 1])
    out = ff.to_pandas()
    # within group (A, x): data rows then level-1 subtotal; group A ends with level-0 subtotal
    a_rows = out.loc["A"]
    keys = list(a_rows.index)
    assert keys[-1][0] == "Subtotals"  # level-0 subtotal last in group A
    ax = [k for k in keys if k[0] == "x"]
    assert ax[-1][1] == "Subtotals"  # level-1 subtotal after x's data rows


def test_totals_subtotals_commute(spark):
    pdf = multi_pdf()
    f1 = add_totals(
        add_subtotals(FlatFrame.from_pandas(spark, pdf), axis=0, level=0), axis=0
    )
    f2 = add_subtotals(
        add_totals(FlatFrame.from_pandas(spark, pdf), axis=0), axis=0, level=0
    )
    p1, p2 = f1.to_pandas(), f2.to_pandas()
    p1s = p1.sort_index()
    p2s = p2.sort_index()
    pd.testing.assert_frame_equal(p1s, p2s, check_dtype=False)
    # totals must equal data sum in both (no double counting)
    assert (p1.loc[("Totals", "", "")].astype(int) == pdf.sum()).all()


def test_drop_totals_roundtrip(spark):
    pdf = simple_pdf()
    ff = add_totals(FlatFrame.from_pandas(spark, pdf), axis=0)
    back = drop_totals(ff).to_pandas()
    assert (back.astype(int).values == pdf.values).all()
    assert list(back.index) == list(pdf.index)


def test_add_agg_mean_and_axis1(spark):
    pdf = simple_pdf()
    ff = FlatFrame.from_pandas(spark, pdf)
    ff = add_agg(ff, "mean", axis=0)
    ff = add_agg(ff, "max", axis=1)
    out = ff.to_pandas()
    assert np.allclose(out.loc["mean"].iloc[:-1].values, pdf.mean().values)
    assert (out["max"].iloc[:-1].astype(int) == pdf.max(axis=1)).all()


def test_subtotals_axis1_column_groups(spark):
    """Column-axis subtotals: per-group subtotal column inserted after its
    group (reference reaches this via transpose; ours is a projection)."""
    pdf = pd.DataFrame(
        [[1, 2, 3, 4], [5, 6, 7, 8]],
        index=pd.Index(["r0", "r1"], name="r"),
        columns=pd.MultiIndex.from_tuples(
            [("A", "x"), ("A", "y"), ("B", "x"), ("B", "y")], names=["g", "v"]
        ),
    )
    ff = FlatFrame.from_pandas(spark, pdf).add_subtotals(axis=1, level=0)
    out = ff.to_pandas()
    cols = list(out.columns)
    assert cols == [
        ("A", "x"), ("A", "y"), ("A", "Subtotals"),
        ("B", "x"), ("B", "y"), ("B", "Subtotals"),
    ], cols
    assert out[("A", "Subtotals")].tolist() == [3.0, 11.0]
    assert out[("B", "Subtotals")].tolist() == [7.0, 15.0]


def test_subtotals_axis1_skip_single_and_level_name(spark):
    pdf = pd.DataFrame(
        [[1, 2, 3]],
        index=pd.Index(["r0"], name="r"),
        columns=pd.MultiIndex.from_tuples(
            [("A", "x"), ("A", "y"), ("B", "x")], names=["g", "v"]
        ),
    )
    ff = FlatFrame.from_pandas(spark, pdf)
    out = ff.add_subtotals(axis=1, level=0, include_level_name=True).to_pandas()
    assert ("A", "Subtotals A") in out.columns
    assert ("B", "Subtotals B") not in out.columns  # single-column group skipped
    out2 = ff.add_subtotals(axis=1, level=0, skip_single_rows=False).to_pandas()
    assert ("B", "Subtotals") in out2.columns
    assert out2[("B", "Subtotals")].tolist() == [3.0]


def test_add_agg_callable(spark):
    pdf = simple_pdf()

    def spread(s):
        return s.max() - s.min()

    ff = add_agg(FlatFrame.from_pandas(spark, pdf), spread, axis=0)
    out = ff.to_pandas()
    assert (out.loc["spread"].astype(int) == (pdf.max() - pdf.min())).all()


def test_add_agg_callable_axis1(spark):
    """Callable on the column axis runs via the Arrow row-agg kernel and must
    match the reference's transpose+agg result (pandas axis=1 agg)."""
    pdf = simple_pdf()

    def spread(s):
        return s.max() - s.min()

    ff = add_agg(FlatFrame.from_pandas(spark, pdf), spread, axis=1)
    out = ff.to_pandas()
    expected = pdf.agg(spread, axis=1)
    assert np.allclose(out["spread"].values, expected.values)


def test_add_agg_callable_axis1_sees_labels(spark):
    """The callable receives each row as a Series indexed by column labels,
    exactly like the reference's transposed frame."""
    pdf = simple_pdf(3, 3)

    def c0_minus_c2(s):
        return s["c0"] - s["c2"]

    ff = add_agg(FlatFrame.from_pandas(spark, pdf), c0_minus_c2, axis=1)
    out = ff.to_pandas()
    assert np.allclose(out["c0_minus_c2"].values, (pdf["c0"] - pdf["c2"]).values)


def test_add_agg_median_std_axis1(spark):
    """Round-1 regression: (n+1)/2 was double-typed and failed analysis."""
    pdf = simple_pdf(4, 5)
    ff = FlatFrame.from_pandas(spark, pdf)
    ff = add_agg(ff, "median", axis=1, label="med")
    ff = add_agg(ff, "std", axis=1, label="sd", ignore_keys=["med"])
    out = ff.to_pandas()
    assert np.allclose(out["med"].values, pdf.median(axis=1).values)
    assert np.allclose(out["sd"].values, pdf.std(axis=1).values)


def test_duplicate_margin_key_raises(spark):
    pdf = simple_pdf()
    ff = add_totals(FlatFrame.from_pandas(spark, pdf), axis=0)
    with pytest.raises(ValueError):
        add_agg(ff, "sum", axis=0, label="Totals")


def test_rollup_subtotals_matches_chained(spark, lineitem):
    ff = rollup_subtotals(
        lineitem,
        index=["l_returnflag", "l_linestatus"],
        values={"l_quantity": "qty"},
    )
    out = ff.to_pandas()
    pdf = lineitem.select("l_returnflag", "l_linestatus", "l_quantity").toPandas()
    expected_total = pdf["l_quantity"].sum()
    assert abs(out.loc[("Totals", ""), "qty"] - expected_total) < 1e-6
    sub = out.xs("Subtotals", level=1)
    grp = pdf.groupby("l_returnflag")["l_quantity"].sum()
    for g in grp.index:
        assert abs(sub.loc[g, "qty"] - grp.loc[g]) < 1e-6


@pytest.mark.parametrize("aggfunc", sorted(COLUMN_AGGS))
def test_add_agg_one_aggregate_matches_filter_crossjoin(spark, aggfunc):
    """axis=0 add_agg runs one aggregate (each cell masked to the data
    rows, max(__pos__) over all rows); it equals the filter + aggregate +
    crossJoin(max pos) plan it replaced, over a frame that already holds
    margin rows and NULL/NaN cells."""
    from pyspark.sql import functions as F

    from flatbread_spark.aggfuncs import column_agg, nan_safe
    from flatbread_spark.frame import POS

    rows = [("r1", 1.0, None, 5.0), ("r2", None, None, -2.5),
            ("r3", 3.0, None, 0.0), ("r4", 3.0, None, 7.25),
            ("r5", float("nan"), None, 1.0)]
    src = spark.createDataFrame(rows, "k string, a double, b double, c double")
    ff = add_totals(FlatFrame.from_df(src, index=["k"]), axis=0)
    ff = add_agg(ff, "sum", axis=0, label="Sum")
    mask = ff.data_row_mask(["Totals", "Sum"])
    fn = column_agg(aggfunc)
    old = ff.df.filter(mask).agg(
        *[fn(nan_safe(ff.df, c)).alias(c) for c in ff.value_names]
    ).crossJoin(
        ff.df.agg((F.coalesce(F.max(POS), F.lit(0.0)) + 1.0).alias(POS))
    ).first()
    out = add_agg(ff, aggfunc, axis=0, label="X", ignore_keys=["Totals", "Sum"])
    new = out.df.filter(F.col("k") == "X").first()

    def canon(v):  # the union widens the margin row to the frame's types
        return None if v is None else repr(float(v))

    for c in ff.value_names + [POS]:
        assert canon(new[c]) == canon(old[c]), (aggfunc, c, new[c], old[c])
