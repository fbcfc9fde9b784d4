"""Pandas-oracle tests mirroring ``/root/reference/tests/transforms/test_percentages.py``:
first-cell formulas per axis, sums-to-base invariants, apportioned vs naive
rounding (100/3 case), n/pct block layout, interleaf pairing."""
import numpy as np
import pandas as pd
import pytest

from flatbread_spark import FlatFrame
from flatbread_spark.operators.percentages import add_percentages, as_percentages
from flatbread_spark.operators.totals import add_totals

rng = np.random.default_rng(7)


def tot_pdf(nrows=5, ncols=4):
    pdf = pd.DataFrame(
        rng.integers(1, 100, size=(nrows, ncols)).astype(float),
        index=pd.Index([f"r{i}" for i in range(nrows)], name="R0"),
        columns=[f"c{j}" for j in range(ncols)],
    )
    return pdf


def with_margins(spark, pdf):
    return add_totals(FlatFrame.from_pandas(spark, pdf), axis=2)


def test_as_percentages_axis0(spark):
    pdf = tot_pdf()
    ff = as_percentages(with_margins(spark, pdf), axis=0)
    out = ff.to_pandas()
    # first cell: value / column total
    assert np.isclose(out.iloc[0, 0], pdf.iloc[0, 0] / pdf["c0"].sum())
    # totals row divides to 1
    assert np.allclose(out.loc["Totals"].values, 1.0)


def test_as_percentages_axis1(spark):
    pdf = tot_pdf()
    ff = as_percentages(with_margins(spark, pdf), axis=1)
    out = ff.to_pandas()
    assert np.isclose(out.iloc[0, 0], pdf.iloc[0, 0] / pdf.iloc[0].sum())
    assert np.allclose(out["Totals"].values, 1.0)


def test_as_percentages_axis2(spark):
    pdf = tot_pdf()
    ff = as_percentages(with_margins(spark, pdf), axis=2, base=100)
    out = ff.to_pandas()
    grand = pdf.values.sum()
    assert np.isclose(out.iloc[0, 0], 100 * pdf.iloc[0, 0] / grand)
    assert np.isclose(out.loc["Totals", "Totals"], 100.0)
    # data block sums to base
    assert np.isclose(out.iloc[:-1, :-1].values.sum(), 100.0)


def test_as_percentages_label_totals(spark):
    pdf = tot_pdf()
    ff = add_totals(FlatFrame.from_pandas(spark, pdf), axis=2, label="TOT")
    out = as_percentages(ff, axis=0, label_totals="TOT").to_pandas()
    assert np.isclose(out.iloc[0, 0], pdf.iloc[0, 0] / pdf["c0"].sum())


def test_apportioned_rounding_sums_to_base(spark):
    # the classic 100/3 case: naive rounding gives 99.99 / 33.33*3
    pdf = pd.DataFrame(
        {"n": [1.0, 1.0, 1.0]},
        index=pd.Index(["a", "b", "c"], name="K"),
    )
    ff = add_totals(FlatFrame.from_pandas(spark, pdf), axis=0)
    apportioned = as_percentages(
        ff, axis=0, ndigits=2, base=100, apportioned_rounding=True
    ).to_pandas()
    naive = as_percentages(
        ff, axis=0, ndigits=2, base=100, apportioned_rounding=False
    ).to_pandas()
    assert np.isclose(apportioned["n"].iloc[:-1].sum(), 100.0)
    assert abs(naive["n"].iloc[:-1].sum() - 100.0) > 1e-9
    assert np.isclose(naive["n"].iloc[0], 33.33)


def test_apportioned_heuristic(spark):
    # values sum to totals -> heuristic says apportioned
    pdf = pd.DataFrame({"n": [1.0, 1.0, 1.0]}, index=pd.Index(list("abc"), name="K"))
    ff = add_totals(FlatFrame.from_pandas(spark, pdf), axis=0)
    out = as_percentages(ff, axis=0, ndigits=2, base=100).to_pandas()
    assert np.isclose(out["n"].iloc[:-1].sum(), 100.0)

    # totals inflated -> values are NOT complete proportions -> naive rounding
    pdf2 = pd.concat(
        [pdf, pd.DataFrame({"n": [9.0]}, index=pd.Index(["Totals"], name="K"))]
    )
    ff2 = FlatFrame.from_pandas(spark, pdf2)
    out2 = as_percentages(ff2, axis=0, ndigits=2, base=100).to_pandas()
    assert np.isclose(out2["n"].iloc[0], round(100 / 9.0, 2))


def test_add_percentages_fresh_adds_level(spark):
    pdf = tot_pdf()
    ff = add_percentages(with_margins(spark, pdf), axis=1)
    out = ff.to_pandas()
    assert out.columns.nlevels == 2
    assert set(out.columns.get_level_values(0)) == {"n", "pct"}
    # n block preserved
    assert (out["n"].iloc[:-1, :-1].values == pdf.values).all()
    # pct of first cell vs row total
    assert np.isclose(out[("pct", "c0")].iloc[0], pdf.iloc[0, 0] / pdf.iloc[0].sum())


def test_add_percentages_interleaf(spark):
    pdf = tot_pdf(3, 2)
    ff = add_percentages(with_margins(spark, pdf), axis=1, interleaf=True)
    labels = [c.labels for c in ff.cols]
    # paired: (c0, n), (c0, pct), (c1, n), (c1, pct), …
    assert labels[0][:-1] == labels[1][:-1]
    assert labels[0][-1] == "n" and labels[1][-1] == "pct"


def test_value_counts(spark):
    from flatbread_spark.operators.counts import value_counts

    pdf = pd.DataFrame({"v": ["a", "b", "a", None, "a", "b"]})
    sdf = spark.createDataFrame(pdf)
    ff = value_counts(sdf, "v", add_pct=True, ndigits=2, base=100)
    out = ff.to_pandas()
    assert out.loc["a", "count"] == 3
    assert out.loc["<NA>", "count"] == 1
    assert out.loc["Totals", "count"] == 6
    assert np.isclose(out["pct"].drop("Totals").sum(), 100.0)
    assert out.index[0] == "a"  # sorted by count desc


def test_percentages_ignore_existing_pct_block(spark):
    """Totals added after pct columns must not sum the pct block (axis=1
    ignores tracked pct labels)."""
    pdf = tot_pdf()
    ff = add_percentages(with_margins(spark, pdf), axis=1)
    ff2 = add_totals(ff, axis=1, label="RowSum2")
    new = [c for c in ff2.cols if c.labels[0] == "RowSum2"]
    assert len(new) == 1
    out = ff2.to_pandas()
    # mask excludes ('n','Totals') (tuple contains a totals label) and all pct cols
    expected = pdf.iloc[0].sum()
    assert np.isclose(out[("RowSum2", "")].iloc[0], expected)


def test_apportioned_rounding_precision_loss_boundary(spark):
    """Regression (Hypothesis find): [5,32,47,12]/96 puts the running sum at
    exactly ...499999999999, which the old ``cum - v`` formulation rescaled
    to ...5 via Spark's decimal allowPrecisionLoss and rounded UP — breaking
    the column-sums-to-base telescoping guarantee (sum was 99). The previous
    cumulative must be its own window sum."""
    from pyspark.sql import functions as F

    from flatbread_spark import pivot_table

    rows = [("r0", 5), ("r1", 32), ("r2", 47), ("r3", 12)]
    df = spark.createDataFrame(rows, ["r", "v"])
    ff = pivot_table(df.withColumn("c", F.lit("c0")), index="r", columns="c",
                     values="v", aggfunc="sum", column_values=["c0"])
    out = (
        ff.add_totals(axis=0)
        .as_percentages(axis=0, base=100, ndigits=0, apportioned_rounding=True)
        .to_pandas()
    )
    data = out.loc[["r0", "r1", "r2", "r3"], "c0"]
    assert data.tolist() == [5.0, 34.0, 48.0, 13.0]
    assert data.sum() == 100.0


def test_zero_sum_row_divides_like_pandas(spark):
    """A signed pivot whose row 'a' sums to 0: axis=1 percentages divide the
    pandas way (x/0 = ±inf, 0/0 = NaN) instead of raising ANSI
    DIVIDE_BY_ZERO; rows with a nonzero total are unchanged."""
    from flatbread_spark import pivot_table

    src = spark.createDataFrame(
        [("a", "F", 3.0), ("a", "O", -3.0), ("b", "F", 2.0), ("b", "O", 4.0)],
        "k string, s string, v double",
    )
    ff = pivot_table(src, index="k", columns="s", values="v",
                     column_values=["F", "O"]).add_totals(axis=1)
    pdf = ff.to_pandas()
    want = pdf.div(pdf["Totals"], axis=0).to_numpy()
    assert np.isinf(want[0, :2]).all() and np.isnan(want[0, 2])
    np.testing.assert_array_equal(ff.as_percentages(axis=1).to_pandas().to_numpy(), want)
    added = ff.add_percentages(axis=1).to_pandas()
    np.testing.assert_array_equal(added["pct"].to_numpy(), want)
    np.testing.assert_array_equal(added["n"].to_numpy(), pdf.to_numpy())
