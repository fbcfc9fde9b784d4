"""Pivot construction tests (``flatbread_spark/sources/pivot.py``)."""
import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flatbread_spark import crosstab, pivot_table
from flatbread_spark.aggfuncs import COLUMN_AGGS, column_agg, nan_safe
from flatbread_spark.sources import pivot as pivot_mod
from flatbread_spark.sources.pivot import PivotCardinalityError

from tests.conftest import pos_auto_threshold


def _src(spark):
    pdf = pd.DataFrame(
        {
            "k": ["a", "a", "b", "b"],
            "s": ["F", "O", "F", "O"],
            "unit_qty": [1.0, 2.0, 3.0, 4.0],
            "net_amt": [10.0, 20.0, 30.0, 40.0],
        }
    )
    return spark.createDataFrame(pdf)


def test_multi_value_pivot_labels_with_underscores(spark):
    """Round-1 regression: rpartition('_') split Spark's '<pivval>_<value>'
    column names at the wrong underscore when the value name contains one,
    corrupting the column MultiIndex."""
    ff = pivot_table(
        _src(spark), index="k", columns="s",
        values=["unit_qty", "net_amt"], aggfunc="sum",
    )
    labels = [c.labels for c in ff.cols]
    assert labels == [
        ("F", "net_amt"), ("F", "unit_qty"), ("O", "net_amt"), ("O", "unit_qty"),
    ], labels
    out = ff.to_pandas()
    assert out[("F", "unit_qty")].tolist() == [1.0, 3.0]
    assert out[("O", "net_amt")].tolist() == [20.0, 40.0]


def test_multi_value_pivot_suffix_ambiguity(spark):
    """values=['qty', 'unit_qty'] must not cross-assign."""
    df = _src(spark).withColumnRenamed("net_amt", "qty")
    ff = pivot_table(
        df, index="k", columns="s", values=["qty", "unit_qty"], aggfunc="sum"
    )
    labels = sorted(c.labels for c in ff.cols)
    assert labels == [
        ("F", "qty"), ("F", "unit_qty"), ("O", "qty"), ("O", "unit_qty"),
    ], labels
    out = ff.to_pandas()
    assert out[("F", "unit_qty")].tolist() == [1.0, 3.0]
    assert out[("F", "qty")].tolist() == [10.0, 30.0]


def test_multi_value_pivot_key_ending_in_value_suffix(spark):
    """Labels come from the pivot keys and value names themselves, so a key
    ending in ``_<value>`` (Spark's column "X_unit_qty" for key 'X_unit' and
    value 'qty') can no longer be split at the wrong place."""
    df = _src(spark).withColumnRenamed("net_amt", "qty").withColumn(
        "s", F.concat(F.col("s"), F.lit("_unit"))
    )
    ff = pivot_table(
        df, index="k", columns="s", values=["qty", "unit_qty"], aggfunc="sum"
    )
    assert [c.labels for c in ff.cols] == [
        ("F_unit", "qty"), ("F_unit", "unit_qty"), ("O_unit", "qty"), ("O_unit", "unit_qty"),
    ]
    out = ff.to_pandas()
    assert out[("F_unit", "unit_qty")].tolist() == [1.0, 3.0]
    assert out[("O_unit", "qty")].tolist() == [20.0, 40.0]


# ------------------------------------------------- parity with Spark's pivot
_NAN = float("nan")


def _sparse(spark):
    """Absent (k, s) combinations (b has no O, c only NULL keys), an
    all-NULL group (a/O), a NaN-only group (d/F), a NULL pivot key and a
    ``_`` in both value names. One partition, so first/last are stable."""
    rows = [
        ("a", "F", 1.0, 10.0), ("a", "F", 2.0, None), ("a", "O", None, None),
        ("a", "O", None, 5.0), ("b", "F", 3.0, 30.0), ("b", "F", 3.0, 31.0),
        ("c", None, 4.0, 40.0), ("c", None, None, 41.0), ("d", "F", _NAN, 50.0),
        ("d", "O", 6.0, _NAN), ("d", "O", 7.0, 70.0),
    ]
    schema = "k string, s string, unit_qty double, net_amt double"
    return spark.createDataFrame(rows, schema).coalesce(1)


def _spark_pivot(df, values, aggfunc, keys):
    """Spark's own ``groupBy().pivot()`` cells, by (pivot key, value)."""
    fn = column_agg(aggfunc)
    out = (
        df.withColumn("__p", F.col("s")).groupBy("k").pivot("__p", keys)
        .agg(*[fn(nan_safe(df, v)).alias(v) for v in values])
    )
    cols = out.columns[1:]  # positional: key-major, then value
    names = [(key, v) for key in keys for v in values]
    return {
        r["k"]: {nv: r[c] for nv, c in zip(names, cols)} for r in out.collect()
    }


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or math.isclose(a, b, rel_tol=1e-12)
    return a == b


@pytest.mark.parametrize("spark_plan", [False, True], ids=["one_aggregate", "spark_pivot"])
@pytest.mark.parametrize("aggfunc", sorted(COLUMN_AGGS))
def test_pivot_matches_spark_pivot(spark, monkeypatch, aggfunc, spark_plan):
    """Both pivot plans == Spark's PivotFirst plan, cell for cell, for
    every named aggfunc: absent combinations NULL (counts too), all-NULL
    and NaN-only groups, multi-value names with ``_``, and a discovered
    NULL pivot key (label "null"). The 3 keys take Spark's own pivot
    unless ``MAX_ONE_AGG_KEYS`` is raised to force the one-aggregate plan."""
    if not spark_plan:
        monkeypatch.setattr(pivot_mod, "MAX_ONE_AGG_KEYS", 3)
    df = _sparse(spark)
    values = ["unit_qty", "net_amt"]
    ff = pivot_table(df, index="k", columns="s", values=values, aggfunc=aggfunc)
    assert sorted(c.labels for c in ff.cols) == [
        (key, v) for key in ("F", "O", "null") for v in sorted(values)
    ]
    got = {r["k"]: r for r in ff.df.collect()}
    want = _spark_pivot(df, values, aggfunc, [None, "F", "O"])
    assert sorted(got) == sorted(want) == ["a", "b", "c", "d"]
    for k, cells in want.items():
        for (key, v), expect in cells.items():
            name = next(c.name for c in ff.cols
                        if c.labels == ("null" if key is None else key, v))
            assert _same(got[k][name], expect), (aggfunc, k, key, v, got[k][name], expect)
    # one-aggregate plan: one shuffle, no PivotFirst and its second exchange.
    # The default frame is the collected pivot re-entered as a local
    # relation, so the plan is read with the collect disabled.
    with pos_auto_threshold(0):
        lazy = pivot_table(df, index="k", columns="s", values=values, aggfunc=aggfunc)
    plan = lazy.df._jdf.queryExecution().executedPlan().toString()
    assert ("pivotfirst" in plan.lower()) == spark_plan
    assert "LocalTableScan" in ff.df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("aggfunc", ["first", "last", "min", "max", "count"])
def test_pivot_matches_spark_pivot_string_values(spark, aggfunc):
    """String values: for first/last/min/max Spark skips PivotFirst and
    rewrites each aggregate over ``if(hit, x, null)`` itself, first/last
    ignoring nulls; a count is still a PivotFirst cell (absent = NULL).
    The one-aggregate pivot keeps both behaviours."""
    df = _sparse(spark).withColumn("tag", F.col("net_amt").cast("string"))
    ff = pivot_table(df, index="k", columns="s", values="tag", aggfunc=aggfunc,
                     column_values=["F", "O"])
    got = {r["k"]: (r["F"], r["O"]) for r in ff.df.collect()}
    want = _spark_pivot(df, ["tag"], aggfunc, ["F", "O"])
    assert got == {k: (c[("F", "tag")], c[("O", "tag")]) for k, c in want.items()}


def test_pivot_max_values_error(spark):
    """Discovery keeps Spark's spark.sql.pivotMaxValues cap, as a named
    error; explicit column_values are not capped."""
    df = _sparse(spark)
    before = spark.conf.get("spark.sql.pivotMaxValues")
    spark.conf.set("spark.sql.pivotMaxValues", "2")
    try:
        with pytest.raises(PivotCardinalityError, match="pivotMaxValues=2"):
            pivot_table(df, index="k", columns="s", values="unit_qty")
        ff = pivot_table(df, index="k", columns="s", values="unit_qty",
                         column_values=["F", "O", "X"])
        assert [c.labels for c in ff.cols] == [("F",), ("O",), ("X",)]
    finally:
        spark.conf.set("spark.sql.pivotMaxValues", before)


@pytest.mark.parametrize("column_values", [None, []], ids=["discovered", "empty_list"])
def test_pivot_without_keys_keeps_index_groups(spark, column_values):
    """No pivot keys (an empty input, or column_values=[]) gives what
    Spark's own pivot gives: the index groups and no value column."""
    df = _sparse(spark)
    if column_values is None:
        df = df.where(F.lit(False))
    ff = pivot_table(df, index="k", columns="s", values="unit_qty",
                     column_values=column_values)
    assert ff.cols == []
    want = df.groupBy("k").pivot("s", column_values).agg(F.sum("unit_qty"))
    assert want.columns == ["k"]
    assert sorted(r["k"] for r in ff.df.collect()) == sorted(r["k"] for r in want.collect())
    assert crosstab(df, index="k", columns="s", column_values=column_values).cols == []
