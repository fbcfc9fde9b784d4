"""Presentation-sized FlatFrames re-enter the plan as a local relation
(``FlatFrame.from_df`` with ``pos_strategy="auto"``): one bounded collect
at construction, then every margin/percentage branch runs over the local
rows in one stage, with no cache kept."""
import math
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

import flatbread_spark as fb
import flatbread_spark.frame as frame_mod
from flatbread_spark import cache
from flatbread_spark.frame import FlatFrame

from tests.conftest import pos_auto_threshold


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _result_bytes(spark, job_id: int) -> int:
    """Bytes the tasks of one job sent back to the driver as results."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store, total = jsc.statusStore(), 0
    for stage in spark.sparkContext.statusTracker().getJobInfo(job_id).stageIds:
        tasks = store.taskList(stage, 0, 1 << 20)
        for i in range(tasks.size()):
            metrics = tasks.apply(i).taskMetrics()
            if metrics.isDefined():
                total += metrics.get().resultSize()
    return total


def _storage(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _chain(lineitem) -> FlatFrame:
    return (
        fb.pivot_table(
            lineitem, index="l_returnflag", columns="l_linestatus",
            values="l_quantity", aggfunc="sum",
        )
        .add_totals(axis=2)
        .add_percentages(axis=1)
    )


def _exact(rows) -> list[tuple]:
    """Rows with floats by repr, so NaN, -0.0 and last-bit drift all show."""
    return [
        tuple(repr(v) if isinstance(v, float) else v for v in r) for r in rows
    ]


def test_pivot_chain_collects_in_one_job_and_keeps_no_cache(spark, lineitem):
    tags, storage = cache.pinned_tags(), _storage(spark)
    out = _chain(lineitem).to_df()
    assert cache.pinned_tags() == tags
    assert _storage(spark) == storage
    j0 = _jobs(spark)
    rows = out.collect()
    assert _jobs(spark) - j0 == 1
    assert len(rows) == 4 and rows[-1]["l_returnflag"] == "Totals"
    assert cache.pinned_tags() == tags
    assert _storage(spark) == storage
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "Exchange" not in plan


def test_pivot_chain_above_threshold_takes_ranged_path(spark, lineitem):
    """Above engine.pos_auto_threshold the pivot stays distributed: ranged
    positions over a pinned input, kept until release_caches(), and the
    same rows as the local path."""
    want = _exact(_chain(lineitem).to_df().collect())
    tags = cache.pinned_tags()
    with pos_auto_threshold(2):
        ff = _chain(lineitem)
    assert ff.pos_ranged
    assert cache.pinned_tags() == tags + ["frame"]
    assert _exact(ff.to_df().collect()) == want
    assert cache.pinned_tags() == tags + ["frame"]
    assert fb.release_caches("frame") >= 1
    assert "frame" not in cache.pinned_tags()


def test_size_check_ships_one_bound_of_rows_over_many_partitions(spark):
    """The size check is a plain limit: over 64 partitions it sends the
    driver the same threshold + 1 rows as over one partition (an ordered
    collect would send threshold + 1 rows from every partition)."""
    def src(parts):
        ids = spark.range(0, 6400, 1, parts)
        return ids.select(
            F.col("id").cast("string").alias("k"),
            F.sha2(F.col("id").cast("string"), 512).alias("v"),
        )

    sent = {}
    for parts in (1, 64):
        j0 = _jobs(spark)
        with pos_auto_threshold(50):
            ff = FlatFrame.from_df(src(parts), index=["k"])
        assert ff.pos_ranged
        sent[parts] = _result_bytes(spark, j0)  # the size check's job
        fb.release_caches("frame")
    assert 0 < sent[64] <= 1.5 * sent[1], sent


def test_frame_above_the_byte_bound_stays_distributed(spark, monkeypatch):
    """Within the row threshold but above LOCAL_FRAME_BYTES the frame is
    pinned and keeps window positions over it, with the same rows."""
    src = spark.createDataFrame(
        [(f"k{i}", f"v{i}") for i in range(10)], "k string, v string"
    )
    local = FlatFrame.from_df(src, index=["k"])
    tags = cache.pinned_tags()
    monkeypatch.setattr(frame_mod, "LOCAL_FRAME_BYTES", 100)  # 2 rows of 40 B
    ff = FlatFrame.from_df(src, index=["k"])
    assert not ff.pos_ranged
    assert cache.pinned_tags() == tags + ["frame"]
    assert "LocalTableScan" not in ff.df._jdf.queryExecution().executedPlan().toString()
    assert ff.df.orderBy("__pos__").collect() == local.df.orderBy("__pos__").collect()
    assert fb.release_caches("frame") >= 1


_EDGE_SCHEMA = "k string, x double, d decimal(38,12), z double"
_EDGE_ROWS = [
    ("a", float("nan"), Decimal("12345678901234567890123456.123456789012"), -0.0),
    ("b", None, Decimal("-0.000000000001"), 0.0),
    (None, 1.5, None, -0.0),
    ("c", float("-inf"), Decimal("1.100000000000"), None),
]


def _both_paths(build):
    """(local re-entry, lazy window path) of the same build."""
    local = build()
    with pos_auto_threshold(0):
        lazy = build()
    return local, lazy


def test_local_reentry_is_exact(spark):
    """NaN and NULL in one double column, decimal(38,12) values, -0.0 and
    a NULL index key come back bit for bit."""
    src = spark.createDataFrame(_EDGE_ROWS, _EDGE_SCHEMA)
    local, lazy = _both_paths(lambda: FlatFrame.from_df(src, index=["k"]))
    assert "LocalTableScan" in local.df._jdf.queryExecution().executedPlan().toString()
    got = local.df.orderBy("__pos__").collect()
    assert _exact(got) == _exact(lazy.df.orderBy("__pos__").collect())
    by_k = {r["k"]: r for r in got}
    assert math.isnan(by_k["a"]["x"]) and by_k["b"]["x"] is None
    assert math.copysign(1.0, by_k["a"]["z"]) == -1.0
    assert math.copysign(1.0, by_k[None]["z"]) == -1.0
    assert by_k["a"]["d"] == Decimal("12345678901234567890123456.123456789012")
    assert by_k["b"]["d"] == Decimal("-0.000000000001")
    # NULL key sorts first, as the window over the index does
    assert [r["k"] for r in got] == [None, "a", "b", "c"]


def test_local_reentry_decimal_pivot_sums(spark):
    big = Decimal("12345678901234567890123456.123456789012")
    src = spark.createDataFrame(
        [("a", "F", big), ("a", "F", Decimal("-0.000000000001")), ("a", "F", None),
         ("a", "O", Decimal("1.100000000000")), ("b", "O", big), ("b", "O", big)],
        "k string, s string, d decimal(38,12)",
    )
    build = lambda: fb.pivot_table(  # noqa: E731
        src, index="k", columns="s", values="d", aggfunc="sum",
        column_values=["F", "O"],
    ).add_totals(axis=2)
    local, lazy = _both_paths(build)
    got = local.to_df().collect()
    assert _exact(got) == _exact(lazy.to_df().collect())
    assert got[0]["F"] == Decimal("12345678901234567890123456.123456789011")
    assert got[1]["O"] == Decimal("24691357802469135780246912.246913578024")
    assert got[2]["O"] == Decimal("24691357802469135780246913.346913578024")


@pytest.mark.parametrize("n_flags", [0, 1], ids=["empty", "one_row"])
def test_local_reentry_tiny_pivots(spark, lineitem, n_flags):
    """A 0-row pivot plus add_totals gives one Totals row; a one-row pivot
    gives the row and its totals, on both paths alike."""
    flags = [r[0] for r in lineitem.select("l_returnflag").distinct().collect()]
    src = lineitem.where(F.col("l_returnflag").isin(sorted(flags)[:n_flags]))
    build = lambda: fb.pivot_table(  # noqa: E731
        src, index="l_returnflag", columns="l_linestatus",
        values="l_quantity", aggfunc="sum", column_values=["F", "O"],
    ).add_totals(axis=0)
    local, lazy = _both_paths(build)
    got = local.to_df().collect()
    assert _exact(got) == _exact(lazy.to_df().collect())
    assert len(got) == n_flags + 1
    assert got[-1]["l_returnflag"] == "Totals"
    if not n_flags:
        assert got[0]["F"] is None and got[0]["O"] is None
