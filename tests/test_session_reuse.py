"""Work a session does once and reuses: parquet schemas inferred once per
file version (``sources.tables``) and generated classes kept across passes
(``spark.sql.codegen.cache.maxEntries`` in ``session.get_spark``)."""
import os

import pandas as pd
from pyspark.sql import functions as F

from flatbread_spark import cache
from flatbread_spark.frame import FlatFrame
from flatbread_spark.sources.tables import load_table

from tests.conftest import SF_DIR

TABULATE = ("pivot_sum", "add_percentages", "subtotals_rollup", "tablespec_json",
            "differences")


def _jobs(spark) -> int:
    """Job-id high-water mark (synchronous, unlike the status tracker)."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_load_table_infers_schema_once_per_file_version(spark, tmp_path):
    path = os.path.join(tmp_path, "t.parquet")
    pd.DataFrame({"a": [1, 2, 3]}).to_parquet(path)
    j0 = _jobs(spark)
    first = load_table(spark, str(tmp_path), "t")
    j1 = _jobs(spark)
    again = load_table(spark, str(tmp_path), "t")
    assert _jobs(spark) - j1 == 0, "a second load of the same file ran a job"
    assert j1 - j0 >= 1  # the first load inferred the schema
    assert again.schema == first.schema
    assert sorted(r.a for r in again.collect()) == [1, 2, 3]

    # a rewrite (new size and mtime) is inferred again and its schema seen
    pd.DataFrame({"a": [4], "b": ["x"]}).to_parquet(path)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    j2 = _jobs(spark)
    rewritten = load_table(spark, str(tmp_path), "t")
    assert _jobs(spark) - j2 >= 1
    assert rewritten.columns == ["a", "b"]
    assert [tuple(r) for r in rewritten.collect()] == [(4, "x")]


def test_from_df_over_pin_runs_bounded_probe(spark, lineitem):
    agg = lineitem.groupBy("l_linestatus").agg(F.sum("l_quantity").alias("qty_cold"))
    pinned = cache.pin(agg, tag="frame")
    try:
        j0 = _jobs(spark)
        ff = FlatFrame.from_df(pinned, index=["l_linestatus"])
        assert _jobs(spark) - j0 >= 1
        assert not ff.pos_ranged
    finally:
        cache.unpin(pinned)


def test_tabulate_pass_recompiles_no_class(spark):
    """With the codegen cache sized to the working set, a second pass of the
    tabulate queries (pins released in between, as the benchmark does)
    compiles nothing: every generated class is a cache hit."""
    import __spark_entry__ as entry

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    fns = [entry.queries()[n] for n in TABULATE]

    def one_pass():
        for fn in fns:
            fn(spark, SF_DIR).collect()
        cache.release("frame")

    one_pass()
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    one_pass()
    assert metrics.METRIC_COMPILATION_TIME().getCount() - before == 0
