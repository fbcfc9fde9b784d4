"""Ratchet on the driver -> JVM round trips of the flagship chain.

The presentation operators build every frame on the driver out of hundreds
of ``Column`` calls, each a py4j round trip or more, so their py4j command
count is the driver-building cost as a number that does not depend on how
fast the host is. With pyspark's DataFrame debugging on (its default),
every wrapped ``pyspark.sql.functions`` call adds about five more round
trips to record its Python call site; ``get_spark`` turns it off.

Counted: the non-GC py4j commands (``m`` deletes excluded, their number
depends on when Python's GC runs) of a second, warm build of
``_qty_pivot -> add_totals(axis=2) -> add_percentages(axis=1)``. Measured
532 on pyspark 4.1 (local[4], sf0.001); with debugging on, 1,413.
"""
import os
import sys

from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the measured 532 plus under 15% headroom
BUDGET = 610


def _build(spark):
    import __spark_entry__ as entry

    return entry._qty_pivot(spark, SF_DIR).add_totals(axis=2).add_percentages(axis=1)


def test_session_turns_dataframe_debugging_off(spark):
    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(key, "true") == "false"


def test_flagship_chain_round_trip_budget(spark):
    import pyspark.errors.utils as perrors

    from flatbread_spark import release_caches

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from driver_trips import non_gc, py4j_commands

    # pyspark reads the debugging conf once per process, at the first
    # Column call made while a session is active; re-read it from this
    # session for the count and give the process its own value back
    cached = perrors._enable_debugging_cache
    perrors._enable_debugging_cache = None
    try:
        _build(spark)
        release_caches()
        with py4j_commands(spark) as counts:
            _build(spark)
    finally:
        perrors._enable_debugging_cache = cached
        release_caches()
    n = non_gc(counts)
    assert n <= BUDGET, (
        f"warm flagship build sent {n} py4j commands, budget {BUDGET}: {dict(counts)}"
    )
