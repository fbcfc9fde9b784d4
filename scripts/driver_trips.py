#!/usr/bin/env python
"""Count the driver -> JVM round trips of declared queries.

Runs the listed ``__spark_entry__.queries()`` entries in order as one pass
(build, then ``.collect()``), once untimed to warm up and once counted, and
prints per query the non-GC py4j commands of the build and of the collect
and the build's wall seconds. The operator pins and the Spark cache are
released after each pass, so queries of a pass share pinned pivots but the
counted pass reuses nothing of the warm one. The command count is the
driver-side DataFrame-building layer measured independently of how fast
the host is. GC commands (``m``, the deletes py4j sends when a Python proxy
of a JVM object is collected) are left out: their number depends on when
Python's garbage collector runs.

Usage: python scripts/driver_trips.py [--queries a,b] --sf-dir DIR

The default queries are the perfbench ``tabulate`` workload's.
"""
from __future__ import annotations

import argparse
import os
import sys
import threading
import time
from collections import Counter
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABULATE = "pivot_sum,add_percentages,subtotals_rollup,tablespec_json,differences"


def non_gc(counts: Counter) -> int:
    """Commands other than py4j's ``m`` (memory: delete) ones."""
    return sum(n for kind, n in counts.items() if kind != "m")


@contextmanager
def py4j_commands(spark):
    """Count, by py4j command kind (``c`` call, ``r`` reflection, ``m``
    memory, ...), every command the driver sends to the session's JVM
    inside the block. Yields the ``Counter``, filled as the block runs."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    counts: Counter = Counter()
    lock = threading.Lock()  # py4j's finalizer thread sends the deletes

    def counting(command, *args, **kwargs):
        with lock:
            counts[command.split("\n", 1)[0]] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield counts
    finally:
        del client.send_command


def run_pass(spark, fns: dict, sf_dir: str) -> dict:
    """Build and collect every query once; per query (build commands,
    collect commands, build seconds)."""
    from flatbread_spark import cache

    out = {}
    for name, fn in fns.items():
        with py4j_commands(spark) as built:
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            build_s = time.perf_counter() - t0
        with py4j_commands(spark) as collected:
            df.collect()
        out[name] = (non_gc(built), non_gc(collected), build_s)
    cache.release()
    spark.catalog.clearCache()
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--queries", default=TABULATE,
                    help="comma-separated declared query names")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="testdata directory (default: $SPARK_GRAFT_SF_DIR)")
    args = ap.parse_args(argv)
    if not args.sf_dir:
        ap.error("--sf-dir or SPARK_GRAFT_SF_DIR is required")

    sys.path.insert(0, REPO)
    import __spark_entry__ as entry
    from flatbread_spark.session import get_spark

    fns = {n: entry.queries()[n] for n in args.queries.split(",")}
    spark = get_spark(app="driver-trips", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    run_pass(spark, fns, args.sf_dir)
    counted = run_pass(spark, fns, args.sf_dir)
    print(f"{'query':28s} {'build cmds':>10s} {'collect cmds':>12s} {'build s':>8s}")
    for name, (b, c, s) in counted.items():
        print(f"{name:28s} {b:10d} {c:12d} {s:8.3f}")
    print(f"{'total':28s} {sum(v[0] for v in counted.values()):10d} "
          f"{sum(v[1] for v in counted.values()):12d} "
          f"{sum(v[2] for v in counted.values()):8.3f}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
