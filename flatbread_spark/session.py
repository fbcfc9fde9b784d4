"""SparkSession factory with the engine's recommended scale settings.

local[N] for tests/bench; on a real cluster the same config block applies —
AQE handles runtime re-planning (skew joins, partition coalescing), and
Arrow batches every pandas-UDF boundary.
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession

_INFER_GENERATE_RULE = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)


def _excluded_rules(infer_generate_filters: bool) -> str:
    """The optimizer exclusion list for a new session. Kept as a helper so
    the escape hatch's wiring is unit-testable without building a session
    (``getOrCreate`` would ignore the config on an existing one — callers
    flipping an ALREADY-RUNNING session set the conf directly; it is
    runtime-mutable)."""
    return "" if infer_generate_filters else _INFER_GENERATE_RULE


def get_spark(
    app: str = "flatbread-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    infer_generate_filters: bool = False,
    prefer_sort_merge_join: bool = False,
) -> SparkSession:
    """``prefer_sort_merge_join=True`` restores Spark's default join
    preference (ADVICE r11 #1 escape hatch). The engine default lets the
    planner pick shuffled-hash join when its size gates hold (guide §3.1
    and the guide's §9 reference configuration ship exactly this
    setting); the risk envelope is documented at the config line below
    and pinned by ``tests/test_shj_envelope_r12.py`` — a deployment whose
    statistics are unreliable (SHJ's per-partition build map OOMs where
    SMJ would spill) passes ``True`` here or flips the runtime-mutable
    ``spark.sql.join.preferSortMergeJoin`` on the live session.

    ``infer_generate_filters=True`` keeps Catalyst's
    ``InferFiltersFromGenerate`` rule enabled (VERDICT r9 #6 scope guard).
    The engine excludes it by default because every DECLARED query's
    Generate sits directly on the scan stage, where the inferred
    ``size(arr)>0`` predicate only re-evaluates the expensive generator
    expression per row (measured 12-27% on the chunk/shingle family) — a
    perf-only exclusion, value-invariant (pinned by
    ``tests/test_infer_generate_invariance.py``). But the exclusion is
    session-global and this is a library: a USER-composed plan with a
    Generate above a join can genuinely benefit from the inferred filter
    pruning rows before the exchange — pass ``True`` there, or flip the
    live session with ``spark.conf.set("spark.sql.optimizer.excludedRules",
    "")`` (the conf is runtime-mutable).

    pyspark's DataFrame debugging is off
    (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
    every ``pyspark.sql.functions``/``Column`` call captures its Python call
    site and sends it to the JVM, about five extra py4j round trips per
    call; the operators build each frame from hundreds of such calls, so
    the capture was most of a presentation chain's driver time (a warm
    pivot -> totals -> percentages build: 1,413 -> 532 py4j commands,
    pinned by ``tests/test_driver_round_trips.py``). The cost:
    a Spark runtime error no longer carries the ``== DataFrame ==`` section
    naming the Python line that built the failing expression. pyspark reads
    the flag once per process, at the first ``Column`` call made while a
    session is active (``pyspark.errors.utils._enable_debugging_cache``),
    so a caller who wants the call sites builds their own session with the
    conf ``true`` before making any column expression."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # guide §3.1/§9: let the planner pick shuffled-hash join when its
        # size conditions hold (build side under autoBroadcastJoinThreshold
        # × shuffle partitions AND much smaller than the probe side) — SHJ
        # skips both sort passes of SMJ. NOT a local[32] tune: the planner's
        # own size gates govern at any scale, and two 100 TB sides fail
        # them and fall back to sort-merge exactly as before. Measured on
        # the join-heavy 16-query bench subset at sf0.1: 31.3 → 26.9 s
        # (−14%), no query slower beyond noise (OPTIMIZATION_r11.md).
        # RISK ENVELOPE (ADVICE r11 #1): SHJ builds a per-partition hash
        # map and cannot spill the build side, so a badly mis-estimated
        # build under memory pressure OOMs where SMJ would spill. The
        # planner only picks SHJ when the build side estimates under
        # autoBroadcastJoinThreshold × shufflePartitions AND 3× smaller
        # than the probe; tests/test_shj_envelope_r12.py pins exactly
        # which declared queries plan one (all with vocabulary-/gate-
        # bounded build sides), so a new SHJ site fails review
        # mechanically. prefer_sort_merge_join=True restores the Spark
        # default for stat-unreliable deployments.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            str(bool(prefer_sort_merge_join)).lower(),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # Generated-class cache (static, Spark default 100 entries, LRU).
        # One pass of the pivot -> margins -> percentages chain generates
        # ~107 distinct classes, so at 100 every pass evicted and Janino-
        # recompiled ~55 of them, on the driver and in the tasks. Measured
        # with this entry as the only change (perfbench tabulate, 4-core
        # VM): recompiles per timed pass 55 -> 4, 4, 0 and JVM Metaspace after
        # four passes 152.8 -> 151.6 MB and pass CPU 13.28 -> 11.42 s
        # (median of 10 seeds, 9 of 10 pairs better) with this entry alone.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # The cache key is the generated source, and by default the class
        # name embeds the whole-stage codegen id, which AQE assigns in the
        # order concurrent query stages finish: the same stage then compiles
        # again under another name. Measured on top of the entry above
        # (same setup): 5 of 48 timed passes recompiled 4-8 such twins, 0 of
        # 24 without the id, and the warm pass compiles 87 classes, not 93.
        # Pass CPU 11.14 -> 10.95 s (7 of 10 alternating pairs better) is
        # inside the run-to-run spread, so no CPU win is resolved: the conf
        # is kept so a warm pass deterministically compiles nothing
        # (tests/test_session_reuse.py). Cost: stack traces name
        # ``GeneratedIterator`` without the id.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # pyspark's DataFrame debugging (default on) wraps every
        # pyspark.sql.functions and Column call: it walks the Python stack
        # for the call site and makes ~5 extra py4j round trips
        # (getActiveSession, a conf get, PySparkCurrentOrigin.set/.clear and
        # a reflection lookup). Measured with this entry as the only change
        # on the perfbench tabulate queries (local[4], 4-core VM): non-GC
        # py4j commands per warm pass 4,462 -> 1,836 (scripts/driver_trips.py
        # on the sf0.01 testdata); in perfbench, Python driver CPU per pass
        # 0.46 -> 0.26 s and traced entry.build_s 2.22 -> 1.81 s with jobs
        # (16) and tasks (16) unchanged; pass CPU 8.61 -> 7.83 s (median of
        # 12 seeds, 12 of 12 pairs better). See the docstring for the cost.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet stores TIMESTAMP(NANOS) which Spark rejects by default;
        # read as BIGINT nanoseconds and convert explicitly where needed
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # InferFiltersFromGenerate re-adds a size(arr)>0/isnotnull filter
        # below every non-outer explode; project collapse then inlines the
        # full generator-child expression into that predicate, so an
        # expensive chunk/shingle HOF array is computed TWICE per row. The
        # engine's generates all sit directly on the scan stage (nothing to
        # prune before an exchange), and a non-outer Generate already skips
        # empty/NULL arrays row-locally — the inferred filter is pure cost
        # here (measured 12-27% on the chunk/shingle query family).
        # Escape hatch: infer_generate_filters=True for user-composed
        # plans with a Generate above a join (see docstring).
        .config(
            "spark.sql.optimizer.excludedRules",
            _excluded_rules(infer_generate_filters),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
