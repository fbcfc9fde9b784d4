"""Tracked per-query plan-fingerprint golden (VERDICT r6 #2).

``plan_facts`` counts are asserted as booleans by the per-family plan
tests; this module pins the EXACT counts for every declared query in a
committed snapshot (``plans_golden.json``) so that any edit that changes a
query's physical shape — one more Exchange, a BroadcastHashJoin that
degraded to SortMergeJoin, a new Arrow boundary, a dropped cache — fails
``tests/test_plan_golden.py`` mechanically with a per-fact diff, instead
of surfacing rounds later as a bench regression.

Determinism contract: fingerprints are only comparable under one fixed
environment, pinned in ``GOLDEN_ENV`` (the test-session config: local[4],
4 shuffle partitions, the sf0.001 tables — AQE's initial plan, broadcast
threshold decisions, and partition counts are all functions of these).
``spark.catalog.clearCache()`` runs before every query so a fingerprint
never depends on which query built its plan first; queries whose
construction DRAINS a stream (the replay harnesses) are excluded because
their batch result plan is a trivial LocalTableScan with no structure to
pin.

Besides the plan facts, each fingerprint records ``build_jobs``: the Spark
jobs run while the query's DataFrame is built (the job-id high-water mark
before and after the build call). Work folded into a build-time collect —
a bounded frame that re-enters the plan as a local relation — leaves the
returned plan, so its scans and exchanges no longer show in the plan
facts; ``build_jobs`` keeps it visible. Every parquet table of the golden
``sf_dir`` has its schema inferred before the first query, so no query is
charged for a first read.

The facts are read before AQE runs a stage, so run-time exchange reuse is
invisible (``simhash_pairs`` counts both sides of a self-join that,
executed, share one exchange).

This is the registry's one planning pass: ``tests/test_plan_golden.py``
pins live plans == committed golden, and every other registry-wide plan
invariant reads the committed file — scan and build-job budgets
(``test_scan_budgets``), the shuffled-hash-join envelope
(``test_shj_envelope_r12``), no ``cartesian`` (``test_new_op_plans``) and
allowlisted ``expensive_filters`` (``test_filter_audit``).

Regenerate DELIBERATELY after a plan-shape change you intend:

    python scripts/plan_audit.py --write-golden

and review the diff in the commit — the review is the point.
"""
from __future__ import annotations

import json
import os

from flatbread_spark.plans.audit import plan_facts

GOLDEN_ENV = {
    "master": "local[4]",
    "shuffle_partitions": 4,
    "sf_dir": "/root/testdata/sf0.001",
}
GOLDEN_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "plans_golden.json",
)


def load_golden() -> dict:
    """The committed ``plans_golden.json`` payload (``env``,
    ``fingerprints``, ``streaming``), checked to be generated under
    ``GOLDEN_ENV``."""
    with open(GOLDEN_PATH) as f:
        payload = json.load(f)
    if payload["env"] != GOLDEN_ENV:
        raise ValueError(
            "plans_golden.json was generated under a different environment; "
            "regenerate with scripts/plan_audit.py --write-golden"
        )
    return payload


# Tags under which __spark_entry__ pins frames (cache.pin(..., tag=...)).
# collect_fingerprints releases exactly these between queries — the entry
# module's memoized persisted frames are the only ones whose ALREADY-
# EXECUTED plans survive clearCache() and would leak InMemoryTableScan
# nodes into later fingerprints.
ENTRY_PIN_TAGS = ("knn_recall", "ivf_sweep")

# Stream-replay harnesses, query name -> its memory-sink queryName (the
# key the drain helper registers the StreamingQuery handle under).
# Building the result DataFrame executes the micro-batch drain and returns
# an in-memory batch frame — nothing of the streaming plan survives in the
# RETURNED frame, so the batch collector skips them. Their micro-batch
# physical plans are fingerprinted separately (VERDICT r7 #6) by
# collect_streaming_fingerprints below: the last executed batch's plan
# (explainInternal) is counted against plans/audit.STREAM_MARKS.
STREAM_SINKS = {
    "stream_replay": "fb_stream_replay",
    "stream_dedup_replay": "fb_stream_dedup",
    "stream_quality_gate": "fb_stream_gate",
    "stream_topk": "fb_stream_topk",
    "stream_upsert": "fb_stream_upsert",
    "stream_drift": "fb_stream_drift",
    "stream_rate_anomaly": "fb_stream_rate",
}


def collect_streaming_fingerprints(
    spark, verbose: bool = False
) -> dict[str, dict[str, int]]:
    """Micro-batch plan facts for the 7 streaming queries under GOLDEN_ENV.

    Running each entry query drains its bounded stream (availableNow — one
    deterministic pass over the same files each time); the fingerprint is
    counted from the LAST executed micro-batch's physical plan. The node
    COUNTS are layout-stable: state-store save/restore pairs, watermark
    nodes, and pandas-with-state kernels are per-operator constants of the
    query shape, not of batch slicing."""
    import __spark_entry__ as _entry

    from flatbread_spark.plans.audit import streaming_plan_facts
    from flatbread_spark.streaming.replay import last_plan

    qs = _entry.queries()
    out: dict[str, dict[str, int]] = {}
    for name, sink in STREAM_SINKS.items():
        qs[name](spark, GOLDEN_ENV["sf_dir"])  # build + drain
        plan = last_plan(sink)
        if plan is None:  # drain failed loudly upstream; record emptiness
            raise RuntimeError(f"no streaming plan captured for {name}")
        out[name] = streaming_plan_facts(plan)
        if verbose:
            line = " ".join(f"{k}={v}" for k, v in out[name].items() if v)
            print(f"{name}: {line}")
    return out


def collect_fingerprints(spark, verbose: bool = False) -> dict[str, dict[str, int]]:
    """Plan facts for every declared non-streaming query under GOLDEN_ENV.

    The caller is responsible for providing a session whose master /
    shuffle-partition config matches ``GOLDEN_ENV`` — fingerprints taken
    under any other config are not comparable to the tracked golden.
    """
    # Deferred import: the entry module lives at the repo root (driver
    # contract), outside the package — the library proper must not depend
    # on it at import time.
    import __spark_entry__ as _entry

    from flatbread_spark.cache import release
    from flatbread_spark.sources.tables import load_table

    # build_jobs must not depend on which query first read a table: infer
    # every table's schema up front (sources.tables memoizes it per session)
    sf_dir = GOLDEN_ENV["sf_dir"]
    for fname in sorted(os.listdir(sf_dir)):
        if fname.endswith(".parquet"):
            load_table(spark, sf_dir, fname[: -len(".parquet")])
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    out: dict[str, dict[str, int]] = {}
    for name, fn in _entry.queries().items():
        if name in STREAM_SINKS:
            continue
        # Scoped cache-state reset, not just clearCache(): the entry module
        # memoizes the shared bruteforce baseline (_BF_CACHE) as an
        # ALREADY-EXECUTED persisted DataFrame, whose memoized physical
        # plan keeps its InMemoryTableScan even after clearCache() — so a
        # fingerprint taken after any test/query that warmed the memo
        # would read cached=1 while a fresh session reads 0. Dropping the
        # memo (and unpinning ONLY the tags the entry module pins — ADVICE
        # r7: an untagged release() would unpersist every pinned frame
        # session-wide, silently un-caching dedup bases and worker-pool
        # frames other tests still hold) makes every fingerprint the
        # fresh-session one without touching unrelated pins.
        _entry._BF_CACHE.clear()
        for _tag in ENTRY_PIN_TAGS:
            release(tag=_tag)
        spark.catalog.clearCache()
        j0 = dag.numTotalJobs()
        df = fn(spark, sf_dir)
        build_jobs = dag.numTotalJobs() - j0
        out[name] = {**plan_facts(df), "build_jobs": build_jobs}
        if verbose:
            line = " ".join(f"{k}={v}" for k, v in out[name].items() if v)
            print(f"{name}: {line}")
    spark.catalog.clearCache()
    return out
