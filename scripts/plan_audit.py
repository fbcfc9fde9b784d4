#!/usr/bin/env python
"""Physical-plan audit CLI: print scale-relevant plan facts for every
declared query (or a subset) without executing it. Core logic lives in
``flatbread_spark.plans`` — see that module's docstring for what each fact
means and which ones are red flags.

    python scripts/plan_audit.py [sf_dir] [query ...]
    python scripts/plan_audit.py --write-golden

``--write-golden`` regenerates ``plans_golden.json`` — the tracked
per-query plan-fingerprint snapshot that ``tests/test_plan_golden.py``
diffs (VERDICT r6 #2: an edit that adds a shuffle, drops a broadcast, or
widens the Python boundary fails CI mechanically instead of waiting for a
bench read). Generation MUST match the test-session config, so the golden
is always produced under ``flatbread_spark.plans.golden.GOLDEN_ENV``
(local[4], 4 shuffle partitions, sf0.001) regardless of CLI args.

A query whose plan has ``expensive_filters`` also prints its flagged Filter
conditions (``tests/test_filter_audit.py`` pins which queries may have any).

``--write-golden`` deliberately does NOT regenerate ``scan_budgets.json``
(the per-query scan-count ratchet, VERDICT r9 #3): a regenerated golden
with more scans still fails ``tests/test_scan_budgets.py`` until the
budget is hand-edited in a commit that justifies the increase.
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from flatbread_spark.plans.audit import (  # noqa: E402
    expensive_filter_conditions,
    plan_facts,
    plan_flags,
    plan_text,
)
from flatbread_spark.plans.golden import (  # noqa: E402
    GOLDEN_ENV,
    GOLDEN_PATH,
    collect_fingerprints,
    collect_streaming_fingerprints,
)
from flatbread_spark.session import get_spark  # noqa: E402


def write_golden() -> None:
    spark = get_spark(
        app="plan-golden",
        master=GOLDEN_ENV["master"],
        shuffle_partitions=GOLDEN_ENV["shuffle_partitions"],
    )
    spark.sparkContext.setLogLevel("ERROR")
    fingerprints = collect_fingerprints(spark, verbose=True)
    streaming = collect_streaming_fingerprints(spark, verbose=True)
    payload = {
        "env": GOLDEN_ENV,
        "fingerprints": fingerprints,
        "streaming": streaming,
    }
    with open(GOLDEN_PATH, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
        f.write("\n")
    print(
        f"wrote {len(fingerprints)} batch + {len(streaming)} streaming "
        f"fingerprints to {GOLDEN_PATH}"
    )


def main() -> None:
    if "--write-golden" in sys.argv[1:]:
        write_golden()
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app="plan-audit", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    for name, fn in entry.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            facts = plan_facts(df)
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {e}")
            continue
        flags = plan_flags(facts)
        line = " ".join(f"{k}={v}" for k, v in facts.items() if v)
        print(f"{name}: {line}{('  !! ' + ','.join(flags)) if flags else ''}")
        for cond in expensive_filter_conditions(plan_text(df))[:2]:
            print(f"    Filter{cond}")


if __name__ == "__main__":
    main()
