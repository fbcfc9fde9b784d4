"""Tracked plan-fingerprint golden diff (VERDICT r6 #2).

Every declared non-streaming query's physical-plan fact counts must match
the committed ``plans_golden.json`` exactly. A mismatch means an edit
changed a query's physical shape — added/removed an Exchange, flipped a
join strategy, moved an Arrow boundary, dropped a cache. If the change is
INTENDED, regenerate deliberately and review the diff in the commit:

    python scripts/plan_audit.py --write-golden
"""
from flatbread_spark.plans.golden import (
    GOLDEN_ENV,
    STREAM_SINKS,
    collect_fingerprints,
    collect_streaming_fingerprints,
    load_golden,
)


def _drift(golden, got, names):
    """``name: {fact: (golden, current)}`` lines for every query in
    ``names`` whose facts differ."""
    return [
        f"{n}: " + str({
            k: (golden[n].get(k), got[n].get(k))
            for k in set(golden[n]) | set(got[n])
            if golden[n].get(k) != got[n].get(k)
        })
        for n in sorted(names)
        if got[n] != golden[n]
    ]


def test_plan_fingerprints_match_golden(spark):
    # conftest's session IS the golden environment (local[4], 4 shuffle
    # partitions) — assert that before trusting any comparison.
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(
        GOLDEN_ENV["shuffle_partitions"]
    )
    golden = load_golden()["fingerprints"]
    got = collect_fingerprints(spark)

    import __spark_entry__ as e

    declared = {n for n in e.queries() if n not in STREAM_SINKS}
    missing = declared - set(golden)
    stale = set(golden) - declared
    diffs = _drift(golden, got, declared & set(golden))
    msg = []
    if missing:
        msg.append(f"queries missing from golden (regenerate): {sorted(missing)}")
    if stale:
        msg.append(f"stale golden entries (regenerate): {sorted(stale)}")
    if diffs:
        msg.append("plan-shape drift (golden, current):\n  " + "\n  ".join(diffs))
    assert not msg, "\n".join(msg)


def test_streaming_plan_fingerprints_match_golden(spark):
    """VERDICT r7 #6: the 7 streaming queries' micro-batch physical plans
    (state-store save/restore pairs, watermark nodes, pandas-with-state
    kernels) must match the committed golden — a state-layout regression
    fails here mechanically like the batch plans do."""
    golden = load_golden().get("streaming")
    assert golden, (
        "plans_golden.json has no streaming section; regenerate with "
        "scripts/plan_audit.py --write-golden"
    )
    assert set(golden) == set(STREAM_SINKS)
    diffs = _drift(golden, collect_streaming_fingerprints(spark), STREAM_SINKS)
    assert not diffs, (
        "streaming plan-shape drift (golden, current):\n  " + "\n  ".join(diffs)
    )
