"""Round-12 shuffled-hash-join safety envelope (VERDICT r11 #3 / ADVICE
r11 #1).

``get_spark`` sets ``spark.sql.join.preferSortMergeJoin=false`` (the
guide's reference configuration): the planner may pick ShuffledHashJoin
when its size gates hold. SHJ's build side is a per-partition in-memory
hash map that CANNOT spill — safe only when the build relation is
bounded by something other than corpus size. This test pins the
envelope mechanically:

1. the set of declared queries whose golden fingerprint plans any SHJ is
   EXACTLY the adjudicated list below (each entry documents why its
   build side is bounded) — a new operator silently regressing into an
   SHJ with a corpus-sized build side fails here until a human reviews
   and extends the list;
2. the ``get_spark(prefer_sort_merge_join=True)`` escape hatch wires the
   Spark-default preference for stat-unreliable deployments.
"""
from flatbread_spark.plans.golden import load_golden

# query -> why the SHJ build side is bounded (NOT corpus-sized)
SHJ_ADJUDICATED = {
    # canonicalize_names joins the distinct-name vocab against the
    # per-name best-candidate aggregate: both sides are bounded by the
    # catalog VOCABULARY (step 1 of the blocking pattern reduces to
    # distinct values before anything joins), independent of row count.
    "name_canonical": "vocabulary-bounded count tables (distinct names)",
    # range_join buckets signups x errors into window-width buckets; the
    # build side is the event-type-filtered slice whose plan-time size
    # estimate passed the planner's gate (< autoBroadcastJoinThreshold x
    # shuffle partitions AND 3x smaller than probe). At corpus scale the
    # estimate grows with the input and the planner falls back to
    # sort-merge — the gate, not this SF's plan, is the safety property.
    "range_join": "planner size gate (estimate-bounded event slice)",
}


def test_shj_sites_are_exactly_the_adjudicated_set():
    fp = load_golden()["fingerprints"]
    got = {name for name, facts in fp.items() if facts.get("shj", 0) > 0}
    new = got - set(SHJ_ADJUDICATED)
    assert not new, (
        f"NEW ShuffledHashJoin site(s) in {sorted(new)} — SHJ's build side "
        "cannot spill; verify the build relation is bounded (vocabulary/"
        "gate/model-sized, never corpus-sized) and extend SHJ_ADJUDICATED "
        "with the justification"
    )
    gone = set(SHJ_ADJUDICATED) - got
    assert not gone, (
        f"stale SHJ adjudications: {sorted(gone)} no longer plan one — "
        "remove the entry so the envelope stays tight"
    )


def test_prefer_sort_merge_join_escape_hatch_wiring():
    import inspect

    from flatbread_spark.session import get_spark

    sig = inspect.signature(get_spark)
    assert "prefer_sort_merge_join" in sig.parameters
    assert sig.parameters["prefer_sort_merge_join"].default is False
    src = inspect.getsource(get_spark)
    assert "spark.sql.join.preferSortMergeJoin" in src
    assert "str(bool(prefer_sort_merge_join)).lower()" in src
