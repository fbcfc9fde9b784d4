"""Mechanical guard for the round-9 expensive-filter audit.

Catalyst pushes deterministic Filters below Projects (and infers join-key
isnotnull filters), inlining computed expression trees into the predicate
— with higher-order functions in the plan the stage is CodegenFallback
(no subexpression elimination), so a tokenizer / hash / HOF array gets
evaluated TWICE per row. Measured 2x wall on gate_agreement before the
round-9 fixes. The committed plan golden (pinned to the live plans by
tests/test_plan_golden.py) counts such Filters per query as
``expensive_filters``; only the allowlist below may have any.
"""
from flatbread_spark.plans.golden import load_golden

# Queries whose flagged filters are ACCEPTED, with why. Three classes:
#
# (a) fixture CASEs — the flagged predicate inlines a cheap string CASE
#     that builds the query's own synthetic fixture (variant part names /
#     boilerplate wrappers) over a small dimension table; a handful of
#     concat/substr calls, query-side scaffolding, not operator code:
#     strip_boilerplate. (fuzzy_pairs / name_canonical left this list
#     when the linkage vocab aggregate was pinned — the fixture CASE now
#     sits below the InMemoryTableScan and never re-enters a Filter.)
# (b) filter-only sampling predicates — the hash IS the sampling
#     semantics (deterministic keep/drop); it appears ONLY in the Filter,
#     never in a projection, so nothing is duplicated and the audit's
#     textual heuristic cannot tell: sample_stratified, contamination
#     (the eval-split selection).
# (c) short-input hash join key — contrastive_pairs' inferred
#     isnotnull(md5(vec_id) % B) duplicates one 8-byte-input hash per
#     corpus row, dominated by the bucket join it feeds.
ALLOWED = {
    "strip_boilerplate",
    "sample_stratified",
    "contamination",
    "contrastive_pairs",
}


def _first_conditions(spark, names):
    """Build only ``names``; each one's first flagged Filter condition."""
    import __spark_entry__ as e

    from flatbread_spark.plans.audit import expensive_filter_conditions, plan_text
    from flatbread_spark.plans.golden import GOLDEN_ENV

    qs = e.queries()
    return {
        n: expensive_filter_conditions(plan_text(qs[n](spark, GOLDEN_ENV["sf_dir"])))[:1]
        for n in names
    }


def test_no_expensive_filters_outside_allowlist(spark):
    golden = load_golden()["fingerprints"]
    flagged = {n for n, facts in golden.items() if facts["expensive_filters"] > 0}
    new = sorted(flagged - ALLOWED)
    assert not new, (
        "queries with an expensive computed expression inside a Filter "
        "(pushed-down duplicate evaluation — see plans/barrier.py): "
        f"{_first_conditions(spark, new)}"
    )
    # the allowlist must not go stale: every allowed name still flags
    stale = sorted(ALLOWED - flagged)
    assert not stale, f"allowlist entries no longer flagged — remove: {stale}"


def test_expensive_filters_fact(spark, documents):
    """Counts Filter nodes over an inlined computed expression — not plain
    comparisons, and not a scan's filter fields."""
    from pyspark.sql import functions as F

    from flatbread_spark.plans.audit import expensive_filter_conditions, plan_facts

    def count(df):
        return plan_facts(df)["expensive_filters"]

    # pushed below its projection, the filter inlines the transform
    t = spark.range(50).select(F.transform(F.array("id", "id"), lambda x: x + 1).alias("t"))
    assert count(t.filter(F.aggregate("t", F.lit(0).cast("bigint"), lambda a, x: a + x) > 10)) >= 1
    assert count(spark.range(50).filter(F.col("id") > 3)) == 0
    # the parquet scan repeats the condition in DataFilters; only the Filter counts
    assert count(documents.filter(F.regexp_extract("text", "a+", 0) != "")) == 1
    assert expensive_filter_conditions(
        "   +- FileScan parquet [text#1] DataFilters: [NOT (regexp_extract(text#1, a+, 0) = )], "
        "PushedFilters: [IsNotNull(text), md5(text)], ReadSchema: struct<text:string>"
    ) == []
