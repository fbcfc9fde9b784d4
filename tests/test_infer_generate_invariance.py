"""The InferFiltersFromGenerate exclusion is PERF-ONLY (VERDICT r9 #6).

``get_spark`` excludes Catalyst's ``InferFiltersFromGenerate`` rule
session-globally because the engine's own Generates all sit on the scan
stage, where the inferred ``size(arr)>0`` filter just re-evaluates the
expensive generator expression per row. But the engine is a library —
the exclusion must not CHANGE any declared query's values, only its
cost, and users who compose a Generate above a join need a way back in.

Pinned here:

- value invariance: the Generate-heaviest declared queries produce
  identical rows with the rule ON and OFF (the conf is runtime-mutable,
  so one session serves both arms, and no entry query may write it);
- the ``get_spark(infer_generate_filters=True)`` escape hatch wires the
  flag to an empty exclusion list.
"""
import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# the chunk/shingle/explode family the exclusion was measured on, plus
# the kappa gate (the 2x case) and PMI (two explode shapes)
GENERATE_QUERIES = [
    "chunk_windows",
    "chunk_self_dedup",
    "winnowing",
    "gate_agreement",
    "pmi_bigrams",
]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", GENERATE_QUERIES)
def test_values_identical_with_rule_on(spark, name):
    import __spark_entry__ as entry
    from flatbread_spark import release_caches

    fn = entry.queries()[name]
    key = "spark.sql.optimizer.excludedRules"
    before = spark.conf.get(key, "")
    assert "InferFiltersFromGenerate" in before, (
        "test session should start with the engine's default exclusion"
    )
    try:
        off = _rows(fn(spark, SF_DIR))
        release_caches()  # drop pins so the ON arm re-plans from scratch
        spark.conf.set(key, "")
        on = _rows(fn(spark, SF_DIR))
        # the ON arm must really run with the rule on: an entry query that
        # wrote the exclusion back would make both arms identical
        assert spark.conf.get(key, "") == "", f"{name} re-excluded the rule"
    finally:
        spark.conf.set(key, before)
        release_caches()
    assert on == off, f"{name}: InferFiltersFromGenerate changed values"


def test_escape_hatch_wiring():
    from flatbread_spark.session import _INFER_GENERATE_RULE, _excluded_rules

    assert _excluded_rules(False) == _INFER_GENERATE_RULE
    assert _excluded_rules(True) == ""
