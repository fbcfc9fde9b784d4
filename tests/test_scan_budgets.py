"""Mechanical enforcement of the duplicate-lineage class (VERDICT r9 #3).

Round 9 found three operators replaying corpus-sized lineages for
vocabulary-sized reuse by manually sorting ``plans_golden.json`` by
``scans``. This test closes the loop: every query carries a committed
scan-count budget in ``scan_budgets.json``, which ``plan_audit.py
--write-golden`` deliberately never regenerates. The enforcement chain:

- ``tests/test_plan_golden.py`` pins LIVE plans == committed golden, so
  a code edit that adds a scan can't hide;
- this test pins committed golden ``scans`` == committed budget, so a
  wholesale ``--write-golden`` regeneration can't silently absorb a scan
  increase either — the budget edit has to appear in the diff, where the
  commit message justifies it.

Equality (not <=) is intentional: a decrease is an improvement worth
locking in, so a stale too-high budget also fails until lowered.

Work a query runs while it BUILDS its DataFrame (a bounded collect whose
rows re-enter the plan as a local relation) leaves the returned plan, so
its scans no longer count here. The golden's ``build_jobs`` fact keeps it
visible, and ``build_job_budgets`` budgets it the same way: a query absent
from that map has a budget of 0 build jobs.
"""
import json
import os

from flatbread_spark.plans.golden import load_golden

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(key="budgets"):
    golden = load_golden()["fingerprints"]
    with open(os.path.join(REPO, "scan_budgets.json")) as f:
        budgets = json.load(f)[key]
    return golden, budgets


def test_every_query_has_a_scan_budget():
    golden, budgets = _load()
    missing = sorted(set(golden) - set(budgets))
    stale = sorted(set(budgets) - set(golden))
    assert not missing, (
        f"queries with no scan budget (add to scan_budgets.json with a "
        f"justifying commit): {missing}"
    )
    assert not stale, f"budgets for queries no longer declared: {stale}"


def test_scan_counts_match_budgets_exactly():
    golden, budgets = _load()
    over = {
        n: (budgets[n], golden[n]["scans"])
        for n in sorted(set(golden) & set(budgets))
        if golden[n]["scans"] > budgets[n]
    }
    under = {
        n: (budgets[n], golden[n]["scans"])
        for n in sorted(set(golden) & set(budgets))
        if golden[n]["scans"] < budgets[n]
    }
    assert not over, (
        "scan-count INCREASE vs committed budget (a corpus-lineage replay "
        "crept back in? justify by editing scan_budgets.json in the same "
        f"commit) {{name: (budget, got)}}: {over}"
    )
    assert not under, (
        "scan count fell below budget — lock the improvement in by "
        f"lowering scan_budgets.json {{name: (budget, got)}}: {under}"
    )


def test_build_jobs_match_budgets_exactly():
    golden, budgets = _load("build_job_budgets")
    stale = sorted(set(budgets) - set(golden))
    assert not stale, f"build-job budgets for queries no longer declared: {stale}"
    off = {
        n: (budgets.get(n, 0), golden[n]["build_jobs"])
        for n in sorted(golden)
        if golden[n]["build_jobs"] != budgets.get(n, 0)
    }
    assert not off, (
        "build_jobs differ from scan_budgets.json build_job_budgets (an "
        "increase needs the budget edited, with a justifying commit; a "
        f"decrease is locked in by lowering it) {{name: (budget, got)}}: {off}"
    )
