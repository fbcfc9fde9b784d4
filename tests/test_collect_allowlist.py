"""Mechanical enforcement of the bounded-collect audit (round 10).

Every `.collect()` / `.toPandas()` in package source pulls a DataFrame to
the driver — at 100 TB that is only safe when the frame is bounded by the
MODEL or the GROUP STRUCTURE, never the corpus. VERDICT r8/r9 verified
this by hand ("all 20 collect sites are bounded"); this test turns the
manual audit into a ratchet, the same discipline as
``tests/test_scan_budgets.py`` for scan counts and
``tests/test_filter_audit.py`` for expensive filters: a NEW driver-side
materialization anywhere in ``flatbread_spark/`` fails by file name until
this allowlist is edited in the same diff, where the commit message has to
state the bound.

Counts (not line numbers) so ordinary refactors don't churn the test; the
per-file bound notes are the audit trail.

Counting is AST-based (ADVICE r11): a ``Call`` whose func is an
``Attribute`` named ``collect``/``collectAsList``/``toPandas`` — the JVM
``collectAsList`` (through ``df._jdf``) materializes the rows just the
same, so it is counted too. Substring counting both
missed sites (``.collect(`` after a ``#`` inside a string literal) and
counted phantom ones (``.collect(`` mentioned in a docstring), so the
ratchet could drift for non-code reasons; the AST sees only real call
sites and makes comment-stripping unnecessary.
"""
import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "flatbread_spark")

# file (relative to flatbread_spark/) -> (collect_count, bound note)
COLLECT_ALLOWLIST = {
    "operators/tokenizer.py": (1, "BPE pair-count table: vocabulary-bounded (top pairs after min_count)"),
    "operators/sampling.py": (3, "group counts for exact allocation (group-bounded) + 1-row FPS seed + greedy FPS state (k rows, k = requested sample)"),
    "operators/kmeans.py": (2, "k seed vectors + per-(cluster,dim) update rows: both k*dim model-bounded"),
    "operators/similarity.py": (1, "all-pairs generator query set (knn_bruteforce, knn_quantized, mmr_rerank), read back from its local relation (no job): small by contract (the old plans already broadcast it — same driver footprint), feeds the shortlist kernel's captured matrix"),
    "operators/trend.py": (2, "single aggregate rows (slope/anomaly scalars): 1 row each"),
    "operators/pca.py": (3, "d*d covariance moment aggregate (collected once; doubles as the pin materialization) + d*d covariance table in pca_train + d-row component table: all dimension-bounded"),
    "operators/graph.py": (2, "union-find edge probe hard-capped at driver_max_edges+1 (fails loudly past the cap) + 1-row count"),
    "operators/lm.py": (1, "trigram LM model table: vocabulary-bounded (min_count-filtered)"),
    "operators/ranking.py": (2, "two-phase scaffold per-partition stats (partitions rows, shared by positions and decimal cumsums) + 1-row total"),
    "operators/curation.py": (2, "per-gate funnel summary (gate-count rows) + vocab_overlap per-group vocabulary sizes (#groups rows — the old plan already broadcast them to the driver)"),
    "operators/vocabulary.py": (1, "characteristic_terms per-group token totals: #groups rows — the old plan already broadcast them to the driver"),
    "sources/pivot.py": (1, "pivot-value discovery: capped at spark.sql.pivotMaxValues + 1 rows, past which it raises (the collect Spark's own groupBy().pivot() ran internally)"),
    "output/tablespec.py": (2, "display/export sink: truncation-limited presentation rows by contract"),
    "output/excel.py": (1, "export sink: presentation-sized by contract (same class as tablespec)"),
}
# JVM-side collects: the rows stay in the JVM and re-enter the plan as a
# local relation (frame.local_relation); they are materialized all the same
COLLECT_AS_LIST_ALLOWLIST = {
    "frame.py": (1, "local_relation: FlatFrame.from_df collects at most min(engine.pos_auto_threshold, LOCAL_FRAME_BYTES / estimated row size) + 1 presentation rows, through a plain limit that takes at most that many from each partition it scans; its other callers (the minhash over-cap bucket lists, <= |band rows|/max_band_bucket rows by construction; the all-pairs query set) are bounded as noted at their files"),
}
TOPANDAS_ALLOWLIST = {
    "frame.py": (1, "FlatFrame.to_pandas(): presentation sink for margin tables, documented driver-sized"),
}

_CALL = {
    "collect": COLLECT_ALLOWLIST,
    "collectAsList": COLLECT_AS_LIST_ALLOWLIST,
    "toPandas": TOPANDAS_ALLOWLIST,
}


def _iter_package_trees():
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG)
            with open(path) as f:
                yield rel, ast.parse(f.read(), filename=path)


def _is_method_call(node, name):
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == name
    )


def _count_calls(method):
    found = {}
    for rel, tree in _iter_package_trees():
        n = sum(1 for node in ast.walk(tree) if _is_method_call(node, method))
        if n:
            found[rel] = n
    return found


def test_every_collect_site_is_allowlisted_with_a_bound():
    for method, allow in _CALL.items():
        found = _count_calls(method)
        expected = {f: c for f, (c, _note) in allow.items()}
        new_files = set(found) - set(expected)
        assert not new_files, (
            f"new driver-side .{method}() site(s) in {sorted(new_files)} — "
            "state the bound in tests/test_collect_allowlist.py"
        )
        gone = set(expected) - set(found)
        assert not gone, (
            f"allowlist is stale: {sorted(gone)} no longer call .{method}() — "
            "remove the entry so the ratchet stays tight"
        )
        for f in found:
            assert found[f] == expected[f], (
                f"{f}: {found[f]} .{method}() sites, allowlist says {expected[f]} "
                "— a new one needs its bound documented, a removed one "
                "ratchets the count down"
            )


def test_no_iterative_collect_in_loops_over_unbounded_frames():
    """Spot-guard for the worst pattern: `.collect()` inside a loop (a
    driver-side join shape). The known iterative collects (kmeans
    per-iteration update, FPS greedy state) live inside loops bounded by
    `iters`/`k` — assert no NEW file grows a collect-in-loop outside the
    allowlisted files.

    AST-based (ADVICE r11): the previous regex body pattern stopped at the
    first blank line, so a `.collect()` after a blank line inside a `for`
    body silently escaped. Walking `ast.For`/`ast.While` descendants sees
    the whole body regardless of layout, and `ast.AsyncFor` is covered for
    free by the same node set."""
    allowed = {
        # bounded iterative algorithms: loop trip count is a MODEL
        # parameter (iters / k / n_merges / max_iter) and each in-loop
        # collect is 1-row (argmax / convergence sum) or k-row
        "operators/kmeans.py",
        "operators/sampling.py",
        "operators/tokenizer.py",
        "operators/graph.py",
    }
    offenders = []
    for rel, tree in _iter_package_trees():
        if rel in allowed:
            continue
        for node in ast.walk(tree):
            if not isinstance(node, (ast.For, ast.AsyncFor, ast.While)):
                continue
            # only the REPEATED parts count: the body/orelse run per
            # iteration, and a While's test re-evaluates per iteration.
            # `for r in df.collect():` (collect in the For's iter) is ONE
            # call whose result is iterated — not an iterative collect.
            repeated = list(node.body) + list(node.orelse)
            if isinstance(node, ast.While):
                repeated.append(node.test)
            if any(
                _is_method_call(sub, "collect")
                for stmt in repeated
                for sub in ast.walk(stmt)
            ):
                offenders.append(rel)
    assert not offenders, (
        f"collect() inside a loop in {sorted(set(offenders))} — bound it by "
        "the model (iters/k) and allowlist it, or restructure"
    )
