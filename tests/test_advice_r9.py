"""Round-9 ADVICE regression pins (one test per adjudicated r8 finding).

- rater_agreement's pe arithmetic must not wrap BIGINT at corpus scale:
  pe_num can reach n², so ``pe_num * 1e6`` overflows past n ≈ 3.03e6
  compared rows and Spark's non-ANSI mode wraps SILENTLY — pinned with a
  4.2M-row frame whose pe numerator provably exceeds 2⁶³−1 under the old
  BIGINT form, graded against the exact Python big-int oracle;
- the pinned-literal replay's exact_top5 prefilter must use the OPERATOR's
  shortlist depth (max(4k, k+20) = 25 for k=5, not the miscomputed 20) —
  pinned as a source-sync test so a depth change in similarity.py fails
  here until the replay follows;
- an empty replayed LSH pair set must render as a typed empty relation,
  not ``(VALUES )`` (a DuckDB syntax error the sweep would misread as an
  oracle crash) — pinned by running both affected oracle templates with
  the sentinel literal end-to-end in DuckDB;
- connected_components' session-global conf pin for the CollectLimit probe
  must be safe under concurrent calls and always restored — pinned with
  two racing threads.
"""
import os
import re
import threading

import duckdb
import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- finding 1 (medium): kappa BIGINT overflow at corpus scale ------------


def test_kappa_no_overflow_past_3m_rows(spark):
    """4.2M compared rows, 90/80 skewed binary labels: pe_num = 0.74·n²
    ≈ 1.3e13, so the old ``pe_num * 1e6`` BIGINT product (1.3e19) exceeds
    2⁶³−1 ≈ 9.22e18 and would wrap to a garbage pe_ppm/kappa_ppm. The
    DECIMAL(38,0) path must reproduce the exact Python big-int floor
    arithmetic."""
    from flatbread_spark.operators.curation import rater_agreement

    n = 4_200_000
    df = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit("t")).otherwise("f").alias("a"),
        F.when(F.col("id") % 10 < 8, F.lit("t")).otherwise("f").alias("b"),
    )
    r = rater_agreement(df, "a", "b").collect()[0]

    # exact Python oracle (n divisible by 10 -> closed-form marginals)
    na_t, nb_t, agree = 9 * n // 10, 8 * n // 10, 9 * n // 10
    pe_num = na_t * nb_t + (n - na_t) * (n - nb_t)
    assert pe_num * 1_000_000 > 2**63 - 1  # the old form provably wrapped
    po = (agree * 1_000_000) // n
    pe = (pe_num * 1_000_000) // (n * n)
    kappa = ((po - pe) * 1_000_000) // (1_000_000 - pe)
    assert (r["n"], r["n_agree"]) == (n, agree)
    assert (r["po_ppm"], r["pe_ppm"], r["kappa_ppm"]) == (po, pe, kappa)


def test_kappa_overflow_regime_negative_dividend(spark):
    """Same overflow regime but with po < pe, so the sign-sensitive
    pmod-floor division also runs on big inputs: a=(id%2), b=(id%2 flipped
    on 90%) gives systematic disagreement at scale."""
    from flatbread_spark.operators.curation import rater_agreement

    n = 5_000_000  # pe_num = 0.5 n² = 1.25e13 -> ×1e6 = 1.25e19 > 2⁶³−1
    df = spark.range(n).select(
        (F.col("id") % 2 == 0).cast("string").alias("a"),
        # disagree except on each 10th row
        F.when(F.col("id") % 10 == 0, F.col("id") % 2 == 0)
        .otherwise(F.col("id") % 2 != 0)
        .cast("string")
        .alias("b"),
    )
    r = rater_agreement(df, "a", "b").collect()[0]

    pairs_agree = n // 10
    # marginals: a true on evens (n/2). b: true where (id%10==0 and even)
    # or (id%10!=0 and odd) -> evens with id%10==0: n/10; odds not mult of
    # 10: all odds (odd ids are never %10==0) -> n/2. nb_true = n/10 + n/2.
    na_t = n // 2
    nb_t = n // 10 + n // 2
    pe_num = na_t * nb_t + (n - na_t) * (n - nb_t)
    assert pe_num * 1_000_000 > 2**63 - 1
    po = (pairs_agree * 1_000_000) // n
    pe = (pe_num * 1_000_000) // (n * n)
    kappa = ((po - pe) * 1_000_000) // (1_000_000 - pe)
    assert kappa < 0
    assert (r["po_ppm"], r["pe_ppm"], r["kappa_ppm"]) == (po, pe, kappa)


# --- finding 2 (low): replay prefilter depth == operator shortlist --------


def test_replay_prefilter_depth_synced_with_operator():
    """The replay's fast-cosine prefilter slice must equal the operator's
    shortlist depth for k=5. Source-sync pin: extract the operator's
    formula from similarity.py, evaluate at k=5, and require the entry
    module's slice to spell the same formula at k=5."""
    sim_src = open(
        os.path.join(REPO, "flatbread_spark", "operators", "similarity.py")
    ).read()
    m = re.search(r"shortlist_depth = max\(4 \* k, k \+ 20\)", sim_src)
    assert m, "operator shortlist formula moved — update this pin AND the replay"
    depth_k5 = max(4 * 5, 5 + 20)
    assert depth_k5 == 25
    entry_src = open(os.path.join(REPO, "__spark_entry__.py")).read()
    assert "[: max(4 * 5, 5 + 20)]" in entry_src, (
        "replay exact_top5 prefilter no longer slices at the operator's "
        "k=5 shortlist depth (25) — ADVICE r8 #2 regressed"
    )
    assert "= 20), mirror that gate" not in entry_src  # the old wrong comment


# --- finding 3 (low): empty pair literal must be a typed empty relation ---


def _duck_with_embeddings():
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{os.path.join(SF_DIR, 'embeddings.parquet')}')"
    )
    return con


def test_empty_emb_pairs_renders_typed_empty_relation():
    import __spark_entry__ as entry

    lits = dict(entry._PINNED_LITERALS_SF001)
    # what _replay_embedding_literals emits when final_pairs == []
    lits["emb_pairs"] = "(CAST(NULL AS BIGINT), CAST(NULL AS BIGINT))"
    sqls = entry._pinned_oracle_sqls(lits)
    con = _duck_with_embeddings()
    # no pairs -> the dup-pair query is EMPTY ...
    assert con.sql(sqls["embedding_dups_lsh"]).fetchall() == []
    # ... and semantic_dedup degrades to all-singleton clusters (every
    # vector its own survivor), not a crash
    rows = con.sql(sqls["semantic_dedup"]).fetchall()
    n_emb = con.sql("SELECT count(*) FROM embeddings").fetchone()[0]
    assert len(rows) == n_emb
    assert all(vid == cid and surv for vid, cid, surv in rows)


def test_empty_emb_pairs_literal_branch():
    """The generator's empty-branch literal is exactly the sentinel the
    template filters out (keep the two in sync)."""
    entry_src = open(os.path.join(REPO, "__spark_entry__.py")).read()
    assert '"(CAST(NULL AS BIGINT), CAST(NULL AS BIGINT))"' in entry_src
    assert entry_src.count("v(x, y) WHERE x IS NOT NULL") == 2


# --- finding 4 (low): probe conf window must be concurrency-safe ----------


def test_graph_probe_conf_concurrent_calls(spark):
    """Two threads race connected_components (both on the driver-side
    union-find path, whose bounded edge probe is a collect). Both results
    must be correct, and the session's limit conf is left as it was."""
    from flatbread_spark.operators.graph import connected_components

    key = "spark.sql.limit.initialNumPartitions"
    before = spark.conf.get(key, None)
    results, errors = {}, []

    def run(tag, offset):
        try:
            nodes = spark.createDataFrame(
                [(offset + i,) for i in range(6)], "id bigint"
            )
            edges = spark.createDataFrame(
                [(offset + 0, offset + 1), (offset + 1, offset + 2),
                 (offset + 4, offset + 5)],
                "id_a bigint, id_b bigint",
            )
            out = connected_components(nodes, edges)
            results[tag] = {
                r["id"] - offset: r["cluster_id"] - offset for r in out.collect()
            }
        except Exception as e:  # surface thread failures in the assert
            errors.append((tag, e))

    threads = [
        threading.Thread(target=run, args=("t1", 0)),
        threading.Thread(target=run, args=("t2", 1000)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    want = {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4}
    assert results["t1"] == want and results["t2"] == want
    assert spark.conf.get(key, None) == before  # restored, not leaked
