"""Property sweep for the shingle-pair family — ngram_jaccard_pairs,
ngram_containment_pairs, contamination_pairs — against brute-force
pure-Python shingle oracles.

The three operators share the two-phase candidate/verify machinery
(explode shingle hashes → equi-join candidates → exact array verify);
the sweep pins its edges: texts shorter than n tokens (whole-text gram
fallback), EMPTY texts (one '' gram — two empty docs are legitimately
containment-1.0 pairs), exact duplicates, prefix inclusion, and the
candidate rule itself (a pair sharing zero shingles must never appear
even when both sides are tiny). Thresholds and shapes keep scores as
small-denominator rationals so rounded-vs-raw threshold comparisons
cannot flake.
"""
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SET = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

N = 3
TOKENS = ["alpha", "beta", "gamma", "delta", "epsi"]

# documents as token index lists; include empties and heavy repetition
doc = st.lists(st.integers(0, len(TOKENS) - 1), min_size=0, max_size=8)
corpus = st.lists(doc, min_size=2, max_size=6)


def text_of(ix):
    return " ".join(TOKENS[i] for i in ix)


def py_shingles(text, n=N):
    """Mirror functions.text.with_shingles: whitespace split of the
    trimmed text, n-grams joined by ' ', whole-text gram when shorter
    than n tokens, distinct set."""
    toks = re.split(r"\s+", text.strip())
    if len(toks) >= n:
        grams = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    else:
        grams = {" ".join(toks)}
    return grams


def py_pairs(texts, mode, thr):
    out = {}
    sh = [py_shingles(t) for t in texts]
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            inter = len(sh[a] & sh[b])
            if inter == 0:
                continue
            if mode == "jaccard":
                score = inter / len(sh[a] | sh[b])
            else:
                score = inter / min(len(sh[a]), len(sh[b]))
            if score >= thr:
                out[(a, b)] = round(score, 6)
    return out


@given(docs=corpus)
@settings(**SET)
def test_jaccard_pairs_match_bruteforce(spark, docs):
    from flatbread_spark.operators.dedup import ngram_jaccard_pairs

    texts = [text_of(d) for d in docs]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", n=N, threshold=0.5
        ).collect()
    }
    expect = py_pairs(texts, "jaccard", 0.5)
    assert set(got) == set(expect)
    for k in expect:
        assert abs(got[k] - expect[k]) < 1e-9, (k, got[k], expect[k])


@given(docs=corpus)
@settings(**SET)
def test_containment_pairs_match_bruteforce(spark, docs):
    from flatbread_spark.operators.dedup import ngram_containment_pairs

    texts = [text_of(d) for d in docs]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in ngram_containment_pairs(
            df, "doc_id", "text", n=N, threshold=0.5
        ).collect()
    }
    expect = py_pairs(texts, "containment", 0.5)
    assert set(got) == set(expect)
    for k in expect:
        assert abs(got[k] - expect[k]) < 1e-9, (k, got[k], expect[k])


@given(docs=corpus)
@settings(**SET)
def test_contamination_pairs_match_bruteforce(spark, docs):
    """Bipartite: first half of the corpus is 'train', second 'eval';
    containment normalizes by the EVAL shingle count."""
    from flatbread_spark.operators.dedup import contamination_pairs

    texts = [text_of(d) for d in docs]
    cut = len(texts) // 2
    train = spark.createDataFrame(
        list(enumerate(texts[:cut])), "doc_id bigint, text string"
    )
    ev = spark.createDataFrame(
        [(i + 100, t) for i, t in enumerate(texts[cut:])],
        "doc_id bigint, text string",
    )
    got = {
        (r["train_id"], r["eval_id"]): r["containment"]
        for r in contamination_pairs(
            train, ev, "doc_id", "text", n=N, threshold=0.5
        ).collect()
    }
    expect = {}
    tr_sh = [py_shingles(t) for t in texts[:cut]]
    ev_sh = [py_shingles(t) for t in texts[cut:]]
    for ti, ts in enumerate(tr_sh):
        for ei, es in enumerate(ev_sh):
            inter = len(ts & es)
            if inter and inter / len(es) >= 0.5:
                expect[(ti, ei + 100)] = round(inter / len(es), 6)
    assert set(got) == set(expect)
    for k in expect:
        assert abs(got[k] - expect[k]) < 1e-9, (k, got[k], expect[k])


def test_containment_candidate_cap_keeps_verified_exact(spark):
    """max_shingle_df caps CANDIDATE generation only: a pair surviving via
    one cool shingle still verifies on the FULL sets (exact score), and a
    pair whose every shared shingle is hot disappears (documented recall
    trade-off, never a wrong value)."""
    from flatbread_spark.operators.dedup import ngram_containment_pairs

    hot = "alpha beta gamma"  # in every doc -> df 4 > cap 2
    rows = [
        (0, hot + " delta epsi alpha"),
        (1, hot + " delta epsi alpha"),   # shares cool shingles with 0
        (2, hot),                          # only hot content
        (3, hot),                          # its dup — pair (2,3) vanishes
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in ngram_containment_pairs(
            df, "doc_id", "text", n=N, threshold=0.5, max_shingle_df=2
        ).collect()
    }
    assert (0, 1) in got and got[(0, 1)] == 1.0  # exact despite the cap
    assert (2, 3) not in got


# SimHash: brute force over the operator's own signatures. Exact dups
# collide in every band; the one-word edits of a 300-word text sit 1 and 2
# bits from it under both hashes, so the first collides in at least
# bands - 1 bands. Empty and NULL texts share the empty-text signature.
BASE = " ".join(f"w{i}" for i in range(300))
SIMHASH_FIXED = [
    BASE,
    BASE,  # exact duplicate
    BASE.replace("w10 ", "x10 ", 1),  # 1 bit away
    BASE.replace("w29 ", "x29 ", 1),  # 2 bits away
    "",
    None,
    "alpha",
]


def py_popcount64(x):
    return bin(x & ((1 << 64) - 1)).count("1")


@pytest.mark.parametrize("portable_hash", [False, True], ids=["xx64", "md5_60"])
@given(docs=corpus, bands=st.sampled_from([3, 4, 5]))
@settings(**SET)
def test_simhash_pairs_match_bruteforce(spark, portable_hash, docs, bands):
    """simhash_pairs equals the all-pairs popcount filter over
    simhash_signatures whenever max_hamming < bands (pigeonhole), for both
    band widths (60- and 64-bit signatures), and emits each pair ONCE even
    when it collides in several bands."""
    from collections import Counter

    from flatbread_spark.operators.dedup import simhash_pairs, simhash_signatures

    texts = SIMHASH_FIXED + [text_of(d) for d in docs]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    k = bands - 1
    sigs = {
        r["__id"]: r["__sig"]
        for r in simhash_signatures(
            df, "doc_id", "text", n=2, portable_hash=portable_hash
        ).collect()
    }
    expect = Counter()
    for a in sigs:
        for b in sigs:
            if a < b:
                ham = py_popcount64(sigs[a] ^ sigs[b])
                if ham <= k:
                    expect[(a, b, ham)] += 1
    got = Counter(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs(
            df, "doc_id", "text", n=2, max_hamming=k, bands=bands,
            portable_hash=portable_hash,
        ).collect()
    )
    assert got == expect
    # the fixed rows really hold multi-band near-duplicates
    assert {(0, 1, 0), (0, 2, 1), (0, 3, 2), (4, 5, 0)} <= set(expect)


def test_simhash_pairs_one_reused_shuffle(spark, documents):
    """The band rows are shuffled once and both join sides read that
    exchange: no persisted signature frame, one executed scan of the
    input, no aggregate above the join."""
    from flatbread_spark import cache
    from flatbread_spark.operators.dedup import simhash_pairs

    before = cache.pinned_tags()
    out = simhash_pairs(documents, "doc_id", "text", portable_hash=True)
    out.collect()
    assert cache.pinned_tags() == before
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final
    assert final.count("FileScan parquet") == 1
    assert final.count("ArrowEvalPython") == 1
    assert "SortMergeJoin" in final
    assert "InMemoryRelation" not in final
    assert "Aggregate" not in final
