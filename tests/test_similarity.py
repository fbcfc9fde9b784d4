"""Similarity operators: the all-pairs shortlist kernel against the
expression-only path it replaced.

The kernel scores each corpus slab with one numpy matmul (double cosine or
the exact int8 code dot) and emits a per-slab value-superset shortlist; the
exact-decimal re-rank still decides every output. These tests pin:

1. parity with the expression-only path (all pairs through a nested-loop
   join, a fast-score window, the exact re-rank) on data WITH duplicate
   vectors — boundary ties, where a top-k selection by value alone could
   diverge from the (score desc, id asc) window order — in both score
   modes;
2. the corpus vector type (a double corpus is not narrowed to float);
3. partition invariance (slab boundaries must not change the result);
4. self-exclusion (a corpus row with a query's id never surfaces, even in
   slabs smaller than the shortlist depth);
5. ragged query batches: a NULL or odd-length query yields no rows and
   leaves the other queries' rows unchanged;
6. id types follow the corpus (string ids through mmr_rerank).
"""
import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from flatbread_spark.functions.vectors import (
    cosine_exact,
    cosine_fast,
    int8_codes,
    int8_scale,
)
from flatbread_spark.operators.similarity import (
    knn_bruteforce,
    knn_quantized,
    mmr_rerank,
)


def _reference_pairs(corpus, queries, depth, int8=False):
    """Expression-only shortlist: every (query, corpus) pair through a
    broadcast nested-loop join, trimmed by the (fast desc, neighbor asc)
    window. ``__fast`` is double cosine, or the BIGINT int8 code dot."""

    def staged(df, side):
        v = F.col("embedding")
        return df.select(
            F.col("vec_id").alias(f"{side}_id"),
            v.alias(f"__{side}v"),
            int8_codes(v, int8_scale(v)).alias(f"__{side}c"),
        )

    pairs = staged(corpus, "neighbor").join(
        F.broadcast(staged(queries, "query")),
        F.col("query_id") != F.col("neighbor_id"),
    )
    if int8:
        fast = F.aggregate(
            F.zip_with("__queryc", "__neighborc", lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )
    else:
        fast = cosine_fast(F.col("__queryv"), F.col("__neighborv"))
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("__fast"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("__fast", fast)
        .withColumn("__frank", F.row_number().over(wf))
        .filter(F.col("__frank") <= depth)
    )


def _reference_rows(corpus, queries, k, depth=None, int8=False):
    """The expression-only knn_bruteforce (``int8=False``) or knn_quantized
    (``int8=True``), inlined as the oracle."""
    depth = depth or max(4 * k, k + 20)
    cos = F.round(cosine_exact(F.col("__queryv"), F.col("__neighborv")), 6)
    extra = [F.col("__fast").alias("qdot")] if int8 else []
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return sorted(
        _reference_pairs(corpus, queries, depth, int8)
        .select("query_id", "neighbor_id", *extra, cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .collect()
    )


def _mk(spark, vecs, n_parts, vtype="float", ids=None):
    ids = ids or list(range(len(vecs)))
    return spark.createDataFrame(
        list(zip(ids, vecs)),
        f"vec_id {'string' if isinstance(ids[0], str) else 'bigint'}, "
        f"embedding array<{vtype}>",
    ).repartition(n_parts)


@pytest.fixture(scope="module")
def tied_vectors():
    rnd = random.Random(7)
    dim = 8
    base = [[rnd.uniform(-1, 1) for _ in range(dim)] for _ in range(40)]
    # force boundary ties: many EXACT duplicates of a handful of vectors,
    # so fast scores collide and only the id tie-break orders them
    vecs = base + [list(base[i % 5]) for i in range(30)]
    return vecs


def test_kernel_matches_expression_reference_with_ties(spark, tied_vectors):
    corpus = _mk(spark, tied_vectors, 4)
    queries = corpus.filter(F.col("vec_id") < 4)
    got = sorted(knn_bruteforce(corpus, queries, k=5).collect())
    assert got == _reference_rows(corpus, queries, k=5)


def test_double_corpus_keeps_double_precision(spark):
    # the exact cosine is 0.5000005084 on these doubles but 0.4999999985
    # once the neighbor is narrowed to float: 0.500001 vs 0.5 at 6 digits
    corpus = _mk(spark, [[1.0, 0.0], [0.50000067, 0.8660253882408142]], 1, "double")
    queries = corpus.filter(F.col("vec_id") == 0)
    got = knn_bruteforce(corpus, queries, k=1).collect()
    assert got == _reference_rows(corpus, queries, k=1)
    assert got[0]["cos"] == 0.500001


def test_int8_kernel_matches_expression_reference_with_ties(spark, tied_vectors):
    corpus = _mk(spark, tied_vectors, 4)
    queries = corpus.filter(F.col("vec_id") < 4)
    got = sorted(knn_quantized(corpus, queries, k=5, shortlist=8).collect())
    assert got == _reference_rows(corpus, queries, k=5, depth=8, int8=True)


def test_mmr_candidates_match_expression_reference_with_ties(spark, tied_vectors):
    # n_select == k_candidates: the greedy selects every candidate, so the
    # output neighbor set IS the candidate set
    corpus = _mk(spark, tied_vectors, 4)
    queries = corpus.filter(F.col("vec_id") < 4)
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in mmr_rerank(corpus, queries, k_candidates=7, n_select=7).collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"])
        for r in _reference_pairs(corpus, queries, 7, int8=True).collect()
    }
    assert got == want


@pytest.mark.parametrize(
    "op",
    [
        lambda c, q: knn_bruteforce(c, q, k=4),
        lambda c, q: knn_quantized(c, q, k=4, shortlist=6),
        lambda c, q: mmr_rerank(c, q, k_candidates=6, n_select=3),
    ],
    ids=["cosine", "int8", "mmr"],
)
def test_kernel_partition_invariance(spark, tied_vectors, op):
    outs = []
    for n_parts in (1, 3, 7):
        corpus = _mk(spark, tied_vectors, n_parts)
        queries = corpus.filter(F.col("vec_id") < 3)
        outs.append(sorted(op(corpus, queries).collect()))
    assert outs[0] == outs[1] == outs[2]


def test_self_pair_never_surfaces_in_tiny_slabs(spark):
    # 3 corpus rows (all slabs smaller than depth): the query's own row
    # must not appear even though every row would fit the shortlist
    vecs = [[1.0, 0.0], [0.9, 0.1], [0.0, 1.0]]
    corpus = _mk(spark, vecs, 3)
    queries = corpus.filter(F.col("vec_id") == 0)
    rows = knn_bruteforce(corpus, queries, k=3).collect()
    assert all(r["neighbor_id"] != 0 for r in rows)
    assert {r["neighbor_id"] for r in rows} == {1, 2}


@pytest.mark.parametrize(
    "op",
    [
        lambda c, q: knn_bruteforce(c, q, k=4),
        lambda c, q: knn_quantized(c, q, k=4),
        lambda c, q: mmr_rerank(c, q, k_candidates=6, n_select=3),
    ],
    ids=["cosine", "int8", "mmr"],
)
def test_null_and_odd_length_queries_yield_no_rows(spark, tied_vectors, op):
    corpus = _mk(spark, tied_vectors, 3)
    valid = corpus.filter(F.col("vec_id") < 3)
    ragged = spark.createDataFrame(
        [(100, None), (101, [0.5] * 4), (102, [0.5] * 9)],
        "vec_id bigint, embedding array<float>",
    )
    alone = sorted(op(corpus, valid).collect())
    assert alone
    assert sorted(op(corpus, valid.unionByName(ragged)).collect()) == alone


def test_mmr_string_ids(spark, tied_vectors):
    names = [f"v{i:03d}" for i in range(len(tied_vectors))]
    by_str = _mk(spark, tied_vectors, 3, ids=names)
    by_int = _mk(spark, tied_vectors, 3)
    got = mmr_rerank(
        by_str, by_str.filter(F.col("vec_id") < "v003"), k_candidates=8, n_select=4
    )
    assert dict(got.dtypes)["query_id"] == "string"
    want = mmr_rerank(
        by_int, by_int.filter(F.col("vec_id") < 3), k_candidates=8, n_select=4
    ).collect()
    assert sorted(got.collect()) == sorted(
        (names[r["query_id"]], r["rank"], names[r["neighbor_id"]], r["mmr_score"])
        for r in want
    )
