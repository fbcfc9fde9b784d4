"""Similarity search over embedding columns, as filter-and-refine.

Every top-k operator here is a candidate generator followed by one shared
refine step (:func:`_refine`): trim each query's candidates to a bounded
shortlist by a fast score, score the survivors with exact-decimal cosine
(:func:`~flatbread_spark.functions.vectors.cosine_exact`, rounded to 6),
and keep the top k by :func:`rank_topk` — ``(score desc, neighbor_id
asc)``, the one ranking every result and oracle in this repo shares.

Three private candidate generators feed it:

- all-pairs (:func:`_all_pairs`): the (small) query set is collected once
  and rides an Arrow kernel that scores each corpus slab with one numpy
  matmul — float cosine or the exact BIGINT int8 code dot — and emits a
  tie-complete per-slab shortlist. ``knn_bruteforce`` (the baseline and
  the verification oracle for the approximate paths), ``knn_quantized``
  and ``mmr_rerank`` use it.
- LSH buckets (``knn_lsh``): deterministic seeded sign-LSH planes; a
  candidate shares a bucket with its query in at least one of ``tables``
  tables. The corpus is hashed in one linear scan and candidates come
  from a bucket equi-join instead of a full cross product.
- IVF cells (:func:`ivf_candidates`): every vector is assigned to its
  nearest caller-provided centroid and each query probes its ``nprobe``
  nearest cells. Candidates are scored exactly, so ``knn_ivf`` needs only
  :func:`rank_topk`.
"""
from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flatbread_spark.frame import local_relation
from flatbread_spark.functions.vectors import cosine_exact, cosine_fast


def rank_topk(scored: DataFrame, k: int, by: str = "cos") -> DataFrame:
    """Deterministic per-query top-k over a scored candidate frame: rank by
    (``by`` desc, neighbor_id asc) — the tie-break every knn_* result and
    oracle in this repo shares. Columns of ``scored`` pass through and
    ``rank`` (1-based) is appended."""
    w = Window.partitionBy("query_id").orderBy(F.desc(by), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _exact_cos() -> Column:
    return F.round(cosine_exact(F.col("__qv"), F.col("__cv")), 6).alias("cos")


def _refine(
    cands: DataFrame,
    k: int,
    depth: int | None = None,
    qvecs: DataFrame | None = None,
    keep: tuple = (),
) -> DataFrame:
    """The refine step every top-k operator shares. ``cands`` holds
    ``query_id, neighbor_id`` and the neighbor vector ``__cv``, plus the
    fast score ``__fast`` when ``depth`` is given and the query vector
    ``__qv`` unless ``qvecs`` (``query_id, __qv``) supplies it after the
    trim. Returns ``(query_id, neighbor_id, *keep, cos, rank)``."""
    if depth is not None:
        cands = rank_topk(cands, depth, by="__fast")
    if qvecs is not None:
        cands = cands.join(F.broadcast(qvecs), "query_id")
    return rank_topk(
        cands.select("query_id", "neighbor_id", *keep, _exact_cos()), k
    )


def _depth(k: int) -> int:
    """Default shortlist depth for a top-``k`` refine. A cosine shortlist
    miss would need the double and exact-decimal cosines to disagree
    across a >3k-rank gap (~1e-12 per rank): not attainable with 6-digit
    rounding."""
    shortlist_depth = max(4 * k, k + 20)
    return shortlist_depth


def _all_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    depth: int,
    score: str = "cosine",
    payload: str = "vector",
) -> tuple[DataFrame, DataFrame]:
    """All-pairs candidate generator: ``(query_id, neighbor_id, __fast,
    __cv)`` holding a tie-complete superset of each query's top-``depth``
    by the fast score, plus the query vectors ``(query_id, __qv)`` as a
    local relation. ``score`` is ``"cosine"`` (double) or ``"int8"`` (the
    exact BIGINT dot of :func:`int8_codes`); the ``__cv`` payload is the
    corpus vector, or its codes with ``payload="codes"``.

    The query set is collected once: it is small by contract and rides
    the kernel closure. Each corpus row is scored only against queries
    whose vector has its length, so a NULL or odd-length query yields no
    rows and never hides the others."""
    from flatbread_spark.functions._arrow_kernels import make_knn_shortlist_fn
    from flatbread_spark.functions.vectors import int8_codes, int8_scale

    int8 = score == "int8"
    vec = F.col(vec_col)
    sv = int8_codes(vec, int8_scale(vec)) if int8 else vec
    q = queries.select(
        F.col(id_col).alias("query_id"), vec.alias("__qv"), sv.alias("__sv")
    )
    q, _ = local_relation(q)
    q_rows = q.collect()  # a local relation: no job
    kernel = make_knn_shortlist_fn(
        [r["query_id"] for r in q_rows], [r["__sv"] for r in q_rows], depth, score
    )
    # the kernel's payload is __pl when present, else the scored __sv
    pl = [vec.alias("__pl")] if int8 and payload == "vector" else []
    c = corpus.select(F.col(id_col).alias("__nid"), sv.alias("__sv"), *pl)
    idt = corpus.schema[id_col].dataType.simpleString()
    cands = c.mapInPandas(
        kernel,
        f"query_id {idt}, neighbor_id {idt}, "
        f"__fast {'bigint' if int8 else 'double'}, "
        f"__cv {c.schema[c.columns[-1]].dataType.simpleString()}",
    )
    return cands, q.select("query_id", "__qv")


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (self excluded).

    Returns (query_id, neighbor_id, cos, rank). Deterministic: exact-decimal
    cosine + (cos desc, neighbor id asc) ranking. All-pairs double cosine
    keeps a ``max(4k, k+20)``-deep shortlist per query; only the shortlist
    pays the exact-decimal score. A query with a NULL vector, or one no
    corpus row shares the length of, returns no rows.
    """
    depth = _depth(k)
    cands, qvecs = _all_pairs(corpus, queries, id_col, vec_col, depth)
    return _refine(cands, k, depth, qvecs)


def _hyperplanes(dim: int, nbits: int, seed: int) -> list[list[float]]:
    rnd = random.Random(seed)
    planes = []
    for _ in range(nbits):
        v = [rnd.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nbits: int = 8,
    tables: int = 4,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket in ≥1 of ``tables``
    sign-LSH tables; exact cosine re-rank. Returns (query_id, neighbor_id,
    cos, rank) — same shape as brute force so recall is directly measurable."""
    import numpy as np

    from flatbread_spark.functions._arrow_kernels import make_bucket_udf

    # all tables' hyperplanes stacked into one (tables*nbits, dim) matrix:
    # bucket assignment for the whole corpus is ONE Arrow-batched matmul per
    # partition batch instead of tables×nbits interpreted array-dot
    # expressions per row — the corpus-side scan is the scale cost here.
    planes_mat = np.array(
        [p for t in range(tables) for p in _hyperplanes(dim, nbits, seed + 1000 * t)],
        dtype=np.float64,
    )
    all_buckets = make_bucket_udf(planes_mat, tables, nbits)

    def with_buckets(df, id_name, vec_name):
        return df.select(
            F.col(id_col).alias(id_name), F.col(vec_col).alias(vec_name),
            F.posexplode(all_buckets(F.col(vec_col))).alias("__t", "__b"),
        )

    cb = with_buckets(corpus, "neighbor_id", "__cv")
    qb = with_buckets(queries, "query_id", "__qv")
    cands = (
        cb.join(
            F.broadcast(qb),
            (cb["__t"] == qb["__t"]) & (cb["__b"] == qb["__b"])
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select("query_id", "neighbor_id", "__qv", "__cv")
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("__fast", cosine_fast(F.col("__qv"), F.col("__cv")))
    )
    return _refine(cands, k, _depth(k))


def ivf_assign(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (IVF cell). Centroids ride
    inside an Arrow-batched matmul kernel (closure-captured matrix — Spark
    broadcasts it with the serialized UDF): one linear scan, no shuffle, no
    O(centroids×dim) literal tree in the plan. Ties → lowest centroid id."""
    probe = _probe_udf(centroids, 1)
    return corpus.select(
        F.col(id_col), F.col(vec_col),
        F.element_at(probe(F.col(vec_col)), 1).alias("cell"),
    )


def _probe_udf(centroids, nprobe: int):
    from flatbread_spark.functions._arrow_kernels import make_ivf_probe_udf

    return make_ivf_probe_udf(
        [vec for _, vec in centroids], [cid for cid, _ in centroids], nprobe
    )


def ivf_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 3,
) -> DataFrame:
    """Scored IVF candidates with the probe POSITION carried through:
    ``(query_id, neighbor_id, pos, cos)`` where ``pos`` is the rank of the
    matched cell in the query's nearest-cell ordering. Because the probe
    kernel ranks cells once, the ``nprobe=n`` candidate set for any
    ``n <= nprobe`` is exactly ``pos < n`` — which is what lets a tuning
    sweep share one candidate join across all its sweep points.
    At scale the cell equi-join replaces the full cross product —
    candidate count ≈ corpus × nprobe / n_cells."""
    cells = ivf_assign(corpus, centroids, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"), "cell"
    )
    probes = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"),
        F.posexplode(_probe_udf(centroids, nprobe)(F.col(vec_col))).alias(
            "pos", "cell"
        ),
    )
    cands = cells.join(
        F.broadcast(probes),
        (cells["cell"] == probes["cell"]) & (F.col("query_id") != F.col("neighbor_id")),
    )
    return cands.select("query_id", "neighbor_id", "pos", _exact_cos())


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 3,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors assigned to their nearest
    centroid cell (one scan), each query probes its ``nprobe`` nearest cells,
    candidates scored with exact-decimal cosine. Same output shape as
    ``knn_bruteforce`` so recall is directly measurable. Composition of
    :func:`ivf_candidates` + :func:`rank_topk` — the tuning sweep reuses the
    same pieces, so scoring/tie-break semantics cannot desync."""
    cands = ivf_candidates(corpus, queries, centroids, id_col, vec_col, nprobe)
    return rank_topk(cands.drop("pos"), k)


def knn_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    shortlist: int | None = None,
) -> DataFrame:
    """Approximate top-k over INT8-quantized vectors — the memory/IO scale
    path (codes are 4× smaller than float32). Two-phase:

    1. SHORTLIST by the integer code dot product ``Σ qcᵢ·ccᵢ`` — exact
       int64 (codes are in [-127,127], so 64-dim dots fit in 21 bits),
       hence byte-identical across engines and partitionings: the
       candidate set an oracle replays is EXACTLY this engine's. Raw
       code-dot ranking ignores the per-vector scales — unbiased for
       (near-)unit-norm embeddings, the common corpus case; for wildly
       varying norms compose with IVF cells instead.
    2. exact-decimal cosine on the ORIGINAL floats re-ranks the shortlist
       and decides the output values (same refine as ``knn_bruteforce``)
       — quantization error can only cost shortlist recall, never corrupt
       a returned score.

    Candidates come from the all-pairs kernel: one int64 code matmul per
    corpus slab against the collected query codes, no pair join. At
    open-corpus scale a bucketed candidate source (:func:`ivf_candidates`
    / :func:`knn_lsh`) replaces it; this operator is the quantized-scoring
    building block plus the small-query-set search. A NULL or odd-length
    query returns no rows. Returns ``(query_id, neighbor_id, qdot, cos,
    rank)``.
    """
    if shortlist is None:
        shortlist = _depth(k)
    if shortlist < k:
        raise ValueError(f"shortlist {shortlist} must be >= k {k}")
    cands, qvecs = _all_pairs(
        corpus, queries, id_col, vec_col, shortlist, "int8"
    )
    return _refine(
        cands, k, shortlist, qvecs, keep=(F.col("__fast").alias("qdot"),)
    )


def mine_contrastive_negatives(
    corpus: DataFrame,
    anchors: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_hard: int = 3,
    n_rand: int = 2,
    salt: str = "neg",
    n_buckets: int = 64,
) -> DataFrame:
    """Contrastive-training negative mining: for every anchor, its
    ``k_hard`` nearest corpus vectors by cosine (HARD negatives — the pairs
    an embedding model learns the most from) plus ``n_rand``
    hash-deterministic RANDOM negatives. Returns
    ``(anchor_id, other_id, kind 'hard'|'rand', cos)`` — ``cos`` NULL for
    random picks. A random pick may coincide with a hard negative
    (independent draws; the ``kind`` column disambiguates).

    Random-negative shape (the part naive implementations get wrong at
    scale): no global ordering, no per-anchor corpus scan. Every corpus row
    sits in one of ``n_buckets`` hash buckets; draw j of anchor a opens
    bucket ``h(a|j|salt) % B`` and takes the member minimizing
    ``h(member|a|j|salt)`` — one equi-join on the bucket key plus a
    per-(anchor, draw) rank window, deterministic under any partitioning
    and engine (portable md5 hashing throughout). A draw whose bucket
    contains only the anchor itself yields no row (vanishingly rare for
    B ≪ corpus; documented rather than patched with a rescan).

    Hard negatives reuse :func:`knn_bruteforce` (exact-decimal cosine);
    at open-corpus scale pass a candidate-bounded path instead —
    :func:`ivf_candidates` + :func:`rank_topk` — the same swap the knn
    queries make.
    """
    from flatbread_spark.operators.dedup import portable_hash60

    if k_hard <= 0 or n_rand < 0 or n_buckets <= 0:
        raise ValueError("need k_hard > 0, n_rand >= 0, n_buckets > 0")
    if anchors is None:
        anchors = corpus
    hard = knn_bruteforce(corpus, anchors, id_col, vec_col, k_hard).select(
        F.col("query_id").alias("anchor_id"),
        F.col("neighbor_id").alias("other_id"),
        F.lit("hard").alias("kind"),
        "cos",
    )
    if n_rand == 0:
        return hard
    b = int(n_buckets)
    cb = corpus.select(
        F.col(id_col).alias("__cid"),
        (portable_hash60(F.col(id_col).cast("string")) % b).alias("__b"),
    )
    draws = (
        anchors.select(F.col(id_col).alias("__aid"))
        .select("__aid", F.explode(
            F.sequence(F.lit(0), F.lit(int(n_rand) - 1))).alias("__j"))
        .withColumn(
            "__b",
            portable_hash60(
                F.concat_ws("|", F.col("__aid").cast("string"),
                            F.col("__j").cast("string"), F.lit(salt))
            ) % b,
        )
    )
    pick = portable_hash60(
        F.concat_ws("#", F.col("__cid").cast("string"),
                    F.col("__aid").cast("string"),
                    F.col("__j").cast("string"), F.lit(salt))
    )
    w = Window.partitionBy("__aid", "__j").orderBy(pick.asc(), F.col("__cid").asc())
    rand = (
        draws.join(cb, "__b")
        .filter(F.col("__cid") != F.col("__aid"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("__aid").alias("anchor_id"),
            F.col("__cid").alias("other_id"),
            F.lit("rand").alias("kind"),
            F.lit(None).cast("double").alias("cos"),
        )
    )
    return hard.unionByName(rand)


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_candidates: int = 20,
    n_select: int = 5,
    lambda_ppm: int = 700_000,
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking: from each query's
    ``k_candidates`` nearest vectors, greedily select ``n_select``
    balancing relevance against redundancy —
    ``score = λ·rel − (1−λ)·max_sim(·, selected)`` — the standard
    diversity re-ranker for RAG context assembly (five near-identical
    passages waste four context slots; MMR swaps them for coverage).
    Completes the retrieval family: bm25 (keyword), knn (semantic),
    rrf_fuse (consensus), mmr (diversity).

    All-integer arithmetic end to end: relevance and pairwise similarity
    are BIGINT int8-code dot products (the ``knn_quantized`` shortlist
    contract) and λ is ppm, so ``λ·rel − (1e6−λ)·max_sim`` stays in
    int64 (≤ 1e6 · 64·127² ≈ 1e12) and every greedy argmax has the total
    order ``(score desc, id asc)`` — deterministic under any
    partitioning, pinnable by an oracle.

    Scale shape: the candidates are the all-pairs int8 kernel's code-dot
    shortlist (the codes ride along as its payload) trimmed to
    ``k_candidates`` by :func:`rank_topk` — swap in ``ivf_candidates`` at
    open scale, as knn_quantized documents; the greedy loop runs per
    query group inside ``applyInPandas`` — Arrow-batched, state bounded
    by ``k_candidates`` codes, millions of queries parallelize by group.
    Id types follow the corpus id column; a NULL or odd-length query
    returns no rows.

    Returns ``(query_id, rank, neighbor_id, mmr_score)``.
    """
    if n_select < 1 or k_candidates < n_select:
        raise ValueError("need 1 <= n_select <= k_candidates")
    if not 0 <= lambda_ppm <= 1_000_000:
        raise ValueError("lambda_ppm must be in [0, 1e6]")
    cands, _ = _all_pairs(
        corpus, queries, id_col, vec_col, k_candidates, "int8", "codes"
    )
    cand = rank_topk(cands, k_candidates, by="__fast").select(
        "query_id", "neighbor_id", F.col("__fast").alias("rel"), "__cv"
    )

    lam, n_sel = int(lambda_ppm), int(n_select)

    def greedy(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        ids = pdf["neighbor_id"].to_numpy()
        rels = pdf["rel"].to_numpy(dtype=np.int64)
        codes = np.array([np.asarray(x, dtype=np.int64) for x in pdf["__cv"]])
        n = len(ids)
        max_sim = None  # true max over SELECTED (may be negative)
        picked = np.zeros(n, dtype=bool)
        out = []
        for r in range(min(n_sel, n)):
            if max_sim is None:
                score = lam * rels
            else:
                score = lam * rels - (1_000_000 - lam) * max_sim
            score = np.where(picked, np.iinfo(np.int64).min, score)
            best = int(np.argmax(score))  # ids sorted asc -> first max wins ties
            picked[best] = True
            out.append((pdf["query_id"].iloc[0], r + 1, ids[best],
                        int(score[best])))
            sims = codes @ codes[best]
            max_sim = sims if max_sim is None else np.maximum(max_sim, sims)
        return pd.DataFrame(
            out, columns=["query_id", "rank", "neighbor_id", "mmr_score"]
        )

    idt = corpus.schema[id_col].dataType.simpleString()
    return cand.groupBy("query_id").applyInPandas(
        greedy,
        f"query_id {idt}, rank bigint, neighbor_id {idt}, mmr_score bigint",
    )
