"""Distributed Lloyd k-means over an embedding column.

The missing piece between the embedding corpus and ``knn_ivf`` (which takes
centroids as an argument): train them. Each Lloyd iteration is one
DataFrame pass — an Arrow-batched nearest-centroid kernel (one vectorized
``(batch, k, dim)`` distance computation per batch, the same matmul-kernel
family as ``similarity.py``) assigns every vector map-side, then per-
(cluster, dim) means come from a posexplode + two-level partial aggregation
whose shuffle is bounded by ``partitions × k × dim``, not the corpus. The
only driver state is the k×dim centroid table (bounded by the MODEL, not
the data — the same "honestly costed" discipline as the IVF centroid
argument and the union-find cap in ``graph.py``), collected once per
iteration.

Determinism across engines and re-runs, so the whole iterative algorithm is
value-hash oracle-able in ANSI SQL:

- squared-distance terms are scaled to integers (HALF_UP ``round(t * 1e12)``
  → int64) and summed — integer addition is associative and exact, so
  partition order and batch boundaries can't move the result. The kernel
  reproduces the JVM/SQL ``round()`` bit-for-bit: for nonnegative
  ``t < 2^52``, HALF_UP is ``floor(t) + (t - floor(t) >= 0.5)`` and both
  steps are exact in IEEE double (shortest-repr and exact-value comparisons
  against 0.5 agree, since 0.5 is exactly representable). Terms are ≤ 4e12,
  64 of them — no int64 overflow headroom concerns;
- assignment ties break on centroid id (``argmin`` returns the first
  minimum = smallest id, matching SQL's struct-min over (d2, cid));
- per-dim means accumulate scaled-integer coordinates in DECIMAL(38,0)
  (a long accumulator would wrap at ~9e6 unit-scale members per cluster)
  and divide as doubles in a fixed order — bit-identical in Spark and
  DuckDB;
- empty clusters keep their previous centroid.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SCALE = 1e12


def _assign(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """Append ``cluster`` / ``d2`` = nearest centroid over the k centroids
    (ties → smallest centroid id). One Arrow-batched kernel call per batch,
    centroids riding the UDF closure (k×dim — model-sized, broadcast by
    Spark with the serialized function). No join, no shuffle, no row
    multiplication; the argmin stays map-side at any corpus size, and the
    per-batch intermediate is ``batch × k × dim`` doubles (~40 MB at the
    default 10k Arrow batch for k=8, dim=64 — chunk the batch before
    raising k×dim by orders of magnitude)."""
    from flatbread_spark.functions._arrow_kernels import make_kmeans_assign_udf

    kern = make_kmeans_assign_udf(centroids)
    a = F.col("__a")
    return (
        df.withColumn("__a", kern(F.col(vec_col)))
        .withColumn("cluster", a["cluster"])
        .withColumn("d2", a["d2"])
        .drop("__a")
    )


def kmeans_lloyd(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int = 2,
    init: list[list[float]] | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """Run ``iters`` Lloyd iterations; returns (assignments, centroids).
    Assignments carry ``cluster`` (int) and ``d2`` (exact-scaled-integer
    squared distance to the final centroid). ``init`` defaults to the k
    smallest ``id_col`` vectors — deterministic, replayable in SQL."""
    if init is None:
        init = [
            [float(x) for x in r[1]]
            for r in df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
        ]
    if len(init) != k:
        raise ValueError(f"init has {len(init)} centroids, expected {k}")
    centroids = [list(c) for c in init]
    # update step: posexplode to (cluster, dim, x) and partial-aggregate —
    # map-side combine reduces each partition to ≤ k×dim rows before the
    # shuffle, the same wire volume as a k-row × dim-column agg but with a
    # trivially generic generated aggregate (a 64-column DECIMAL agg costs
    # ~1.5 s of unique whole-stage codegen on first use; this shape doesn't)
    scaled = (
        F.round(F.col("__x").cast("double") * F.lit(_SCALE))
        .cast("bigint")
        .cast("decimal(38,0)")
    )
    for _ in range(iters):
        assigned = _assign(df, vec_col, centroids)
        # one Arrow projection + one partial-aggregated shuffle per
        # iteration; under AQE that is a map-stage job plus a result job
        # (turning AQE off for it measured no faster, SCALE.md round-11
        # rule 2)
        rows = (
            # a ragged (wrong-length, non-null) vector gets cluster=NULL
            # from the Arrow kernel; drop it here so the update
            # null-propagates like _assign instead of raising in the
            # driver loop (ADVICE r4)
            assigned.filter(F.col("cluster").isNotNull())
            .select("cluster", F.posexplode(F.col(vec_col)).alias("__d", "__x"))
            .groupBy("cluster", "__d")
            .agg(F.count(F.lit(1)).alias("n"), F.sum(scaled).alias("s"))
            .collect()
        )
        new = [list(c) for c in centroids]  # empty clusters keep position
        for r in rows:
            new[r["cluster"]][r["__d"]] = float(r["s"]) / float(r["n"]) / _SCALE
        centroids = new
    return _assign(df, vec_col, centroids), centroids
