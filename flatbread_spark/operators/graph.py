"""Graph operators for dedup post-processing.

Near-dup PAIRS (minhash/simhash/embedding output) are not directly actionable:
keeping "the lowest id of each pair" over-deletes when similarity chains
A~B~C. What a pipeline drops is one survivor per CONNECTED COMPONENT of the
pair graph — this module computes that assignment distributively.

Algorithm: iterative min-label propagation (the standard Pregel-style
connected components; cf. the large-star/small-star formulation of
Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14).
State per iteration is one (node, label) row per node — each round is one
shuffle (join on edges + min-aggregate), converging in O(graph diameter)
rounds. Near-dup graphs have tiny diameters (chains of a few documents), so
3-5 rounds close virtually any real corpus; ``max_iter`` bounds the worst
case and convergence is detected with a per-round changed-label count
(an action per round — inherent to iterative fixpoints).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
    driver_max_edges: int = 500_000,
) -> DataFrame:
    """Assign every node the minimum node id reachable through ``edges``.

    Returns (``id_col``, cluster_id). Nodes absent from every edge keep
    themselves as cluster_id (singleton clusters). Deterministic: the label
    is a min over a set, independent of partitioning or iteration order.

    Adaptive execution: near-dup pair graphs are tiny relative to the corpus
    (|edges| ~ duplicates found, NOT corpus size), so when the distinct edge
    count is within ``driver_max_edges`` the component labels are computed
    with a driver-side union-find over the EDGE LIST ONLY — the node frame
    itself never leaves the cluster. The collect is bounded by the cap, but
    honestly costed: pyspark Rows + the union-find dict are ~100-200 bytes
    per edge of Python heap, so the 500k default is ~50-100 MB; raise it
    only with driver memory to match. Above the cap it falls back to
    Pregel-style iterative min-label propagation, one shuffle per round,
    converging in O(component diameter) rounds. Convergence detection is
    type-aware: numeric ids use a monotone label-sum probe in decimal
    (labels only ever decrease, so the sum strictly decreases until
    fixpoint — one aggregate per round); non-numeric ids (strings, uuids)
    use a changed-label join probe, since a decimal cast would NULL out and
    fake an instant fixpoint."""
    und = (
        edges.select(F.col(src_col).alias("__u"), F.col(dst_col).alias("__v"))
        .distinct()
        .persist()
    )
    try:
        # One bounded action decides the path AND fetches the edges: collect
        # at most cap+1 rows (cap × 16 bytes driver memory); an extra row
        # means the graph is over the cap and the distributed path runs.
        # The probe runs under the session's own limit confs: overriding
        # CollectLimit's initial partition count so it scans every
        # partition in one job ran the same jobs in the same time on
        # dedup_clusters and semantic_dedup (18 and 7 jobs, sf0.01), and
        # it wrote a session-global conf under a process lock.
        probe = und.limit(driver_max_edges + 1).collect()
        if len(probe) <= driver_max_edges:
            parent: dict = {}

            def find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:
                    parent[x], x = root, parent[x]
                return root

            for u, v in probe:
                parent.setdefault(u, u)
                parent.setdefault(v, v)
                ru, rv = find(u), find(v)
                if ru != rv:  # min-id root so label == min member id
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru
            mapping = [(x, find(x)) for x in parent]
            if not mapping:
                return nodes.select(
                    F.col(id_col), F.col(id_col).alias("cluster_id")
                )
            spark = nodes.sparkSession
            id_field = nodes.select(F.col(id_col).alias("__n")).schema.fields[0]
            from pyspark.sql.types import StructField, StructType

            lbl_df = spark.createDataFrame(
                mapping,
                StructType([
                    StructField("__n", id_field.dataType),
                    StructField("__lbl", id_field.dataType),
                ]),
            )
            return (
                nodes.select(F.col(id_col).alias("__n"))
                .join(F.broadcast(lbl_df), "__n", "left")
                .select(
                    F.col("__n").alias(id_col),
                    F.coalesce("__lbl", F.col("__n")).alias("cluster_id"),
                )
            )

        from pyspark.sql.types import NumericType

        numeric_ids = isinstance(
            nodes.select(F.col(id_col)).schema.fields[0].dataType, NumericType
        )
        sym = und.union(und.select(F.col("__v"), F.col("__u"))).persist()
        labels = nodes.select(
            F.col(id_col).alias("__n"), F.col(id_col).alias("__lbl")
        ).persist()
        prev_sum = None
        converged = False
        try:
            for _ in range(max_iter):
                nbr = (
                    sym.join(labels, sym["__v"] == labels["__n"])
                    .select(F.col("__u").alias("__n"), "__lbl")
                )
                new_labels = (
                    labels.unionByName(nbr)
                    .groupBy("__n")
                    .agg(F.min("__lbl").alias("__lbl"))
                    .persist()
                )
                if numeric_ids:
                    # decimal accumulator: a bigint sum over billions of
                    # bigint labels could overflow silently, faking a fixpoint
                    cur_sum = new_labels.agg(
                        F.sum(F.col("__lbl").cast("decimal(38,0)"))
                    ).collect()[0][0]
                    converged = cur_sum == prev_sum
                    prev_sum = cur_sum
                else:
                    changed = (
                        new_labels.alias("new")
                        .join(labels.alias("old"), "__n")
                        .filter(F.col("new.__lbl") != F.col("old.__lbl"))
                        .limit(1)
                        .count()
                    )
                    converged = changed == 0
                labels.unpersist()
                labels = new_labels
                if converged:
                    break
            from flatbread_spark.cache import register

            register(labels, tag="graph")  # final label cache, reclaimable
            if not converged:
                # ADVICE r2: silently returning partial propagation is wrong
                # labels; the component diameter exceeded max_iter — fail loud
                raise RuntimeError(
                    f"connected_components did not converge in {max_iter} "
                    "iterations (component diameter exceeds max_iter); "
                    "increase max_iter"
                )
            # restrict output to the requested node set: `nbr` rows introduce
            # edge endpoints absent from `nodes` into the label table, and
            # the union-find path emits exactly one row per input node —
            # keep both paths' coverage identical (ADVICE r2)
            return (
                nodes.select(F.col(id_col).alias("__n"))
                .join(labels, "__n", "left")
                .select(
                    F.col("__n").alias(id_col),
                    F.coalesce("__lbl", F.col("__n")).alias("cluster_id"),
                )
            )
        finally:
            sym.unpersist()
    finally:
        und.unpersist()


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Cluster assignment + survivor flag from a near-dup pair list.

    Returns (``id_col``, cluster_id, is_survivor): the canonical "drop
    transitive duplicates, keep the lowest id per cluster" step downstream of
    any pair-producing dedup operator. One extra column, zero extra shuffles
    beyond :func:`connected_components` (survivor = id == cluster_id, since
    the cluster label IS the minimum member id).
    """
    cc = connected_components(
        df.select(id_col), pairs, id_col=id_col,
        src_col=src_col, dst_col=dst_col, max_iter=max_iter,
    )
    return cc.select(
        id_col, "cluster_id",
        (F.col(id_col) == F.col("cluster_id")).alias("is_survivor"),
    )


def pagerank_fixed(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    iters: int = 3,
    scale: int = 1_000_000_000_000,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-point PageRank over a directed edge list — crawl-frontier /
    source-importance scoring with CROSS-ENGINE EXACT integer arithmetic.

    Floating-point PageRank is order-dependent (summation) and
    libm-dependent; this variant keeps every rank as a BIGINT numerator
    over ``scale``, with all divisions explicit floor divisions — the
    result is bit-identical on any engine and any partitioning, at the
    cost of leaking a deterministic remainder per division (~1/scale,
    irrelevant at scale=1e12 and exactly mirrored by the SQL oracle).

    Per iteration: each node sends ``rank // outdeg`` along every
    out-edge and receives
    ``rank' = base + (damping_pct * inbound_sum) // 100`` where
    ``base = ((100 - damping_pct) * (scale // n_nodes)) // 100``.
    Nodes are edge endpoints (an isolated node has no business in an
    edge-derived ranking); dangling nodes contribute nothing (their mass
    decays — acceptable for ranking, documented).

    Scale: one keyed shuffle per iteration (join ranks to edges on src +
    re-aggregate on dst) over |edges| rows; rank state is one row per
    node. Each iteration is cut with a ``localCheckpoint`` — the
    iterative-lineage discipline (same as packing/kmeans), without which
    iteration k replans k full joins. The in-loop checkpoints are LAZY
    (round 11): ``localCheckpoint`` truncates the LOGICAL plan either
    way (the returned frame is LogicalRDD-backed), and dropping the
    per-iteration eager ``count`` saves one job per iteration (measured
    43 → 39 at 20 iterations — the multi-job contention amplifier,
    SCALE.md round-11). Three further structural cuts (round 11,
    optimization pass 2): ``n_nodes`` is collected ONCE on the driver
    (folding the node-checkpoint materialization into the count job) and
    ``base``/``init_rank`` become BIGINT literals — the old per-row
    ``__n`` column was a constant shipped through every iteration's
    join, checkpoint and shuffle (8 bytes/row of pure overhead, guide
    §2.3 "narrower types"), and its broadcast + crossJoin + eager init
    checkpoint each cost a job; the rank recurrence reads the PREVIOUS
    rank only through ``contrib``, so the static node list is the join
    spine every iteration; and the FINAL iteration skips its checkpoint
    (nothing iterates after it — the caller's action materializes the
    plan, whose depth is already cut by the previous iteration's
    checkpoint). The remaining per-iteration jobs are AQE
    materializing the join stages at checkpoint-creation time, KEPT
    deliberately: rank⋈edge joins on power-law graphs have hub-key skew,
    and AQE's runtime skew-join split is exactly the mitigation a
    1000-executor run needs — pagerank is the documented case where the
    stage-jobs buy real re-planning.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not 0 < damping_pct < 100:
        raise ValueError(f"damping_pct must be in (0, 100), got {damping_pct}")
    e = edges.select(
        F.col(src_col).cast("long").alias("s"),
        F.col(dst_col).cast("long").alias("d"),
    ).distinct()
    # materialize (edge, outdeg) ONCE: it feeds every iteration's join, and
    # without the cut each iteration replans the full upstream (the caller's
    # edge derivation — often a fact join — plus distinct + degree count).
    # outdeg is ONE window count over s (round 11 pass 2): the old
    # groupBy + self-join + repartition("s") spent three exchanges and two
    # extra jobs building the same column — the window's single shuffle by
    # s also leaves the checkpointed blocks s-clustered, which is all the
    # repartition ever bought (the per-iteration rank join BROADCASTS the
    # rank side — node-bounded — so ed is never reshuffled either way;
    # verified on the executed plans, A/B'd 8 → 6 jobs, rows byte-equal)
    win = Window.partitionBy("s")
    ed = (
        e.withColumn("outdeg", F.count(F.lit(1)).over(win))
        .localCheckpoint(eager=True)
    )
    # LAZY cut + count(): the count scans every partition, so it doubles as
    # the checkpoint materialization — one job, not two (the stats-collect
    # fold discipline from the two-phase rank machinery)
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select("node", F.lit(0).cast("long").alias("rank_fp"))
    # Python ints are arbitrary-precision and // on non-negatives matches
    # BIGINT div exactly, so these literals are byte-identical to the old
    # per-row `scale div __n` / `((100-d)*(scale div __n)) div 100` columns
    init_rank = scale // n_nodes
    base = ((100 - damping_pct) * init_rank) // 100
    ranks = nodes.select(
        "node", F.lit(init_rank).cast("long").alias("rank_fp")
    )
    for it in range(iters):
        contrib = (
            ed.join(ranks.select("node", "rank_fp"), ed["s"] == F.col("node"))
            .select("d", F.expr("rank_fp div outdeg").alias("c"))
            .groupBy("d")
            .agg(F.sum("c").alias("inbound"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["d"], "left")
            .select(
                "node",
                (
                    F.lit(base).cast("long")
                    + F.expr(
                        f"({damping_pct} * coalesce(inbound, 0L)) div 100"
                    )
                ).cast("long").alias("rank_fp"),
            )
        )
        if it < iters - 1:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", "rank_fp")


def triangle_count(
    edges: DataFrame,
    src: str,
    dst: str,
) -> DataFrame:
    """EXACT global triangle count of an undirected graph — the density
    probe for near-dup pair graphs (many triangles = tight clusters that
    will collapse under transitive dedup; few = chains, where one false
    edge merges unrelated docs) and the classic community-structure
    statistic.

    Degree-oriented formulation (the MapReduce-era standard): orient every
    edge from the lexicographically smaller ``(degree, node)`` endpoint to
    the larger. Every triangle then has EXACTLY ONE node with two outgoing
    edges, and — the scale property — every node's OUT-degree is
    O(sqrt(m)), so the wedge self-join that a naive id-ordering lets a
    celebrity hub blow up stays bounded no matter how skewed the degree
    distribution. Two hash equi-joins total: wedges on the apex, then
    wedge-closing edges. All counts BIGINT; self-loops dropped; parallel
    edges collapse via distinct.

    Returns ONE row: ``(n_nodes, n_edges, n_wedges, n_triangles,
    clustering_ppm)`` — ``n_wedges = Σ C(deg, 2)`` and the global
    clustering coefficient ``3·triangles·1e6 div wedges`` (how often two
    neighbors of the same node are themselves connected; 0 when the graph
    has no wedges).
    """
    e0 = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )
    from flatbread_spark.operators.dedup import _pin

    e0 = _pin(e0)
    deg = (
        e0.select(F.col("u").alias("n"))
        .unionByName(e0.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    withd = (
        e0.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    )
    # orient: a -> b iff (deg_a, a) < (deg_b, b)
    a_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = _pin(
        withd.select(
            F.when(a_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(a_first, F.col("du")).otherwise(F.col("dv")).alias("da"),
            F.when(a_first, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(a_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
        )
    )
    w1 = o.select(F.col("a"), F.col("b").alias("x"), F.col("db").alias("dx"))
    w2 = o.select(F.col("a"), F.col("b").alias("y"), F.col("db").alias("dy"))
    wedges = w1.join(w2, "a").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closing = o.select(F.col("a").alias("x"), F.col("b").alias("y"))
    tri = wedges.join(closing, ["x", "y"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
    counts = e0.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges")
    ).crossJoin(
        F.broadcast(
            deg.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
                F.sum(F.expr("d * (d - 1) div 2")).cast("bigint")
                .alias("n_wedges"),
            )
        )
    )
    dec = "decimal(38,0)"
    return counts.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(F.col("n_wedges") > 0, F.expr(
            f"CAST(3 AS {dec}) * CAST(n_triangles AS {dec}) * 1000000 "
            f"div CAST(n_wedges AS {dec})"
        ).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        .alias("clustering_ppm"),
    )


def degree_spectrum(
    edges: DataFrame,
    src: str,
    dst: str,
) -> DataFrame:
    """Degree distribution in power-of-2 buckets — the first diagnostic on
    any pair graph: a near-dup graph whose mass sits in high-degree
    buckets is template soup (hub documents matching everything — dedup
    will chain-collapse it); a healthy one is singleton/low-degree heavy.
    The graph sibling of ``vocabulary.doc_freq_spectrum``, same
    integer-bit-length bucketing (``length(bin(d)) - 1``), no libm.

    Self-loops dropped, parallel edges collapsed. One vocabulary-bounded
    aggregate over the degree table. Returns
    ``(bucket_lo, bucket_hi, n_nodes, n_edge_endpoints)`` where a node of
    degree d lands in ``bucket_lo = 2^floor(log2 d)``.
    """
    e0 = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )
    # both endpoints from ONE Generate over the edge frame — a unionByName
    # of two selects would replay the canonicalize+distinct (and, for
    # bipartite-projected inputs, the whole keyed self-join) twice
    deg = (
        e0.select(F.explode(F.array(F.col("u"), F.col("v"))).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    return (
        deg.withColumn(
            "bucket_lo",
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), "
                "CAST(length(bin(d)) - 1 AS INT))"
            ),
        )
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("d").cast("bigint").alias("n_edge_endpoints"),
        )
        .withColumn("bucket_hi", (F.col("bucket_lo") * 2).cast("bigint"))
        .select("bucket_lo", "bucket_hi", "n_nodes", "n_edge_endpoints")
    )


def bipartite_project(
    df: DataFrame,
    key_col: str,
    entity_col: str,
    min_shared: int = 1,
) -> DataFrame:
    """Project a bipartite (key, entity) relation onto entity-pair edges:
    two entities are connected iff they share at least ``min_shared``
    keys — suppliers sharing orders, documents sharing duplicated chunks,
    users sharing sessions. The standard graph-construction step feeding
    :func:`triangle_count` / :func:`degree_spectrum` /
    :func:`connected_components`.

    Scale shape: the self-join is keyed on ``key_col``, so candidate
    pairs are generated per key — cost is Σ C(entities-per-key, 2),
    bounded by the fan-out of the busiest key, NOT all-pairs of entities.
    A key shared by a huge entity set is the classic blow-up (a mega
    order, a boilerplate chunk in every doc): cap or drop such keys
    upstream (the ``chunk_overlap`` distinct-before-join discipline) when
    the fan-out distribution is heavy. Edges are canonical (a < b) with
    the shared-key count as weight.

    Returns ``(entity_a, entity_b, n_shared)``.
    """
    if min_shared < 1:
        raise ValueError("bipartite_project requires min_shared >= 1")
    base = df.select(
        F.col(key_col).alias("__k"), F.col(entity_col).alias("__e")
    ).distinct()
    a = base.select("__k", F.col("__e").alias("entity_a"))
    b = base.select("__k", F.col("__e").alias("entity_b"))
    out = (
        a.join(b, "__k")
        .filter(F.col("entity_a") < F.col("entity_b"))
        .groupBy("entity_a", "entity_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    if min_shared > 1:
        out = out.filter(F.col("n_shared") >= min_shared)
    return out
