"""Scalable global ordering (``__pos__``) assignment.

``FlatFrame.from_df`` assigns ``__pos__`` with ``row_number()`` over an
unpartitioned window — fine for presentation-shaped frames (the pivot-output
sizes the engine's margin operators work on), but a single-task serialization
point if a caller ever lifts a high-cardinality frame (VERDICT r1 watch item).

:func:`scalable_pos` is the scale path: the classic two-phase global rank.
:func:`two_phase_offset` is the shared scaffold (also backing
:func:`two_phase_decimal_cumsums` and ``packing.scalable_cumsum`` — the
running-SUM siblings):

1. ``repartitionByRange(order)`` — partitions hold contiguous key ranges.
2. a local per-partition running value (window PARTITIONED by
   ``spark_partition_id`` — no single-task stage), plus one per-partition
   statistic; partition offsets are a prefix sum over ``numPartitions``
   rows (bounded driver collect, one number per partition) broadcast back.

The partitioned frame is ``localCheckpoint``-ed between the stats pass
and the offset pass so both see identical partition contents: unlike
``persist`` (whose blocks can be evicted and then *recomputed* with a fresh
range-boundary sample, silently moving rows between partitions while the
collected offsets still describe the old layout — ADVICE r2), a checkpoint
truncates lineage, so a lost block fails the job loudly instead of returning
wrong positions. The checkpoint is LAZY since round 11: the stats collect
scans every partition and doubles as the materializing action (one action
instead of two — the multi-job contention amplifier, SCALE.md round-11),
with the same truncation guarantee once materialized. That action runs
under the session's AQE like any other. Output positions are exactly
1..n in ``order`` — identical to the unpartitioned ``row_number``
whenever ``order`` is a total order (the same determinism contract the
window path has).
"""
from __future__ import annotations

from typing import Callable, NamedTuple, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class RunningOutput(NamedTuple):
    """One output column of :func:`two_phase_offset`: its running value
    ``local(w)`` over the partition window ``w``, the per-partition total
    ``stat`` that offsets later partitions, the SQL type the offsets enter
    the plan as, and the output column's type."""

    name: str
    local: "Callable[..., Column]"
    stat: Column
    offset_type: str
    out_type: str


def two_phase_offset(
    df: DataFrame,
    order: Sequence[str | Column],
    outputs: Sequence[RunningOutput],
    num_partitions: int | None = None,
) -> "tuple[DataFrame, list]":
    """Shared two-phase scaffold: range-partition on ``order``, compute each
    output's ``local(window)`` per partition, collect every ``stat`` per
    partition in one pass, prefix-sum the stats into offsets, add them
    back. The checkpoint-between-passes discipline lives HERE, once — see
    the module docstring for why it must be a checkpoint and not a persist.

    Offsets accumulate as the values the collect returns (``int``, or an
    exact ``Decimal`` for decimal sums) and enter the plan cast from their
    exact text. Returns the frame and each output's grand total (for
    ``scalable_pos``: the exact row count) — the last accumulator value,
    ALREADY on the driver. Callers that need ``n`` (every nearest-rank
    percentile formula) must take it from here instead of running a
    separate ``.count()``/``agg`` action: each extra action is a whole
    Spark job (more under AQE), and per-job fixed overhead is exactly the
    contention-amplifier class (SCALE.md round 10) behind the round-10/11
    driver-bench outliers."""
    order = list(order)
    part = (
        df.repartitionByRange(num_partitions, *order)
        if num_partitions
        else df.repartitionByRange(*order)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("__pid__").orderBy(*order)
    local = part.withColumn("__pid__", F.spark_partition_id())
    for i, o in enumerate(outputs):
        local = local.withColumn(f"__lv{i}__", o.local(w))
    # lineage cut: the collected stats below are only valid for THIS
    # materialization of the range partitioning. LAZY checkpoint: the
    # stats collect right below computes every partition anyway, so it
    # doubles as the materializing action — one action instead of two,
    # same truncation guarantee (a later lost block still fails
    # loudly; there is no lineage left to silently recompute with a
    # fresh range-boundary sample)
    local = local.localCheckpoint(eager=False)
    # runs under the session's own AQE, like every other action: AQE
    # splits it into a map-stage job and a result job, and turning AQE
    # off for it measured slower, not faster (quantile_buckets, sf0.01,
    # local[4]: 0.56 s with AQE off vs 0.48 s with it on)
    stats = sorted(
        local.groupBy("__pid__")
        .agg(*[o.stat.alias(f"__s{i}__") for i, o in enumerate(outputs)])
        .collect()
    )
    totals = []
    for i, o in enumerate(outputs):
        entries: list[Column] = []
        acc = 0
        for row in stats:
            entries.append(F.lit(row[0]))
            entries.append(F.lit(str(acc)).cast(o.offset_type))
            acc += row[i + 1] or 0
        totals.append(acc)
        # EMPTY input ⇒ zero partitions reported ⇒ create_map() with no
        # entries types as map<void,void> and map()[__pid__] fails analysis
        # (caught by the round-7 event property sweep: conversion_lag with
        # no converting keys). A typed empty map keeps the plan valid; the
        # frame has no rows for the lookup to run against anyway.
        off_map = (
            F.create_map(*entries)
            if entries
            else F.lit(None).cast(f"map<int,{o.offset_type}>")
        )
        local = local.withColumn(
            o.name, (F.col(f"__lv{i}__") + off_map[F.col("__pid__")]).cast(o.out_type)
        )
    return local.drop("__pid__", *[f"__lv{i}__" for i in range(len(outputs))]), totals


def scalable_pos(
    df: DataFrame,
    order: Sequence[str | Column],
    out_col: str = "__pos__",
    num_partitions: int | None = None,
    with_total: bool = False,
) -> "DataFrame | tuple[DataFrame, int]":
    """Append a dense global 1..n position over ``order`` without an
    unpartitioned window. Returns ``df`` + ``out_col`` (double);
    ``with_total=True`` also returns the exact row count ``n`` (free — see
    :func:`two_phase_offset`)."""
    pos = RunningOutput(
        out_col,
        local=lambda w: F.row_number().over(w),
        stat=F.count(F.lit(1)),
        offset_type="bigint",
        out_type="double",
    )
    ranked, (n,) = two_phase_offset(df, order, [pos], num_partitions=num_partitions)
    return (ranked, n) if with_total else ranked


def two_phase_decimal_cumsums(
    df: DataFrame,
    order: Sequence[str | Column],
    value_cols: Sequence[str],
    out_suffix: str = "__cum__",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append the exact global running sum (inclusive) of each
    ``decimal(28,12)``-typed ``value_cols[i]`` over ``order`` as
    ``f"{col}{out_suffix}"`` — the scale path for apportioned rounding
    (reference ``percentages.py:390-419`` semantics without the
    unpartitioned window).

    One :func:`two_phase_offset` call: all N columns share ONE range
    repartition and ONE stats collect. Per-partition offsets accumulate
    driver-side in Python ``Decimal`` and re-enter the plan as
    ``decimal(27,12)`` literals, so the final add is (27,12)+(27,12) →
    (28,12): inside Spark's 38-digit budget, hence NO allowPrecisionLoss
    rescale (the Hypothesis-found trap documented in
    ``percentages._apportioned_round``). The (27,12) cast bounds partition-
    local cumsums to 15 integer digits — percentages are ≤ 100·base per
    row, so this holds to ~1e13 rows at base=100.
    """
    from pyspark.sql import Window

    def running_sum(c):
        return lambda w: F.sum(F.col(c)).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("decimal(27,12)")

    outputs = [
        RunningOutput(
            f"{c}{out_suffix}",
            local=running_sum(c),
            stat=F.sum(F.col(c)),
            offset_type="decimal(27,12)",
            out_type="decimal(28,12)",
        )
        for c in value_cols
    ]
    return two_phase_offset(df, order, outputs, num_partitions=num_partitions)[0]


def exact_percentiles(
    df: DataFrame,
    value_col: "str | Column",
    key_col: str,
    q_ppm: Sequence[int],
    num_partitions: int | None = None,
) -> DataFrame:
    """EXACT nearest-rank percentiles of ``value_col`` — the calibration
    companion to :func:`quantile_bucketize` (that op labels every row; this
    one returns just the k threshold VALUES, e.g. "what are p50/p95/p99
    document lengths" for length-filter tuning or SLA reporting).

    Quantiles are integer parts-per-million (``500_000`` = median) so the
    target position ``ceil(q·n / 1e6)`` is all-BIGINT: byte-identical
    across engines and partitionings, no libm. Nearest-rank (SQL's
    ``PERCENTILE_DISC``) rather than interpolated: the answer is always a
    value that EXISTS in the data. Positions come from the two-phase
    range-partitioned rank — no unpartitioned window — and only the k
    matched rows survive the position filter, so nothing data-sized ever
    reaches the driver (``n`` is the rank's own partition-stat total — no
    extra action).

    ``approxQuantile`` is the ±ε one-pass alternative; this is the exact
    path. Returns one row per requested quantile:
    ``(q_ppm BIGINT, pos BIGINT, n BIGINT, <value_col>)``.
    """
    qs = sorted({int(q) for q in q_ppm})
    if not qs or qs[0] < 1 or qs[-1] > 1_000_000:
        raise ValueError(f"q_ppm must be within [1, 1_000_000], got {q_ppm}")
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    vname = value_col if isinstance(value_col, str) else "value"
    ranked, n = scalable_pos(
        df, [value, F.col(key_col)], out_col="__xpos",
        num_partitions=num_partitions, with_total=True,
    )
    ranked = ranked.withColumn("__xpos", F.col("__xpos").cast("bigint"))
    spark = df.sparkSession
    targets = [
        (q, max(1, (q * n + 999_999) // 1_000_000)) for q in qs
    ]
    tdf = spark.createDataFrame(targets, "q_ppm bigint, __xpos bigint")
    return (
        ranked.filter(
            F.col("__xpos").isin([p for _, p in targets])
        )
        .join(F.broadcast(tdf), "__xpos")
        .select(
            "q_ppm",
            F.col("__xpos").alias("pos"),
            F.lit(n).cast("bigint").alias("n"),
            F.col(vname) if isinstance(value_col, str) else value.alias(vname),
        )
    )


def group_percentiles(
    df: DataFrame,
    group_cols: "Sequence[str] | str",
    value_col: str,
    key_col: str,
    q_ppm: Sequence[int],
) -> DataFrame:
    """PER-GROUP exact nearest-rank percentiles — "p50/p95/p99 document
    length per language" — the stratified sibling of
    :func:`exact_percentiles`. Same integer contract (quantiles as ppm,
    target position ``ceil(q·n_g/1e6)`` all-BIGINT, nearest-rank so every
    answer exists in the data) but the group size is a window aggregate,
    so there is NO driver action at all: one per-group window pass
    (bounded by the largest group, like any per-stratum statistic), then
    a row-local match of each row's rank against every requested target.

    A row matching several quantiles (small groups) emits one output row
    per matched ``q_ppm``. Returns
    ``(<group_cols...>, q_ppm, pos, n, <value_col>)``.
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    qs = sorted({int(q) for q in q_ppm})
    if not qs or qs[0] < 1 or qs[-1] > 1_000_000:
        raise ValueError(f"q_ppm must be within [1, 1_000_000], got {q_ppm}")
    from pyspark.sql import Window

    wg = Window.partitionBy(*groups)
    r = F.row_number().over(wg.orderBy(F.col(value_col), F.col(key_col)))
    ng = F.count(F.lit(1)).over(wg).cast("bigint")
    staged = df.withColumn("pos", r.cast("bigint")).withColumn("n", ng)
    # pos == ceil(q·n/1e6)  ⟺  (pos-1)·1e6 < q·n ≤ pos·1e6 — pure BIGINT
    # products and comparisons, so the match is expressible inside the
    # array lambda without any division at all (q ≥ 1, n ≥ 1 make the
    # ceil ≥ 1 automatically — no clamp needed)
    m = F.lit(1_000_000).cast("bigint")
    staged = staged.withColumn(
        "__qs",
        F.filter(
            F.array(*[F.lit(q).cast("bigint") for q in qs]),
            lambda q: ((F.col("pos") - 1) * m < q * F.col("n"))
            & (q * F.col("n") <= F.col("pos") * m),
        ),
    )
    # no size(__qs) > 0 pre-filter: a non-outer explode already drops
    # empty arrays, and the pushed-down filter would re-evaluate the
    # quantile-match HOF per row
    return staged.select(
        *groups,
        F.explode("__qs").alias("q_ppm"),
        "pos",
        "n",
        value_col,
    )


def approx_percentile_check(
    df: DataFrame,
    group_cols: "Sequence[str] | str",
    value_col: str,
    key_col: str,
    q_ppm: Sequence[int],
    accuracy: int = 1000,
    slack: int = 2,
) -> DataFrame:
    """Contract-grade ``percentile_approx`` (Spark's one-pass GK-family
    quantile sketch — the 100 TB path where :func:`exact_percentiles`'
    full rank pass is unaffordable) against the exact nearest-rank answer:
    per (group, q), the RANK INTERVAL occupied by the approximate value
    must intersect the target rank ± ``slack·⌈n/accuracy⌉`` — ``slack``×
    the sketch's documented worst-case rank error ``n/accuracy``.

    Graded like ``sketch_merge_check``: the approximate VALUE is
    deliberately not emitted — like HLL, the sketch partial-aggregates
    per partition, so the value can depend on the physical merge-tree
    shape; the error-bound boolean is the documented contract and is what
    survives any partition layout. Tie handling is exact: a value tied
    across ranks [count_lt+1, count_le] passes iff that whole interval
    intersects the tolerance band, so heavy ties neither mask nor fake a
    violation. All comparisons are BIGINT products (no division, no libm).

    Scale shape: one groupBy sketch pass (map-side partial aggregation,
    O(groups × sketch) shuffle), one broadcast probe join for the rank
    counts (the (group, q, est) frame is groups×k rows by construction),
    plus the exact side's per-group window — the exact pass is the
    GRADING scaffold only, priced like any per-stratum statistic.

    Returns ``(<group_cols...>, q_ppm, n, <value_col> (exact nearest-rank
    value), rank_within_bound)`` — exact values replay in ANSI SQL, the
    boolean is asserted TRUE by the oracle. Rows with NULL *values* are
    dropped (they carry no rank on any side); strata with NULL *group
    keys* are graded like any other (null-safe joins throughout).
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    qs = sorted({int(q) for q in q_ppm})
    # NULL values carry no rank on ANY side of this contract:
    # percentile_approx skips them, but group_percentiles' window would
    # rank them FIRST and count them into n/pos, and the probe sums
    # (__v <= est) would silently drop them — three different NULL
    # semantics that would false-fail a conforming sketch (and could emit
    # a NULL row as the "exact" low quantile). Dropping them up front
    # gives every side the same population.
    df = df.filter(F.col(value_col).isNotNull())
    exact = group_percentiles(df, groups, value_col, key_col, qs)
    probs = F.array(*[F.lit(q / 1_000_000.0) for q in qs])
    est = (
        df.groupBy(*groups)
        .agg(
            F.percentile_approx(F.col(value_col), probs, F.lit(int(accuracy)))
            .alias("__est")
        )
        .select(
            *groups,
            F.posexplode("__est").alias("__qi", "__est_v"),
        )
        .withColumn(
            "q_ppm",
            F.element_at(
                F.array(*[F.lit(q).cast("bigint") for q in qs]),
                F.col("__qi") + 1,
            ),
        )
        .drop("__qi")
    )
    # NULL-SAFE stratum joins: a NULL group key (unclassified lang, absent
    # source) is a real stratum — groupBy and the exact side's window both
    # compute it, so plain EqualTo joins here would silently drop its
    # contract rows and a bound violation in that stratum would pass
    # ungraded. eqNullSafe keeps every stratum on the hook.
    gsafe = [f"__g{i}" for i in range(len(groups))]
    est = est.select(
        *[F.col(g).alias(a) for g, a in zip(groups, gsafe)], "q_ppm", "__est_v"
    )
    probe = df.select(*groups, F.col(value_col).alias("__v"))
    cond = F.lit(True)
    for g, a in zip(groups, gsafe):
        cond = cond & F.col(g).eqNullSafe(F.col(a))
    ranks = (
        probe.join(F.broadcast(est), cond)
        .groupBy(*groups, "q_ppm")
        .agg(
            F.sum((F.col("__v") <= F.col("__est_v")).cast("bigint"))
            .alias("__count_le"),
            F.sum((F.col("__v") < F.col("__est_v")).cast("bigint"))
            .alias("__count_lt"),
        )
    )
    rsafe = ranks.select(
        *[F.col(g).alias(a) for g, a in zip(groups, gsafe)],
        F.col("q_ppm").alias("__rq"),
        "__count_le",
        "__count_lt",
    )
    jcond = F.col("q_ppm") == F.col("__rq")
    for g, a in zip(groups, gsafe):
        jcond = jcond & F.col(g).eqNullSafe(F.col(a))
    joined = exact.join(rsafe, jcond)
    # tol = slack · ⌈n/accuracy⌉ — integral DIV keeps the whole predicate
    # in BIGINT arithmetic (the docstring's no-division contract means no
    # FLOATING division anywhere in the graded path)
    acc = F.lit(int(accuracy)).cast("bigint")
    tol = F.lit(int(slack)).cast("bigint") * F.expr(
        f"(n + {int(accuracy)} - 1) DIV {int(accuracy)}"
    ).cast("bigint")
    within = (F.col("__count_lt") + 1 <= F.col("pos") + tol) & (
        F.col("__count_le") >= F.col("pos") - tol
    )
    return joined.select(
        *groups,
        "q_ppm",
        "n",
        value_col,
        within.alias("rank_within_bound"),
    ).orderBy(*groups, "q_ppm")


def winsorize(
    df: DataFrame,
    value_col: str,
    key_col: str,
    lo_ppm: int = 10_000,
    hi_ppm: int = 990_000,
    out_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Clamp a column to its EXACT [lo, hi] nearest-rank percentiles —
    robust-statistics winsorization for heavy-tailed corpus metrics
    (document lengths, token counts, quality scores) before means/
    variances are computed or before a scorer is trained on them.

    Bounds come from :func:`exact_percentiles` (integer ppm, nearest-rank
    — both bounds are values that EXIST in the data, byte-identical
    across engines); the clamp itself is ``greatest(lo, least(hi, v))``
    against a broadcast 1-row bounds frame — one row-local expression
    over the corpus, no shuffle beyond the percentile ranking. Appends
    ``out_col`` (default ``<value_col>_wins``), original column kept.
    """
    if not (1 <= int(lo_ppm) <= int(hi_ppm) <= 1_000_000):
        raise ValueError(
            f"need 1 <= lo_ppm <= hi_ppm <= 1e6, got {lo_ppm}, {hi_ppm}"
        )
    out_col = out_col or f"{value_col}_wins"
    pts = exact_percentiles(
        df, value_col, key_col, [int(lo_ppm), int(hi_ppm)],
        num_partitions=num_partitions,
    )
    bounds = pts.agg(
        F.min(
            F.when(F.col("q_ppm") == int(lo_ppm), F.col(value_col))
        ).alias("__wlo"),
        F.max(
            F.when(F.col("q_ppm") == int(hi_ppm), F.col(value_col))
        ).alias("__whi"),
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(
            out_col,
            F.greatest(
                F.col("__wlo"), F.least(F.col("__whi"), F.col(value_col))
            ),
        )
        .drop("__wlo", "__whi")
    )


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    score_col: str,
    key_col: str,
    out_col: str = "norm_score",
    num_partitions: int | None = None,
) -> DataFrame:
    """Cross-group quantile normalization of a score column: replace each
    row's score with the GLOBAL score value at the row's within-group
    percentile. This is how per-source quality scores become comparable —
    a classifier that systematically over-scores one source stops
    distorting the corpus-wide ranking, because only each row's RANK
    within its own source survives.

    All-integer plumbing (byte-identical across engines/partitionings):
    within-group midpoint percentile ``ppm = (2r−1)·1e6 div 2n_g``; the
    global reference value is the nearest-rank global quantile at that
    ppm, ``gpos = max(1, ceil(ppm·N/1e6))`` over the (score, key) total
    order — the same formula family as :func:`exact_percentiles`.

    Scale shape: the within-group rank is one per-group window (bounded
    by the largest group, as any per-stratum statistic); the global rank
    rides the two-phase range-partitioned rank; the final equi-join on
    the target position shuffles (position, score) pairs against the
    caller's PROJECTION — pass only the columns you need normalized
    alongside, not document payloads. Appends ``ppm`` (BIGINT) and
    ``out_col`` (the global score value at that quantile).
    """
    # the div chain is spelled in SQL so everything stays BIGINT end-to-end
    staged = df.withColumn(
        "ppm",
        F.expr(
            f"(2 * CAST(row_number() OVER (PARTITION BY {group_col} "
            f"ORDER BY {score_col}, {key_col}) AS BIGINT) - 1) * 1000000 "
            f"div (2 * CAST(count(1) OVER (PARTITION BY {group_col}) AS BIGINT))"
        ).cast("bigint"),
    )
    ranked, n = scalable_pos(
        df.select(F.col(score_col), F.col(key_col)),
        [F.col(score_col), F.col(key_col)],
        out_col="__gpos",
        num_partitions=num_partitions,
        with_total=True,
    )
    ranked = ranked.select(
        F.col("__gpos").cast("bigint").alias("__gpos"),
        F.col(score_col).alias(out_col),
    )
    target = F.greatest(
        F.lit(1).cast("bigint"),
        F.expr(f"(ppm * CAST({n} AS BIGINT) + 999999) div 1000000"),
    )
    return staged.withColumn("__tpos", target).join(
        ranked, F.col("__tpos") == F.col("__gpos")
    ).drop("__tpos", "__gpos")


def curriculum_order(
    df: DataFrame,
    key_col: str,
    tier_of: Column,
    salt: str = "",
    out_tier: str = "tier",
    out_pos: str = "train_pos",
    num_partitions: int | None = None,
) -> DataFrame:
    """Curriculum training order: documents grouped into quality TIERS
    (tier 0 trains first), deterministically shuffled WITHIN each tier —
    the "clean data first, tail last" corpus layout curriculum-training
    recipes ask for, produced as one global position column.

    ``tier_of`` is any integer Column (0 = first); thresholds over a
    quality score are the typical shape::

        tier_of = (F.when(F.col("q") >= 0.9, 0)
                    .when(F.col("q") >= 0.5, 1).otherwise(2))

    The within-tier shuffle is ``md5(key || salt)`` — reproducible across
    runs, engines and partitionings, re-rollable via ``salt`` (the same
    discipline as ``corpus_shuffle``). Positions are exactly 1..n dense
    over (tier, shuffle-hash, key) via the two-phase range-partitioned
    rank — no single-task window at any corpus size.

    Returns ``df`` + ``out_tier`` (int) + ``out_pos`` (bigint).
    """
    shuf = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    with_tier = df.withColumn(out_tier, tier_of.cast("int")).withColumn(
        "__shuf", shuf
    )
    ranked = scalable_pos(
        with_tier,
        [F.col(out_tier), F.col("__shuf"), F.col(key_col)],
        out_col="__cpos",
        num_partitions=num_partitions,
    )
    return ranked.withColumn(out_pos, F.col("__cpos").cast("bigint")).drop(
        "__cpos", "__shuf"
    )


def quantile_bucketize(
    df: DataFrame,
    order_col: "str | Column",
    key_col: str,
    k: int,
    out_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """EXACT equi-depth bucketing: assign every row its global k-quantile
    bucket (1..k) over ``order_col`` — "split the corpus into length
    deciles" when the thresholds are NOT known up front (the complement of
    :func:`curriculum_order`'s explicit-threshold tiers).

    ``bucket = (pos - 1) * k div n + 1`` over the dense global position —
    bucket sizes differ by at most one row, boundaries are data-derived,
    and the assignment is deterministic under any partitioning via the
    (order, key) total order. BIGINT arithmetic throughout (exact past
    2^53 rows). This is NOT Spark's ``ntile`` remainder layout (ntile
    front-loads the remainder; this formula spreads it) — but unlike
    ``ntile`` it needs no unpartitioned window: positions come from the
    two-phase range-partitioned rank, and ``n`` rides along free as the
    rank's own partition-stat total (no extra action).

    approxQuantile-based binning is the cheap alternative when ±ε bucket
    sizes are fine; this operator is the exact path (rebuild-safe corpus
    tiers, fairness splits, calibration bins).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    order = F.col(order_col) if isinstance(order_col, str) else order_col
    ranked, n = scalable_pos(
        df,
        [order, F.col(key_col)],
        out_col="__qpos",
        num_partitions=num_partitions,
        with_total=True,
    )
    # n arrives free with the rank's partition stats — the previous
    # agg+broadcast+crossJoin spent two extra Spark jobs re-counting the
    # checkpointed frame (the round-11 quantile_buckets outlier's biggest
    # single line item)
    if n == 0:
        return ranked.withColumn(out_col, F.lit(None).cast("bigint")).drop(
            "__qpos"
        )
    return ranked.withColumn(
        out_col,
        F.expr(
            f"(CAST(__qpos AS BIGINT) - 1) * {int(k)} div CAST({int(n)} AS BIGINT)"
        ).cast("bigint")
        + F.lit(1).cast("bigint"),
    ).drop("__qpos")


def weighted_percentiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    key_col: str,
    q_ppm: Sequence[int],
    num_partitions: int | None = None,
) -> DataFrame:
    """EXACT WEIGHTED nearest-rank percentiles: the smallest ``value`` whose
    cumulative weight reaches ``q`` of the total — "the p50 document length
    BY TOKEN MASS", which a training-data budget actually cares about (a
    handful of mega-documents carry most tokens, so the unweighted median
    from :func:`exact_percentiles` describes the typical DOCUMENT while
    this describes the typical TOKEN's document).

    Same integer contract as the unweighted sibling: quantiles are ppm,
    the match predicate is ``cum_prev·1e6 < q·W ≤ cum·1e6`` — products
    ride DECIMAL(38,0) because ``q·W`` overflows BIGINT once total weight
    passes ~9e12 (a few trillion tokens — a real corpus), and the
    cumulative weight comes from the two-phase range-partitioned running
    sum (``packing.scalable_cumsum``), so no unpartitioned window at any
    size. Rows with non-positive weight are dropped (they cannot carry
    quantile mass and would create zero-width matches).

    Returns one row per requested quantile:
    ``(q_ppm, n, total_w, <value_col>)``.
    """
    qs = sorted({int(q) for q in q_ppm})
    if not qs or qs[0] < 1 or qs[-1] > 1_000_000:
        raise ValueError(f"q_ppm must be within [1, 1_000_000], got {q_ppm}")
    from flatbread_spark.operators.packing import scalable_cumsum

    staged = df.select(
        F.col(value_col),
        F.col(weight_col).cast("bigint").alias("__w"),
        F.col(key_col),
    ).filter(F.col("__w") > 0)
    ranked = scalable_cumsum(
        staged, [F.col(value_col), F.col(key_col)], "__w",
        out_col="__cw", num_partitions=num_partitions,
    )
    # 2-number action against the checkpointed ranking (the
    # exact_percentiles discipline); q·W computed in exact Python ints
    # and shipped back as DECIMAL(38,0) literals
    from decimal import Decimal

    trow = ranked.agg(
        F.sum("__w").cast("bigint").alias("W"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    ).collect()[0]
    total_w, n = int(trow["W"] or 0), int(trow["n"])
    spark = df.sparkSession
    qdf = spark.createDataFrame(
        [(q, Decimal(q * total_w)) for q in qs],
        "q_ppm bigint, __target decimal(38,0)",
    )
    dec = "decimal(38,0)"
    cum = F.expr(f"CAST(__cw AS {dec}) * 1000000")
    prev = F.expr(f"CAST(__cw - __w AS {dec}) * 1000000")
    return (
        ranked.join(
            F.broadcast(qdf),
            (prev < F.col("__target")) & (F.col("__target") <= cum),
        )
        .select(
            "q_ppm",
            F.lit(n).cast("bigint").alias("n"),
            F.lit(total_w).cast("bigint").alias("total_w"),
            F.col(value_col),
        )
    )


def group_weighted_percentiles(
    df: DataFrame,
    group_cols: "Sequence[str] | str",
    value_col: str,
    weight_col: str,
    key_col: str,
    q_ppm: Sequence[int],
) -> DataFrame:
    """PER-GROUP exact weighted nearest-rank percentiles — "the p50
    document length by TOKEN MASS, per language": the stratified sibling
    of :func:`weighted_percentiles`, with the same integer contract
    (smallest value whose cumulative weight reaches q of the group
    total; match predicate ``cum_prev·1e6 < q·W_g ≤ cum·1e6`` on
    DECIMAL(38,0)) but group totals from a window — NO driver action at
    all, mirroring :func:`group_percentiles` vs :func:`exact_percentiles`.

    One per-group window pass (running weight + group total — bounded by
    the largest group like any per-stratum statistic), then a row-local
    match of each row's weight interval against every requested target.
    Rows with non-positive weight are dropped. A row spanning several
    quantile targets (huge single doc) emits one output row per matched
    ``q_ppm``. Returns ``(<group_cols...>, q_ppm, n, total_w,
    <value_col>)``.
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    qs = sorted({int(q) for q in q_ppm})
    if not qs or qs[0] < 1 or qs[-1] > 1_000_000:
        raise ValueError(f"q_ppm must be within [1, 1_000_000], got {q_ppm}")
    from pyspark.sql import Window

    from flatbread_spark.plans.barrier import gate_rows

    # gate_rows, not .filter: weight_col is often a computed expression
    # (e.g. a tokenizer size) and a pushed-down predicate would
    # re-evaluate it per row below this projection
    staged = gate_rows(
        df.select(
            *groups,
            F.col(value_col),
            F.col(weight_col).cast("bigint").alias("__w"),
            F.col(key_col),
        ),
        F.col("__w") > 0,
    )
    wg = Window.partitionBy(*groups)
    cum = (
        F.sum("__w")
        .over(
            wg.orderBy(F.col(value_col), F.col(key_col)).rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .cast("bigint")
    )
    n = F.count(F.lit(1)).over(wg).cast("bigint")
    total = F.sum("__w").over(wg).cast("bigint")
    staged = (
        staged.withColumn("__cw", cum)
        .withColumn("n", n)
        .withColumn("total_w", total)
    )
    dec = "decimal(38,0)"
    m = F.lit(1_000_000).cast(dec)
    qarr = F.array(*[F.lit(q).cast("bigint") for q in qs])
    prev = F.expr(f"CAST(__cw - __w AS {dec})")
    cw = F.expr(f"CAST(__cw AS {dec})")
    tw = F.expr(f"CAST(total_w AS {dec})")
    staged = staged.withColumn(
        "__qs",
        F.filter(
            qarr,
            lambda q: (prev * m < q.cast(dec) * tw)
            & (q.cast(dec) * tw <= cw * m),
        ),
    )
    # no size(__qs) > 0 pre-filter: a non-outer explode already drops
    # empty arrays, and the pushed-down filter would re-evaluate the
    # quantile-match HOF per row
    return staged.select(
        *groups,
        F.explode("__qs").alias("q_ppm"),
        "n",
        "total_w",
        value_col,
    )
