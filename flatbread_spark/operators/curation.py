"""Corpus-curation funnel: sequential filter stages with per-stage attrition.

Every pre-training corpus goes through an ordered gauntlet — language filter,
length/quality gates, dedup — and the first question anyone asks of the
pipeline is "how many documents did each stage remove?". Answering it naively
(materialize each stage, count, repeat) scans the corpus once per stage; at
100 TB that is N full passes. :func:`curation_funnel` computes the whole
funnel in ONE pass: each row is annotated with the index of the FIRST stage
that drops it (a ``when``-chain — pure expression), the dedup stage is a
single hash-partitioned window (``min(key) over (partition by fingerprint)``
among rows surviving the earlier stages), and the report is a groupBy over
the drop index — so the corpus is read once regardless of stage count.

The per-stage in/out arithmetic runs on the aggregated counts (one row per
stage — bounded by the stage list, never by the data), where an
unpartitioned window is harmless.
"""
from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def curation_funnel(
    df: DataFrame,
    key_col: str,
    pre_stages: Sequence[tuple[str, Column]],
    dedup_on: Column | None = None,
    dedup_name: str = "dedup",
    post_stages: Sequence[tuple[str, Column]] = (),
) -> DataFrame:
    """Run the ordered funnel and return one row per stage:
    ``stage_idx, stage, n_in, n_removed, n_out, pct_removed``.

    - ``pre_stages``: ordered ``(name, keep-predicate)`` pairs evaluated
      before dedup; a document is charged to the FIRST stage it fails.
    - ``dedup_on``: content fingerprint column; among documents surviving
      all pre-stages, every fingerprint keeps its smallest ``key_col`` and
      drops the rest (deterministic under any partitioning).
    - ``post_stages``: ``(name, keep-predicate)`` pairs applied to dedup
      survivors.
    """
    pre = list(pre_stages)
    post = list(post_stages)
    names = [n for n, _ in pre]
    if dedup_on is not None:
        names.append(dedup_name)
    names += [n for n, _ in post]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate stage names: {names}")

    # first failing pre-stage, evaluated as one expression chain; a NULL
    # predicate (e.g. length of a NULL text) counts as a FAILURE — that is
    # what df.filter(pred) does, and the report must describe the same
    # pipeline the filters would build
    drop = F.lit(None).cast("int")
    for i in reversed(range(len(pre))):
        drop = F.when(~F.coalesce(pre[i][1], F.lit(False)), F.lit(i)).otherwise(drop)
    staged = df.withColumn("__pre_drop", drop)

    n_pre = len(pre)
    if dedup_on is not None:
        from pyspark.sql import Window

        keep = F.min(
            F.when(F.col("__pre_drop").isNull(), F.col(key_col))
        ).over(Window.partitionBy(dedup_on))
        staged = staged.withColumn(
            "__drop",
            F.when(F.col("__pre_drop").isNotNull(), F.col("__pre_drop")).when(
                F.col(key_col) != keep, F.lit(n_pre)
            ),
        )
        post_base = n_pre + 1
    else:
        staged = staged.withColumn("__drop", F.col("__pre_drop"))
        post_base = n_pre
    for j, (_, pred) in enumerate(post):
        staged = staged.withColumn(
            "__drop",
            F.when(F.col("__drop").isNotNull(), F.col("__drop")).when(
                ~F.coalesce(pred, F.lit(False)), F.lit(post_base + j)
            ),
        )

    # eager lineage cut: counts is ≤ len(names)+1 rows, and both the total
    # aggregate and the report join read it — without the checkpoint each
    # branch re-derives it from the raw corpus (TWO full scans at 100 TB)
    counts = (
        staged.groupBy("__drop")
        .agg(F.count(F.lit(1)).alias("__n"))
        .localCheckpoint(eager=True)
    )
    total = counts.agg(F.sum("__n").alias("__total"))
    dim = df.sparkSession.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "stage_idx int, stage string"
    )
    from pyspark.sql import Window

    # report-side window: one row per STAGE, not per document — bounded
    w = Window.orderBy("stage_idx").rowsBetween(Window.unboundedPreceding, -1)
    report = (
        dim.join(counts, dim["stage_idx"] == counts["__drop"], "left")
        .crossJoin(F.broadcast(total))
        .select(
            "stage_idx",
            "stage",
            F.coalesce("__n", F.lit(0)).cast("bigint").alias("n_removed"),
            F.col("__total"),
        )
        .withColumn(
            "n_in",
            (
                F.col("__total")
                - F.coalesce(F.sum("n_removed").over(w), F.lit(0))
            ).cast("bigint"),
        )
        .withColumn("n_out", (F.col("n_in") - F.col("n_removed")).cast("bigint"))
        .withColumn(
            "pct_removed",
            F.when(
                F.col("n_in") > 0,
                F.round(
                    F.col("n_removed").cast("double")
                    / F.col("n_in").cast("double"),
                    6,
                ),
            ).otherwise(F.lit(0.0)),
        )
        .select("stage_idx", "stage", "n_in", "n_removed", "n_out", "pct_removed")
    )
    return report


def robust_outlier_gate(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Per-group robust outlier flag: median / MAD (median absolute
    deviation), the scale- and contamination-resistant alternative to
    mean/stddev gating — a handful of 100 MB pathological documents moves
    a mean-based gate but not this one. Flags rows with
    ``|value - median_g| > k * MAD_g`` (k=3 ≈ 4.5σ under normality).

    Output: input columns + ``med`` + ``mad`` + ``is_outlier``. Groups
    with MAD = 0 (over half the group shares one value) flag any
    deviation from the median — the conventional degenerate-MAD reading.

    Scale: two aggregations bounded by GROUP cardinality (exact medians
    via Spark's ``median`` — the aggregation state is the sorted group
    sample, fine for the per-language/per-source groupings this is for;
    use approx quantiles for million-group keyspaces), joined back
    broadcast. Side effect: the group-cardinality median table is
    persisted (``cache.pin`` tag ``curation``) because two consumers read
    it — unpinned, the stats join replayed the median's corpus aggregate
    as a fourth scan; release with
    ``flatbread_spark.release_caches("curation")`` once the result is
    materialized. Exact medians of integer values land on .5 granularity, so
    the flag — and the emitted med/mad — are value-hash reproducible
    across engines (no libm anywhere).
    """
    from flatbread_spark.cache import pin

    # group-cardinality-sized and consumed twice (the MAD pass and the
    # final stats join) — unpinned, the second consumer replays the
    # median's full corpus aggregate
    med = pin(
        df.groupBy(group_col).agg(F.median(value_col).alias("med")),
        tag="curation",
    )
    dev = (
        df.join(F.broadcast(med), group_col)
        .groupBy(group_col)
        .agg(
            F.median(F.abs(F.col(value_col) - F.col("med"))).alias("mad")
        )
    )
    stats = med.join(F.broadcast(dev), group_col)
    return df.join(F.broadcast(stats), group_col).withColumn(
        "is_outlier",
        F.abs(F.col(value_col) - F.col("med")) > F.lit(float(k)) * F.col("mad"),
    )


def label_vote(
    df: DataFrame,
    item_col: str,
    label_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """Majority-vote label reconciliation: collapse repeated annotations of
    the same item (multiple raters, repeated model scorings, overlapping
    crawl snapshots) to one winner per item plus the agreement evidence a
    curation gate filters on ("keep items with ≥ 80% rater agreement").

    Winner = label with the highest vote count (or ``weight_col`` sum),
    ties to the lexicographically SMALLEST label — deterministic under any
    partitioning. NULL labels are abstentions: excluded from both the
    winner choice and the agreement denominator.

    Returns one row per item:

    - ``{item_col}``, ``label`` (the winner)
    - ``n_votes``          total non-null votes on the item
    - ``n_winner``         votes for the winner
    - ``agreement_ppm``    floor(n_winner · 1e6 / n_votes) — BIGINT, exact
    - ``n_labels``         distinct labels voted for the item

    Unweighted votes count as exact BIGINTs. A ``weight_col`` (rater or
    model confidence, often fractional like 0.7) accumulates as
    DECIMAL(38,6) — the repo's exact-sum discipline — so fractional
    weights are neither truncated nor float-drifted; ``n_votes`` /
    ``n_winner`` are then DECIMAL(38,6) instead of BIGINT.

    Scale: one (item, label) groupBy — map-side combining, so a
    million-vote item reduces before the exchange — then a per-item window
    and a per-item aggregate, all partitioned on the SAME item hash (AQE
    reuses the exchange). State per item is its distinct-label set, never
    its vote list.
    """
    # weighted: DECIMAL(38,6) exact sums (0.7 must not truncate to 0);
    # unweighted: plain BIGINT counting
    count_type = "decimal(38,6)" if weight_col is not None else "bigint"
    w = (
        F.col(weight_col).cast(count_type)
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    votes = (
        df.filter(F.col(label_col).isNotNull())
        .groupBy(item_col, label_col)
        .agg(F.sum(w).alias("__n"))
    )
    from pyspark.sql import Window

    rk = Window.partitionBy(item_col).orderBy(
        F.col("__n").desc(), F.col(label_col).asc()
    )
    per_item = Window.partitionBy(item_col)
    return (
        votes.withColumn("__rn", F.row_number().over(rk))
        .withColumn("n_votes", F.sum("__n").over(per_item).cast(count_type))
        .withColumn("n_labels", F.count(F.lit(1)).over(per_item).cast("bigint"))
        .filter(F.col("__rn") == 1)
        .select(
            item_col,
            F.col(label_col).alias("label"),
            "n_votes",
            F.col("__n").cast(count_type).alias("n_winner"),
            F.expr(
                "CAST((__n * CAST(1000000 AS BIGINT)) div n_votes AS BIGINT)"
            ).alias("agreement_ppm"),
            "n_labels",
        )
    )


def rater_agreement(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Cohen's kappa between two labelings of the same rows — the
    chance-corrected agreement a curation pipeline reads before trusting
    two quality gates, two model scorers, or two annotation passes as
    interchangeable ("my cheap heuristic gate agrees with the expensive
    classifier at kappa 0.8 → run the cheap one at 100 TB").

    Labels are compared as-is (booleans, strings, ints — any equatable
    type); rows where EITHER side is NULL are abstentions and drop from
    both the observed and expected terms (the :func:`label_vote` NULL
    contract). Returns ONE row:

    - ``n``           compared rows (BIGINT)
    - ``n_agree``     rows where the labels are equal
    - ``po_ppm``      observed agreement, floor(n_agree·1e6 / n)
    - ``pe_ppm``      chance agreement, floor(Σ_c na_c·nb_c · 1e6 / n²)
    - ``kappa_ppm``   floor((po_ppm − pe_ppm)·1e6 / (1e6 − pe_ppm))

    The po/pe numerators are computed in DECIMAL(38,0) (ADVICE r8 #1):
    ``pe_num`` can reach n², so ``pe_num · 1e6`` overflows BIGINT at
    n ≈ 3.03e6 compared rows and ``n · n`` at n ≈ 3.03e9 — with Spark's
    default non-ANSI mode both wrap SILENTLY, corrupting kappa exactly in
    the corpus-scale regime this operator exists for. DECIMAL(38,0) holds
    n²·1e6 exactly up to n ≈ 3.1e15 rows, and Spark's ``div`` (IntegralDivide)
    accepts decimal operands and returns BIGINT, so the ppm results are
    byte-identical to the old path wherever the old path didn't overflow
    (pinned vs a Python big-int oracle at n > 4M in tests/test_advice_r9.py).

    All remaining arithmetic is BIGINT with explicit FLOOR division — the final
    kappa dividend can be NEGATIVE (systematic disagreement), where
    Spark's ``div`` truncates toward zero and engines disagree, so the
    floor is spelled ``(x − pmod(x, d)) div d`` (pmod ≥ 0 makes the
    subtraction land exactly on a multiple of d) — byte-identical in any
    engine. Degenerate pe = 1e6 (both raters constant and equal) returns
    kappa 0 by convention; n = 0 returns a single all-zero row.

    Scale (round 9, single-lineage rewrite): ONE corpus scan into a
    label-vocabulary²-bounded contingency groupBy (map-side combined), the
    contingency cells exploded into per-side marginal contributions and
    re-reduced per label (vocabulary-bounded), then one global 1-row
    reduce — no joins, no frame reuse, so the (possibly expensive) label
    expressions upstream are evaluated exactly once. The round-8 form
    derived obs/marginals as three lineages over the same frame: three
    corpus scans, each re-computing the gate expressions.
    """
    labeled = df.select(
        F.col(col_a).cast("string").alias("__a"),
        F.col(col_b).cast("string").alias("__b"),
    )

    ct = labeled.groupBy("__a", "__b").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    zero = F.lit(0).cast("bigint")
    # Each contingency cell contributes __c to label __a's row-marginal and
    # to label __b's column-marginal; the agreement mass rides the a-side
    # struct only, so Σ__ag over the marginal table is n_agree exactly.
    #
    # NULL abstentions (either side NULL) are dropped HERE, inside the
    # explode projection, not as a Filter: a Filter on the grouping keys —
    # whether placed before or after the aggregate — gets pushed below the
    # label Project by Catalyst, inlining the (possibly expensive) label
    # expression trees into the predicate; with higher-order functions in
    # those trees the stage is CodegenFallback (no subexpression
    # elimination), so every corpus row would pay the gate expressions
    # TWICE (measured 2x wall on the gate_agreement query). explode(NULL)
    # emits no row, so the when() both drops NULL cells and stays put.
    sides = ct.select(
        F.explode(
            F.when(
                F.col("__a").isNotNull() & F.col("__b").isNotNull(),
                F.array(
                    F.struct(
                        F.col("__a").alias("__lbl"),
                        F.col("__c").alias("__na"),
                        zero.alias("__nb"),
                        F.when(F.col("__a") == F.col("__b"), F.col("__c"))
                        .otherwise(zero)
                        .alias("__ag"),
                    ),
                    F.struct(
                        F.col("__b").alias("__lbl"),
                        zero.alias("__na"),
                        F.col("__c").alias("__nb"),
                        zero.alias("__ag"),
                    ),
                ),
            )
        ).alias("__s")
    ).select("__s.*")
    marg = sides.groupBy("__lbl").agg(
        F.sum("__na").cast("bigint").alias("__na"),
        F.sum("__nb").cast("bigint").alias("__nb"),
        F.sum("__ag").cast("bigint").alias("__ag"),
    )
    row = marg.agg(
        F.coalesce(F.sum("__na"), F.lit(0)).cast("bigint").alias("n"),
        F.coalesce(F.sum("__ag"), F.lit(0)).cast("bigint").alias("n_agree"),
        F.sum(
            F.col("__na").cast("decimal(38,0)")
            * F.col("__nb").cast("decimal(38,0)")
            # na*nb <= n^2: decimal, BIGINT wraps at n~3e9
        ).cast("decimal(38,0)").alias("pe_num"),
    )
    # DECIMAL(38,0) numerators/denominators: exact to n ~ 3.1e15 rows where
    # the BIGINT forms wrap silently past n ~ 3.03e6 (pe) / 9.2e12 (po).
    # div on decimals is IntegralDivide -> BIGINT; operands are >= 0 so
    # truncation == floor.
    po = F.expr(
        "(CAST(n_agree AS DECIMAL(38,0)) * 1000000)"
        " div CAST(n AS DECIMAL(38,0))"
    )
    pe = F.expr(
        "(CAST(coalesce(pe_num, 0) AS DECIMAL(38,0)) * 1000000)"
        " div (CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)))"
    )
    staged = row.select(
        "n",
        F.coalesce("n_agree", F.lit(0)).cast("bigint").alias("n_agree"),
        F.when(F.col("n") > 0, po).otherwise(F.lit(0)).cast("bigint").alias("po_ppm"),
        F.when(F.col("n") > 0, pe).otherwise(F.lit(0)).cast("bigint").alias("pe_ppm"),
    )
    kappa = F.expr(
        "CAST(((po_ppm - pe_ppm) * CAST(1000000 AS BIGINT)"
        " - pmod((po_ppm - pe_ppm) * CAST(1000000 AS BIGINT),"
        "        CAST(1000000 AS BIGINT) - pe_ppm))"
        " div (CAST(1000000 AS BIGINT) - pe_ppm) AS BIGINT)"
    )
    return staged.select(
        "n",
        "n_agree",
        "po_ppm",
        "pe_ppm",
        F.when(F.col("pe_ppm") >= 1_000_000, F.lit(0).cast("bigint"))
        .otherwise(kappa)
        .alias("kappa_ppm"),
    )


def standardize(
    df: DataFrame,
    group_cols: "Sequence[str] | str",
    value_col: str,
    out_col: str = "zscore",
    ndigits: int = 6,
) -> DataFrame:
    """Per-group z-score standardization — the moment-based sibling of
    :func:`robust_outlier_gate` (use THAT for gating heavy tails; use
    this when a downstream model wants mean-0/std-1 features per
    stratum). ``z = (v − mean_g) / std_g`` with POPULATION variance
    ``ss/n − (s/n)²`` — the same formula family as
    ``pca.covariance_matrix``.

    Determinism discipline: the per-group sums ``Σv`` and ``Σv²``
    accumulate 12-decimal-rounded values in DECIMAL(38,12) — decimal
    addition is associative, so the moments are byte-identical under any
    partitioning and engine; the final mean/std/z arithmetic is a fixed
    double expression shape rounded to ``ndigits`` (the proven
    covariance-oracle pattern). Zero-variance groups emit NULL z.

    Scale shape: ONE group-bounded aggregation shuffle; the moments table
    (one row per group) broadcasts back, so the corpus itself never
    re-shuffles. Appends ``out_col``.
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    dec = "decimal(38,12)"
    v = F.round(F.col(value_col).cast("double"), 12).cast(dec)
    moments = df.groupBy(*groups).agg(
        F.count(F.lit(1)).cast("double").alias("__zn"),
        F.sum(v).cast("double").alias("__zs"),
        F.sum(
            F.round(
                F.col(value_col).cast("double") * F.col(value_col).cast("double"),
                12,
            ).cast(dec)
        ).cast("double").alias("__zss"),
    )
    mean = F.col("__zs") / F.col("__zn")
    var = F.col("__zss") / F.col("__zn") - mean * mean
    std = F.sqrt(var)
    return (
        df.join(F.broadcast(moments), groups)
        .withColumn(
            out_col,
            F.when(
                std > 0,
                F.round((F.col(value_col).cast("double") - mean) / std, ndigits),
            ),
        )
        .drop("__zn", "__zs", "__zss")
    )


def vocab_overlap(
    df: DataFrame,
    group_col: str,
    text_col: str,
    lowercase: bool = True,
) -> DataFrame:
    """Pairwise vocabulary Jaccard between groups (sources, dumps,
    languages): for every unordered group pair (a < b), the distinct-token
    intersection, both vocabulary sizes, and
    ``jaccard_ppm = |A∩B| · 1e6 div (|A| + |B| - |A∩B|)`` — the corpus
    diagnostic behind "are these two feeds the same register?" that runs
    long before any document-level dedup. Sits beside
    ``dedup.chunk_overlap`` (shared duplicated CONTENT) and
    ``dedup.dup_source_matrix`` (shared document fingerprints): this one
    compares the LEXICONS, so two sources with zero copied text still show
    high overlap when they write about the same things.

    Scale shape: tokens distinct BEFORE anything moves — the shuffled
    relation is (group, token) distinct pairs, bounded by
    #groups × vocabulary, never corpus size. The pair join is a
    hash equi-join on the token (each token contributes only its own
    group list — no all-pairs of documents anywhere); per-group sizes
    join back on the group (broadcast — the group table is tiny by
    definition). All-BIGINT ppm arithmetic, byte-identical replay.

    Returns ``(grp_a, grp_b, n_a, n_b, n_common, jaccard_ppm)``.
    """
    text = F.col(text_col)
    if lowercase:
        text = F.lower(text)
    # NULL groups dropped up front — value-identical: a pair involving a
    # NULL group never survives ``grp_a < grp_b`` (NULL comparison), and
    # the old per-group-size inner joins dropped those rows anyway
    toks = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(F.split(F.trim(text), r"\s+")).alias("tok"),
        )
        .filter((F.col("tok") != "") & F.col("grp").isNotNull())
        .distinct()
    )
    from flatbread_spark.operators.dedup import _pin

    toks = _pin(toks)
    # group-size collect: the group table is tiny by definition (the old
    # code already broadcast it = held it on the driver); collecting it
    # folds the pin materialization into this one internal action (no
    # per-lineage broadcast-build jobs on a cold run) and the sizes
    # re-enter the plan as a BIGINT literal map — exact, nothing
    # data-sized on the driver
    size_rows = toks.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vocab")
    ).collect()
    size_map = F.create_map(
        *[
            x
            for r in sorted(size_rows, key=lambda r: str(r["grp"]))
            for x in (F.lit(r["grp"]), F.lit(int(r["n_vocab"])).cast("bigint"))
        ]
    ) if size_rows else F.lit(None).cast("map<string,bigint>")
    a = toks.select(F.col("tok"), F.col("grp").alias("grp_a"))
    b = toks.select(F.col("tok"), F.col("grp").alias("grp_b"))
    inter = (
        a.join(b, "tok")
        .filter(F.col("grp_a") < F.col("grp_b"))
        .groupBy("grp_a", "grp_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    return (
        inter.withColumn("n_a", size_map[F.col("grp_a")])
        .withColumn("n_b", size_map[F.col("grp_b")])
        .select(
            "grp_a",
            "grp_b",
            "n_a",
            "n_b",
            "n_common",
            F.expr(
                "n_common * CAST(1000000 AS BIGINT) "
                "div (n_a + n_b - n_common)"
            ).cast("bigint").alias("jaccard_ppm"),
        )
    )


def gini_concentration(
    df: DataFrame,
    group_col: str,
    value_col: str,
    key_col: str,
) -> DataFrame:
    """EXACT per-group Gini coefficient of a non-negative integral metric
    (document lengths, token counts, domain volumes) — the one-number
    inequality audit: 0 = every document identical, →1 = a few giants
    hold all the mass. The standard corpus-skew report ("is this source
    three mega-pages and noise?") next to :func:`standardize` (which
    scores individual rows) and ``skew.skew_profile`` (key-frequency
    skew; this is VALUE-mass skew).

    Uses the sorted-rank identity ``G = (2·Σ i·x_i − (n+1)·Σ x_i) /
    (n·Σ x_i)`` with ranks from one per-group window (bounded by the
    largest group — the accepted per-stratum pattern, same as
    ``ranking.group_percentiles``; ``key_col`` makes the rank total, and
    the identity is permutation-invariant across equal values so the
    tiebreak never changes the result). Every product rides DECIMAL(38,0)
    — ``i ≤ n`` times ``x`` summed ``n`` times cannot overflow BIGINT
    mid-expression at any corpus size — and the result is integral
    division to ``gini_ppm``: byte-identical across engines, no libm.

    Returns ``(<group_col>, n_docs, total, gini_ppm)``.
    """
    from pyspark.sql import Window

    dec = "decimal(38,0)"
    wg = Window.partitionBy(group_col)
    r = F.row_number().over(
        wg.orderBy(F.col(value_col), F.col(key_col))
    ).cast("bigint")
    staged = df.select(
        F.col(group_col),
        F.col(value_col).cast("bigint").alias("__x"),
        r.alias("__i"),
    )
    agg = staged.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("__x").cast(dec)).cast(dec).alias("__s0"),
        F.sum((F.col("__i").cast(dec) * F.col("__x").cast(dec)))
        .cast(dec)
        .alias("__s1"),
    )
    return agg.select(
        F.col(group_col),
        "n_docs",
        F.col("__s0").cast("bigint").alias("total"),
        F.expr(
            f"(CAST(2 AS {dec}) * __s1 "
            f"- (CAST(n_docs AS {dec}) + CAST(1 AS {dec})) * __s0) "
            f"* CAST(1000000 AS {dec}) "
            f"div (CAST(n_docs AS {dec}) * __s0)"
        ).cast("bigint").alias("gini_ppm"),
    )


def vector_audit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    q_ppm: "Sequence[int]" = (500_000, 990_000),
) -> DataFrame:
    """Embedding-table hygiene gate — the five defects that silently poison
    ANN/dedup/clustering downstream, counted in one pass: NULL vectors,
    RAGGED vectors (wrong dimensionality — the bug every Arrow kernel in
    this repo must otherwise null-propagate around), NaN components, and
    all-ZERO vectors (cosine is undefined; they land in every LSH bucket),
    plus exact squared-norm percentiles of the healthy rows (catches "the
    new encoder forgot to normalize" at a glance).

    ``dim`` defaults to the table's MODAL dimensionality (one
    vocabulary-bounded aggregate; explicit beats implicit when you know
    the encoder). Norms follow the ``dot_exact`` discipline — per-term
    round(x²,12) accumulated in DECIMAL — then round to 6 and scale to
    an e6 BIGINT, so the percentile VALUES replay byte-identically;
    percentiles use the two-phase exact rank (no unpartitioned window).

    Returns ONE row: ``(n_vecs, n_null, n_ragged, n_nan, n_zero, dim,
    <pXX_normsq_e6 per requested q>)``.
    """
    from flatbread_spark.operators.ranking import exact_percentiles

    qs = sorted({int(q) for q in q_ppm})
    a = F.col("__v")
    staged = df.select(F.col(id_col).alias("__id"),
                       F.col(vec_col).alias("__v"))
    if dim is None:
        mode = (
            staged.filter(a.isNotNull())
            .groupBy(F.size(a).alias("__d"))
            .agg(F.count(F.lit(1)).alias("__n"))
            .orderBy(F.desc("__n"), F.asc("__d"))
            .limit(1)
            .collect()
        )
        if not mode:
            raise ValueError("vector_audit requires at least one non-null vector")
        dim = int(mode[0]["__d"])
    dec = "decimal(28,12)"
    has_nan = F.exists(a, lambda x: F.isnan(x.cast("double")))
    is_ragged = a.isNotNull() & (F.size(a) != dim)
    valid = a.isNotNull() & (F.size(a) == dim) & ~has_nan
    is_zero = valid & ~F.exists(a, lambda x: x.cast("double") != 0.0)
    nsq_dec = F.aggregate(
        F.zip_with(
            a, a,
            lambda x, y: F.round(x.cast("double") * y.cast("double"), 12)
            .cast(dec),
        ),
        F.lit(0).cast(dec),
        lambda acc, v: (acc + v).cast(dec),
    )
    flagged = staged.select(
        "__id",
        a.isNull().cast("int").alias("__null"),
        is_ragged.cast("int").alias("__ragged"),
        (a.isNotNull() & (F.size(a) == dim) & has_nan).cast("int")
        .alias("__nan"),
        is_zero.cast("int").alias("__zero"),
        F.when(valid, (F.round(nsq_dec, 6) * 1_000_000).cast("bigint"))
        .alias("__nsq"),
    ).persist()
    counts = flagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("__null").cast("bigint").alias("n_null"),
        F.sum("__ragged").cast("bigint").alias("n_ragged"),
        F.sum("__nan").cast("bigint").alias("n_nan"),
        F.sum("__zero").cast("bigint").alias("n_zero"),
        F.lit(dim).cast("bigint").alias("dim"),
    )
    pct = exact_percentiles(
        flagged.filter(F.col("__nsq").isNotNull()), "__nsq", "__id", qs
    )
    pivoted = pct.agg(
        *[
            F.max(F.when(F.col("q_ppm") == q, F.col("__nsq")))
            .cast("bigint")
            .alias(f"p{q // 10_000}_normsq_e6")
            for q in qs
        ]
    )
    return counts.crossJoin(F.broadcast(pivoted))
