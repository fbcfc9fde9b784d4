"""Sequence packing: assign documents to fixed-size training context windows.

Pre-training dataloaders concatenate documents in a deterministic order and
slice the token stream into fixed ``ctx_len`` windows ("packs"); a document's
placement is therefore a pure function of the global running token sum in
front of it. Computing that running sum with one unpartitioned window is a
single-task serialization point at corpus scale, so :func:`scalable_cumsum`
runs on the two-phase scaffold of ``ranking.two_phase_offset`` (range
partition, per-partition running sums, a bounded driver collect of one
total per partition, offsets added back over a checkpointed frame — see
that module's docstring).

Reference parity: the flatbread reference has no packing operator — this is
part of the LLM-pipeline family the engine adds on top of the reference
surface (like dedup/ANN/sampling).
"""
from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def scalable_cumsum(
    df: DataFrame,
    order: Sequence[str | Column],
    value: str | Column,
    out_col: str = "__cum__",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append the global running sum of ``value`` over ``order`` (inclusive
    of the current row) without an unpartitioned window. ``order`` must be a
    total order for the result to be deterministic — same contract as
    ``scalable_pos``. Returns ``df`` + ``out_col`` (bigint). Built on the
    shared two-phase scaffold (``ranking.two_phase_offset``), which owns the
    checkpoint-between-passes discipline."""
    from pyspark.sql import Window

    from flatbread_spark.operators.ranking import RunningOutput, two_phase_offset

    val = F.col(value) if isinstance(value, str) else value
    staged = df.withColumn("__val__", val.cast("bigint"))
    cum = RunningOutput(
        out_col,
        local=lambda w: F.sum("__val__").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
        stat=F.sum("__val__"),
        offset_type="bigint",
        out_type="bigint",
    )
    out, _ = two_phase_offset(staged, order, [cum], num_partitions=num_partitions)
    return out.drop("__val__")


def pack_sequences(
    df: DataFrame,
    key_col: str,
    tokens_col: str | Column,
    ctx_len: int,
    salt: str = "",
    num_partitions: int | None = None,
) -> DataFrame:
    """Concat-and-split sequence packing: documents are laid out in stable
    hash order (``md5(key || salt)`` — reproducible across runs, engines and
    partitionings, epoch-switchable via ``salt``) and the token stream is cut
    into ``ctx_len`` windows. Appends:

    - ``n_tokens`` — the document's token count;
    - ``cum_tokens`` — global running token sum including this document;
    - ``pack_id`` — 0-based window holding the document's FIRST token;
    - ``pack_offset`` — position of that first token within its window;
    - ``n_splits`` — how many window boundaries the document crosses
      (0 = fits in one window; tail documents of each pack split).

    One range-partition shuffle + a bounded (one long per partition) driver
    collect — no unpartitioned window, so the layout step scales with the
    cluster. Every output is replayable in ANSI SQL (md5 order + windowed
    SUM), so the assignment doubles as its own oracle.
    """
    tok = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    key = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    staged = df.withColumn("n_tokens", tok.cast("bigint")).withColumn(
        "__packkey", key
    )
    cum = scalable_cumsum(
        staged,
        [F.col("__packkey"), F.col(key_col)],
        "n_tokens",
        out_col="cum_tokens",
        num_partitions=num_partitions,
    )
    start = F.col("cum_tokens") - F.col("n_tokens")
    ctx = F.lit(int(ctx_len)).cast("bigint")
    return (
        cum.withColumn("pack_id", F.floor(start / ctx).cast("bigint"))
        .withColumn("pack_offset", (start % ctx).cast("bigint"))
        .withColumn(
            "n_splits",
            # a zero-token doc sitting exactly on a pack boundary would
            # otherwise compute -1 (floor((cum-1)/ctx) looks at the PREVIOUS
            # window); clamp — such a doc occupies 0 tokens of its pack
            F.greatest(
                (
                    F.floor((F.col("cum_tokens") - 1) / ctx)
                    - F.floor(start / ctx)
                ).cast("bigint"),
                F.lit(0).cast("bigint"),
            ),
        )
        .drop("__packkey")
    )


def build_packs(
    assigned: DataFrame,
    text_col: str,
    ctx_len: int,
) -> DataFrame:
    """Materialize the packs :func:`pack_sequences` assigned: each document's
    whitespace-token stream is sliced into per-pack segments (a doc crossing
    ``n_splits`` boundaries contributes to ``n_splits+1`` packs), and each
    pack aggregates its segments in stream order. Output per pack:
    ``pack_id, n_segments, n_tokens`` (= ``ctx_len`` everywhere but the
    final pack) ``, content_md5`` (md5 of the space-joined token content —
    the value a dataloader would tokenize).

    One explode (bounded: Σ(n_splits+1) ≈ rows + total_tokens/ctx_len) and
    one hash-partitioned groupBy on ``pack_id`` — no skew (every pack holds
    exactly ``ctx_len`` tokens by construction), no driver state. The
    whole assembly is ANSI-SQL-replayable: list slicing + ordered
    ``string_agg``.
    """
    ctx = F.lit(int(ctx_len)).cast("bigint")
    doc_start = F.col("cum_tokens") - F.col("n_tokens")
    # zero-token docs contribute nothing to any pack; without the filter
    # they'd emit empty phantom segments (and Spark's sequence() counts
    # DOWNWARD for the boundary case, fabricating a second one)
    assigned = assigned.filter(F.col("n_tokens") > 0)
    seg = assigned.select(
        F.col("cum_tokens"),
        doc_start.alias("__ds"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks"),
        F.explode(
            F.sequence(F.col("pack_id"), F.col("pack_id") + F.col("n_splits"))
        ).alias("pack_id"),
    )
    seg_start = F.greatest(F.col("__ds"), F.col("pack_id") * ctx)
    seg_end = F.least(F.col("cum_tokens"), (F.col("pack_id") + 1) * ctx)
    seg = seg.select(
        "pack_id",
        seg_start.alias("__gs"),
        F.slice(
            F.col("__toks"),
            (seg_start - F.col("__ds") + 1).cast("int"),
            (seg_end - seg_start).cast("int"),
        ).alias("__seg"),
    )
    return (
        seg.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum(F.size("__seg")).cast("bigint").alias("n_tokens"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.flatten(
                        F.transform(
                            F.array_sort(
                                F.collect_list(
                                    F.struct(
                                        F.col("__gs").alias("g"),
                                        F.col("__seg").alias("s"),
                                    )
                                )
                            ),
                            lambda e: e["s"],
                        )
                    ),
                )
            ).alias("content_md5"),
        )
    )


def truncation_curve(
    df: DataFrame,
    tokens_col: str,
    lengths: Sequence[int],
) -> DataFrame:
    """Context-length selection report: for each candidate sequence length
    L, how many documents would be truncated and what fraction of corpus
    tokens a truncate-at-L policy loses —
    ``lost_ppm = Σ max(tok−L, 0) · 1e6 div Σ tok``. The one-scan curve
    behind "do we train at 2k or 8k": pair it with
    :func:`pack_sequences` (which handles the keep-and-split policy) to
    price both options.

    ONE corpus scan: the candidate lengths ride a literal array exploded
    per row (|lengths| output rows per doc feeding a partial-aggregated
    groupBy bounded by |lengths|), so adding candidates never adds scans.
    All-BIGINT sums on DECIMAL(38,0) for the final ppm division —
    byte-identical replay.

    Returns ``(seq_len, n_docs, n_truncated, total_tokens, tokens_lost,
    lost_ppm)`` — one row per candidate length.
    """
    Ls = sorted({int(x) for x in lengths})
    if not Ls or Ls[0] < 1:
        raise ValueError(f"lengths must be positive, got {lengths}")
    tok = F.col(tokens_col).cast("bigint")
    staged = df.select(
        tok.alias("__tok"),
        F.explode(
            F.array(*[F.lit(x).cast("bigint") for x in Ls])
        ).alias("seq_len"),
    )
    dec = "decimal(38,0)"
    lost = F.greatest(F.col("__tok") - F.col("seq_len"), F.lit(0).cast("bigint"))
    return (
        staged.groupBy("seq_len")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("__tok") > F.col("seq_len")).cast("bigint"))
            .cast("bigint")
            .alias("n_truncated"),
            F.sum(F.col("__tok").cast(dec)).cast(dec).alias("__tot"),
            F.sum(lost.cast(dec)).cast(dec).alias("__lost"),
        )
        .select(
            "seq_len",
            "n_docs",
            "n_truncated",
            F.col("__tot").cast("bigint").alias("total_tokens"),
            F.col("__lost").cast("bigint").alias("tokens_lost"),
            F.expr(f"CAST(__lost * 1000000 div __tot AS BIGINT)").alias(
                "lost_ppm"
            ),
        )
    )
