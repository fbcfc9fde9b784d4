"""Corpus-vocabulary analytics: distinctive terms and Zipf structure.

Two reports a corpus team runs before (and after) every big ingestion
change, both expressed as count-table algebra so the shuffled relations
are bounded by the VOCABULARY, never the corpus:

- :func:`characteristic_terms` — per group (source, dump, language), the
  top-k tokens by exact observed/expected lift: the "what is this feed
  actually about" fingerprint, and the fastest way to spot a source whose
  crawler started eating navigation chrome ("home login search" rockets
  up the lift table). The log-free integer-lift formulation follows the
  repo-wide exactness rule (see ``skew.field_association`` — same
  statistic at field granularity).
- :func:`doc_freq_spectrum` — the document-frequency spectrum in
  power-of-2 buckets: how many distinct tokens appear in [2^e, 2^(e+1))
  documents. A healthy natural-language corpus shows the Zipf slide
  (huge singleton mass, thin head); template/boilerplate contamination
  shows up as a bump in the high-DF buckets before any dedup run.
  Exponents come from ``length(bin(n))`` — integer bit-length, no libm,
  byte-identical across engines.

Both operators tokenize on whitespace (the corpus contract used across
``functions/text.py``); swap the split pattern upstream for richer
tokenization.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _token_counts(
    df: DataFrame, group_col: str, text_col: str, lowercase: bool
) -> DataFrame:
    text = F.col(text_col)
    if lowercase:
        text = F.lower(text)
    return (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(F.split(F.trim(text), r"\s+")).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("grp", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def characteristic_terms(
    df: DataFrame,
    group_col: str,
    text_col: str,
    k: int = 10,
    min_count: int = 5,
    lowercase: bool = True,
) -> DataFrame:
    """Per-group top-``k`` DISTINCTIVE terms by exact integer lift:
    ``lift_ppm = n·N·1e6 div (n_grp·n_term)`` — how much more often the
    term occurs in this group than its corpus frequency predicts
    (1e6 = exactly as expected). The log-free analog of per-group TF-IDF
    keywords: monotone in the same ratio, but all-integer (DECIMAL(38,0)
    products, integral division) so it replays byte-identically and
    cannot overflow mid-expression at any corpus size.

    ``min_count`` suppresses the hapax explosion — a term seen twice,
    both times in one small group, otherwise tops every lift table.

    Scale shape: ONE partial-aggregated shuffle to the (group, term)
    count table — bounded by #groups × vocabulary, never corpus size.
    Corpus term totals re-aggregate that table keyed on the term (vocab-
    bounded hash join back); per-group totals aggregate to #groups rows
    and broadcast; the grand total is a 1-row broadcast corner. The final
    top-k is one window per group over its vocabulary — bounded by the
    largest group's vocabulary, the accepted per-stratum pattern — with
    ``(lift desc, term)`` ordering so ranks are total and deterministic.

    Returns ``(<group_col>, term, rank, n, n_term, n_grp, lift_ppm)``.
    """
    if k < 1:
        raise ValueError("characteristic_terms requires k >= 1")
    if min_count < 1:
        raise ValueError("characteristic_terms requires min_count >= 1")
    from pyspark.sql import Window

    from flatbread_spark.cache import pin

    counts = pin(_token_counts(df, group_col, text_col, lowercase),
                 tag="vocabulary")
    # group totals are #groups rows (the old code already BROADCAST them =
    # held them on the driver); collecting once folds the count-table pin
    # materialization into this one internal action — a cold run stops
    # paying per-lineage broadcast-build jobs through the uncached
    # aggregate (the round-11 pin-materialization class). The
    # grand total is the exact Python-int sum of the same BIGINTs,
    # INCLUDING a NULL group's mass (matching the old grp_tot aggregate);
    # the old inner join dropped NULL-group rows from the scored table, so
    # the map lookup's NULL result is filtered below — value-identical.
    grp_rows = counts.groupBy("grp").agg(
        F.sum("n").cast("bigint").alias("n_grp")
    ).collect()
    n_grand = sum(int(r["n_grp"]) for r in grp_rows)
    nonnull = [r for r in grp_rows if r["grp"] is not None]
    grp_map = F.create_map(
        *[
            x
            for r in sorted(nonnull, key=lambda r: str(r["grp"]))
            for x in (F.lit(r["grp"]), F.lit(int(r["n_grp"])).cast("bigint"))
        ]
    ) if nonnull else F.lit(None).cast("map<string,bigint>")
    term_tot = counts.groupBy("term").agg(
        F.sum("n").cast("bigint").alias("n_term")
    )
    dec = "decimal(38,0)"
    scored = (
        counts.filter(F.col("n") >= min_count)
        .join(term_tot, "term")
        .withColumn("n_grp", grp_map[F.col("grp")])
        .filter(F.col("n_grp").isNotNull())
        .withColumn(
            "lift_ppm",
            F.expr(
                f"CAST(n AS {dec}) * CAST({n_grand} AS {dec}) * 1000000 "
                f"div (CAST(n_grp AS {dec}) * CAST(n_term AS {dec}))"
            ).cast("bigint"),
        )
    )
    w = Window.partitionBy("grp").orderBy(
        F.col("lift_ppm").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("grp").alias(group_col),
            "term", "rank", "n", "n_term", "n_grp", "lift_ppm",
        )
    )


def doc_freq_spectrum(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lowercase: bool = True,
) -> DataFrame:
    """Document-frequency spectrum: for every power-of-2 bucket
    ``[2^e, 2^(e+1))``, how many distinct tokens appear in that many
    documents, plus the posting mass those tokens carry — the Zipf-shape
    audit. Singletons dominating is healthy; a fat high-DF tail means
    template chrome is flooding the vocabulary (run ``chunk_dedup`` /
    ``strip_boilerplate_prefix`` and re-measure).

    The bucket exponent is ``length(bin(n_docs)) - 1`` — the integer
    bit-length of the DF count. No logarithm touches the data: the same
    ``bin()`` builtin exists in Spark and DuckDB with identical
    semantics, so the bucketing replays byte-identically.

    Scale shape (r10 bench-outlier fix): the (doc, term) dedup is
    row-local — ``array_distinct`` over each document's own token array
    BEFORE the explode — so no corpus-sized relation is ever shuffled.
    The old form exploded first and ran a global ``.distinct()``, which
    exchanged every posting (the whole corpus tokenized) across the
    cluster; now the only exchange is the map-side-combined per-term
    COUNT (vocabulary-sized partials), then a bucket-bounded (≤ 64 rows)
    final aggregate. Values are identical: a term counted once per doc
    either way. One deliberate edge change vs the pre-r10 form: each ROW
    is one document — rows sharing an ``id_col`` value count separately
    (the old global distinct merged them). DF over a re-chunked corpus
    should union chunks per document first; paying a full-corpus shuffle
    on every call to silently tolerate duplicate ids was the wrong
    default (``id_col`` is kept for API stability and the row-is-document
    contract is its documentation).

    Returns ``(bucket_lo, bucket_hi, n_terms, n_postings)`` where a
    term with DF d lands in the bucket with
    ``bucket_lo = 2^floor(log2 d) <= d < bucket_hi``.
    """
    text = F.col(text_col)
    if lowercase:
        text = F.lower(text)
    postings = df.select(
        F.explode(
            F.array_distinct(F.split(F.trim(text), r"\s+"))
        ).alias("term")
    ).filter(F.col("term") != "")
    dfreq = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    return (
        dfreq.withColumn(
            "bucket_lo",
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), "
                "CAST(length(bin(n_docs)) - 1 AS INT))"
            ),
        )
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.sum("n_docs").cast("bigint").alias("n_postings"),
        )
        .withColumn(
            "bucket_hi", (F.col("bucket_lo") * 2).cast("bigint")
        )
        .select("bucket_lo", "bucket_hi", "n_terms", "n_postings")
    )
