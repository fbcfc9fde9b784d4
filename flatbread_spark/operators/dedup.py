"""Deduplication operators for document corpora.

North-star pipeline ops (BASELINE.json): exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup. Each is designed shuffle-minimal:

- exact: one hash-groupBy on a 64/128-bit content fingerprint — never on the
  raw text (shuffling full documents to dedup them is the classic 100 TB
  mistake; only (hash, id) pairs move).
- ngram-Jaccard: shingle → explode → self-join on shingle → pair-count.
  The shingle join is the scale hazard: frequent shingles explode pairwise.
  ``block_col`` (e.g. language) and distinct-shingles cap the blowup; for
  open-domain corpora use ``minhash_lsh_pairs`` instead, which bounds
  candidate pairs by banding.
- MinHash-LSH: deterministic universal hashing (a*x+b mod p) over shingle
  xxhash64s, banded into buckets, candidates verified with exact Jaccard.
  All expression-level (no Python per row).
- SimHash: per-token 64-bit hashes bit-voted into a document signature;
  near-dups = signatures within Hamming distance k (verified via xor popcount
  inside one band self-join whose two sides read one reused shuffle).
- embedding: exact cosine over block-bucketed pairs.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flatbread_spark.cache import pin
from flatbread_spark.frame import local_relation
from flatbread_spark.functions.text import fingerprint_md5, with_shingles, word_shingles
from flatbread_spark.functions.vectors import cosine_exact


def _pin(df: DataFrame) -> DataFrame:
    """Persist + register under the 'dedup' tag (flatbread_spark.cache) so
    long-running drivers can reclaim these with release_caches('dedup')."""
    return pin(df, tag="dedup")

# Mersenne prime 2^31-1 for universal hashing: with h, a, b < 2^31 the
# products stay under 2^62, safely inside BIGINT (no overflow under ANSI mode)
_P = (1 << 31) - 1


def portable_hash60(col: Column) -> Column:
    """60-bit non-negative integer hash, bit-identical in ANSI SQL:
    ``CAST('0x' || substr(md5(x),1,15) AS BIGINT)`` — the oracle-replayable
    alternative to xxhash64 (same trick as the winnowing fingerprints)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def minhash_coeffs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """The (a, b) universal-hash coefficients used by MinHash signatures —
    exposed so a SQL oracle can embed the exact same constants."""
    import random

    rnd = random.Random(seed)
    return [(rnd.randrange(1, _P), rnd.randrange(0, _P)) for _ in range(num_hashes)]


def dedup_exact(
    df: DataFrame,
    id_col: str,
    content_col: str,
    portable_hash: bool = True,
) -> DataFrame:
    """Keep the lowest id per distinct content; report the duplicate count.

    Returns (id_col, fingerprint, n_dups). ``portable_hash=True`` uses md5
    (ANSI-SQL-reproducible); False uses xxhash64 (faster, Spark-native).
    Only (hash, id) shuffles — content never moves.
    """
    fp = fingerprint_md5(F.col(content_col)) if portable_hash else F.xxhash64(content_col).cast("string")
    return (
        df.select(F.col(id_col), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_dups"))
        .select(id_col, "fingerprint", "n_dups")
    )


def dedup_incremental(
    new_df: DataFrame,
    id_col: str,
    fingerprint: Column,
    seen_df: DataFrame,
    seen_fp_col: str = "fingerprint",
) -> DataFrame:
    """Incremental ingestion dedup: classify every row of a NEW batch
    against the fingerprints of the already-ingested corpus —
    ``dup_corpus`` (fingerprint exists in ``seen_df``), ``dup_batch``
    (another batch row with the same fingerprint has a smaller id), or
    ``new``. This is the daily-crawl shape: the corpus is represented only
    by its fingerprint table (what a pipeline actually persists between
    runs), never re-scanned as content.

    Scale: the seen set is corpus-sized, so it is NOT broadcast — the
    classification is one hash-partitioned left join on the fingerprint
    plus one keyed window over the batch; batch content never moves,
    only (fingerprint, id) pairs shuffle.
    """
    from pyspark.sql import Window

    staged = new_df.withColumn("__fp", fingerprint)
    seen = (
        seen_df.select(F.col(seen_fp_col).alias("__fp"))
        .distinct()
        .withColumn("__seen", F.lit(1))
    )
    w_min = F.min(F.col(id_col)).over(Window.partitionBy("__fp"))
    return (
        staged.join(seen, "__fp", "left")
        .withColumn(
            "status",
            F.when(F.col("__seen").isNotNull(), F.lit("dup_corpus"))
            .when(F.col(id_col) != w_min, F.lit("dup_batch"))
            .otherwise(F.lit("new")),
        )
        .withColumnRenamed("__fp", "fingerprint")
        .drop("__seen")
    )


def _shingle_pair_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    block_col: str | None,
    max_shingle_df: int | None,
) -> DataFrame:
    """Shared two-phase machinery of :func:`ngram_jaccard_pairs` and
    :func:`ngram_containment_pairs`: shingle → hash → pin, hot-shingle
    candidate cap, blocked self-join, full-array rejoin. Returns the
    verified-candidate frame ``(id_a, id_b, sh_a, sh_b)``; the caller
    applies its score expression — the ONLY thing the two operators
    differ in, so cap/block/pin semantics can never diverge between them.
    """
    blocks = [block_col] if block_col else []
    base = (
        with_shingles(
            df.select(F.col(id_col).alias("__id"), *[F.col(b) for b in blocks], text_col),
            text_col, n,
        )
        .select(
            "__id", *blocks,
            F.transform("__sh", lambda s: F.xxhash64(s)).alias("__sh"),
        )
        # two plan branches read the shingle arrays (candidate explode +
        # exact verify); without the persist, NGram shingling + hashing runs
        # twice over the corpus. (id, hash array) rows only — text excluded.
        .transform(_pin)
    )
    sh = base.select("__id", *blocks, F.explode("__sh").alias("__h"))
    if max_shingle_df is not None:
        dfreq = sh.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
        hot = dfreq.filter(F.col("__df") > max_shingle_df).select("__h")
        sh = sh.join(hot, "__h", "left_anti")

    a, b = sh.alias("a"), sh.alias("b")
    join_cond = (F.col("a.__h") == F.col("b.__h")) & (F.col("a.__id") < F.col("b.__id"))
    for blk in blocks:
        join_cond &= F.col(f"a.{blk}") == F.col(f"b.{blk}")
    cands = (
        a.join(b, join_cond)
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sets = base.select("__id", "__sh")
    return (
        cands.join(sets.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a")), "id_a")
        .join(sets.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b")), "id_b")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    threshold: float = 0.5,
    block_col: str | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All pairs (a < b) with word-n-gram Jaccard ≥ threshold.

    Returns (id_a, id_b, jaccard). Two-phase: (1) candidate pairs share ≥1
    shingle hash (self-join on one bigint per (doc, shingle) — content never
    moves); (2) candidates are verified with exact Jaccard on the full
    shingle-hash arrays, so the output value is exact regardless of capping.

    Scale controls — at corpus scale always use at least one:
    - ``block_col`` restricts candidates to equal blocks (language, source,
      length bucket …).
    - ``max_shingle_df`` drops shingles whose document frequency exceeds the
      cap from CANDIDATE GENERATION only (the standard hot-shingle
      mitigation: a shingle in 10⁶ docs would otherwise contribute ~10¹²/2
      candidate pairs). Verification still uses full shingle sets, so
      emitted Jaccards are exact; the recall trade-off is that a pair is
      missed only if EVERY shared shingle is above the cap — for near-dups
      at a meaningful threshold this requires the documents to be built
      almost entirely of boilerplate.
    """
    cands = _shingle_pair_candidates(
        df, id_col, text_col, n, block_col, max_shingle_df
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cands.withColumn("jaccard", F.round(inter.cast("double") / union.cast("double"), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    threshold: float = 0.8,
    block_col: str | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All pairs (a < b) whose smaller shingle set is ≥ ``threshold``
    CONTAINED in the larger: containment = |∩| / min(|A|, |B|).

    The asymmetric-inclusion blind spot of Jaccard dedup: a short document
    quoted WHOLESALE inside a long one (news wire inside an aggregator
    page, a README inside a vendored repo dump) has containment 1.0 but
    Jaccard ≈ |short|/|long| → 0, so :func:`ngram_jaccard_pairs` at any
    meaningful threshold never flags it. Pre-training corpora dedup on
    BOTH signals (cf. the bipartite eval-side variant
    :func:`contamination_pairs`; this is the symmetric within-corpus one).

    Same two-phase scale shape as Jaccard (shared machinery:
    :func:`_shingle_pair_candidates`): candidates share ≥ 1 shingle
    hash — only (id, hash) pairs move, text never shuffles — then exact
    verification on full hashed-shingle arrays, so emitted containments
    are exact regardless of ``max_shingle_df`` candidate capping.
    ``block_col`` / ``max_shingle_df`` carry the same 100 TB contract as
    :func:`ngram_jaccard_pairs` (hot-shingle pair blowup is quadratic;
    always cap at corpus scale). Returns ``(id_a, id_b, containment)``.
    """
    cands = _shingle_pair_candidates(
        df, id_col, text_col, n, block_col, max_shingle_df
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    smaller = F.least(F.size("sh_a"), F.size("sh_b"))
    return (
        cands.withColumn(
            "containment",
            F.round(inter.cast("double") / smaller.cast("double"), 6),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def ngram_pair_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    jaccard_threshold: float = 0.5,
    containment_threshold: float = 0.8,
    block_col: str | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """BOTH near-dup scores from ONE candidate pass: pairs (a < b) passing
    EITHER the Jaccard or the containment threshold, with both values.

    The dedup playbook wants both signals over the same corpus (Jaccard
    for symmetric near-dups, containment for wholesale inclusion); calling
    the two single-score operators runs the shared shingle/hash/self-join
    machinery — the single most expensive stage — twice and pins two
    copies of the identical base frame. This derives both scores from one
    verified-candidate frame, halving that cost and the cache footprint.
    Returns ``(id_a, id_b, jaccard, containment)``; filter on either
    column downstream.
    """
    cands = _shingle_pair_candidates(
        df, id_col, text_col, n, block_col, max_shingle_df
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    smaller = F.least(F.size("sh_a"), F.size("sh_b"))
    return (
        cands.withColumn(
            "jaccard", F.round(inter.cast("double") / union.cast("double"), 6)
        )
        .withColumn(
            "containment",
            F.round(inter.cast("double") / smaller.cast("double"), 6),
        )
        .filter(
            (F.col("jaccard") >= jaccard_threshold)
            | (F.col("containment") >= containment_threshold)
        )
        .select("id_a", "id_b", "jaccard", "containment")
    )


def embedding_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.8,
) -> DataFrame:
    """Eval-set decontamination in EMBEDDING space: for every eval vector,
    its nearest train vector by exact cosine, flagged when that cosine is
    ≥ ``threshold`` — the semantic sibling of the n-gram
    :func:`contamination_pairs` (paraphrased or lightly-edited benchmark
    leakage shares no 4-gram but sits next to its source in embedding
    space; pre-training pipelines run BOTH signals).

    Returns ``(eval_id, train_id, cos, is_contaminated)`` — one row per
    eval vector (its nearest train neighbor and the boolean), so the
    output doubles as the "distance to train" audit distribution.
    Deterministic: exact-decimal cosine (the repo's ``dot_exact``
    contract), nearest = (cos desc, train id asc).

    Scale shape: this is :func:`operators.similarity.knn_bruteforce` with
    k=1 over a bipartite pair set (the eval set rides the all-pairs kernel
    against the train scan — eval sets are small by construction). At
    open-corpus scale swap the all-pairs candidate source for
    ``ivf_candidates`` / ``knn_lsh`` feeding the same exact re-rank,
    exactly as the knn queries document.

    Id contract: a train row whose id EQUALS the eval row's id is excluded
    from the neighbor search (the knn self-exclusion) — split your corpus
    into disjoint id sets first; an eval item still byte-present in train
    is exact duplication, which :func:`dedup_exact` catches upstream.
    """
    from flatbread_spark.operators.similarity import knn_bruteforce

    t = train.select(F.col(id_col), F.col(vec_col))
    e = eval_df.select(F.col(id_col), F.col(vec_col))
    nn = knn_bruteforce(t, e, id_col=id_col, vec_col=vec_col, k=1)
    return nn.select(
        F.col("query_id").alias("eval_id"),
        F.col("neighbor_id").alias("train_id"),
        "cos",
        (F.col("cos") >= F.lit(float(threshold))).alias("is_contaminated"),
    )


def contamination_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    portable_hash: bool = False,
) -> DataFrame:
    """Eval-set decontamination: (train_id, eval_id, containment) for eval
    documents whose shingle set is >= ``threshold`` CONTAINED in a train
    document — the benchmark-leakage check every pre-training pipeline runs
    before training. Containment (|∩| / |eval shingles|), not Jaccard: a
    short eval prompt embedded verbatim in a long train doc must flag even
    though their Jaccard is tiny.

    Bipartite two-phase, same scale shape as :func:`ngram_jaccard_pairs`:
    candidates share >= 1 shingle hash (train-explode ⋈ eval-explode — the
    join is train×eval only, never train×train), verification re-scores
    exact containment on the full hashed-shingle arrays. ``max_shingle_df``
    caps hot-shingle candidate blowup on the TRAIN side (document frequency
    measured over train, the big corpus); verification is uncapped, so
    emitted containments are exact."""
    hash_one = portable_hash60 if portable_hash else F.xxhash64
    tr = (
        with_shingles(train.select(F.col(id_col).alias("__tid"), text_col), text_col, n)
        .select("__tid", F.transform("__sh", lambda s: hash_one(s)).alias("__sh"))
        .transform(_pin)
    )
    ev = (
        with_shingles(eval_df.select(F.col(id_col).alias("__eid"), text_col), text_col, n)
        .select("__eid", F.transform("__sh", lambda s: hash_one(s)).alias("__sh"))
        .transform(_pin)
    )
    tr_ex = tr.select("__tid", F.explode("__sh").alias("__h"))
    if max_shingle_df is not None:
        hot = (
            tr_ex.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_shingle_df).select("__h")
        )
        tr_ex = tr_ex.join(hot, "__h", "left_anti")
    ev_ex = ev.select("__eid", F.explode("__sh").alias("__h"))
    cands = (
        tr_ex.join(ev_ex, "__h")
        .select("__tid", "__eid")
        .dropDuplicates(["__tid", "__eid"])
    )
    scored = (
        cands.join(tr.select("__tid", F.col("__sh").alias("__tsh")), "__tid")
        .join(ev.select("__eid", F.col("__sh").alias("__esh")), "__eid")
    )
    inter = F.size(F.array_intersect("__tsh", "__esh"))
    containment = F.round(inter.cast("double") / F.size("__esh").cast("double"), 6)
    return (
        scored.select(
            F.col("__tid").alias("train_id"),
            F.col("__eid").alias("eval_id"),
            containment.alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def _minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    bands: int,
    seed: int,
    portable_hash: bool,
    extra_cols: "tuple[str, ...]" = (),
) -> tuple[DataFrame, DataFrame]:
    """Shared signature/banding stage for the self-join (:func:
    `minhash_lsh_pairs`) and batch-vs-corpus (:func:`minhash_probe`)
    operators. Returns ``(base, bands_df)``: the persisted hashed-shingle
    arrays ``(__id, __sh)`` and the slim band rows
    ``(__id, __band, __key)``. ``extra_cols`` are carried through both
    frames unchanged (the probe's side flag rides along so both sides
    share ONE signature derivation)."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    coeffs = minhash_coeffs(num_hashes, seed)
    extras = list(extra_cols)

    # everything downstream of shingling works on hashed shingles:
    # verification arrays shuffle ~8 bytes per shingle instead of the n-word
    # string (identical Jaccard modulo ~|S|²/2⁶⁴ collisions)
    hash_one = portable_hash60 if portable_hash else F.xxhash64
    base = (
        with_shingles(
            df.select(F.col(id_col).alias("__id"), text_col, *extras),
            text_col,
            n,
        )
        .select(
            "__id", F.transform("__sh", lambda s: hash_one(s)).alias("__sh"),
            *extras,
        )
        # signature branch + per-candidate verification branch both read the
        # hashed shingle arrays — persist so shingling/hashing runs once
        .transform(_pin)
    )
    # per-document Arrow kernel: the signature is a function of the doc's own
    # shingles, so it needs no explode/shuffle/num_hashes-aggregate plan at
    # all — one (n_shingles × num_hashes) numpy broadcast per doc. Persisted:
    # the banded join reads signatures on both sides.
    from flatbread_spark.functions._arrow_kernels import make_minhash_udf

    sig_df = base.select(
        "__id", make_minhash_udf(coeffs, _P)(F.col("__sh")).alias("__sig"),
        *extras,
    ).transform(_pin)

    # band rows carry ONLY (id, band, key): exploding the (possibly large)
    # shingle array `bands`-fold and shuffling it through the join would
    # multiply shuffle bytes by `bands`; shingles are re-joined by id later,
    # once per *candidate pair*, not per band row.
    bands_df = sig_df.select(
        "__id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.concat_ws(",", *[
                        F.element_at("__sig", i * r + j + 1).cast("string")
                        for j in range(r)
                    ]).alias("key"),
                )
                for i in range(bands)
            ])
        ).alias("bk"),
        *extras,
    ).select(
        "__id", F.col("bk.band").alias("__band"), F.col("bk.key").alias("__key"),
        *extras,
    )
    return base, bands_df


def _verify_jaccard(
    cands: DataFrame,
    sh_a: DataFrame,
    sh_b: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification of candidate (id_a, id_b) pairs against
    the two sides' hashed-shingle arrays."""
    cands = (
        cands.join(sh_a.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a")), "id_a")
        .join(sh_b.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cands.withColumn("jaccard", F.round(inter.cast("double") / union.cast("double"), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _over_cap_buckets(bands: DataFrame, cap: int) -> "tuple[DataFrame, int]":
    """The band buckets of ``bands`` holding more than ``cap`` rows, as
    (__band, __key, __min) — the bucket's least ``__id`` — re-entering the
    plan as a local relation, plus their count.

    The list is bounded by construction (≤ |band rows|/cap rows, ≤10⁶ at
    10¹⁰ band rows with the default cap — the same bound that lets it
    broadcast, i.e. the driver already held it). The stats aggregate is
    pinned and collected once: the collect doubles as its
    materialization, warm runs hit the CacheManager plan match, and in the
    common no-skew case the empty list lets callers drop the anti-join,
    the star branch and their broadcast-build jobs from the plan outright
    — value-identical (an anti join against an empty set is the
    identity, an inner join against it is empty)."""
    over_agg = _pin(
        bands.groupBy("__band", "__key")
        .agg(F.count(F.lit(1)).alias("__m"), F.min("__id").alias("__min"))
        .filter(F.col("__m") > cap)
        .drop("__m")
    )
    return local_relation(over_agg)


def minhash_probe(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
    portable_hash: bool = False,
    max_band_bucket: int | None = 10_000,
) -> DataFrame:
    """INCREMENTAL near-dup: which documents of today's ``batch`` are
    near-duplicates of the existing ``corpus`` — the daily-ingest shape
    (:func:`dedup_incremental` is the exact-hash version; this is the
    MinHash one). Never compares batch×batch or corpus×corpus: candidates
    come from batch band rows equi-joined to corpus band rows, so cost
    follows |batch| + the collided buckets, not |corpus|².

    Same signature math as :func:`minhash_lsh_pairs` (same coefficients,
    same banding, same exact-Jaccard verification; ``portable_hash=True``
    for the SQL-replayable md5 path). Returns ``(id_a, id_b, jaccard)``
    with id_a = batch doc, id_b = corpus doc.

    ``max_band_bucket`` caps degenerate CORPUS buckets (boilerplate
    signatures shared by millions of docs): over-cap buckets match each
    colliding batch doc against the bucket's min-id representative only —
    the batch doc still links into the cluster when the star edge
    verifies; direct pairs against other bucket members are left to
    smaller buckets (same recall statement as the self-join operator).

    At production scale the corpus side's band rows are a PERSISTED index
    (write ``_minhash_bands``' output once, append per batch) — the
    recompute here keeps the operator self-contained; the join shape is
    identical either way.

    Both sides share ONE signature derivation (round 12): batch and
    corpus union into a side-flagged frame before shingling, so the plan
    carries a single shingle/signature pipeline (one pinned base + one
    pinned signature frame) split by the flag — per-doc signature math is
    side-independent, so values are identical to the two-pipeline shape,
    and a cold run pays one set of pin-materialization stages instead of
    two.
    """
    b_proj = batch.select(
        F.col(id_col).alias("__pid"), F.col(text_col).alias("__ptext"),
        F.lit(True).alias("__is_b"),
    )
    c_proj = corpus.select(
        F.col(id_col).alias("__pid"), F.col(text_col).alias("__ptext"),
        F.lit(False).alias("__is_b"),
    )
    base_all, bands_all = _minhash_bands(
        b_proj.unionByName(c_proj), "__pid", "__ptext",
        n, num_hashes, bands, seed, portable_hash, extra_cols=("__is_b",),
    )
    base_b = base_all.filter(F.col("__is_b")).drop("__is_b")
    base_c = base_all.filter(~F.col("__is_b")).drop("__is_b")
    bands_b = bands_all.filter(F.col("__is_b")).drop("__is_b")
    bands_c = bands_all.filter(~F.col("__is_b")).drop("__is_b")
    if max_band_bucket is not None:
        # over-cap CORPUS buckets only: a batch doc in one links to the
        # bucket's least corpus id (batch → corpus star edge)
        over, n_over = _over_cap_buckets(bands_c, max_band_bucket)
        if n_over:
            small_c = bands_c.join(
                F.broadcast(over), ["__band", "__key"], "left_anti",
            )
            star = (
                bands_b.join(F.broadcast(over), ["__band", "__key"])
                .select(F.col("__id").alias("id_a"), F.col("__min").alias("id_b"))
            )
        else:
            star, small_c = None, bands_c
    else:
        star, small_c = None, bands_c
    b, c = bands_b.alias("b"), small_c.alias("c")
    cands = (
        b.join(
            c,
            (F.col("b.__band") == F.col("c.__band"))
            & (F.col("b.__key") == F.col("c.__key")),
        )
        .filter(F.col("b.__id") != F.col("c.__id"))
        .select(F.col("b.__id").alias("id_a"), F.col("c.__id").alias("id_b"))
    )
    if star is not None:
        cands = cands.unionByName(star.filter(F.col("id_a") != F.col("id_b")))
    cands = cands.dropDuplicates(["id_a", "id_b"])
    return _verify_jaccard(cands, base_b, base_c, threshold)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
    portable_hash: bool = False,
    max_band_bucket: int | None = 10_000,
) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact-Jaccard verification.

    rows/bands = r; two docs collide if any band of r minhashes matches —
    P(collide) ≈ 1-(1-j^r)^b, the classic S-curve around the threshold.
    Candidates are then verified with exact Jaccard on distinct shingles so
    the output is exact-above-threshold (LSH only bounds the candidate set;
    at 100 TB banding is what keeps the join from being all-pairs).
    ``portable_hash=True`` hashes shingles with md5-60bit instead of xxhash64
    so an ANSI-SQL oracle can replay the exact signature math (same
    coefficients via :func:`minhash_coeffs`). Returns (id_a, id_b, jaccard).

    ``max_band_bucket`` (ADVICE r2 skew hardening): a degenerate band bucket
    — e.g. a corpus slice of identical/empty texts sharing one signature —
    would otherwise emit |bucket|²/2 candidates from the self-join. Buckets
    larger than the cap emit STAR edges (bucket-min id ↔ member) instead:
    |bucket|−1 candidates, still connecting every member into one component
    for downstream :func:`dedup_clusters` whenever the star edges verify
    (over-cap buckets arise exactly when members are near-identical, so they
    do). RECALL STATEMENT: direct non-star pairs inside an over-cap bucket
    are not emitted by THAT bucket (another, smaller band bucket can still
    emit them); emitted pairs remain exact-Jaccard-verified. ``None``
    disables the cap (exact r2 behavior).
    """
    base, bands_df = _minhash_bands(
        df, id_col, text_col, n, num_hashes, bands, seed, portable_hash
    )

    if max_band_bucket is not None:
        # one bucket-stats pass over the slim (id, band, key) rows; the
        # self-join branches then pay only a broadcast anti-join each
        # instead of re-running the stats shuffle per branch. Star edges
        # run from the bucket min to each other member (min → member)
        over, n_over = _over_cap_buckets(bands_df, max_band_bucket)
        if n_over:
            small = bands_df.join(
                F.broadcast(over), ["__band", "__key"], "left_anti",
            )
            star = (
                bands_df.join(F.broadcast(over), ["__band", "__key"])
                .filter(F.col("__id") != F.col("__min"))
                .select(F.col("__min").alias("id_a"), F.col("__id").alias("id_b"))
            )
            a, b = small.alias("a"), small.alias("b")
        else:
            star = None
            a, b = bands_df.alias("a"), bands_df.alias("b")
    else:
        star = None
        a, b = bands_df.alias("a"), bands_df.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__key") == F.col("b.__key"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
    )
    if star is not None:
        cands = cands.unionByName(star)
    cands = cands.dropDuplicates(["id_a", "id_b"])
    return _verify_jaccard(cands, base, base, threshold)


def simhash64(text: Column, n: int = 2) -> Column:
    """64-bit SimHash over word n-gram shingles: each shingle's xxhash64
    votes ±1 per bit; the signature is the sign vector. Single aggregate pass
    with a 64-vote array accumulator (one traversal of the shingle array, not
    64 — the naive per-bit formulation generates 64 independent aggregates
    and falls out of any reasonable expression budget)."""
    sh = word_shingles(text, n)
    bit_idx = F.sequence(F.lit(0), F.lit(63))
    votes = F.aggregate(
        sh,
        F.array_repeat(F.lit(0), 64),
        lambda acc, s: F.zip_with(
            acc,
            F.transform(
                bit_idx,
                lambda i: F.shiftrightunsigned(F.xxhash64(s), i)
                .bitwiseAND(F.lit(1))
                .cast("int"),
            ),
            lambda a, bit: a + bit * 2 - 1,
        ),
    )
    return _votes_to_sig(votes)


def _votes_to_sig(votes: Column, nbits: int = 64) -> Column:
    """array<int> of bit votes → bigint signature (bit i set iff vote>0).
    For nbits=64, bit 63 is the sign bit: adding -(2^63) sets it without
    overflow; narrower signatures (the portable 60-bit md5 variant) stay
    positive."""
    sig = F.lit(0).cast("bigint")
    for i in range(min(nbits, 63)):
        sig = sig + F.when(F.element_at(votes, i + 1) > 0, F.lit(1 << i).cast("bigint")).otherwise(0)
    if nbits < 64:
        return sig
    return sig + F.when(
        F.element_at(votes, 64) > 0, F.lit(-(1 << 63)).cast("bigint")
    ).otherwise(0)


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 2,
    portable_hash: bool = False,
) -> DataFrame:
    """(id, simhash) — a per-document Arrow kernel over the shingle-hash
    array: SimHash is a function of the doc's OWN shingles, so it needs no
    shuffle at all. Shingles are hashed in one JVM pass; bit unpacking and
    the ±1 votes run vectorized per Arrow batch (``make_simhash_udf``). The
    previous explode → groupBy formulation with ``nbits`` vote-sum
    aggregates shuffled (id, hash) rows and paid seconds of whole-stage
    codegen compile for its 60-aggregate plan — measured slower at every
    scale. ``portable_hash=True`` votes over the 60-bit md5 hash (ANSI-SQL
    replayable) instead of the 64-bit xxhash64."""
    from flatbread_spark.functions._arrow_kernels import make_simhash_udf

    nbits = 60 if portable_hash else 64
    hash_one = portable_hash60 if portable_hash else F.xxhash64
    hashed = with_shingles(
        df.select(F.col(id_col).alias("__id"), text_col), text_col, n
    ).select("__id", F.transform("__sh", lambda s: hash_one(s)).alias("__hs"))
    return hashed.select(
        "__id", make_simhash_udf(nbits)(F.col("__hs")).alias("__sig")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    max_hamming: int = 3,
    bands: int = 4,
    portable_hash: bool = False,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ max_hamming.

    Banding: split the signature into ``bands`` chunks of ``w = nbits //
    bands`` bits; by pigeonhole any pair within distance < bands shares at
    least one exact chunk, so the join is on chunk equality, then
    popcount-verified — which also means the banded result EQUALS the
    all-pairs result whenever max_hamming < bands (what the SQL oracle
    exploits).

    One shuffle: the signature is computed once per document, its
    ``bands`` slim band rows ``(id, sig, band, key)`` are hash-partitioned
    once by ``(band, key)``, and both sides of the sort-merge self-join
    read that one exchange (a ``ReusedExchange``) — no persisted signature
    frame and no shuffle of the candidates. A pair colliding in several
    bands is kept only from its FIRST colliding band (the lowest ``j`` with
    ``((sig_a ^ sig_b) >>> j*w) & mask == 0``), so the Hamming test and
    this rule both run inside the join and each pair is emitted exactly
    once without a dedup aggregate.

    Ids are expected to be unique: a repeated id yields one row per pair
    of ROWS (each with its own Hamming distance), not one per id pair.
    Returns (id_a, id_b, hamming) with id_a < id_b."""
    nbits = 60 if portable_hash else 64
    w = nbits // bands
    mask = F.lit((1 << w) - 1)
    sigd = simhash_signatures(df, id_col, text_col, n, portable_hash=portable_hash)
    chunks = sigd.select(
        "__id", "__sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned("__sig", i * w).bitwiseAND(mask).alias("key"),
                )
                for i in range(bands)
            ])
        ).alias("bk"),
    ).select("__id", "__sig", F.col("bk.band").alias("__band"), F.col("bk.key").alias("__key"))
    a, b = chunks.alias("a"), chunks.alias("b")
    xor = F.col("a.__sig").bitwiseXOR(F.col("b.__sig"))
    ham = F.bit_count(xor).cast("int")
    # first-colliding-band rule: the row of band j survives only if every
    # lower band's chunks differ, so each pair is emitted once
    first_band = F.lit(True)
    for i in range(bands - 1):
        first_band = first_band & (
            (F.col("a.__band") <= i)
            | (F.shiftrightunsigned(xor, i * w).bitwiseAND(mask) != 0)
        )
    # coalesce keeps the Hamming test null-tolerant: a null-intolerant
    # ``ham <= k`` lets Catalyst infer isnotnull(__sig) and push it beneath
    # the signature projection, where it re-runs the Python UDF as a second
    # ArrowEvalPython. A null signature has null band keys and never joins,
    # so the coalesce changes no value.
    close = F.coalesce(ham, F.lit(nbits + 1)) <= max_hamming
    # merge hint: both sides then shuffle (ENSURE_REQUIREMENTS) into one
    # reusable exchange; a broadcast build side is not reused, so the
    # signature UDF would run once per side
    return (
        a.hint("merge").join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__key") == F.col("b.__key"))
            & (F.col("a.__id") < F.col("b.__id"))
            & close
            & first_band,
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"), ham.alias("hamming"))
    )


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    block_col: str | None = None,
    lsh_nbits: int | None = None,
    lsh_tables: int = 8,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """Near-dup pairs by exact cosine ≥ threshold. Returns (id_a, id_b, cos).

    Candidate generation (the 100 TB decision — always set at least one):
    - ``block_col``: pairs restricted to equal blocks (cluster/label/source).
    - ``lsh_nbits``: sign-LSH bucketing (VERDICT r1 #5) — vectors are bucketed
      by ``lsh_tables`` independent ``lsh_nbits``-bit hyperplane signatures
      (one Arrow matmul per batch, reusing the knn kernel); candidates share
      a (table, bucket). This replaces the in-block all-pairs join with a
      bucket equi-join: candidate count ≈ n²·E[p_collide] instead of n²/B,
      and recall for pairs at cosine c is 1-(1-p_bit(c)^nbits)^tables with
      p_bit = 1 - arccos(c)/π — choose nbits/tables for the threshold.
    With neither set, the join is all-pairs (only sane for small frames).

    Scoring is two-phase: (1) candidate groups (LSH bucket or block) are
    scored in-group with one chunked numpy matmul per group via
    ``applyInPandas`` — an interpreted higher-order-function dot per
    candidate PAIR was the measured bottleneck (O(pairs x dim) interpreted
    ops; ~4M candidate pairs at the worst-case operating point) — emitting
    only pairs >= threshold − 1e-6 slack; (2) survivors — a tiny fraction —
    are re-scored with exact-decimal cosine, which decides the output value
    and final filter, so results stay bit-reproducible against a SQL oracle.
    Ids may be any type with a total order (ints, strings) — pairs keep the
    input id type, ordered id_a < id_b, and duplicate ids never emit
    self-pairs.

    Shuffle shape: grouping moves each vector ``lsh_tables`` times (linear,
    predictable inflation) instead of moving O(candidate-pair) rows through
    a band self-join — the right trade unless vectors are huge relative to
    collision rates. In-group compute is quadratic in group size (inherent
    to LSH verification) but memory-bounded by the kernel's chunked slabs;
    a skew-hot bucket degrades to more slabs, never an executor OOM."""
    from flatbread_spark.functions._arrow_kernels import make_pair_score_fn

    id_type = df.schema[id_col].dataType.simpleString()
    pair_schema = f"id_a {id_type}, id_b {id_type}"
    cols = [F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")]
    if block_col:
        cols.append(F.col(block_col).alias("__blk"))
    base = df.select(*cols)
    score_fn = make_pair_score_fn(threshold - 1e-6)

    if lsh_nbits is not None:
        import numpy as np

        from flatbread_spark.functions._arrow_kernels import make_bucket_udf
        from flatbread_spark.operators.similarity import _hyperplanes

        planes_mat = np.array(
            [p for t in range(lsh_tables) for p in _hyperplanes(dim, lsh_nbits, seed + 1000 * t)],
            dtype=np.float64,
        )
        bucketed = base.select(
            "__id", "__v", *(["__blk"] if block_col else []),
            F.posexplode(
                make_bucket_udf(planes_mat, lsh_tables, lsh_nbits)(F.col("__v"))
            ).alias("__t", "__b"),
        )
        group_cols = (["__blk"] if block_col else []) + ["__t", "__b"]
        pairs = (
            bucketed.groupBy(*group_cols)
            .applyInPandas(score_fn, pair_schema)
            .dropDuplicates(["id_a", "id_b"])
        )
    elif block_col:
        pairs = (
            base.groupBy("__blk")
            .applyInPandas(score_fn, pair_schema)
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        # no candidate-generation key: genuine all-pairs join (only sane for
        # small frames — documented above). ENFORCED, not just documented:
        # probe the frame size and refuse the O(n²) join beyond the bound
        # (engine.allpairs_max_rows config) instead of silently launching a
        # quadratic job on a production corpus.
        from flatbread_spark.config import CONFIG

        bound = int(CONFIG.get("engine", "allpairs_max_rows", default=100_000))
        if bound > 0 and base.limit(bound + 1).count() > bound:
            raise ValueError(
                f"embedding_dup_pairs without block_col/lsh_nbits is an "
                f"all-pairs join, refused above {bound} rows "
                "(engine.allpairs_max_rows); set lsh_nbits (scale path) or "
                "block_col, or raise the bound explicitly"
            )
        from flatbread_spark.functions.vectors import dot_fast

        base_n = base.withColumn("__norm", F.sqrt(dot_fast(F.col("__v"), F.col("__v"))))
        a, b = base_n.alias("a"), base_n.alias("b")
        fast_cos = dot_fast(F.col("a.__v"), F.col("b.__v")) / (
            F.col("a.__norm") * F.col("b.__norm")
        )
        pairs = (
            a.join(b, F.col("a.__id") < F.col("b.__id"))
            .filter(fast_cos >= threshold - 1e-6)
            .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        )

    vecs = base.select("__id", "__v")
    cands = (
        pairs.join(
            vecs.select(F.col("__id").alias("id_a"), F.col("__v").alias("__va")), "id_a")
        .join(
            vecs.select(F.col("__id").alias("id_b"), F.col("__v").alias("__vb")), "id_b")
    )
    cos = cosine_exact(F.col("__va"), F.col("__vb"))
    return (
        cands.select(
            F.col("id_a").cast(id_type).alias("id_a"),
            F.col("id_b").cast(id_type).alias("id_b"),
            F.round(cos, 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


# ----------------------------------------------------------- chunk-level dedup
def explode_word_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    words_per_chunk: int = 12,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Split each document into fixed-width word windows and explode to one
    row per (doc, chunk).

    The chunk is the unit of line/paragraph-level dedup (CCNet/RefinedWeb
    style). Real corpora would chunk on ``\\n``/``\\n\\n``; the synthetic
    testdata is single-line, so fixed word windows are the deterministic
    equivalent — swap the splitter, keep the pipeline. Everything is JVM-side
    (split → sequence → transform+slice → posexplode): no shuffle, the
    explode happens inside the scan stage.

    Returns (id_col, *extra_cols, cidx int, chunk string).
    """
    w = int(words_per_chunk)
    if w <= 0:
        raise ValueError("words_per_chunk must be positive")
    # stage the split as a COLUMN first: slicing an attribute ref inside the
    # lambda is O(w) per chunk; slicing the inline split() expression would
    # re-tokenize the text per chunk (Catalyst re-inlines lambda references
    # to non-attribute children) and go O(len²/w)
    base = df.select(F.col(id_col), *[F.col(c) for c in extra_cols],
                     F.split(F.col(text_col), " ").alias("__words"))
    words = F.col("__words")
    n_chunks = F.ceil(F.size(words) / F.lit(float(w))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i * w + 1, w)),
    )
    # Alias the HOF result once before exploding: HOF expressions re-evaluate
    # per referencing expression if repeated inline.
    staged = base.select(F.col(id_col), *[F.col(c) for c in extra_cols],
                         chunks.alias("__chunks"))
    return staged.select(
        id_col, *extra_cols,
        F.posexplode("__chunks").alias("cidx", "chunk"),
    )


def chunk_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    words_per_chunk: int = 12,
    emit_clean_text: bool = True,
) -> DataFrame:
    """Line/paragraph-level exact dedup: drop every chunk whose content
    appears in more than one distinct document (RefinedWeb removes all
    copies of a cross-document duplicated line; same semantics here — no
    "keep first", so the result is order-independent and exactly
    SQL-replayable).

    Returns one row per document: (id_col, n_chunks, n_dup_chunks, and when
    ``emit_clean_text`` the md5 of the text reassembled from surviving
    chunks in document order — NULL when nothing survives).

    Scale shape (the standard CCNet sharded-hash plan, expressed
    declaratively):
      1. chunk + hash map-side (no shuffle);
      2. groupBy chunk-hash with map-side partial aggregation — only
         (hash, partial count) moves;
      3. join chunks to the duplicated-hash set on the hash (AQE broadcasts
         it when small; shuffle-join otherwise — at 100 TB the dup set is
         genuinely large, so do NOT force broadcast);
      4. reassemble per doc — one shuffle on id.
    Chunk text crosses the wire once (step 3); with
    ``emit_clean_text=False`` only (hash, id, cidx) ever moves.
    """
    chunks = explode_word_chunks(df, id_col, text_col, words_per_chunk)
    sel = [F.col(id_col), "cidx", fingerprint_md5(F.col("chunk")).alias("__chash")]
    if emit_clean_text:
        sel.append(F.col("chunk"))
    hashed = _pin(chunks.select(*sel))
    dup = (
        hashed.groupBy("__chash")
        .agg(F.count_distinct(F.col(id_col)).alias("__ndocs"))
        .filter(F.col("__ndocs") > 1)
        .select("__chash")
        .withColumn("__dup", F.lit(True))
    )
    marked = hashed.join(dup, "__chash", "left").withColumn(
        "__dup", F.coalesce(F.col("__dup"), F.lit(False))
    )
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum(F.col("__dup").cast("int")).cast("bigint").alias("n_dup_chunks"),
    ]
    if emit_clean_text:
        kept = F.array_sort(
            F.collect_list(
                F.when(~F.col("__dup"), F.struct(F.col("cidx"), F.col("chunk")))
            )
        )
        aggs.append(kept.alias("__kept"))
    out = marked.groupBy(id_col).agg(*aggs)
    if emit_clean_text:
        arr = F.col("__kept")
        clean = F.when(
            F.size(arr) > 0,
            F.md5(F.concat_ws(" ", F.transform(arr, lambda s: s["chunk"]))),
        )
        out = out.withColumn("clean_md5", clean).drop("__kept")
    return out


def chunk_overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    words_per_chunk: int = 12,
) -> DataFrame:
    """Cross-group duplicate-content overlap matrix: for every unordered
    pair of groups (sources, dumps, shards), the number of distinct
    duplicated chunk contents they share. The corpus-analytics view behind
    "which crawls overlap?" before committing to a full dedup run.

    Only (hash, group) pairs move — distinct'd BEFORE the self-join, so the
    join input is bounded by (#dup hashes × #groups), not corpus size; the
    pinned frame keeps the two self-join branches from recomputing the scan.
    """
    chunks = explode_word_chunks(df, id_col, text_col, words_per_chunk,
                                 extra_cols=(group_col,))
    hashed = _pin(
        chunks.select(
            F.col(id_col), F.col(group_col),
            fingerprint_md5(F.col("chunk")).alias("__chash"),
        )
    )
    dup = (
        hashed.groupBy("__chash")
        .agg(F.count_distinct(F.col(id_col)).alias("__ndocs"))
        .filter(F.col("__ndocs") > 1)
        .select("__chash")
    )
    gh = _pin(
        hashed.join(dup, "__chash").select("__chash", group_col).distinct()
    )
    a = gh.select(F.col("__chash"), F.col(group_col).alias("grp_a"))
    b = gh.select(F.col("__chash"), F.col(group_col).alias("grp_b"))
    return (
        a.join(b, "__chash")
        .filter(F.col("grp_a") < F.col("grp_b"))
        .groupBy("grp_a", "grp_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_chunks"))
    )


def chunk_self_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    words_per_chunk: int = 12,
    keep_text: bool = False,
) -> DataFrame:
    """INTRA-document chunk dedup (RefinedWeb-style boilerplate removal):
    drop every repeat of a chunk WITHIN its own document, keeping the first
    occurrence. Complements :func:`chunk_dedup` (which removes chunks
    duplicated ACROSS documents): nav bars, cookie banners and template
    footers repeat inside a single page long before they repeat across the
    corpus slice being processed.

    Entirely ROW-LOCAL — chunking, first-occurrence detection
    (``array_position(chunks, c) == index``) and reassembly are HOF
    expressions inside one scan stage: zero shuffles, zero Python, trivially
    correct at any scale. The position probe is O(chunks²) per document,
    bounded by (len/words_per_chunk)² — tens of comparisons for typical
    pages.

    Returns one row per document: (id_col, n_chunks, n_kept, clean_md5 —
    md5 of the text reassembled from surviving chunks in order). Pipelines
    that want the cleaned CORPUS, not the report, pass ``keep_text=True``
    for an extra ``clean_text`` column feeding the downstream
    fingerprint/dedup stages.
    """
    w = int(words_per_chunk)
    if w <= 0:
        raise ValueError("words_per_chunk must be positive")
    base = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__words"))
    words = F.col("__words")
    n_chunks = F.ceil(F.size(words) / F.lit(float(w))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i * w + 1, w)),
    )
    staged = base.select(F.col(id_col), chunks.alias("__chunks"))
    arr = F.col("__chunks")
    # keep chunk i iff its FIRST occurrence in the array is at i
    # (array_position is 1-based; the filter lambda index is 0-based)
    kept = F.filter(arr, lambda c, i: F.array_position(arr, c) == i + 1)
    staged2 = staged.select(F.col(id_col), arr.alias("__chunks"),
                            kept.alias("__kept"))
    cols = [
        F.col(id_col),
        F.size("__chunks").cast("bigint").alias("n_chunks"),
        F.size("__kept").cast("bigint").alias("n_kept"),
        F.md5(F.concat_ws(" ", F.col("__kept"))).alias("clean_md5"),
    ]
    if keep_text:
        cols.append(F.concat_ws(" ", F.col("__kept")).alias("clean_text"))
    return staged2.select(*cols)


def dup_source_matrix(
    df: DataFrame,
    id_col: str,
    content_col: str,
    group_col: str,
    portable_hash: bool = True,
) -> DataFrame:
    """Cross-source duplication matrix: for every unordered source pair
    (a ≤ b), how many DOCUMENT PAIRS share a content fingerprint — the
    ingestion diagnostic that answers "which feeds mirror which" (and
    "how much does each feed copy itself") before anyone debates crawl
    priorities. A large (src3, src7) cell means one of them is a mirror;
    a large diagonal cell means the feed re-posts its own content.

    Returns one row per pair with any shared content:

    - ``src_a``/``src_b``  group labels, ``src_a <= src_b``
    - ``n_fingerprints``   distinct contents behind the pair
    - ``n_pairs``          duplicate doc pairs: Σ over fingerprints of
                           n_a·n_b (a<b) or n·(n−1)/2 (diagonal)

    Scale: only (fingerprint, group) rows shuffle — content never moves —
    and pair expansion happens ROW-LOCALLY over each fingerprint's sorted
    (group, n) array (bounded by the distinct groups touching it, ≤
    |sources|, never cluster size). ONE lineage end-to-end: the previous
    count-table self-join + diagonal-branch union consumed the corpus
    groupBy three times (three corpus scans replayed per run — the
    round-11 dup_source_matrix driver-outlier's job fan-out); the HOF
    form scans once and joins nothing.
    """
    fp = (
        fingerprint_md5(F.col(content_col))
        if portable_hash
        else F.xxhash64(content_col).cast("string")
    )
    counts = (
        df.select(fp.alias("fingerprint"), F.col(group_col).alias("g"))
        .groupBy("fingerprint", "g")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # per fingerprint: groups sorted ascending (g unique within the
    # fingerprint after the groupBy, so struct order == group order),
    # then every unordered pair emitted in one pass — (i, j>i) gives the
    # cross cells with src_a < src_b, the diagonal cell rides along with
    # n·(n−1) div 2 (exact BIGINT: the product is even) and self-filters
    # via np > 0 when the group holds a single copy, exactly the old
    # `n >= 2` branch filter (a 1-copy group contributes neither pairs
    # nor a fingerprint to its diagonal cell)
    pairs = F.expr(
        """
        filter(
            flatten(transform(__arr, (x, i) -> concat(
                array(named_struct(
                    'src_a', x.g, 'src_b', x.g,
                    'np', (CAST(x.n AS BIGINT) * (x.n - 1)) div 2)),
                transform(slice(__arr, i + 2, size(__arr) - i - 1), y ->
                    named_struct(
                        'src_a', x.g, 'src_b', y.g,
                        'np', CAST(x.n AS BIGINT) * y.n))
            ))),
            p -> p.np > 0)
        """
    )
    return (
        counts.groupBy("fingerprint")
        .agg(F.sort_array(F.collect_list(F.struct("g", "n"))).alias("__arr"))
        .select(F.explode(pairs).alias("__p"))
        .select("__p.src_a", "__p.src_b", "__p.np")
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.sum("np").cast("bigint").alias("n_pairs"),
        )
    )
