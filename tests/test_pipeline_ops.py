"""Pipeline operators: dedup, similarity, text analysis, multimodal plumbing,
windowed/sessionized events. Small synthetic frames with hand-checkable
answers, plus invariants on the driver testdata."""
import math

from pyspark.sql import functions as F

from flatbread_spark.functions.text import (
    bpe_ish_token_count,
    lang_id,
    quality_score,
    token_count,
    word_shingles,
)
from flatbread_spark.operators.dedup import (
    dedup_exact,
    embedding_dup_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    simhash_signatures,
)
from flatbread_spark.operators.similarity import knn_bruteforce, knn_lsh


def docs_df(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
        (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
        (4, "completely different text about spark engines and shuffles"),
        (5, "der hund läuft und der mann und die frau"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_exact_keeps_min_id(spark):
    out = {r.fingerprint: (r.doc_id, r.n_dups)
           for r in dedup_exact(docs_df(spark), "doc_id", "text").collect()}
    assert len(out) == 4  # 5 docs, one exact dup
    dup_group = [v for v in out.values() if v[1] == 2]
    assert dup_group == [(1, 2)]  # keeps lowest id


def test_ngram_jaccard_finds_near_dup(spark):
    pairs = ngram_jaccard_pairs(docs_df(spark), "doc_id", "text", n=2, threshold=0.5)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert (1, 3) in got and got[(1, 3)] == 1.0
    assert (1, 2) in got and 0.5 <= got[(1, 2)] < 1.0
    assert not any(4 in p or 5 in p for p in got)


def test_minhash_agrees_with_exact_jaccard_on_dups(spark):
    pairs = minhash_lsh_pairs(
        docs_df(spark), "doc_id", "text", n=2, num_hashes=32, bands=16, threshold=0.5
    )
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert got.get((1, 3)) == 1.0
    assert (1, 2) in got  # high-similarity pair must collide in some band


def test_minhash_degenerate_bucket_cap(spark):
    """Adversarial all-identical corpus (ADVICE r2 skew hardening): every
    band bucket holds all N docs, so the uncapped self-join would emit
    N(N-1)/2 candidates; with the cap, each over-cap bucket degrades to N-1
    star edges around the bucket minimum — bounded candidates, and the
    downstream cluster is still fully connected."""
    from flatbread_spark.operators.dedup import minhash_lsh_pairs
    from flatbread_spark.operators.graph import dedup_clusters

    n_docs = 40
    df = spark.createDataFrame(
        [(i, "the same exact text repeated in every document here") for i in range(n_docs)],
        ["doc_id", "text"],
    )
    capped = minhash_lsh_pairs(
        df, "doc_id", "text", n=2, num_hashes=32, bands=8,
        threshold=0.5, max_band_bucket=5,
    )
    rows = capped.collect()
    # star edges only: (0, x) for every other doc — N-1 pairs, not N(N-1)/2
    assert len(rows) == n_docs - 1
    assert all(r.id_a == 0 and r.jaccard == 1.0 for r in rows)
    # clusters survive the cap: one component, survivor = min id
    cc = dedup_clusters(df, capped, id_col="doc_id").collect()
    assert {r.cluster_id for r in cc} == {0}
    assert sum(r.is_survivor for r in cc) == 1
    # uncapped path unchanged (exact r2 behavior)
    full = minhash_lsh_pairs(
        df, "doc_id", "text", n=2, num_hashes=32, bands=8,
        threshold=0.5, max_band_bucket=None,
    )
    assert full.count() == n_docs * (n_docs - 1) // 2


def test_simhash_exact_dup_distance_zero(spark):
    sigs = {r["__id"]: r["__sig"]
            for r in simhash_signatures(docs_df(spark), "doc_id", "text", n=2).collect()}
    assert sigs[1] == sigs[3]
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in simhash_pairs(docs_df(spark), "doc_id", "text", n=2,
                                    max_hamming=10, bands=8).collect()}
    assert pairs.get((1, 3)) == 0
    assert (1, 2) in pairs and pairs[(1, 2)] > 0


def test_word_shingles_short_text(spark):
    df = spark.createDataFrame([("a b",)], ["t"])
    [row] = df.select(word_shingles(F.col("t"), 4).alias("s")).collect()
    assert row.s == ["a b"]  # shorter than n → whole text as one shingle


def test_embedding_dups_and_knn(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], "x"),
        (2, [0.999, 0.01, 0.0], "x"),   # near-dup of 1
        (3, [0.0, 1.0, 0.0], "x"),
        (4, [0.0, 0.0, 1.0], "y"),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    dups = embedding_dup_pairs(emb, "vec_id", "embedding", threshold=0.95)
    got = [(r.id_a, r.id_b) for r in dups.collect()]
    assert got == [(1, 2)]

    knn = knn_bruteforce(emb, emb.filter(F.col("vec_id") == 1), k=2)
    ranked = [(r.rank, r.neighbor_id) for r in knn.collect()]
    assert sorted(ranked) == [(1, 2), (2, 3)]  # 3 before 4 on id tiebreak


def test_repetition_ratio(spark):
    from flatbread_spark.functions.text import repetition_ratio

    rows = [
        (1, "a b a b a b"),          # grams: ab,ba,ab,ba,ab -> 2 distinct of 5
        (2, "all words differ here"),  # no repeated 2-gram
        (3, "x"),                      # short text -> single gram, ratio 0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r.rep for r in df.select(
        "doc_id", repetition_ratio(F.col("text"), 2).alias("rep")).collect()}
    assert got[1] == 0.6
    assert got[2] == 0.0
    assert got[3] == 0.0


def test_sample_stratified_deterministic(spark, documents):
    from flatbread_spark.operators.sampling import (
        sample_deterministic,
        sample_stratified,
    )

    out = sample_stratified(
        documents, key_col="doc_id", strata_col="lang",
        rates={"en": 1.0}, default_rate=0.0,
    )
    # rate 1.0 keeps every en doc, rate 0.0 drops everything else
    assert out.count() == documents.filter(F.col("lang") == "en").count()
    assert out.filter(F.col("lang") != "en").count() == 0

    # same keys → same sample, regardless of partitioning; salt decouples
    s1 = {r.doc_id for r in sample_deterministic(documents, "doc_id", 0.3).collect()}
    s2 = {r.doc_id for r in
          sample_deterministic(documents.repartition(13), "doc_id", 0.3).collect()}
    s3 = {r.doc_id for r in
          sample_deterministic(documents, "doc_id", 0.3, salt="other").collect()}
    assert s1 == s2
    assert s1 != s3
    # subsample nesting: a lower rate with the same salt is a subset
    s_small = {r.doc_id for r in sample_deterministic(documents, "doc_id", 0.1).collect()}
    assert s_small <= s1


def test_connected_components_and_dedup_clusters(spark):
    """Chain A-B-C must collapse to ONE cluster (pairwise survivor-picking
    over-deletes); singletons survive as their own cluster."""
    from flatbread_spark.operators.graph import connected_components, dedup_clusters

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], ["doc_id"])
    #  chain 1-2-3, pair 5-6, singletons 4 and 7
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"]
    )
    cc = {r.doc_id: r.cluster_id for r in
          connected_components(nodes, pairs, id_col="doc_id").collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}

    out = {r.doc_id: (r.cluster_id, r.is_survivor) for r in
           dedup_clusters(nodes, pairs, id_col="doc_id").collect()}
    survivors = {d for d, (_, s) in out.items() if s}
    assert survivors == {1, 4, 5, 7}

    # long chain converges (diameter > 2)
    chain = spark.createDataFrame([(i, i + 1) for i in range(1, 7)], ["id_a", "id_b"])
    cc2 = {r.doc_id: r.cluster_id for r in
           connected_components(nodes, chain, id_col="doc_id").collect()}
    assert all(v == 1 for v in cc2.values())


def test_ngram_jaccard_hot_shingle_cap(spark):
    """max_shingle_df drops hot shingles from CANDIDATE GENERATION only:
    emitted Jaccards stay exact (full sets); a pair is lost only when every
    shared shingle is hot."""
    boiler = "spark shuffles data across executors"  # shared by ALL docs
    rows = [
        (1, f"{boiler} alpha beta gamma delta epsilon"),
        (2, f"{boiler} alpha beta gamma delta zeta"),   # real near-dup of 1
        (3, f"{boiler} one two three four five"),
        (4, f"{boiler} six seven eight nine ten"),      # only boilerplate shared
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.2).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", n=2, threshold=0.2, max_shingle_df=3
        ).collect()
    }
    # (1,2) survives (shares non-hot shingles) with its EXACT uncapped jaccard
    assert capped[(1, 2)] == uncapped[(1, 2)]
    # boilerplate-only pairs (e.g. 3-4) are pruned by the cap
    assert (3, 4) in uncapped and (3, 4) not in capped
    # a high cap reproduces the uncapped result exactly
    high = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", n=2, threshold=0.2, max_shingle_df=100
        ).collect()
    }
    assert high == uncapped


def test_embedding_dups_lsh_bucket_mode(spark, embeddings):
    """LSH-bucketed candidates: every emitted pair is in the exact all-pairs
    result with an identical cosine (subset with exact values)."""
    exact = {
        (r.id_a, r.id_b): r.cos
        for r in embedding_dup_pairs(embeddings, "vec_id", "embedding", threshold=0.4).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.cos
        for r in embedding_dup_pairs(
            embeddings, "vec_id", "embedding", threshold=0.4,
            lsh_nbits=4, lsh_tables=16,
        ).collect()
    }
    assert set(lsh) <= set(exact)
    assert all(exact[k] == v for k, v in lsh.items())
    assert len(lsh) >= 0.5 * len(exact), f"LSH recall too low: {len(lsh)}/{len(exact)}"


def test_knn_lsh_subset_of_bruteforce_candidates(spark, embeddings):
    queries = embeddings.filter(F.col("vec_id") < 3)
    exact = knn_bruteforce(embeddings, queries, k=5)
    approx = knn_lsh(embeddings, queries, k=5, nbits=4, tables=8)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"LSH recall too low: {recall}"


def test_winnowing_fingerprints(spark):
    from flatbread_spark.functions.text import winnowing_fingerprints

    docs = docs_df(spark)
    fp = winnowing_fingerprints(docs, "doc_id", "text", n=2, w=3)
    got = {}
    for r in fp.collect():
        got.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert got[1] == got[3]          # exact dups → identical fingerprint sets
    overlap = len(got[1] & got[2]) / len(got[1] | got[2])
    assert overlap > 0.3             # near-dups overlap strongly
    assert not (got[1] & got[4])     # unrelated docs don't
    # winnowing compresses: fewer fingerprints than shingles
    n_shingles = 8  # 9 tokens → 8 bigrams
    assert 1 <= len(got[1]) < n_shingles
    # portable and fast hashes select the same *number* per doc is NOT
    # guaranteed; portable mode is self-consistent though
    fp2 = winnowing_fingerprints(docs, "doc_id", "text", n=2, w=3, portable_hash=True)
    counts = {r.doc_id for r in fp2.collect()}
    assert counts == set(got)


def test_text_functions_basics(spark):
    df = spark.createDataFrame(
        [("the cat and the dog sat on the mat",),
         ("!!! ??? ###",)],
        ["t"],
    )
    rows = df.select(
        token_count(F.col("t")).alias("n"),
        bpe_ish_token_count(F.col("t")).alias("bpe"),
        F.round(quality_score(F.col("t")), 2).alias("q"),
        lang_id(F.col("t")).alias("lang"),
    ).collect()
    assert rows[0].n == 9
    assert rows[0].bpe >= rows[0].n  # subword proxy is finer than words
    assert rows[0].lang == "en"
    assert rows[0].q > rows[1].q  # punctuation soup scores worse
    assert rows[1].lang == "und"


def test_sessionize_gap_semantics(spark):
    ns = 1_000_000_000
    rows = [
        # user 1: two sessions (gap 40 min), 3 events
        (1, 1, 0 * ns), (2, 1, 60 * ns), (3, 1, (60 + 2400) * ns),
        # user 2: one session
        (4, 2, 0 * ns),
    ]
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    from flatbread_spark.streaming.windows import sessionize

    out = {r.user_id: (r.n_sessions, r.n_events, r.max_session_events)
           for r in sessionize(ev, gap_minutes=30).collect()}
    assert out[1] == (2, 3, 2)
    assert out[2] == (1, 1, 1)


def test_hourly_rollup_bucket_alignment(spark):
    ns = 1_000_000_000
    rows = [(1, "a", 10 * ns, 1.5), (2, "a", 3599 * ns, 2.5), (3, "a", 3600 * ns, 4.0)]
    ev = spark.createDataFrame(rows, ["event_id", "event_type", "ts", "value"])
    from flatbread_spark.streaming.windows import hourly_rollup

    out = {r.bucket_start: (r.n_events, r.sum_value) for r in hourly_rollup(ev).collect()}
    assert out[0] == (2, 4.0)
    assert out[3600] == (1, 4.0)


def test_read_binary_assets_and_frame_sampling(spark, tmp_path):
    from flatbread_spark.operators.multimodal import (
        extract_features, frame_sample_plan, read_binary_assets,
    )
    from pyspark.sql import functions as F

    media = tmp_path / "media"
    media.mkdir()
    for i in range(3):
        (media / f"clip{i}.bin").write_bytes(bytes([i]) * (100 + i))
    assets = read_binary_assets(spark, str(media), modality="video")
    rows = assets.collect()
    assert len(rows) == 3
    assert all(r.payload is not None and r.meta.source.endswith(".bin") for r in rows)

    # fake a duration so frame sampling fans out: 3 frames per asset at 1s
    with_dur = assets.withColumn(
        "meta",
        F.struct(
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
            F.lit(2000).cast("bigint").alias("duration_ms"),
            F.col("meta.source").alias("source"),
        ),
    )
    frames = frame_sample_plan(with_dur, every_ms=1000)
    assert frames.count() == 9  # 3 assets × timestamps {0,1000,2000}

    feats = extract_features(assets)
    assert feats.count() == 3 and len(feats.columns) == 7


def test_multimodal_feature_schema_and_determinism(spark, documents):
    from flatbread_spark.operators.multimodal import synth_assets_from_documents, extract_features

    assets = synth_assets_from_documents(documents.limit(50))
    feats = extract_features(assets)
    rows = feats.collect()
    assert len(rows) == 50
    r0 = rows[0]
    assert isinstance(r0.feat, list) and len(r0.feat) > 0
    assert r0.n_bytes > 0 and len(r0.sha) == 64
    # deterministic: re-running yields identical features
    again = {r.asset_id: r.feat for r in extract_features(assets).collect()}
    assert all(again[r.asset_id] == r.feat for r in rows)


def test_scalable_pos_matches_window(spark, lineitem):
    """Range-partitioned two-phase pos == unpartitioned row_number pos
    (VERDICT r1 watch item: no single-task window stage on the scale path)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from flatbread_spark.operators.ranking import scalable_pos

    base = (
        lineitem.groupBy("l_orderkey", "l_linenumber")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    order = [F.col("l_orderkey"), F.col("l_linenumber")]
    ranged = scalable_pos(base, order, out_col="__pos__", num_partitions=7)
    window = base.withColumn(
        "__pos__",
        F.row_number().over(Window.orderBy(*order)).cast("double"),
    )
    diff = ranged.exceptAll(window).count() + window.exceptAll(ranged).count()
    assert diff == 0
    # plan fact: the ranged path's window is partitioned (no single task)
    plan = ranged._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_from_df_ranged_strategy(spark, lineitem):
    from flatbread_spark.frame import FlatFrame

    agg = (
        lineitem.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    ff_w = FlatFrame.from_df(agg, index=["l_returnflag"])
    ff_r = FlatFrame.from_df(agg, index=["l_returnflag"], pos_strategy="ranged")
    rows_w = sorted(tuple(r) for r in ff_w.df.collect())
    rows_r = sorted(tuple(r) for r in ff_r.df.collect())
    assert rows_w == rows_r


def test_from_df_auto_pos_strategy(spark, lineitem):
    """auto = window below engine.pos_auto_threshold, ranged above it
    (VERDICT r2 #3: a high-cardinality lift must not serialize through a
    single-task window)."""
    from flatbread_spark.config import CONFIG
    from flatbread_spark.frame import FlatFrame

    big = (
        lineitem.groupBy("l_orderkey", "l_linenumber")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    CONFIG.update_runtime({"engine": {"pos_auto_threshold": 100}})
    try:
        ff = FlatFrame.from_df(big, index=["l_orderkey", "l_linenumber"])
        plan = ff.df._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan
        n = ff.df.count()
        # positions are a dense 1..n despite the partitioned assignment
        stats = ff.df.agg(
            F.min("__pos__").alias("lo"), F.max("__pos__").alias("hi"),
            F.countDistinct("__pos__").alias("nd"),
        ).first()
        assert (stats.lo, stats.hi, stats.nd) == (1.0, float(n), n)
    finally:
        CONFIG.update_runtime({"engine": {"pos_auto_threshold": 100_000}})
    # small frame stays on the window path and matches explicit window output
    small = lineitem.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("qty"))
    ff_a = FlatFrame.from_df(small, index=["l_returnflag"])
    ff_w = FlatFrame.from_df(small, index=["l_returnflag"], pos_strategy="window")
    assert sorted(map(tuple, ff_a.df.collect())) == sorted(map(tuple, ff_w.df.collect()))


def test_cache_registry_release(spark, lineitem):
    """Operator persists route through flatbread_spark.cache and are
    reclaimable (ADVICE r2: caches must not accumulate for the driver's
    lifetime)."""
    import flatbread_spark as fb
    from flatbread_spark import cache as fc

    from tests.conftest import pos_auto_threshold

    before = len(fc.pinned_tags())
    # a pivot above engine.pos_auto_threshold rows keeps its pinned input
    # for the ranged positions (a smaller one is collected and unpinned)
    with pos_auto_threshold(2):
        fb.pivot_table(
            lineitem, index="l_returnflag", columns="l_linestatus",
            values="l_quantity", aggfunc="sum",
        ).to_df().collect()
    assert "frame" in fc.pinned_tags()
    released = fb.release_caches("frame")
    assert released >= 1
    assert "frame" not in fc.pinned_tags()
    fb.release_caches()
    assert len(fc.pinned_tags()) == 0 <= before


def test_gopher_flags_rules(spark):
    from flatbread_spark.functions.text import with_gopher_flags

    good = " ".join(
        ["the quick brown fox jumps over that lazy dog with great energy and"] * 6
    )  # 72 words, all alpha, stopwords present
    bullets = "\n".join(["• item one of the list"] * 10)
    symbols = " ".join(["####word"] * 60)
    rows = [(1, good), (2, bullets), (3, symbols)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in with_gopher_flags(df, "text").collect()}

    assert got[1].gq_pass
    assert not got[2].gq_bullets and not got[2].gq_pass
    assert not got[3].gq_symbols and not got[3].gq_pass


def test_asof_join_directions_and_tolerance(spark):
    from flatbread_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", 1, "L1"), ("a", 5, "L5"), ("a", 10, "L10"), ("b", 3, "LB")],
        ["k", "ts", "lbl"],
    )
    right = spark.createDataFrame(
        [("a", 2, "R2"), ("a", 5, "R5"), ("a", 9, "R9")],
        ["k", "rts", "rv"],
    )
    back = {
        (r.k, r.ts): (r.rv, r.rts)
        for r in asof_join(left, right, on=["k"], left_ts="ts", right_ts="rts").collect()
    }
    assert back[("a", 1)] == (None, None)          # nothing at-or-before
    assert back[("a", 5)] == ("R5", 5)             # equal ts matches
    assert back[("a", 10)] == ("R9", 9)
    assert back[("b", 3)] == (None, None)          # key with no right rows

    fwd = {
        (r.k, r.ts): (r.rv, r.rts)
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="rts", direction="forward"
        ).collect()
    }
    assert fwd[("a", 1)] == ("R2", 2)
    assert fwd[("a", 5)] == ("R5", 5)
    assert fwd[("a", 10)] == (None, None)

    tol = {
        (r.k, r.ts): (r.rv, r.rts)
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="rts",
            tolerance=F.lit(2),
        ).collect()
    }
    assert tol[("a", 10)] == ("R9", 9)             # gap 1 <= 2
    assert tol[("a", 5)] == ("R5", 5)              # gap 0
    # gap 3 from ("a",5)'s R2?  no — R5 matched; check a gap-exceeding case:
    assert tol[("a", 1)] == (None, None)


def test_sample_token_budget_first_crossing_included(spark):
    from flatbread_spark.operators.sampling import sample_hash_bucket, sample_token_budget

    rows = [(i, "en", 10) for i in range(10)] + [(100, "de", 7), (101, "de", 7)]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "tok"])
    out = sample_token_budget(
        df, "doc_id", "lang", F.col("tok"),
        budgets={"en": 25}, default_budget=7, salt="t",
    ).collect()
    en = sorted(r.cum_tokens for r in out if r.lang == "en")
    de = sorted(r.cum_tokens for r in out if r.lang == "de")
    assert en == [10, 20, 30]      # 3rd doc crosses the 25-token budget, included
    assert de == [7]               # budget 7: exactly the first doc
    # determinism: same rows under different partitioning
    out2 = sample_token_budget(
        df.repartition(7), "doc_id", "lang", F.col("tok"),
        budgets={"en": 25}, default_budget=7, salt="t",
    ).collect()
    assert sorted((r.doc_id, r.cum_tokens) for r in out) == sorted(
        (r.doc_id, r.cum_tokens) for r in out2
    )


def test_pii_redaction_spans(spark):
    from flatbread_spark.functions.text import with_pii_redaction

    df = spark.createDataFrame(
        [(1, "write to a.b-c@mail.example.org or see https://x.io/p?a=1 now"),
         (2, "no pii here")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in with_pii_redaction(df, "text").collect()}
    assert got[1].n_email == 1 and got[1].n_url == 1
    assert got[1].text_redacted == "write to <EMAIL> or see <URL> now"
    assert got[2].n_email == 0 and got[2].n_url == 0
    assert got[2].text_redacted == "no pii here"


def test_asof_join_null_right_payload_not_backfilled(spark):
    """A matched right row's own NULL column must stay NULL — not be
    backfilled from an older right row (struct-carry regression test)."""
    from flatbread_spark.operators.asof import asof_join

    left = spark.createDataFrame([("k", 10)], ["k", "ts"])
    right = spark.createDataFrame(
        [("k", 2, "X"), ("k", 9, None)], ["k", "rts", "rv"]
    )
    row = asof_join(left, right, on=["k"], left_ts="ts", right_ts="rts").collect()[0]
    assert row.rts == 9 and row.rv is None


def test_embedding_dups_duplicate_and_string_ids(spark):
    from flatbread_spark.operators.dedup import embedding_dup_pairs

    # duplicate numeric ids: no self-pairs may appear
    rows = [(1, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [1.0, 0.01])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = embedding_dup_pairs(
        df, "vec_id", "embedding", threshold=0.9, lsh_nbits=2, lsh_tables=4, dim=2
    ).collect()
    assert all(r.id_a != r.id_b for r in got)
    assert {(r.id_a, r.id_b) for r in got} == {(1, 2)}

    # string ids flow through the LSH path with their type preserved
    srows = [("a", [1.0, 0.0]), ("b", [1.0, 0.01]), ("c", [0.0, 1.0])]
    sdf = spark.createDataFrame(srows, ["vec_id", "embedding"])
    out = embedding_dup_pairs(
        sdf, "vec_id", "embedding", threshold=0.9, lsh_nbits=2, lsh_tables=4, dim=2
    )
    assert dict(out.dtypes)["id_a"] == "string"
    assert {(r.id_a, r.id_b) for r in out.collect()} == {("a", "b")}


def test_connected_components_string_ids_distributed(spark):
    """Distributed path with NON-numeric ids must keep iterating (the
    decimal-sum probe would NULL out and fake instant convergence)."""
    from flatbread_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], ["id"])
    # chain a-b-c: c needs 2 propagation rounds to reach label 'a'
    edges = spark.createDataFrame([("a", "b"), ("b", "c")], ["id_a", "id_b"])
    got = {
        r.id: r.cluster_id
        for r in connected_components(
            nodes, edges, id_col="id", driver_max_edges=0
        ).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d"}


def test_from_df_rejects_unknown_pos_strategy(spark, lineitem):
    import pytest as _pytest

    from flatbread_spark.frame import FlatFrame

    agg = lineitem.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    with _pytest.raises(ValueError, match="pos_strategy"):
        FlatFrame.from_df(agg, index=["l_returnflag"], pos_strategy="range")


def test_range_join_bucketed_boundaries(spark):
    from flatbread_spark.operators.asof import range_join_bucketed

    left = spark.createDataFrame([("u", 1, 100)], ["k", "lid", "ts"])
    # window [ts+0, ts+50] = [100, 150]; rights at 99,100,125,150,151 and a
    # cross-bucket case (width 50: buckets 2 and 3 both probed)
    right = spark.createDataFrame(
        [("u", 10, 99), ("u", 11, 100), ("u", 12, 125), ("u", 13, 150),
         ("u", 14, 151), ("x", 15, 125)],
        ["k", "rid", "rts"],
    )
    got = sorted(
        r.rid
        for r in range_join_bucketed(
            left, right, on=["k"], left_ts="ts", right_ts="rts", lower=0, upper=50
        ).collect()
    )
    assert got == [11, 12, 13]        # inclusive bounds, wrong key excluded

    # negative lower (window straddling the left ts) and duplicate-bucket dedup
    got2 = sorted(
        r.rid
        for r in range_join_bucketed(
            left, right, on=["k"], left_ts="ts", right_ts="rts", lower=-1, upper=49
        ).collect()
    )
    assert got2 == [10, 11, 12]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="upper"):
        range_join_bucketed(left, right, on=["k"], left_ts="ts", right_ts="rts",
                            lower=5, upper=5)


def test_bm25_topk_ordering(spark):
    import math

    from flatbread_spark.functions.text import bm25_topk

    docs = spark.createDataFrame(
        [(1, "cat cat cat dog"), (2, "cat dog dog dog"), (3, "bird bird fish")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: (r.score, r.rank) for r in
           bm25_topk(docs, "doc_id", "text", ["cat"], k=3).collect()}
    assert set(got) == {1, 2}                # doc 3 has no query terms
    assert got[1][1] == 1 and got[2][1] == 2  # higher tf ranks first
    # hand-computed: N=3, df=2, idf=ln((3-2+0.5)/(2+0.5)+1); dl=4, avgdl=11/3
    idf = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1.0)
    avgdl = 11 / 3
    s1 = round(
        round(idf * (3 * 2.2) / (3 + 1.2 * (1 - 0.75 + 0.75 * (4 / avgdl))), 9), 6
    )
    assert abs(got[1][0] - s1) < 1e-9


def test_text_operators_degenerate_inputs(spark):
    """Empty / whitespace-only / single-token / blank-line / very-long docs
    flow through every text operator without error; trim-identical docs
    (empty vs whitespace) pair as exact near-dups."""
    from flatbread_spark.functions.text import (
        bm25_topk, with_gopher_flags, with_pii_redaction, with_quality,
        with_seq_ngrams,
    )
    from flatbread_spark.operators.dedup import ngram_jaccard_pairs

    rows = [(1, ""), (2, "   "), (3, "word"), (4, "a\n\n\nb"), (5, "x " * 5000)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    assert with_gopher_flags(df, "text").count() == 5
    assert with_pii_redaction(df, "text").count() == 5
    assert with_quality(df, "text").count() == 5
    assert with_seq_ngrams(df, "text").count() == 5
    assert bm25_topk(df, "doc_id", "text", ["x"], k=3).count() == 1
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in ngram_jaccard_pairs(df, "doc_id", "text").collect()}
    assert pairs == {(1, 2): 1.0}


def test_contamination_containment_catches_embedded_prompt(spark):
    """A short eval prompt embedded VERBATIM in a long train doc must flag
    (containment 1.0) even though the pair's Jaccard is tiny — the property
    that makes containment, not Jaccard, the decontamination score."""
    from flatbread_spark.operators.dedup import contamination_pairs

    prompt = "what is the capital of france"
    filler = " ".join(f"tok{i}" for i in range(60))
    train = spark.createDataFrame(
        [(1, f"{filler} {prompt} {filler}"), (2, "unrelated training text only")],
        ["doc_id", "text"],
    )
    eval_df = spark.createDataFrame(
        [(100, prompt), (101, "completely novel eval question here")],
        ["doc_id", "text"],
    )
    got = {(r.train_id, r.eval_id): r.containment
           for r in contamination_pairs(train, eval_df, "doc_id", "text",
                                        n=4, threshold=0.5).collect()}
    assert got == {(1, 100): 1.0}


def test_embedding_allpairs_guard(spark):
    """The keyless all-pairs path refuses corpora above
    engine.allpairs_max_rows instead of silently going quadratic."""
    import pytest as _pytest

    from flatbread_spark.config import CONFIG
    from flatbread_spark.operators.dedup import embedding_dup_pairs

    df = spark.createDataFrame(
        [(i, [float(i)] * 4) for i in range(1, 21)], ["vec_id", "embedding"]
    )
    CONFIG.update_runtime({"engine": {"allpairs_max_rows": 10}})
    try:
        with _pytest.raises(ValueError, match="all-pairs"):
            embedding_dup_pairs(df, "vec_id", "embedding", threshold=0.9)
    finally:
        CONFIG.update_runtime({"engine": {"allpairs_max_rows": 100_000}})
    # under the bound the path still works
    out = embedding_dup_pairs(df, "vec_id", "embedding", threshold=0.99)
    assert out.count() > 0


def test_resize_images_contract(spark, documents):
    """Resize stage: aspect-box contract holds, output is deterministic, and
    payload bytes stay binary through the Arrow boundary."""
    from flatbread_spark.operators.multimodal import (
        extract_features,
        resize_images,
        synth_assets_from_documents,
    )

    assets = synth_assets_from_documents(documents.limit(30))
    imgs = assets.filter("modality = 'image'")
    n_imgs = imgs.count()
    out = resize_images(assets, max_w=128, max_h=96).collect()
    assert len(out) == n_imgs > 0
    assert all(1 <= r.width <= 128 and 1 <= r.height <= 96 for r in out)
    assert all(isinstance(r.payload, (bytes, bytearray)) and r.n_bytes == len(r.payload) for r in out)
    # aspect preserved w.r.t. the fake-decoded dims: scale applied equally
    feats = {r.asset_id: (r.width, r.height) for r in extract_features(imgs).collect()}
    for r in out:
        w0, h0 = feats[r.asset_id]
        if w0 <= 128 and h0 <= 96:
            assert (r.width, r.height) == (max(w0, 1), max(h0, 1))
    # deterministic
    again = {r.asset_id: (r.payload, r.width, r.height)
             for r in resize_images(assets, max_w=128, max_h=96).collect()}
    assert all(again[r.asset_id] == (r.payload, r.width, r.height) for r in out)


def test_cut_matches_pandas(spark):
    """cut() label/assignment parity with pd.cut on float bins, incl. NaN
    for out-of-range and null inputs."""
    import pandas as pd

    from flatbread_spark.functions.binning import cut

    vals = [-5.0, 0.0, 0.5, 100.0, 100.5, 250.0, 300.0, None]
    bins = [0.0, 100.0, 300.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [r.b for r in df.select(cut(F.col("v"), bins).alias("b")).collect()]
    exp = [None if pd.isna(x) else str(x)
           for x in pd.cut(pd.Series(vals, dtype="float64"), bins)]
    assert got == exp


def test_cut_int_edges_render_like_pandas(spark):
    """All-int bins render int labels '(0, 100000]' (pandas keeps the bins
    array int64); ANY float edge flips the whole array to float64 labels.
    Parity target is the CATEGORY rendering (``c.cat.categories``) — that's
    what a groupby/pivot on the cut column uses as keys, and what the
    reference's tablespec serializes. (Iterating the categorical itself
    casts interval edges to the series dtype — a pandas inconsistency we
    deliberately do NOT follow.)"""
    import pandas as pd

    from flatbread_spark.functions.binning import cut

    vals = [5.0, 150000.0, 250000.0, 400000.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    for bins in ([0, 100_000, 200_000, 300_000], [0, 100_000.0, 200_000, 300_000]):
        got = [r.b for r in df.select(cut(F.col("v"), bins).alias("b")).collect()]
        c = pd.cut(pd.Series(vals, dtype="float64"), bins)
        exp = [None if code == -1 else str(c.cat.categories[code])
               for code in c.cat.codes]
        assert got == exp, (bins, got, exp)


def test_chunk_dedup_drops_all_copies_of_shared_chunks(spark):
    from flatbread_spark.operators.dedup import chunk_dedup, explode_word_chunks

    rows = [
        (1, "a b c d e f g h"),   # chunk1 "a b c d", chunk2 "e f g h"
        (2, "a b c d x y z w"),   # shares chunk1 with doc 1
        (3, "p q r s"),           # unique single chunk
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    ch = explode_word_chunks(df, "doc_id", "text", 4).collect()
    assert len(ch) == 5 and {(r.doc_id, r.cidx) for r in ch} == {
        (1, 0), (1, 1), (2, 0), (2, 1), (3, 0)}
    out = {r.doc_id: r for r in chunk_dedup(df, "doc_id", "text", 4).collect()}
    assert out[1].n_dup_chunks == 1 and out[2].n_dup_chunks == 1
    assert out[3].n_dup_chunks == 0
    # cleaned doc 1 == md5("e f g h"); doc 3 survives whole
    import hashlib
    assert out[1].clean_md5 == hashlib.md5(b"e f g h").hexdigest()
    assert out[3].clean_md5 == hashlib.md5(b"p q r s").hexdigest()


def test_chunk_dedup_all_duplicate_doc_yields_null_clean(spark):
    from flatbread_spark.operators.dedup import chunk_dedup

    rows = [(1, "a b c d"), (2, "a b c d")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in chunk_dedup(df, "doc_id", "text", 4).collect()}
    assert out[1].clean_md5 is None and out[2].clean_md5 is None
    assert out[1].n_chunks == 1 and out[1].n_dup_chunks == 1


def test_chunk_overlap_counts_distinct_shared_contents(spark):
    from flatbread_spark.operators.dedup import chunk_overlap

    rows = [
        (1, "a b c d", "s1"),
        (2, "a b c d", "s2"),     # shares "a b c d" with s1
        (3, "a b c d", "s2"),     # same content, same group — counted once
        (4, "x y z w", "s3"),     # unique, no overlap rows
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = chunk_overlap(df, "doc_id", "text", "source", 4).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.grp_a, r.grp_b, r.shared_chunks) == ("s1", "s2", 1)


def test_assign_split_partitions_corpus(spark, documents):
    from flatbread_spark.operators.sampling import assign_split
    from pyspark.sql import functions as F

    out = assign_split(
        documents, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="s"
    )
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == documents.count()
    assert set(counts) <= {"train", "val", "test"}
    assert counts["train"] > counts.get("val", 0)
    # stable under repartitioning: same doc -> same split
    again = assign_split(
        documents.repartition(13), "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="s"
    )
    a = {(r.doc_id, r.split) for r in out.select("doc_id", "split").collect()}
    b = {(r.doc_id, r.split) for r in again.select("doc_id", "split").collect()}
    assert a == b


def test_assign_split_validation(documents):
    import pytest
    from flatbread_spark.operators.sampling import assign_split

    with pytest.raises(ValueError):
        assign_split(documents, "doc_id", {})
    with pytest.raises(ValueError):
        assign_split(documents, "doc_id", {"a": 0.9, "b": 0.2})


def test_dedup_incremental_statuses(spark, documents):
    from flatbread_spark.operators.dedup import dedup_incremental
    from pyspark.sql import functions as F

    fp = F.md5(F.substring("text", 1, 30))
    corpus = documents.filter(F.col("doc_id") < 100).select(
        F.md5(F.substring("text", 1, 30)).alias("fingerprint")
    )
    batch = documents.filter(F.col("doc_id") >= 100).select("doc_id", "text")
    out = dedup_incremental(batch, "doc_id", fp, corpus)
    assert out.count() == batch.count()
    # statuses partition the batch; a doc marked new must be the min id of
    # its fingerprint group and absent from the corpus set
    seen = {r.fingerprint for r in corpus.distinct().collect()}
    rows = out.collect()
    from collections import defaultdict
    groups = defaultdict(list)
    for r in rows:
        groups[r.fingerprint].append(r)
    for fprint, rs in groups.items():
        if fprint in seen:
            assert all(r.status == "dup_corpus" for r in rs)
        else:
            mn = min(r.doc_id for r in rs)
            for r in rs:
                assert r.status == ("new" if r.doc_id == mn else "dup_batch")


def test_apportioned_ranged_matches_window(spark, lineitem):
    """VERDICT r4 #3 (the last single-task funnel): value_counts(add_pct=True)
    on a >threshold-cardinality column routes apportioned rounding through the
    two-phase ranged cumsum — values and positions identical to the window
    path, zero SinglePartition in the executed plan."""
    from flatbread_spark.config import CONFIG
    from flatbread_spark.operators.counts import value_counts

    def canon(ff):
        out = []
        for r in ff.df.collect():
            out.append(tuple(repr(v) if isinstance(v, float) else v for v in r))
        return sorted(out, key=repr)

    CONFIG.update_runtime({"engine": {"pos_auto_threshold": 100}})
    try:
        ff_r = value_counts(lineitem, "l_orderkey", add_pct=True, ndigits=2, base=100)
        assert ff_r.pos_ranged
        plan = ff_r.df._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan
        rows_r = canon(ff_r)
    finally:
        CONFIG.update_runtime({"engine": {"pos_auto_threshold": 100_000}})
    ff_w = value_counts(lineitem, "l_orderkey", add_pct=True, ndigits=2, base=100)
    assert not ff_w.pos_ranged
    assert rows_r == canon(ff_w)
    # apportioning invariant: data-row pcts sum exactly to base on both paths
    pct = ff_r.cols[1].name
    tot = [float(r[pct]) for r in ff_r.df.collect()
           if r[ff_r.index[0]] != "Totals"]
    assert abs(sum(tot) - 100.0) < 1e-9


def test_apportioned_ranged_null_propagation(spark):
    """Nulls through the ranged apportioning path: null cells stay null,
    contribute 0 to the running sum, and the rounded values match the
    window path cell-for-cell (same contract _apportioned_round documents)."""
    import pandas as pd

    from flatbread_spark.config import CONFIG
    from flatbread_spark.frame import FlatFrame

    n = 240
    pdf = pd.DataFrame({
        "k": [f"r{i:04d}" for i in range(n)],
        "a": [float(i % 7) if i % 5 else None for i in range(n)],
        "b": [float((i * 3) % 11) for i in range(n)],
    })
    sdf = spark.createDataFrame(pdf)

    def run(threshold):
        CONFIG.update_runtime({"engine": {"pos_auto_threshold": threshold}})
        try:
            ff = FlatFrame.from_df(sdf, index=["k"]).add_totals(axis=0)
            out = ff.as_percentages(axis=0, ndigits=2, base=100)
            rows = {
                r["k"]: (
                    repr(r[out.cols[0].name]) if r[out.cols[0].name] is not None else None,
                    repr(r[out.cols[1].name]) if r[out.cols[1].name] is not None else None,
                )
                for r in out.df.collect()
            }
            return out.pos_ranged, rows
        finally:
            CONFIG.update_runtime({"engine": {"pos_auto_threshold": 100_000}})

    ranged, rows_r = run(100)
    window, rows_w = run(100_000)
    assert ranged and not window
    assert rows_r == rows_w
    # nulls preserved exactly where the input was null
    null_keys = {f"r{i:04d}" for i in range(n) if i % 5 == 0}
    for k in null_keys:
        assert rows_r[k][0] is None


def test_two_phase_decimal_cumsums_empty_input(spark):
    """An empty frame yields no rows and typed cumsum columns (an untyped
    empty offset map()[__pid__] fails analysis)."""
    from flatbread_spark.operators.ranking import scalable_pos, two_phase_decimal_cumsums

    df = spark.createDataFrame([], "__pos__ double, v decimal(28,12)")
    out = two_phase_decimal_cumsums(df, ["__pos__"], ["v"])
    assert dict(out.dtypes)["v__cum__"] == "decimal(28,12)"
    assert out.collect() == [] and scalable_pos(df, ["__pos__"]).collect() == []


def test_compression_check_contract(spark):
    """The zlib contract kernel: all three invariants hold for real text,
    empty/None are vacuous-true, and the bound is the documented zlib
    worst case (random bytes may expand, but never past it)."""
    import pandas as pd

    from flatbread_spark.functions._arrow_kernels import (
        make_compression_check_udf,
    )

    kern = make_compression_check_udf()
    df = spark.createDataFrame(
        pd.DataFrame({
            "t": ["hello world " * 50, "", None, "x", "αβγ" * 1000],
        })
    ).withColumn("c", kern("t"))
    rows = df.select("c.*").collect()
    assert all(r.roundtrip_ok and r.within_bound and r.deterministic
               for r in rows)
