"""Structured Streaming: the streaming rollup over a file source must agree
with the batch rollup on the same data (same grouping, same buckets)."""
import math
import os

import pytest

from pyspark.sql import functions as F

from flatbread_spark.streaming.windows import hourly_rollup, stream_hourly_rollup

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_event_ops_dtype_polymorphic(spark, events):
    """The event-time operators must give IDENTICAL results whether ts
    arrives as the parquet's native timestamp type or as BIGINT epoch-ns —
    the r3 environment shift (TIMESTAMP_NTZ on pyspark 4.x) must never
    break them again. Synthesizes the bigint-ns variant from the same rows."""
    from flatbread_spark.functions.eventtime import ensure_epoch_ns
    from flatbread_spark.streaming.windows import sessionize

    as_ns = ensure_epoch_ns(events, "ts")
    assert dict(as_ns.dtypes)["ts"] == "bigint"
    # idempotent on the already-normalized frame
    assert dict(ensure_epoch_ns(as_ns, "ts").dtypes)["ts"] == "bigint"

    native = {
        (r.bucket_start, r.event_type): (r.n_events, r.sum_value)
        for r in hourly_rollup(events).collect()
    }
    ns = {
        (r.bucket_start, r.event_type): (r.n_events, r.sum_value)
        for r in hourly_rollup(as_ns).collect()
    }
    assert native == ns and native

    s_native = {r.user_id: (r.n_sessions, r.n_events) for r in
                sessionize(events, gap_minutes=30).collect()}
    s_ns = {r.user_id: (r.n_sessions, r.n_events) for r in
            sessionize(as_ns, gap_minutes=30).collect()}
    assert s_native == s_ns and s_native


def test_ensure_epoch_ns_leaves_the_session_timezone_alone(spark, events):
    """TIMESTAMP_NTZ wall clock converts as UTC under any session zone, and
    the conversion writes no session state."""
    from datetime import datetime, timedelta

    from flatbread_spark.functions.eventtime import ensure_epoch_ns

    def epoch_ns():
        return [r.ts for r in ensure_epoch_ns(events, "ts").orderBy("event_id").collect()]

    assert dict(events.dtypes)["ts"] == "timestamp_ntz"
    utc, zone = epoch_ns(), spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        assert epoch_ns() == utc
        assert spark.conf.get("spark.sql.session.timeZone") == "America/Los_Angeles"
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    wall = events.orderBy("event_id").first().ts
    assert utc[0] == (wall - datetime(1970, 1, 1)) // timedelta(microseconds=1) * 1000


def test_stream_rollup_matches_batch(spark, events, tmp_path):
    batch = {
        (r.bucket_start, r.event_type): (r.n_events, r.sum_value)
        for r in hourly_rollup(events).collect()
    }

    # file stream sources consume a directory; stage the single parquet file
    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    os.symlink(
        os.path.join(SF_DIR, "events.parquet"), stream_dir / "events.parquet"
    )
    sdf = stream_hourly_rollup(spark, str(stream_dir), events.schema)
    assert sdf.isStreaming
    q = (
        sdf.writeStream.format("memory")
        .queryName("rollup_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.bucket_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM rollup_test").collect()
    }
    assert set(got) == set(batch)
    for key, (n, s) in batch.items():
        gn, gs = got[key]
        assert gn == n
        assert math.isclose(gs, s, rel_tol=1e-9)


def test_stateful_stream_sessionize_matches_batch(spark, events, tmp_path):
    from flatbread_spark.streaming.stateful import stream_sessionize
    from flatbread_spark.streaming.windows import sessionize

    batch = {
        r.user_id: (r.n_sessions, r.n_events, r.max_session_events)
        for r in sessionize(events, gap_minutes=30).collect()
    }

    stream_dir = tmp_path / "events_stateful"
    stream_dir.mkdir()
    os.symlink(
        os.path.join(SF_DIR, "events.parquet"), stream_dir / "events.parquet"
    )
    sdf = stream_sessionize(spark, str(stream_dir), events.schema, gap_minutes=30)
    assert sdf.isStreaming
    q = (
        sdf.writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # update mode appends refreshed totals per batch; last row per user wins
    pdf = spark.sql("SELECT * FROM sess_test").toPandas()
    got = {
        int(r.user_id): (int(r.n_sessions), int(r.n_events), int(r.max_session_events))
        for r in pdf.groupby("user_id").tail(1).itertuples()
    }
    assert got == batch


def test_stream_dedup_exact_matches_batch(spark, documents, tmp_path):
    """Watermarked streaming dedup keeps exactly one row per distinct
    content (single availableNow batch — no late arrivals by construction)."""
    from flatbread_spark.streaming.dedup import stream_dedup_exact

    n_distinct = documents.select(F.md5("text")).distinct().count()

    stream_dir = tmp_path / "docs_stream"
    stream_dir.mkdir()
    os.symlink(
        os.path.join(SF_DIR, "documents.parquet"), stream_dir / "documents.parquet"
    )
    sdf = (
        spark.readStream.schema(documents.schema)
        .parquet(str(stream_dir))
        .withColumn("ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id")))
    )
    deduped = stream_dedup_exact(sdf, "text", "ts", delay="10 minutes")
    assert deduped.isStreaming
    q = (
        deduped.writeStream.format("memory")
        .queryName("stream_dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT fingerprint FROM stream_dedup_test").collect()
    assert len(got) == n_distinct
    assert len({r.fingerprint for r in got}) == n_distinct


def test_streaming_ingest_pipeline_composes(spark, documents, tmp_path):
    """Quality gate + watermarked dedup compose in ONE streaming pipeline
    (the actual ingest shape): row count equals the batch equivalent."""
    from flatbread_spark.functions.text import with_gopher_flags
    from flatbread_spark.streaming.dedup import stream_dedup_exact

    batch_n = (
        with_gopher_flags(documents, "text")
        .filter("gq_stopwords")
        .select(F.md5("text"))
        .distinct()
        .count()
    )

    stream_dir = tmp_path / "ingest_stream"
    stream_dir.mkdir()
    os.symlink(
        os.path.join(SF_DIR, "documents.parquet"), stream_dir / "documents.parquet"
    )
    sdf = (
        spark.readStream.schema(documents.schema)
        .parquet(str(stream_dir))
        .withColumn("ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id")))
    )
    gated = with_gopher_flags(sdf, "text").filter("gq_stopwords")
    deduped = stream_dedup_exact(gated, "text", "ts", delay="10 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("ingest_pipeline_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT COUNT(*) AS n FROM ingest_pipeline_test").collect()[0].n
    assert got == batch_n


def test_watermark_drops_late_rows_across_restarts(spark, events, tmp_path):
    """Append-mode windowed agg with watermark, driven across TWO runs that
    share a checkpoint: run 1 advances the watermark; run 2 delivers a row
    whose event time is older than the watermark — it must be DROPPED, and
    windows must finalize exactly once."""
    import pandas as pd

    src = tmp_path / "wm_src"; src.mkdir()
    ckpt = str(tmp_path / "wm_ckpt")

    def write_batch(name, rows):
        pdf = pd.DataFrame(rows, columns=["user", "ts_sec", "value"])
        spark.createDataFrame(pdf).coalesce(1).write.parquet(
            str(tmp_path / name)
        )
        # move the part file into the watched dir atomically
        import glob, shutil
        part = glob.glob(str(tmp_path / name / "part-*.parquet"))[0]
        shutil.move(part, str(src / f"{name}.parquet"))

    def run_once():
        stream = (
            spark.readStream.schema("user string, ts_sec long, value double")
            .parquet(str(src))
            .withColumn("__t", F.timestamp_seconds("ts_sec"))
            .withWatermark("__t", "1 hour")
            .groupBy(F.window("__t", "1 hour"), "user")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.unix_timestamp("window.start").alias("w"), "user", "n")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(tmp_path / "wm_out"))
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    h = 3600
    # run 1: two events in hour-0, then one in hour-3 → watermark advances to
    # hour-3 minus 1h = hour-2; hour-0 window finalizes and is emitted
    write_batch("b1", [("u", 10, 1.0), ("u", 20, 1.0), ("u", 3 * h + 5, 1.0)])
    run_once()
    # run 2: a LATE row back in hour-0 (behind the watermark) plus a fresh
    # row in hour-6 → hour-0 must NOT be re-emitted or double-counted
    write_batch("b2", [("u", 30, 1.0), ("u", 6 * h + 5, 1.0)])
    run_once()

    out = spark.read.parquet(str(tmp_path / "wm_out"))
    rows = {(r.w, r.user): r.n for r in out.collect()}
    assert rows[(0, "u")] == 2          # finalized once, late row dropped
    assert (0, "u") not in {k for k, v in rows.items() if v != rows[(0, "u")]}


def test_stream_heavy_hitters_candidates_then_exact_topk(spark, documents, tmp_path):
    """Drained bucketed-MG summaries must contain every true heavy token
    (recall guarantee), and the exact rescore of those candidates must equal
    the batch exact top-k."""
    from collections import Counter

    from flatbread_spark.operators.sketches import rescore_topk
    from flatbread_spark.streaming.topk import (
        drain_final_summary, stream_heavy_hitters,
    )

    stream_dir = tmp_path / "docs_stream"
    stream_dir.mkdir()
    os.symlink(
        os.path.join(SF_DIR, "documents.parquet"), stream_dir / "documents.parquet"
    )
    sdf = spark.readStream.schema(documents.schema).parquet(str(stream_dir))
    hh = stream_heavy_hitters(sdf, "text", width=256, n_buckets=4)
    assert hh.isStreaming
    q = (
        hh.writeStream.format("memory")
        .queryName("hh_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    cand = drain_final_summary(spark.sql("SELECT * FROM hh_test"))
    cand_set = {r["token"] for r in cand.collect()}
    assert 0 < len(cand_set) <= 4 * 256

    exact = Counter()
    for r in documents.select("text").collect():
        exact.update(r["text"].lower().split())
    want = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    # recall: every true top-15 token is among the drained candidates
    assert {t for t, _ in want} <= cand_set
    got = [
        (r["token"], r["n"])
        for r in rescore_topk(documents, "text", cand, 15).collect()
    ]
    assert got == want


def test_stream_heavy_hitters_rejects_bad_params(spark, documents):
    from flatbread_spark.streaming.topk import stream_heavy_hitters

    with pytest.raises(ValueError):
        stream_heavy_hitters(documents, "text", width=0)


def test_stream_latest_state_matches_batch_merge(spark, tmp_path):
    """Streaming latest-wins upsert drains to EXACTLY the batch
    merge_upsert answer over the same change set, independent of how the
    source chops the files into micro-batches (maxFilesPerTrigger=1 →
    one batch per file, exercising cross-batch state)."""
    import pandas as pd

    from flatbread_spark.streaming.upsert import (
        drain_current_state,
        stream_latest_state,
    )

    # three change files: v1 for all keys, v2 updates+tombstones, v3 revives
    files = [
        pd.DataFrame({
            "k": range(1, 21), "version": [1] * 20,
            "tiebreak": range(100, 120),
            "value": [float(i) for i in range(1, 21)],
            "deleted": [False] * 20,
        }),
        pd.DataFrame({
            "k": [2, 4, 6, 8], "version": [2] * 4,
            "tiebreak": [201, 202, 203, 204],
            "value": [20.5, 40.5, 60.5, 80.5],
            "deleted": [False, True, False, True],
        }),
        pd.DataFrame({
            "k": [8, 19], "version": [3, 3], "tiebreak": [301, 302],
            "value": [88.0, 99.0], "deleted": [False, False],
        }),
    ]
    stream_dir = tmp_path / "changes"
    stream_dir.mkdir()
    for i, pdf in enumerate(files):
        pdf.to_parquet(stream_dir / f"part{i}.parquet")

    all_changes = spark.createDataFrame(
        pd.concat(files),
        "k long, version long, tiebreak long, value double, deleted boolean",
    )
    # batch expectation: max (version, tiebreak) wins, tombstones drop
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy(
        F.col("version").desc(), F.col("tiebreak").desc()
    )
    expect = {
        (r.k, r.version, r.value)
        for r in all_changes.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & ~F.col("deleted"))
        .collect()
    }
    assert (4, 2, 40.5) not in expect and (8, 3, 88.0) in expect

    sdf = (
        spark.readStream.schema(all_changes.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    out = stream_latest_state(sdf, "k", "version", "tiebreak", "value", "deleted")
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("upsert_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.k, r.version, r.value)
        for r in drain_current_state(spark.table("upsert_test")).collect()
    }
    assert got == expect


def test_stream_mix_drift_matches_python(spark, events, tmp_path):
    """Streamed per-hour mix counts drained and TVD-scored vs the global
    reference equal a pure-Python recomputation (exact integers)."""
    from collections import Counter, defaultdict

    from flatbread_spark.streaming.drift import (
        drift_from_counts,
        stream_mix_counts,
    )

    stream_dir = tmp_path / "mix_src"
    stream_dir.mkdir()
    raw = events.limit(2000)
    raw.write.mode("overwrite").parquet(str(stream_dir / "part"))
    schema = spark.read.parquet(str(stream_dir / "part")).schema

    counts = stream_mix_counts(spark, str(stream_dir / "part"), schema)
    assert counts.isStreaming
    q = (
        counts.writeStream.format("memory")
        .queryName("mix_drift_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    drained = spark.table("mix_drift_test")

    from flatbread_spark.functions.eventtime import ensure_epoch_ns

    ev = ensure_epoch_ns(raw, "ts")
    reference = ev.groupBy(F.col("event_type").alias("cat")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    got = {
        r["bucket"]: (r["n_window"], r["tvd_ppm"])
        for r in drift_from_counts(drained, reference).collect()
    }

    rows = ev.select("ts", "event_type").collect()
    ref = Counter(r["event_type"] for r in rows)
    R = sum(ref.values())
    per_w = defaultdict(Counter)
    for r in rows:
        per_w[r["ts"] // 3_600_000_000_000][r["event_type"]] += 1
    expect = {}
    for w, c in per_w.items():
        Nw = sum(c.values())
        G = sum(abs(c[k] * R - ref[k] * Nw) for k in set(ref) | set(c))
        expect[w] = (Nw, G * 1_000_000 // (2 * Nw * R))
    assert got == expect


def test_drift_counts_novel_category_matches_batch(spark):
    """A window category ABSENT from the reference must still contribute
    its mass to the TVD (the 'crawler starts returning 90% errors' case):
    ref={A:100}, window={A:10, B:90} ⇒ TVD = ½(|0.1−1.0| + |0.9−0.0|)
    = 0.9 ⇒ 900000 ppm — and must equal the batch sibling tvd_drift."""
    from flatbread_spark.operators.trend import tvd_drift
    from flatbread_spark.streaming.drift import drift_from_counts

    counts = spark.createDataFrame(
        [(1, "A", 10), (1, "B", 90)], "bucket bigint, cat string, n bigint"
    )
    reference = spark.createDataFrame(
        [("A", 100)], "cat string, n bigint"
    )
    row = drift_from_counts(counts, reference).collect()[0]
    assert (row["bucket"], row["n_window"], row["tvd_ppm"]) == (1, 100, 900000)

    # batch cross-check: expand both count tables into row-per-event frames
    win_rows = spark.createDataFrame(
        [("A",)] * 10 + [("B",)] * 90, "c string"
    )
    ref_rows = spark.createDataFrame([("A",)] * 100, "c string")
    batch = tvd_drift(ref_rows, win_rows, "c").collect()[0]
    assert batch["tvd_ppm"] == row["tvd_ppm"] == 900000


def test_stream_drift_drain_check_counts_every_batch(spark):
    """stream_drift checks its drained total against the rows the stream
    ingested, counted over every progress update: with
    numRecentProgressUpdates at 1, Spark's recentProgress buffer keeps
    none of the drain's batches, and a check that summed it reported a
    false "drain shortfall"."""
    import __spark_entry__ as entry
    from flatbread_spark.streaming.replay import _LAST_QUERY

    key = "spark.sql.streaming.numRecentProgressUpdates"
    before = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        rows = entry.q_stream_drift(spark, SF_DIR).collect()
    finally:
        spark.conf.set(key, before)
    assert not _LAST_QUERY["fb_stream_drift"].recentProgress
    assert rows and sum(r["n_window"] for r in rows) > 0


def test_drain_timeout_stops_the_query_and_raises(spark):
    """A drain that outlives its timeout stops the query and raises by
    name, instead of returning while the query still writes its sink: an
    unbounded ``rate`` source never terminates on its own."""
    from flatbread_spark.streaming.replay import _LAST_QUERY, DrainTimeout, drain

    q = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .writeStream.format("memory").queryName("fb_drain_timeout").start()
    )
    try:
        with pytest.raises(DrainTimeout, match="fb_drain_timeout.*1 s"):
            drain(q, timeout=1)
        assert not q.isActive
        assert not spark.streams.active
        assert "fb_drain_timeout" not in _LAST_QUERY
    finally:
        if q.isActive:
            q.stop()
