"""Library code leaves shared process and session state as it found it.

- Operators write no session conf: every internal collect runs under the
  caller's own AQE and limit settings, so a query the caller runs on
  another thread meanwhile never sees an override.
- The cache registry never loses a pin made while ``release`` or
  ``unpin`` runs ``unpersist``, from the same thread or another.
- The entry module's streaming harnesses remove their temp directories,
  and the round-trip queries reuse one directory per process.
"""
import glob
import os
import sys
import tempfile
import threading
import time

from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

from tests.conftest import SF_DIR


class _FakeFrame:
    def __init__(self, on_unpersist=None):
        self.on_unpersist = on_unpersist

    def unpersist(self):
        if self.on_unpersist:
            self.on_unpersist()


def test_release_keeps_a_frame_pinned_during_unpersist(monkeypatch):
    from flatbread_spark import cache

    monkeypatch.setattr(cache, "_PINNED", [])
    late = _FakeFrame()
    cache.register(_FakeFrame(lambda: cache.register(late, tag="late")), tag="old")
    assert cache.release() == 1
    assert cache.pinned_tags() == ["late"]
    assert cache.unpin(late) and cache.pinned_tags() == []


def test_registry_survives_concurrent_unpins(monkeypatch):
    from flatbread_spark import cache

    monkeypatch.setattr(cache, "_PINNED", [])
    n_threads, per_thread = 8, 200
    lost = []

    def churn():
        for _ in range(per_thread):
            # unpersist yields the interpreter lock, as a JVM call does
            df = cache.register(_FakeFrame(lambda: time.sleep(0)), tag="tmp")
            cache.register(_FakeFrame(), tag="keep")
            if not cache.unpin(df):
                lost.append(df)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=churn) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert lost == []
    assert cache.pinned_tags() == ["keep"] * (n_threads * per_thread)


def test_operators_write_no_session_conf(spark, documents, embeddings, monkeypatch):
    from flatbread_spark import cache
    from flatbread_spark.operators.curation import vocab_overlap
    from flatbread_spark.operators.dedup import minhash_lsh_pairs, minhash_probe
    from flatbread_spark.operators.graph import connected_components
    from flatbread_spark.operators.kmeans import kmeans_lloyd
    from flatbread_spark.operators.pca import covariance_matrix
    from flatbread_spark.operators.ranking import quantile_bucketize, scalable_pos
    from flatbread_spark.operators.vocabulary import characteristic_terms

    writes = []
    for name in ("set", "unset"):
        real = getattr(RuntimeConfig, name)

        def record(self, *args, _name=name, _real=real):
            writes.append((_name, args))
            return _real(self, *args)

        monkeypatch.setattr(RuntimeConfig, name, record)

    pinned = {id(df) for _t, df in cache._PINNED}
    try:
        nums = spark.range(0, 40).select(
            F.col("id").alias("k"), (F.col("id") * 7 % 40).alias("v")
        )
        scalable_pos(nums, ["v", "k"])
        quantile_bucketize(nums, "v", "k", 4)
        kmeans_lloyd(embeddings.select("vec_id", "embedding"), "vec_id",
                     "embedding", k=2, iters=1)
        covariance_matrix(embeddings, "embedding", 64)
        characteristic_terms(documents, "source", "text", k=3, min_count=1)
        vocab_overlap(documents, "source", "text")
        minhash_lsh_pairs(documents, "doc_id", "text", max_band_bucket=2)
        even = F.col("doc_id") % 2 == 0
        minhash_probe(documents.filter(~even), documents.filter(even),
                      "doc_id", "text", max_band_bucket=2)
        nodes = spark.createDataFrame([(i,) for i in range(6)], "id bigint")
        edges = spark.createDataFrame([(0, 1), (1, 2), (4, 5)],
                                      "id_a bigint, id_b bigint")
        labels = connected_components(nodes, edges)
    finally:
        for _t, df in [e for e in cache._PINNED if id(e[1]) not in pinned]:
            cache.unpin(df)
    assert writes == []
    assert {r["id"]: r["cluster_id"] for r in labels.collect()} == {
        0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4,
    }


def _dirs(prefix):
    return set(glob.glob(os.path.join(tempfile.gettempdir(), prefix + "*")))


def test_stream_harness_removes_its_temp_dir(spark):
    import __spark_entry__ as entry

    before = _dirs("fb_stream_dedup_")
    first = sorted(r[0] for r in entry.q_stream_dedup_replay(spark, SF_DIR).collect())
    second = sorted(r[0] for r in entry.q_stream_dedup_replay(spark, SF_DIR).collect())
    assert first and first == second
    assert _dirs("fb_stream_dedup_") - before == set()


def test_roundtrip_queries_reuse_one_dir_per_process(spark):
    import __spark_entry__ as entry

    before = _dirs("fb_rt_csv_")
    first = sorted(entry.q_csv_roundtrip(spark, SF_DIR).collect())
    second = sorted(entry.q_csv_roundtrip(spark, SF_DIR).collect())
    assert first and first == second
    assert len(_dirs("fb_rt_csv_") - before) <= 1
