"""Source readers.

The reference has no file readers (in-memory pandas only — SURVEY §2.2); the
engine exposes Spark's native scans so Catalyst gets predicate pushdown,
column pruning and partition pruning for free. ``load_table`` is the thin
convention wrapper over the driver testdata layout (one parquet per table).

Every ``spark.read.parquet`` without a schema runs a one-task Spark job
(``SchemaMergeUtils.mergeSchemasInParallel``) to read the footers. The
presentation chain loads the same few tables query after query, so
``load_table``/``load_tables`` infer each file's schema once per
SparkSession and pass it to later reads (``.schema(...)``, no job). The
memo is keyed on the file's size and ``mtime_ns`` and on the session confs
that change inference, so a rewritten file or a flipped conf is inferred
again; a path the local filesystem cannot stat is inferred on every read.
"""
from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


# Session confs that change the schema parquet inference returns.
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
# session -> {path: (key, schema)}; one entry per path, so a rewritten
# file replaces its stale schema instead of adding one
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SCHEMAS_LOCK = threading.Lock()


def _file_stamp(path: str) -> tuple:
    """(path, size, mtime_ns) of the file, or of every file under the
    directory; raises OSError when the path cannot be stat'ed locally."""
    if os.path.isdir(path):
        files = [os.path.join(root, f) for root, _, fs in os.walk(path) for f in fs]
    else:
        files = [path]
    return tuple(sorted((f, (st := os.stat(f)).st_size, st.st_mtime_ns) for f in files))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per session
    and file version (see the module docstring)."""
    try:
        key = (_file_stamp(path), tuple(spark.conf.get(k, None) for k in _INFER_CONFS))
    except OSError:
        return spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        hit = _SCHEMAS.setdefault(spark, {}).get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        _SCHEMAS.setdefault(spark, {})[path] = (key, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = _read_parquet(spark, path)
    return out


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options,
) -> DataFrame:
    """Format-generic scan (parquet/orc/csv/json/text/binaryFile).

    Columnar formats (parquet/orc) get predicate pushdown + column pruning
    from Catalyst automatically. For csv/json ALWAYS pass ``schema`` at
    scale: schema inference runs a full extra pass over the data, and for
    json it materializes sampled records on the driver. ``options`` pass
    through to the DataFrameReader (header, delimiter, multiLine, ...)."""
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv" and "header" not in options:
        options["header"] = "true"
    return reader.options(**options).load(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "error",
    partition_by=None,
    max_records_per_file: int | None = None,
    **options,
) -> None:
    """Format-generic sink with layout controls that matter at scale.

    ``partition_by`` writes hive-style directory partitions — the column(s)
    downstream queries filter on become partition-pruning keys (e.g. lang,
    date). ``max_records_per_file`` bounds file sizes so a skewed task can't
    emit one multi-GB file. For bucketed, exchange-free join layouts use
    ``sources.bucketing`` (saveAsTable — bucket metadata needs a catalog)."""
    writer = df.write.format(fmt).mode(mode)
    if fmt == "csv" and "header" not in options:
        options["header"] = "true"  # symmetric with read_table's default
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        writer = writer.partitionBy(*cols)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.options(**options).save(path)
