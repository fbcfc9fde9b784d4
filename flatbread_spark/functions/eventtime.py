"""Event-time dtype normalization at the load boundary.

The engine's event-time operators (hourly_rollup, sessionize, as-of / range
join, funnel, cohort, the stateful streaming kernel) all do exact integer
arithmetic on an epoch-nanosecond BIGINT ``ts`` — no timezone ambiguity,
identical semantics in ANSI SQL (``epoch_ns``), and exact bucket math with no
double rounding. What parquet delivers depends on the writer and the Spark
version:

- TIMESTAMP(NANOS) + ``spark.sql.legacy.parquet.nanosAsLong`` → BIGINT ns
- TIMESTAMP(MICROS), isAdjustedToUTC=false (pyspark 4.x) → TIMESTAMP_NTZ
- TIMESTAMP(MICROS), isAdjustedToUTC=true → TIMESTAMP

``ensure_epoch_ns`` folds all three into the BIGINT-ns contract in one
place so every operator is dtype-polymorphic without per-operator branching.
NTZ wall-clock values are interpreted as UTC (their distance from the NTZ
epoch, independent of the session timezone, which the helper leaves alone),
matching how DuckDB's naive TIMESTAMP feeds ``epoch_ns``.

Works on batch AND streaming DataFrames (withColumn only), so the streaming
sources normalize right after ``readStream`` with the same helper.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType, IntegerType, LongType, ShortType, TimestampNTZType, TimestampType,
)

_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)


def ensure_epoch_ns(df: DataFrame, col: str = "ts") -> DataFrame:
    """Return ``df`` with ``col`` as BIGINT epoch-nanoseconds.

    Integral columns pass through unchanged (already epoch-ns by the engine
    contract). TIMESTAMP converts via ``unix_micros`` and TIMESTAMP_NTZ via
    its microsecond distance from the NTZ epoch — both exact (no floating
    point), and NTZ wall-clock is read as UTC so the value agrees with a
    naive-timestamp SQL oracle under any session timezone.
    """
    dt = df.schema[col].dataType
    if isinstance(dt, _INTEGRAL):
        return df
    if isinstance(dt, TimestampNTZType):
        micros = F.timestamp_diff(
            "MICROSECOND", F.expr("TIMESTAMP_NTZ'1970-01-01 00:00:00'"), F.col(col)
        )
    elif isinstance(dt, TimestampType):
        micros = F.unix_micros(F.col(col))
    else:
        raise TypeError(
            f"column {col!r} must be integral epoch-ns or a timestamp, got {dt}"
        )
    return df.withColumn(col, (micros * F.lit(1000)).cast("long"))
