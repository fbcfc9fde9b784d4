"""PCA covariance: moment sums wider than the per-row decimal type."""
from decimal import Decimal

import flatbread_spark.operators.pca as pca
from flatbread_spark import release_caches


def test_covariance_moment_sums_past_16_integer_digits(spark, monkeypatch):
    """Partials are decimal(28,12) (16 integer digits) but their sum is
    decimal(38,12): three partitions of 6e15-sized moments sum past 1e16,
    which the re-injected local relation and the n/mean literals must
    hold without overflowing."""
    big = Decimal(6 * 10**15)

    def partials(df, vec_col, dim, products=True):
        rows = [(-1, -1, Decimal(1)), (0, -1, big), (0, 0, big)] * 3
        return df.sparkSession.createDataFrame(
            rows, "i int, j int, psum decimal(28,12)"
        )

    monkeypatch.setattr(pca, "moment_partials", partials)
    df = spark.createDataFrame([([1.0],)], ["v"])
    try:
        rows = pca.covariance_matrix(df, "v", 1).collect()
    finally:
        release_caches("pca")
    s = m = 3 * float(big)
    assert [(r["i"], r["j"], r["cov"]) for r in rows] == [
        (0, 0, round(s / 3 - (m / 3) * (m / 3), 9))
    ]
