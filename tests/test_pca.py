"""PCA covariance: collected moment sums re-enter the plan with the schema
Spark collected them in."""
from decimal import Decimal

from flatbread_spark.operators import pca


def test_covariance_keeps_moment_sums_past_16_integer_digits(spark, monkeypatch):
    """The sum of decimal(28,12) per-partition partials is decimal(38,12).
    Moment sums past 16 integer digits must survive the re-injection
    instead of overflowing a narrower decimal(28,12) re-typing."""
    half = Decimal("9000000000000000.5")  # fits one decimal(28,12) partial
    partials = [
        (-1, -1, Decimal(1)), (-1, -1, Decimal(1)),
        (0, -1, half), (0, -1, half),
        (0, 0, half), (0, 0, half),
    ]

    def fake_partials(df, vec_col, dim, products=True):
        return spark.createDataFrame(partials, "i int, j int, psum decimal(28,12)")

    monkeypatch.setattr(pca, "moment_partials", fake_partials)
    df = spark.range(1).selectExpr("array(cast(1.0 as float)) as emb")
    try:
        rows = pca.covariance_matrix(df, "emb", dim=1).collect()
    finally:
        from flatbread_spark.cache import release

        release("pca")
    total = float(half * 2)  # 18000000000000001, 17 integer digits
    n = 2.0
    assert [(r["i"], r["j"]) for r in rows] == [(0, 0)]
    assert rows[0]["cov"] == total / n - (total / n) * (total / n)
