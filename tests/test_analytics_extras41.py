"""Semantic invariants for batch 41 — properties the oracle hash
cannot see."""

from __future__ import annotations

from pyspark.sql import functions as F

from hivetomysql_spark.tables import load_table


def test_holt_winters_seasonal_level_near_daily_mean(spark, sf_dir, Q):
    r = Q["timeseries_holt_winters_seasonal"](spark, sf_dir).collect()[0]
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.where(F.col("o_orderdate") >= F.lit("1997-01-01"))
        .groupBy(F.col("o_orderdate").cast("date"))
        .count()
    )
    stats = daily.agg(
        F.avg("count").alias("m"), F.stddev_samp("count").alias("s")
    ).collect()[0]
    assert r["n_days"] == daily.count()
    # smoothing tracks the stationary mean within a few sigma
    assert abs(r["level"] - stats["m"]) < 4 * stats["s"]
    assert abs(r["forecast_1"] - stats["m"]) < 5 * stats["s"]


def test_dispersion_bounded_and_sorted(spark, sf_dir, Q):
    out = Q["text_token_dispersion"](spark, sf_dir).collect()
    assert len(out) == 15
    dps = [r["dispersion_dp"] for r in out]
    assert dps == sorted(dps, reverse=True)
    for r in out:
        assert 0.0 <= r["dispersion_dp"] <= 1.0
        assert r["freq"] > 0


def test_isotropy_identity_against_small_exact(spark, sf_dir, Q):
    r = Q["embedding_isotropy"](spark, sf_dir).collect()[0]
    e = load_table(spark, sf_dir, "embeddings")
    assert r["n_vectors"] == e.count()
    assert -1.0 <= r["mean_pairwise_cosine"] <= 1.0
    assert 0.0 <= r["mean_vector_norm"] <= 1.0
    # exact check of the identity on a 20-vector sample
    import itertools
    import math

    vecs = [
        r2["embedding"]
        for r2 in e.where("vec_id < 20").orderBy("vec_id").collect()
    ]
    units = []
    for v in vecs:
        n = math.sqrt(sum(x * x for x in v))
        units.append([x / n for x in v])
    pair = [
        sum(a * b for a, b in zip(u, w))
        for u, w in itertools.combinations(units, 2)
    ]
    mean_exact = sum(pair) / len(pair)
    sv = [sum(u[j] for u in units) for j in range(len(units[0]))]
    n = len(units)
    mean_ident = (sum(x * x for x in sv) - n) / (n * (n - 1))
    assert abs(mean_exact - mean_ident) < 1e-9
