"""Semantic invariants for batch 37 — properties the oracle hash
cannot see."""

from __future__ import annotations

from hivetomysql_spark.tables import load_table


def test_kmeanspp_seeding_reduces_d2_vs_single_center(spark, sf_dir, Q):
    r = Q["ml_kmeans_plusplus_seeding"](spark, sf_dir).collect()[0]
    e = load_table(spark, sf_dir, "embeddings")
    assert r["k"] == 4
    assert r["n_vectors"] == e.count()
    assert r["avg_d2_to_nearest"] >= 0.0
    # 4 D^2-spread centers must beat the trivial 1-center baseline:
    # avg distance to the single seed center
    import pyspark.sql.functions as F

    seed = r["seed_center"]
    base = e.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("x"),
    )
    c = base.where(F.col("vec_id") == seed).select(F.col("x").alias("cx"))

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    d2 = dot(F.col("x"), F.col("x")) - 2 * dot(F.col("x"), F.col("cx")) + dot(
        F.col("cx"), F.col("cx")
    )
    single = base.crossJoin(F.broadcast(c)).agg(F.avg(d2)).collect()[0][0]
    assert r["avg_d2_to_nearest"] < single


def test_newsvendor_fractiles_ordered(spark, sf_dir, Q):
    r = Q["finance_newsvendor_quantile"](spark, sf_dir).collect()[0]
    assert r["n_parts"] > 0
    # a higher service level can never stock less
    assert r["avg_uplift_cf75"] >= r["avg_uplift_cf50"]
    assert r["avg_buffer"] >= 0.0


def test_did_is_aa_test_on_fixture(spark, sf_dir, Q):
    r = Q["event_diff_in_diff"](spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events")
    assert r["n_events"] == ev.count()
    # no real intervention exists: the DiD effect is an A/A estimate
    # and must be small relative to the value scale
    import pyspark.sql.functions as F

    scale = ev.agg(F.stddev_samp("value")).collect()[0][0]
    assert abs(r["did_effect"]) < scale


def test_croston_rate_tracks_demand_scale(spark, sf_dir, Q):
    out = Q["inventory_croston_forecast"](spark, sf_dir).collect()
    assert out
    for r in out:
        assert r["demand_ema"] > 0
        # every observed month has demand, so the interval EMA is 1
        assert abs(r["interval_ema"] - 1.0) < 1e-9
        assert abs(r["croston_rate"] - r["demand_ema"]) < 1e-3
