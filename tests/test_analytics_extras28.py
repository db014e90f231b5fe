"""Semantic invariants for batch 28 — properties the oracle hash
cannot see (both engines computing the same wrong thing would still
hash-match; these pin the modeling down independently)."""

from __future__ import annotations

import math


from hivetomysql_spark.queries import queries
from hivetomysql_spark.tables import load_table


def test_spearman_bounded_and_price_tracks_quantity(spark, sf_dir, Q):
    r = Q["stats_spearman_corr"](spark, sf_dir).collect()[0]
    for c in ("rho_qty_price", "rho_qty_disc", "rho_disc_price"):
        assert -1.0 <= r[c] <= 1.0
    # the synthetic generator draws quantity/price/discount
    # independently, so every pairwise rank association is near zero
    assert abs(r["rho_qty_price"]) < 0.2
    assert abs(r["rho_qty_disc"]) < 0.2
    assert abs(r["rho_disc_price"]) < 0.2


def test_poisson_bootstrap_ci_brackets_point_mean(spark, sf_dir, Q):
    r = Q["stats_poisson_bootstrap"](spark, sf_dir).collect()[0]
    assert r["n_replicates"] == 32
    assert r["ci_lo"] <= r["boot_mean"] <= r["ci_hi"]
    # resample means concentrate around the point estimate: the CI
    # half-width should be a few standard errors, not a blowup
    half = (r["ci_hi"] - r["ci_lo"]) / 2.0
    assert half < 6 * r["boot_se"] + 1e-9
    assert abs(r["boot_mean"] - r["point_mean"]) < 4 * r["boot_se"]


def test_poisson_weights_sum_near_n(spark, sf_dir):
    # Poisson(1) weights keep each replicate's effective size ~ n
    from hivetomysql_spark.queries import stats_suite as m  # noqa: F401

    cdf = m._POIS_CDF
    assert len(cdf) == 7
    mean = sum(
        k * (p - (cdf[k - 1] if k else 0.0)) for k, p in enumerate(cdf)
    ) + 7 * (1.0 - cdf[-1])
    assert math.isclose(mean, 1.0, abs_tol=5e-4)


def test_cooccurrence_cosine_bounds_and_support(spark, sf_dir, Q):
    out = Q["recsys_item_cooccurrence"](spark, sf_dir).collect()
    assert out, "expected at least one co-purchased pair"
    for r in out:
        assert 0.0 < r["cosine"] <= 1.0
        assert r["n_co"] >= 2
        assert r["p1"] < r["p2"]
    cosines = [r["cosine"] for r in out]
    assert cosines == sorted(cosines, reverse=True)


def test_link_prediction_excludes_existing_edges(spark, sf_dir, Q):
    li = load_table(spark, sf_dir, "lineitem")
    import pyspark.sql.functions as F

    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a = op.select("o", F.col("p").alias("u"))
    b = op.select("o", F.col("p").alias("v"))
    edges = {
        (r["u"], r["v"])
        for r in a.join(b, "o")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .collect()
    }
    out = Q["graph_link_prediction"](spark, sf_dir).collect()
    for r in out:
        assert (r["a"], r["c"]) not in edges
        assert 0.0 < r["jaccard"] <= 1.0
        assert r["common_neighbors"] >= 1


def test_woe_iv_identity(spark, sf_dir, Q):
    out = Q["feature_woe_iv"](spark, sf_dir).collect()
    o = load_table(spark, sf_dir, "orders")
    assert sum(r["n_good"] + r["n_bad"] for r in out) == o.count()
    # IV contribution = (gs - bs) * ln(gs / bs): both factors share
    # sign, so every contribution is non-negative by construction
    for r in out:
        assert r["iv_contrib"] >= 0.0
