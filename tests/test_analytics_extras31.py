"""Semantic invariants for batch 31 — properties the oracle hash
cannot see."""

from __future__ import annotations

from hivetomysql_spark.tables import load_table


def test_decision_stump_gini_bounds_and_coverage(spark, sf_dir, Q):
    out = Q["ml_decision_stump"](spark, sf_dir).collect()
    o = load_table(spark, sf_dir, "orders")
    n = o.count()
    # 9 decile thresholds + one indicator per priority class
    n_prio = o.select("o_orderpriority").distinct().count()
    assert len(out) == 9 + n_prio
    ginis = [r["gini"] for r in out]
    assert ginis == sorted(ginis)
    for r in out:
        assert 0.0 <= r["gini"] <= 0.5
        assert r["n"] == n


def test_theil_sen_matches_data_scale(spark, sf_dir, Q):
    r = Q["stats_theil_sen"](spark, sf_dir).collect()[0]
    assert r["n_pairs"] == r["n_points"] * (r["n_points"] - 1) // 2
    # monthly revenue of a stationary generator: slope magnitude far
    # below the revenue level itself
    assert abs(r["slope_per_month"]) < abs(r["intercept"])


def test_incremental_dedup_partitions_batch(spark, sf_dir, Q):
    out = Q["pipeline_incremental_dedup"](spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    n_batch = docs.where("doc_id >= 400").count()
    assert sum(r["n_new"] for r in out) == n_batch
    for r in out:
        assert r["n_exact_dup"] + r["n_near_dup"] + r["n_kept"] == r["n_new"]


def test_dp_quantile_lands_near_true_median(spark, sf_dir, Q):
    r = Q["privacy_dp_quantile"](spark, sf_dir).collect()[0]
    assert 0 <= r["picked_bin"] < r["n_bins"]
    # with eps=1 and peaked utility the mechanism should select a bin
    # whose center is within a few bin widths of the true median
    o = load_table(spark, sf_dir, "orders")
    import pyspark.sql.functions as F

    lo, hi = o.agg(F.min("o_totalprice"), F.max("o_totalprice")).collect()[0]
    width = (hi - lo) / r["n_bins"]
    assert abs(r["dp_median"] - r["true_median"]) < 4 * width
