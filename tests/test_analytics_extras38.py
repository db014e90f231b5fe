"""Semantic invariants for batch 38 — properties the oracle hash
cannot see."""

from __future__ import annotations

from hivetomysql_spark.tables import load_table


def test_ar_aging_accounts_for_all_open_orders(spark, sf_dir, Q):
    out = Q["orders_ar_aging"](spark, sf_dir).collect()
    o = load_table(spark, sf_dir, "orders")
    n_open = o.where("o_orderstatus = 'O'").count()
    assert sum(r["n_orders"] for r in out) == n_open
    assert abs(sum(r["value_share"] for r in out) - 1.0) < 1e-4
    for r in out:
        assert r["open_value"] > 0


def test_pr_curve_recall_monotone_precision_positive(spark, sf_dir, Q):
    out = sorted(
        Q["ml_precision_recall_curve"](spark, sf_dir).collect(),
        key=lambda r: r["threshold_decile"],
    )
    recalls = [r["recall"] for r in out]
    assert recalls == sorted(recalls)
    assert abs(recalls[-1] - 1.0) < 1e-6
    for r in out:
        assert 0.0 < r["precision"] <= 1.0
        # F1 is the harmonic mean: between min and max of P and R
        assert (
            min(r["precision"], r["recall"]) - 1e-6
            <= r["f1"]
            <= max(r["precision"], r["recall"]) + 1e-6
        )


def test_clustering_coefficient_bounds(spark, sf_dir, Q):
    r = Q["graph_clustering_coefficient"](spark, sf_dir).collect()[0]
    assert 0.0 <= r["avg_clustering"] <= 1.0
    assert r["n_triangles"] >= 0
    assert r["n_nodes_deg2"] > 0


def test_permutation_test_is_aa_on_null_and_p_valid(spark, sf_dir, Q):
    r = Q["stats_permutation_test"](spark, sf_dir).collect()[0]
    assert r["n_replicates"] == 64
    # p in (0, 1]; with the +1 smoothing it is at least 1/(R+1)
    assert 1.0 / 65 - 1e-9 <= r["p_value"] <= 1.0
    assert r["null_mean_abs"] >= 0.0
