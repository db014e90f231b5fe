"""Semantic invariants for batch 42 — properties the oracle hash
cannot see."""

from __future__ import annotations

from hivetomysql_spark.tables import load_table


def test_var_cvar_ordering(spark, sf_dir, Q):
    r = Q["finance_var_cvar"](spark, sf_dir).collect()[0]
    assert r["n_days"] > 0
    # CVaR averages the tail at/below VaR: it cannot exceed VaR
    assert r["cvar_95"] <= r["var_95"] + 1e-9
    assert r["daily_vol"] > 0


def test_silhouette_bounds_and_coverage(spark, sf_dir, Q):
    out = Q["embedding_cluster_silhouette"](spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "embeddings")
    assert sum(r["n_members"] for r in out) == e.count()
    for r in out:
        # b >= a by construction (b is the SECOND nearest centroid)
        assert 0.0 <= r["avg_silhouette"] <= 1.0
        assert r["avg_intra_dist"] >= 0.0


def test_peeking_inflates_over_final_look(spark, sf_dir, Q):
    r = Q["events_ab_peeking_bias"](spark, sf_dir).collect()[0]
    assert r["n_looks"] > 0
    assert 0 <= r["n_false_triggers"] <= r["n_looks"]
    # the running max over many looks dominates the single final look
    assert r["max_abs_z"] >= r["final_abs_z"]
