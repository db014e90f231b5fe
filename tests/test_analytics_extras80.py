"""Semantic invariants for batch 80 — properties the oracle hash
cannot see."""

from __future__ import annotations

def test_powerlaw_fit_shape(spark, sf_dir, Q):
    row = Q["graph_degree_powerlaw_fit"](spark, sf_dir).collect()[0]
    assert row["n_nodes"] > 0
    assert row["n_tail"] == row["n_nodes"]  # d_min = 1: whole support
    assert row["mean_degree"] >= 1.0
    assert row["max_degree"] >= 1
    if row["alpha_hat"] is not None:
        # MLE with d_min=1 gives alpha > 1 whenever any degree > 1
        assert row["alpha_hat"] > 1.0
    else:
        # degenerate only when every node has degree exactly 1
        assert row["max_degree"] == 1


def test_seasonal_strength_bounds(spark, sf_dir, Q):
    row = Q["timeseries_seasonal_strength"](spark, sf_dir).collect()[0]
    assert row["n_days"] > 0
    assert row["var_detrended"] > 0
    assert row["var_remainder"] >= 0
    assert 0.0 <= row["seasonal_strength"] <= 1.0
