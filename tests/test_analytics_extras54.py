"""Semantic invariants for batch 54 — properties the oracle hash
cannot see."""

from __future__ import annotations

import pytest


def test_kmeans_partitions_all_vectors(spark, sf_dir, Q):
    rows = Q["ml_kmeans_lloyd_rounds"](spark, sf_dir).collect()
    assert 1 <= len(rows) <= 4
    assert sum(r["n_members"] for r in rows) == 500
    for r in rows:
        assert r["cluster"] in {0, 1, 2, 3}
        assert r["within_sse"] >= 0
        assert r["n_members"] > 0


def test_monte_carlo_quantiles_ordered_and_centered(spark, sf_dir, Q):
    row = Q["finance_monte_carlo_revenue"](spark, sf_dir).collect()[0]
    assert row["p5"] <= row["p50"] <= row["p95"]
    # 64 paths of 30 iid draws: simulated mean within a few percent
    # of the analytic expectation
    assert abs(row["sim_mean"] - row["expected_total"]) / row[
        "expected_total"
    ] < 0.1
    assert row["n_paths"] == 64 and row["horizon_days"] == 30


def test_perplexity_sane_bounds(spark, sf_dir, Q):
    rows = Q["text_train_eval_perplexity"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_bigrams"] > 0
        # perplexity == exp(avg_nll) by construction
        import math

        assert r["perplexity"] == pytest.approx(
            math.exp(r["avg_nll"]), rel=1e-3
        )
        # bounded by the smoothed-uniform worst case (~vocab size)
        assert 1.0 < r["perplexity"] < 100000
