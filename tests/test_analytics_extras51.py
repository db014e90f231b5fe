"""Semantic invariants for batch 51 — properties the oracle hash
cannot see."""

from __future__ import annotations

import pytest


def test_ddsketch_honors_relative_error_guarantee(spark, sf_dir, Q):
    row = Q["agg_ddsketch_quantile_pinned"](spark, sf_dir).collect()[0]
    # guarantee: (gamma-1)/(gamma+1) with gamma=1.02 -> ~0.0099
    bound = (1.02 - 1.0) / (1.02 + 1.0) + 1e-6
    assert row["p50_rel_err"] <= bound
    assert row["p90_rel_err"] <= bound
    assert row["p99_rel_err"] <= bound
    # sketch is tiny relative to the data
    assert row["n_buckets"] < 1000
    assert row["p50_sketch"] < row["p90_sketch"] < row["p99_sketch"]


def test_dp_mean_clipping_and_noise_bounded(spark, sf_dir, Q):
    rows = Q["privacy_dp_mean_clipped"](spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r["n_clipped"] <= r["n_events"]
        # with eps=1 and n in the thousands, the DP mean lands near
        # the clipped mean; against the true mean allow clip bias +
        # noise but it must stay in a sane band
        assert abs(r["dp_mean"] - r["true_mean"]) < 25.0
        assert r["abs_error"] == pytest.approx(
            abs(r["dp_mean"] - r["true_mean"]), abs=2e-4
        )


def test_stl_anomaly_reports_top3_with_flags(spark, sf_dir, Q):
    rows = sorted(
        Q["timeseries_stl_anomaly_mad"](spark, sf_dir).collect(),
        key=lambda r: -abs(r["robust_z"]),
    )
    assert len(rows) == 3
    zs = [abs(r["robust_z"]) for r in rows]
    assert zs == sorted(zs, reverse=True)
    for r in rows:
        assert r["is_anomaly"] == (abs(r["robust_z"]) > 3.0)


def test_embedding_coverage_healthy_fixture(spark, sf_dir, Q):
    row = Q["dq_embedding_coverage"](spark, sf_dir).collect()[0]
    assert row["n_documents"] == row["n_vectors"]
    assert row["docs_missing_vector"] == 0
    assert row["orphan_vectors"] == 0
    assert row["wrong_dim"] == 0
    assert row["zero_norm"] == 0
    assert row["nan_vectors"] == 0
