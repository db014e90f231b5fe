"""Semantic invariants for batch 58 — properties the oracle hash
cannot see."""

from __future__ import annotations

import pytest


def test_thompson_allocation_sums_to_one(spark, sf_dir, Q):
    rows = Q["ml_thompson_sampling_allocation"](spark, sf_dir).collect()
    assert len(rows) == 5
    assert sum(r["n_wins"] for r in rows) == 64
    assert sum(r["allocation"] for r in rows) == pytest.approx(1.0, abs=1e-6)
    # allocation should favor higher posterior means on average:
    # the best-mean arm must win at least one draw unless means are
    # extremely close — assert the top arm's allocation is >= mean
    best = max(rows, key=lambda r: r["posterior_mean"])
    rest = [r for r in rows if r is not best]
    assert best["allocation"] >= max(r["allocation"] for r in rest) - 0.35


def test_poisson_gof_shapes(spark, sf_dir, Q):
    row = Q["stats_poisson_gof"](spark, sf_dir).collect()[0]
    assert row["lambda_hat"] > 0
    assert row["dispersion_index"] > 0
    assert row["chi_square"] >= 0
    assert 2 <= row["n_buckets"] <= 11


def test_parallel_trends_aa_null(spark, sf_dir, Q):
    row = Q["events_did_parallel_trends"](spark, sf_dir).collect()[0]
    assert row["slope_gap"] == pytest.approx(
        row["treated_slope"] - row["control_slope"], abs=2e-4
    )
    # A/A fixture: the parallel-trends z should not be wildly large
    assert abs(row["approx_z"]) < 6.0
