"""Semantic invariants for batch 48 — properties the oracle hash
cannot see."""

from __future__ import annotations

def test_gbdt_rmse_monotone_decreasing(spark, sf_dir, Q):
    rows = sorted(
        Q["ml_gbdt_stumps_boost"](spark, sf_dir).collect(),
        key=lambda r: r["round"],
    )
    assert [r["round"] for r in rows] == [1, 2, 3]
    rmses = [r["rmse"] for r in rows]
    # boosting on a strongly predictive feature must reduce train RMSE
    assert rmses == sorted(rmses, reverse=True)
    assert rmses[0] > rmses[-1]
    for r in rows:
        assert r["split_at"] in {5, 10, 15, 20, 25, 30, 35, 40, 45}
    # round 1 must find a genuinely informative split (the fixture's
    # price-quantity relation is negative, so no directional claim)
    assert rows[0]["mean_left"] != rows[0]["mean_right"]


def test_hll_estimate_within_expected_error(spark, sf_dir, Q):
    row = Q["agg_hyperloglog_pinned"](spark, sf_dir).collect()[0]
    assert row["n_registers"] == 256
    # standard error of HLL at m=256 is ~1.04/sqrt(256) = 6.5%;
    # linear counting (small-range path) is tighter still. Allow 4x.
    assert row["rel_error"] < 4 * 1.04 / (256 ** 0.5)
    assert row["hll_estimate"] > 0
    if row["n_exact"] <= 2.5 * 256:
        # small-range regime: correction must have kicked in
        assert row["n_zero_registers"] > 0
        assert row["hll_estimate"] != row["hll_raw"]


def test_flesch_scores_bounded_and_complete(spark, sf_dir, Q):
    rows = Q["text_readability_flesch"](spark, sf_dir).collect()
    assert len(rows) >= 15  # all sources present
    for r in rows:
        assert r["n_docs"] > 0
        assert r["avg_words"] > 0
        # synthetic token text: grade in a plausible band, not NaN
        assert -50 < r["avg_fk_grade"] < 60
        assert -200 < r["avg_flesch"] < 206.835
