"""Semantic invariants for batch 61 — properties the oracle hash
cannot see."""

from __future__ import annotations

def test_weibull_fit_plausible(spark, sf_dir, Q):
    row = Q["ml_weibull_survival_fit"](spark, sf_dir).collect()[0]
    assert row["n_orders"] > 100
    assert row["n_fit_points"] > 10
    # durations are bounded positive: shape and scale must be too
    assert row["shape_k"] > 0
    assert row["scale_lambda"] > 0
    assert row["wear_out_regime"] == (row["shape_k"] > 1.0)


def test_reid_risk_monotone_in_qi_set(spark, sf_dir, Q):
    rows = {r["qi_set"]: r for r in
            Q["privacy_reidentification_risk"](spark, sf_dir).collect()}
    assert set(rows) == {"nation", "nation+segment",
                         "nation+segment+balband"}
    # adding quasi-identifiers can only increase uniqueness
    assert (rows["nation"]["uniqueness_rate"]
            <= rows["nation+segment"]["uniqueness_rate"]
            <= rows["nation+segment+balband"]["uniqueness_rate"])
    n = {r["n_records"] for r in rows.values()}
    assert len(n) == 1  # same population under every QI set


def test_rare_combo_lift_ordering(spark, sf_dir, Q):
    rows = sorted(
        Q["dq_categorical_rare_combo"](spark, sf_dir).collect(),
        key=lambda r: r["rarity_rank"],
    )
    assert [r["rarity_rank"] for r in rows] == [1, 2, 3, 4, 5]
    lifts = [r["lift"] for r in rows]
    assert lifts == sorted(lifts)
    for r in rows:
        assert r["n_joint"] >= 0 and r["expected_n"] > 0
        assert r["suspicious"] == (r["lift"] < 0.5)
