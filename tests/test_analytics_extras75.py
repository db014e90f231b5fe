"""Semantic invariants for batch 75 — properties the oracle hash
cannot see."""

from __future__ import annotations

def test_peak_cycle_accounting(spark, sf_dir, Q):
    row = Q["window_peak_cycle_length"](spark, sf_dir).collect()[0]
    assert row["n_peaks"] >= 2
    assert row["n_gaps"] == row["n_peaks"] - 1
    assert 1 <= row["min_gap"] <= row["max_gap"]
    assert row["min_gap"] <= row["mean_cycle_days"] <= row["max_gap"]


def test_pythagorean_ordering_certified(spark, sf_dir, Q):
    rows = Q["agg_pythagorean_means"](spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["am_gm_hm_holds"] is True
        assert (r["arithmetic_mean"] >= r["geometric_mean"]
                >= r["harmonic_mean"] > 0)
