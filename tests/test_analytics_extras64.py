"""Semantic invariants for batch 64 — properties the oracle hash
cannot see."""

from __future__ import annotations

import pytest


def test_laspeyres_base_year_is_unity(spark, sf_dir, Q):
    rows = {r["year"]: r for r in
            Q["finance_price_index_laspeyres"](spark, sf_dir).collect()}
    assert 1995 in rows
    # the base year against its own basket is exactly 1
    assert rows[1995]["laspeyres_index"] == pytest.approx(1.0, abs=1e-6)
    for r in rows.values():
        assert r["n_parts"] > 0
        # independently priced fixtures: index near 1, never wild
        assert 0.5 < r["laspeyres_index"] < 2.0


def test_exponential_fit_shape(spark, sf_dir, Q):
    row = Q["stats_exponential_gaps_fit"](spark, sf_dir).collect()[0]
    assert row["n_gaps"] > 100
    assert row["lambda_per_sec"] > 0
    # lambda is rounded to 6 decimals in the output; at small rates
    # that rounding dominates, so compare loosely
    assert row["mean_gap_s"] == pytest.approx(
        1.0 / row["lambda_per_sec"], rel=0.01
    )
    assert 0.0 <= row["ks_distance"] <= 1.0
    assert row["exponential_plausible"] == (row["ks_distance"] < 0.05)
