"""Semantic invariants for batch 55 — properties the oracle hash
cannot see. (The stream_join_left_batch twin is equivalence-tested
against its real stream in tests/test_streaming.py.)"""

from __future__ import annotations

import pytest


def test_its_aa_property_on_stable_series(spark, sf_dir, Q):
    row = Q["events_interrupted_time_series"](spark, sf_dir).collect()[0]
    assert row["n_pre_months"] == 24
    assert row["n_post_months"] == 24
    # no real intervention in the fixtures: the causal readouts must
    # be small relative to the monthly volume (~hundreds at sf0.01)
    assert abs(row["slope_change"]) < 5.0
    assert row["slope_change"] == pytest.approx(
        row["post_slope"] - row["pre_slope"], abs=2e-4
    )
    # cumulative excess == mean shift * months (within rounding)
    assert row["cumulative_excess"] == pytest.approx(
        row["mean_level_shift"] * row["n_post_months"], rel=0.01
    )


def test_eoq_square_root_economics(spark, sf_dir, Q):
    rows = sorted(
        Q["supply_eoq_quantity"](spark, sf_dir).collect(),
        key=lambda r: r["rank"],
    )
    assert [r["rank"] for r in rows] == list(range(1, 16))
    demands = [r["annual_demand"] for r in rows]
    assert demands == sorted(demands, reverse=True)
    for r in rows:
        assert r["eoq"] > 0 and r["holding_cost"] > 0
        # identity: orders_per_year * eoq == annual demand
        assert r["orders_per_year"] * r["eoq"] == pytest.approx(
            r["annual_demand"], rel=0.01
        )
        # at the optimum, annual ordering cost == annual holding cost
        ordering = (r["annual_demand"] / r["eoq"]) * 100.0
        holding = (r["eoq"] / 2.0) * r["holding_cost"]
        assert ordering == pytest.approx(holding, rel=0.02)
