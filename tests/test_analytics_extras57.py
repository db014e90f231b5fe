"""Semantic invariants for batch 57 — properties the oracle hash
cannot see."""

from __future__ import annotations

import pytest


def test_lag_matrix_is_leakage_free(spark, sf_dir, Q):
    rows = sorted(
        Q["feature_lag_matrix"](spark, sf_dir).collect(),
        key=lambda r: r["day"],
    )
    assert rows
    by_day = {r["day"]: r for r in rows}
    for r in rows:
        assert 1 <= r["dow"] <= 7
        assert r["lag_1"] is not None and r["lag_7"] is not None
        # the trailing mean excludes the current day's target: if it
        # included it, roll7_mean would equal target exactly whenever
        # the series is constant — check the window arithmetic via
        # a reconstruction on a consecutive-day pair
    days = [r["day"] for r in rows]
    for a, b in zip(days, days[1:]):
        if (b - a).days == 1:
            # lag_1 of day b must equal target of day a
            assert by_day[b]["lag_1"] == by_day[a]["target"]
            break


def test_independence_gap_bounds(spark, sf_dir, Q):
    row = Q["privacy_synthetic_independence_gap"](spark, sf_dir).collect()[0]
    assert row["n_cells"] == 15  # 5 priorities x 3 statuses
    assert 0.0 <= row["tvd"] <= 1.0
    assert 0.0 <= row["max_cell_gap"] <= row["tvd"] * 2 + 1e-9
    # fixture columns are near-independent: the gap should be small
    assert row["tvd"] < 0.1


def test_periodogram_complete_grid(spark, sf_dir, Q):
    rows = sorted(
        Q["timeseries_periodogram"](spark, sf_dir).collect(),
        key=lambda r: r["period_days"],
    )
    assert [r["period_days"] for r in rows] == list(range(2, 15))
    ranks = sorted(r["power_rank"] for r in rows)
    assert ranks == list(range(1, 14))
    assert all(r["power"] >= 0 for r in rows)


def test_variance_merge_identity_holds(spark, sf_dir, Q):
    row = Q["agg_variance_two_level_merge"](spark, sf_dir).collect()[0]
    assert row["merge_exact"] is True
    assert row["merged_variance"] == pytest.approx(
        row["direct_variance"], rel=1e-6
    )
    assert row["n_shards"] == 8
