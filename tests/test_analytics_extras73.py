"""Semantic invariants for batch 73 — properties the oracle hash
cannot see."""

from __future__ import annotations

import pytest


def test_rich_club_densities(spark, sf_dir, Q):
    row = Q["graph_rich_club"](spark, sf_dir).collect()[0]
    assert row["club_size"] == 25
    assert 0 <= row["club_edges"] <= 25 * 24 // 2
    assert 0.0 <= row["club_density"] <= 1.0
    assert 0.0 < row["graph_density"] <= 1.0
    assert row["rich_club_ratio"] == pytest.approx(
        row["club_density"] / row["graph_density"], rel=0.01
    )
    # top-degree nodes can only be at least as dense as average
    assert row["rich_club_ratio"] >= 1.0 - 1e-6


def test_cr4_bounds(spark, sf_dir, Q):
    rows = Q["supply_cr4_concentration"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        n = r["n_suppliers"]
        # CR4 >= 4/n (even market floor) and <= 1
        floor = min(1.0, 4.0 / n)
        assert floor - 0.01 <= r["cr4"] <= 1.0 + 1e-9
        assert r["concentrated_flag"] == (r["cr4"] > 0.6)
