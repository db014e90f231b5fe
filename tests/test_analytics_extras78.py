"""Semantic invariants for batch 78 — properties the oracle hash
cannot see."""

from __future__ import annotations

def test_minmax_hits_both_bounds_per_group(spark, sf_dir, Q):
    rows = Q["feature_minmax_scaling"](spark, sf_dir).collect()
    assert rows
    by_nation = {}
    for r in rows:
        assert 0.0 <= r["minmax_scaled"] <= 1.0
        by_nation.setdefault(r["nationkey"], []).append(r["minmax_scaled"])
    for nk, vals in by_nation.items():
        assert min(vals) == 0.0  # the group min maps to exactly 0
        assert max(vals) == 1.0  # the group max maps to exactly 1
