"""Semantic invariants for batch 68."""

from __future__ import annotations

def test_range_bucketed_window_accounting(spark, sf_dir, Q):
    rows = Q["join_range_bucketed"](spark, sf_dir).collect()
    assert len(rows) == 40  # left semantics: every window present
    assert len({r["window_id"] for r in rows}) == 40
    assert all(r["n_events"] >= 0 for r in rows)
    # windows are 2-6 h over a month of steady traffic: most match
    assert sum(1 for r in rows if r["n_events"] > 0) >= 30
