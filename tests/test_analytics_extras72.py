"""Semantic invariants for batch 72 — properties the oracle hash
cannot see."""

from __future__ import annotations

def test_gap_sweep_monotone(spark, sf_dir, Q):
    rows = {r["gap_setting"]: r for r in
            Q["events_session_gap_sweep"](spark, sf_dir).collect()}
    assert set(rows) == {"15min", "30min", "60min"}
    # a larger gap can only merge sessions
    assert (rows["15min"]["n_sessions"] >= rows["30min"]["n_sessions"]
            >= rows["60min"]["n_sessions"])
    n_events = {r["n_events"] for r in rows.values()}
    assert len(n_events) == 1  # same event universe per setting
    for r in rows.values():
        assert r["events_per_session"] >= 1.0


def test_er_calibration_monotone(spark, sf_dir, Q):
    rows = sorted(
        Q["er_threshold_calibration"](spark, sf_dir).collect(),
        key=lambda r: r["threshold"],
    )
    assert [r["threshold"] for r in rows] == [1, 2, 3, 4, 5]
    matches = [r["n_matches"] for r in rows]
    assert matches == sorted(matches)  # looser cutoff => more matches
    for r in rows:
        assert 0 <= r["n_matches"] <= r["n_blocked_pairs"]
        assert 0.0 <= r["match_rate"] <= 1.0
