"""Semantic invariants for batch 79 — properties the oracle hash
cannot see."""

from __future__ import annotations

def test_ljung_box_cumulative_structure(spark, sf_dir, Q):
    rows = sorted(
        Q["stats_ljung_box"](spark, sf_dir).collect(),
        key=lambda r: r["lag"],
    )
    assert [r["lag"] for r in rows] == list(range(1, 8))
    qs = [r["ljung_box_q"] for r in rows]
    # Q cumulates non-negative terms
    assert qs == sorted(qs)
    assert qs[0] >= 0
    crits = [r["chi2_crit_05"] for r in rows]
    assert crits == sorted(crits)
    for r in rows:
        assert -1.0 <= r["acf"] <= 1.0
        assert r["reject_white_05"] == (
            r["ljung_box_q"] > r["chi2_crit_05"]
        )
