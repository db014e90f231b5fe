"""Semantic invariants for batch 66 — properties the oracle hash
cannot see."""

from __future__ import annotations

def test_absorption_probabilities_and_steps(spark, sf_dir, Q):
    rows = {r["start_state"]: r for r in
            Q["events_markov_absorption"](spark, sf_dir).collect()}
    assert set(rows) == {"signup", "click", "view"}
    for r in rows.values():
        assert r["expected_steps"] >= 1.0
        assert 0.0 <= r["p_purchase"] <= 1.0
        assert 0.0 <= r["p_error"] <= 1.0
        # truncated series: total absorption mass approaches but
        # never exceeds 1
        assert r["p_purchase"] + r["p_error"] <= 1.0 + 1e-9
        # with ~40% absorbing mass per step, 15 terms nearly converge
        assert r["p_purchase"] + r["p_error"] > 0.9


def test_mattr_length_bias_fix(spark, sf_dir, Q):
    rows = Q["text_mattr_diversity"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 < r["avg_plain_ttr"] <= 1.0
        assert 0.0 < r["avg_mattr"] <= 1.0
        # windows are shorter than whole docs, so windowed TTR can
        # only be >= the full-doc TTR on average
        assert r["avg_mattr"] >= r["avg_plain_ttr"] - 1e-9
