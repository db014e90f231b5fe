"""Semantic invariants for batch 69 — properties the oracle hash
cannot see."""

from __future__ import annotations

def test_srm_flags_false_on_fair_split(spark, sf_dir, Q):
    rows = Q["ml_ab_srm_check"](spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["n_a"] + r["n_b"] > 0
        assert 0.3 < r["share_a"] < 0.7
        assert r["chi_square"] >= 0
        assert r["srm_flag"] == (r["chi_square"] > 3.84)


def test_timestamp_sanity_clean_clock(spark, sf_dir, Q):
    row = Q["dq_timestamp_sanity"](spark, sf_dir).collect()[0]
    assert row["n_events"] > 0
    # fixtures live in Jan 2024 with sane clocks
    assert row["n_future"] == 0
    assert row["n_implausibly_old"] == 0
    assert 0 <= row["n_id_time_inversions"] <= row["n_events"]
