"""Semantic invariants for batch 60 — properties the oracle hash
cannot see."""

from __future__ import annotations

def test_scd2_apply_interval_discipline(spark, sf_dir, Q):
    rows = Q["incremental_scd2_apply"](spark, sf_dir).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["c_custkey"], []).append(r)
    assert by_key
    for k, vers in by_key.items():
        assert k % 11 == 0 and k < 300
        assert len(vers) == 2
        closed = next(v for v in vers if not v["is_current"])
        opened = next(v for v in vers if v["is_current"])
        # no gap, no overlap: old closes exactly where new opens
        assert closed["valid_to"] == opened["valid_from"]
        assert opened["valid_to"] is None
        assert opened["segment"] == "MIGRATED"
        assert closed["segment"] != "MIGRATED"


def test_mann_kendall_consistency(spark, sf_dir, Q):
    row = Q["stats_mann_kendall"](spark, sf_dir).collect()[0]
    n = row["n_months"]
    max_s = n * (n - 1) // 2
    assert -max_s <= row["s_statistic"] <= max_s
    assert row["var_s"] > 0
    # fixture volume is stable: no overwhelming monotone trend
    assert abs(row["z"]) < 6.0


def test_bot_screen_ranking(spark, sf_dir, Q):
    rows = sorted(
        Q["dq_bot_regularity_screen"](spark, sf_dir).collect(),
        key=lambda r: r["regularity_rank"],
    )
    assert [r["regularity_rank"] for r in rows] == list(range(1, 11))
    cvs = [r["gap_cv"] for r in rows]
    assert cvs == sorted(cvs)
    for r in rows:
        assert r["n_gaps"] >= 10
        assert r["mean_gap_s"] > 0
        assert r["metronomic_flag"] == (r["gap_cv"] < 0.1)
