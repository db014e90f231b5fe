"""Semantic invariants for batch 53 — properties the oracle hash
cannot see."""

from __future__ import annotations

def test_backfill_ranges_disjoint_and_ordered(spark, sf_dir, Q):
    rows = sorted(
        Q["incremental_backfill_planner"](spark, sf_dir).collect(),
        key=lambda r: r["range_start"],
    )
    assert rows
    for r in rows:
        assert r["range_start"] <= r["range_end"]
        span_days = (r["range_end"] - r["range_start"]).days + 1
        assert r["n_days"] == span_days  # contiguous island
    for a, b in zip(rows, rows[1:]):
        # a gap of at least one loaded day separates islands
        assert (b["range_start"] - a["range_end"]).days >= 2


def test_contribution_shares_and_ranking(spark, sf_dir, Q):
    rows = sorted(
        Q["agg_contribution_analysis"](spark, sf_dir).collect(),
        key=lambda r: r["rank"],
    )
    assert [r["rank"] for r in rows] == list(range(1, 11))
    deltas = [abs(r["delta_cents"]) for r in rows]
    assert deltas == sorted(deltas, reverse=True)
    for r in rows:
        assert r["delta_cents"] == r["cur_cents"] - r["prev_cents"]


def test_funnel_latency_ordering(spark, sf_dir, Q):
    rows = {r["step"]: r for r in
            Q["events_funnel_step_latency"](spark, sf_dir).collect()}
    assert set(rows) == {"signup->click", "click->purchase"}
    for r in rows.values():
        assert r["n_users"] > 0
        assert 0 <= r["p50_minutes"] <= r["p90_minutes"]


def test_holm_dominates_bh_and_is_monotone(spark, sf_dir, Q):
    holm = sorted(
        Q["stats_holm_correction"](spark, sf_dir).collect(),
        key=lambda r: r["p"],
    )
    bh = {
        r["event_type"]: r["p_adj"]
        for r in Q["stats_benjamini_hochberg"](spark, sf_dir).collect()
    }
    adj = [r["p_adj"] for r in holm]
    # step-down adjustment is monotone non-decreasing in p order
    assert adj == sorted(adj)
    for r in holm:
        assert r["p"] <= r["p_adj"] <= 1.0
        # FWER control is at least as conservative as FDR control
        assert r["p_adj"] >= bh[r["event_type"]] - 1e-9
        assert r["reject_fwer05"] == (1 if r["p_adj"] <= 0.05 else 0)
