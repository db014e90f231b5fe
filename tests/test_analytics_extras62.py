"""Semantic invariants for batch 62 — properties the oracle hash
cannot see."""

from __future__ import annotations

import pytest


def test_phash_banding_selectivity(spark, sf_dir, Q):
    row = Q["multimodal_phash_dedup_pairs"](spark, sf_dir).collect()[0]
    assert row["n_images"] > 0
    # independent md5-noise images: banding must prune nearly all of
    # the n^2 pair space
    n = row["n_images"]
    assert row["n_candidates"] < n * (n - 1) // 2 * 0.05
    assert row["n_near_dups"] <= row["n_candidates"]
    if row["n_candidates"] == 0:
        assert row["min_hamming"] is None
    else:
        assert 0 <= row["min_hamming"] <= 64


def test_tournament_complete_ranking(spark, sf_dir, Q):
    rows = sorted(
        Q["timeseries_backtest_tournament"](spark, sf_dir).collect(),
        key=lambda r: r["rank"],
    )
    assert [r["rank"] for r in rows] == [1, 2, 3]
    assert {r["method"] for r in rows} == {"naive", "snaive", "ema03"}
    mapes = [r["mape"] for r in rows]
    assert mapes == sorted(mapes)
    assert all(m > 0 for m in mapes)


def test_share_of_parent_sums(spark, sf_dir, Q):
    rows = Q["agg_share_of_parent"](spark, sf_dir).collect()
    by_nation = {}
    nation_share = {}
    for r in rows:
        by_nation.setdefault(r["nationkey"], []).append(r["share_of_nation"])
        nation_share[r["nationkey"]] = r["nation_share_of_total"]
    for nk, shares in by_nation.items():
        assert sum(shares) == pytest.approx(1.0, abs=0.01)
    assert sum(nation_share.values()) == pytest.approx(1.0, abs=0.01)
