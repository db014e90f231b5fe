"""Semantic invariants for batch 71 — properties the oracle hash
cannot see."""

from __future__ import annotations

import pytest


def test_count_sketch_accuracy(spark, sf_dir, Q):
    rows = Q["agg_count_sketch_signed"](spark, sf_dir).collect()
    assert len(rows) >= 10  # probe keys present in the fixture
    # signed collisions cancel: with ~150 keys over 64 buckets the
    # median-of-4 estimate should usually land near truth
    errs = sorted(r["abs_error"] for r in rows)
    assert errs[len(errs) // 2] <= 15.0  # median error small
    for r in rows:
        assert r["true_count"] > 0


def test_fisher_between_laspeyres_and_paasche(spark, sf_dir, Q):
    rows = Q["finance_price_index_fisher"](spark, sf_dir).collect()
    assert rows
    base = next(r for r in rows if r["year"] == 1995)
    assert base["laspeyres"] == pytest.approx(1.0, abs=1e-6)
    assert base["paasche"] == pytest.approx(1.0, abs=1e-6)
    for r in rows:
        lo, hi = sorted([r["laspeyres"], r["paasche"]])
        # geometric mean lies between its factors
        assert lo - 1e-6 <= r["fisher"] <= hi + 1e-6
