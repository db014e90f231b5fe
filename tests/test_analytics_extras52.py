"""Semantic invariants for batch 52 — properties the oracle hash
cannot see."""

from __future__ import annotations

import math

import pytest


def test_lsh_audit_accounting_identities(spark, sf_dir, Q):
    row = Q["dedup_lsh_quality_audit"](spark, sf_dir).collect()[0]
    assert row["tp"] + row["fn"] == row["n_exact_pairs"]
    assert row["tp"] + row["fp"] == row["n_candidates"]
    assert 0.0 <= row["precision"] <= 1.0
    assert 0.0 <= row["recall"] <= 1.0
    # 8x4 banding at J>=0.3: collision prob 1-(1-J^4)^8 >= 0.063;
    # planted near-dups in the fixture are J~0.9+ where it is ~1.0 —
    # recall must be substantial
    assert row["recall"] >= 0.8
    assert row["n_exact_pairs"] > 0


def test_theil_nonnegative_and_bounded(spark, sf_dir, Q):
    rows = Q["agg_theil_inequality"](spark, sf_dir).collect()
    assert len(rows) == 25
    for r in rows:
        # Theil T in [0, ln N]
        assert -1e-9 <= r["theil_t"] <= math.log(r["n_customers"]) + 1e-9
        assert r["mean_spend"] > 0


def test_cv_folds_partition_everyone(spark, sf_dir, Q):
    rows = Q["feature_cv_folds"](spark, sf_dir).collect()
    assert sorted(r["fold"] for r in rows) == [0, 1, 2, 3, 4]
    total = sum(r["n_customers"] for r in rows)
    # md5 spread: no fold takes more than half
    assert all(r["n_customers"] < total / 2 for r in rows)
    # balance: fold target means within 3x of each other
    means = [r["mean_target"] for r in rows]
    assert max(means) / min(means) < 3.0


def test_bullwhip_ratio_positive(spark, sf_dir, Q):
    row = Q["supply_bullwhip_effect"](spark, sf_dir).collect()[0]
    assert row["cv2_orders"] > 0
    assert row["cv2_shipments"] > 0
    assert row["bullwhip_ratio"] == pytest.approx(
        row["cv2_orders"] / row["cv2_shipments"], rel=1e-3
    )
