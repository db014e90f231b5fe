"""Semantic invariants for batch 63 — properties the oracle hash
cannot see."""

from __future__ import annotations

import pytest


def test_prf_accounting(spark, sf_dir, Q):
    row = Q["similarity_prf_requery"](spark, sf_dir).collect()[0]
    assert row["n_common"] + row["n_new"] == 10
    assert row["overlap_at_10"] == pytest.approx(
        row["n_common"] / 10.0, abs=1e-6
    )
    # blending with the top-5 centroid cannot discard everything:
    # the pseudo-relevant seeds stay highly ranked
    assert row["n_common"] >= 3


def test_haar_energy_structure(spark, sf_dir, Q):
    rows = sorted(
        Q["timeseries_haar_energy"](spark, sf_dir).collect(),
        key=lambda r: r["level"],
    )
    assert [r["level"] for r in rows] == [1, 2, 3]
    assert [r["scale_days"] for r in rows] == [2, 4, 8]
    # coefficient counts halve per level
    n1, n2, n3 = (r["n_coefficients"] for r in rows)
    assert n1 == 2 * n2 == 4 * n3
    assert all(r["detail_energy"] >= 0 for r in rows)
