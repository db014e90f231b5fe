"""Semantic invariants for batch 77 — properties the oracle hash
cannot see."""

from __future__ import annotations

def test_cohens_d_aa_null_and_corrections(spark, sf_dir, Q):
    rows = Q["stats_cohens_d"](spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        # A/A split: effects must be negligible-to-small
        assert abs(r["cohens_d"]) < 0.5
        # Hedges' g shrinks |d| toward zero, never past it
        assert abs(r["hedges_g"]) <= abs(r["cohens_d"]) + 1e-9
        assert (r["hedges_g"] >= 0) == (r["cohens_d"] >= 0) or r[
            "cohens_d"
        ] == 0
        band = abs(r["cohens_d"])
        expect = (
            "negligible" if band < 0.2 else
            "small" if band < 0.5 else
            "medium" if band < 0.8 else "large"
        )
        assert r["magnitude"] == expect
