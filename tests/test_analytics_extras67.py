"""Semantic invariants for batch 67 — properties the oracle hash
cannot see."""

from __future__ import annotations

import pytest


def test_shrinkage_pulls_toward_prior(spark, sf_dir, Q):
    rows = Q["stats_dirichlet_shrinkage"](spark, sf_dir).collect()
    assert rows
    by_source = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
        # shrunk never exactly zero, raw can be
        assert r["shrunk_share"] > 0
        assert 0.0 <= r["raw_share"] <= 1.0
    for src, cells in by_source.items():
        assert len(cells) == 5  # full lang domain, zeros explicit
        assert sum(c["shrunk_share"] for c in cells) == pytest.approx(
            1.0, abs=0.01
        )
    # shrinkage is a contraction toward the PRIOR (which can sit
    # above or below any raw share): every shrunk value lies between
    # its raw share and the corpus prior for that language
    tot = sum(r["n_docs"] for r in rows)
    prior = {}
    for r in rows:
        prior[r["lang"]] = prior.get(r["lang"], 0) + r["n_docs"]
    prior = {k: v / tot for k, v in prior.items()}
    for r in rows:
        lo = min(r["raw_share"], prior[r["lang"]]) - 1e-3
        hi = max(r["raw_share"], prior[r["lang"]]) + 1e-3
        assert lo <= r["shrunk_share"] <= hi


def test_simpson_evenness_bounds(spark, sf_dir, Q):
    rows = Q["agg_simpson_evenness"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        k = r["n_langs"]
        assert 1 <= k <= 5
        # Simpson in [0, 1 - 1/k]
        assert -1e-9 <= r["simpson_diversity"] <= 1.0 - 1.0 / k + 1e-9
        assert 0.0 <= r["pielou_evenness"] <= 1.0 + 1e-9
