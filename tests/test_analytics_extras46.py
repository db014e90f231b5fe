"""Semantic invariants for batch 46 — properties the oracle hash
cannot see."""

from __future__ import annotations

def test_hits_authority_normalized_top10(spark, sf_dir, Q):
    out = sorted(
        Q["graph_hits_authority"](spark, sf_dir).collect(),
        key=lambda r: r["rank"],
    )
    assert [r["rank"] for r in out] == list(range(1, 11))
    auth = [r["authority"] for r in out]
    assert auth == sorted(auth, reverse=True)
    # L1-normalized scores: each positive, top-10 sum below 1
    assert all(a > 0 for a in auth)
    assert sum(auth) <= 1.0 + 1e-6
    assert all(r["part"] < 200 for r in out)


def test_dedup_sweep_monotone_in_threshold(spark, sf_dir, Q):
    out = sorted(
        Q["text_dedup_threshold_sweep"](spark, sf_dir).collect(),
        key=lambda r: r["threshold"],
    )
    assert [r["threshold"] for r in out] == [0.2, 0.3, 0.5]
    docs = [r["n_docs_removed"] for r in out]
    toks = [r["n_tokens_removed"] for r in out]
    # a stricter (higher) threshold removes a subset
    assert docs == sorted(docs, reverse=True)
    assert toks == sorted(toks, reverse=True)
    for r in out:
        assert 0.0 <= r["token_share_removed"] < 1.0
