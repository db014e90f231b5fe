"""Semantic invariants for batch 74 — properties the oracle hash
cannot see."""

from __future__ import annotations

def test_release_gate_all_checks_present_and_pass(spark, sf_dir, Q):
    rows = {r["check_name"]: r for r in
            Q["pipeline_release_gate"](spark, sf_dir).collect()}
    assert set(rows) == {
        "exact_dup_rate",
        "heldout_trigram_novelty",
        "language_coverage",
        "docs_missing_embedding",
        "embeddings_wrong_dim",
        "mean_tokens_in_band",
    }
    # healthy fixtures: the gate should open
    for name, r in rows.items():
        assert r["passed"] is True, name
    assert rows["language_coverage"]["value"] == 5.0
    assert rows["docs_missing_embedding"]["value"] == 0.0
    assert 0.0 <= rows["exact_dup_rate"]["value"] < 0.25
