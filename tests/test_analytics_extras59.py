"""Semantic invariants for batch 59 — properties the oracle hash
cannot see."""

from __future__ import annotations

def test_pitch_estimate_accuracy(spark, sf_dir, Q):
    rows = Q["multimodal_audio_pitch_estimate"](spark, sf_dir).collect()
    assert rows
    assert all(r["doc_id"] % 4 == 0 for r in rows)
    for r in rows:
        assert 200.0 <= r["true_freq_hz"] <= 200.0 + 255 * 4.0
        # ZCR pitch on a clean sine: within a few percent (short
        # clips quantize the crossing count)
        assert r["rel_error"] < 0.05
    # median accuracy much tighter
    errs = sorted(r["rel_error"] for r in rows)
    assert errs[len(errs) // 2] < 0.01


def test_tost_direction_consistency(spark, sf_dir, Q):
    rows = Q["stats_equivalence_tost"](spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["margin"] > 0
        assert r["z_lower"] > r["z_upper"]  # (d+m)/se > (d-m)/se always
        assert r["equivalent_90"] == (
            r["z_lower"] > 1.645 and r["z_upper"] < -1.645
        )


def test_novelty_bounds_and_closed_vocab(spark, sf_dir, Q):
    rows = Q["text_ngram_novelty_ratio"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["novelty_ratio"] <= 1.0
        assert r["n_novel"] <= r["n_eval_trigrams"]
    # synthetic fixtures share a closed vocabulary: novelty exists
    # but cannot be total
    total_novel = sum(r["n_novel"] for r in rows)
    total = sum(r["n_eval_trigrams"] for r in rows)
    assert 0 < total_novel < total
