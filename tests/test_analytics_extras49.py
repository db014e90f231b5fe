"""Semantic invariants for batch 49 — properties the oracle hash
cannot see."""

from __future__ import annotations

def test_knn_one_prediction_per_query(spark, sf_dir, Q):
    rows = Q["ml_knn_classifier"](spark, sf_dir).collect()
    assert len(rows) == 25
    assert len({r["query_id"] for r in rows}) == 25
    for r in rows:
        assert 1 <= r["n_votes"] <= 5
        assert r["is_correct"] == (r["true_label"] == r["pred_label"])


def test_random_walk_visit_budget(spark, sf_dir, Q):
    rows = Q["graph_random_walk_visits"](spark, sf_dir).collect()
    assert rows
    # total visits across all nodes can't exceed walkers * (steps+1);
    # the >= 2 filter only removes mass
    total = sum(r["n_visits"] for r in rows)
    nodes = {r["part"] for r in rows}
    assert all(p < 200 for p in nodes)
    assert total <= 7 * 200  # walkers <= nodes <= 200, 7 positions each
    assert all(r["n_visits"] >= 2 for r in rows)


def test_dp_topk_shape(spark, sf_dir, Q):
    rows = sorted(
        Q["privacy_dp_topk"](spark, sf_dir).collect(), key=lambda r: r["rank"]
    )
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
    assert len({r["brand"] for r in rows}) == 5
    scores = [r["noisy_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # eps/2 * count dominates the Gumbel tail at these counts, so the
    # selected brands should all have nontrivial support
    assert all(r["true_count"] > 0 for r in rows)


def test_image_entropy_bounds(spark, sf_dir, Q):
    rows = Q["multimodal_image_entropy"](spark, sf_dir).collect()
    ids = {r["doc_id"] for r in rows}
    assert all(i % 4 == 1 for i in ids)
    for r in rows:
        assert 1 <= r["n_bins_used"] <= 16
        # entropy of a 16-bin histogram is in [0, 4] bits; md5 pixels
        # are near-uniform, so expect the high end
        assert 0.0 <= r["entropy_bits"] <= 4.0
        assert r["entropy_bits"] > 2.5
