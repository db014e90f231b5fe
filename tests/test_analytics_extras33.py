"""Semantic invariants for batch 33 — properties the oracle hash
cannot see."""

from __future__ import annotations

from hivetomysql_spark.tables import load_table


def test_auc_bounds_and_counts(spark, sf_dir, Q):
    r = Q["ml_roc_auc"](spark, sf_dir).collect()[0]
    o = load_table(spark, sf_dir, "orders")
    assert r["n_pos"] + r["n_neg"] == o.count()
    assert 0.0 <= r["auc"] <= 1.0
    # price is independent of status in the generator: AUC ~ 0.5
    assert abs(r["auc"] - 0.5) < 0.1


def test_calibration_bins_cover_and_scores_monotone(spark, sf_dir, Q):
    out = sorted(
        Q["ml_calibration_bins"](spark, sf_dir).collect(),
        key=lambda r: r["bin"],
    )
    o = load_table(spark, sf_dir, "orders")
    assert sum(r["n"] for r in out) == o.count()
    means = [r["mean_score"] for r in out]
    assert means == sorted(means)
    for r in out:
        assert 0.0 <= r["frac_pos"] <= 1.0
        # abs_gap is rounded from the unrounded inputs, so comparing
        # against the rounded columns can differ by up to 1e-6
        assert abs(r["abs_gap"] - abs(r["mean_score"] - r["frac_pos"])) < 2e-6


def test_pq_adc_ranks_and_recall_flag(spark, sf_dir, Q):
    out = sorted(
        Q["embedding_pq_adc_search"](spark, sf_dir).collect(),
        key=lambda r: r["rank"],
    )
    assert [r["rank"] for r in out] == list(range(1, 11))
    dists = [r["adc_dist"] for r in out]
    assert dists == sorted(dists)
    assert 0 not in [r["vec_id"] for r in out]
    # the flag is 0/1 and at least one ADC hit should be in the
    # exact top-10 (ADC is lossy but not random)
    assert all(r["in_exact_top10"] in (0, 1) for r in out)
    assert sum(r["in_exact_top10"] for r in out) >= 1


def test_fertility_at_least_one_token_per_word(spark, sf_dir, Q):
    out = Q["text_tokenizer_fertility"](spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    assert sum(r["n_docs"] for r in out) == docs.count()
    for r in out:
        # a pre-tokenizer can only split words further
        assert r["avg_fertility"] >= 1.0
        assert r["corpus_fertility"] >= 1.0
