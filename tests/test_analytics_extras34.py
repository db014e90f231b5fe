"""Semantic invariants for batch 34 — properties the oracle hash
cannot see."""

from __future__ import annotations

from hivetomysql_spark.tables import load_table


def test_modularity_in_range(spark, sf_dir, Q):
    r = Q["graph_modularity"](spark, sf_dir).collect()[0]
    # Q in [-1/2, 1); random brand assignment over co-purchases ~ 0
    assert -0.5 <= r["modularity"] < 1.0
    assert r["n_edges"] > 0 and r["n_communities"] > 1


def test_littles_law_identity_holds(spark, sf_dir, Q):
    r = Q["orders_littles_law"](spark, sf_dir).collect()[0]
    # complete observation window => lambda * W == L exactly
    assert abs(r["littles_ratio"] - 1.0) < 1e-6
    assert r["lambda_per_day"] > 0
    assert r["w_days"] > 0


def test_diversity_ratios_ordered(spark, sf_dir, Q):
    out = Q["text_distinct_ngram_diversity"](spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    assert len(out) == docs.select("source").distinct().count()
    for r in out:
        # closed vocabulary: higher-order n-grams are strictly more
        # diverse than unigrams
        assert 0 < r["distinct_1"] <= r["distinct_2"] <= r["distinct_3"] <= 1


def test_randomized_response_debias_recovers_truth(spark, sf_dir, Q):
    r = Q["privacy_randomized_response"](spark, sf_dir).collect()[0]
    assert 0.0 <= r["reported_rate"] <= 1.0
    # debiasing must land near the true rate (sampling noise of the
    # deterministic coins ~ 1/sqrt(n))
    assert abs(r["debiased_rate"] - r["true_rate"]) < 5.0 / (r["n"] ** 0.5)
    # reported rate is pulled toward 1/2 by the noise coin
    assert abs(r["reported_rate"] - 0.5) <= abs(r["true_rate"] - 0.5) + 0.05
