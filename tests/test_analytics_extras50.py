"""Semantic invariants for batch 50 — properties the oracle hash
cannot see."""

from __future__ import annotations

import math


def test_mixture_weights_sum_to_one_and_budget_conserved(spark, sf_dir, Q):
    rows = Q["sample_mixture_epochs"](spark, sf_dir).collect()
    assert rows
    assert abs(sum(r["mix_weight"] for r in rows) - 1.0) < 1e-3
    # floor() loses < 1 token per source
    assert 0 <= 2_000_000 - sum(r["tokens_at_mix"] for r in rows) < len(rows)
    for r in rows:
        assert r["over_epoch_cap"] == (r["epochs"] > 4.0)
        # temperature < 1 compresses the mix toward uniform: no source
        # draws more than twice its proportional share... just sanity
        assert r["epochs"] > 0


def test_weighted_jaccard_finds_planted_near_dups(spark, sf_dir, Q):
    rows = Q["text_idf_weighted_jaccard"](spark, sf_dir).collect()
    assert rows  # the fixtures plant near-duplicates
    for r in rows:
        assert r["id_a"] < r["id_b"]
        assert 0.25 <= r["weighted_jaccard"] <= 1.0


def test_bloom_filter_statistics(spark, sf_dir, Q):
    row = Q["agg_bloom_filter_pinned"](spark, sf_dir).collect()[0]
    n, m, k = row["n_inserted"], row["m_bits"], row["k_hashes"]
    assert m == 65536 and k == 3
    # set bits bounded by k*n and close to m*(1-e^{-kn/m})
    assert row["n_bits_set"] <= k * n
    expected_fill = 1.0 - math.exp(-k * n / m)
    assert abs(row["fill_ratio"] - expected_fill) < 0.01
    # measured FPR within a loose band of theory (binomial noise)
    assert abs(row["fpr_measured"] - row["fpr_theory"]) < 0.05
    assert row["n_false_positives"] <= row["n_probes"]


def test_time_decay_score_bounded_by_plain_sum(spark, sf_dir, Q):
    import pyspark.sql.functions as F

    from hivetomysql_spark.tables import load_table

    rows = {
        r["user_id"]: r
        for r in Q["window_time_decay_score"](spark, sf_dir).collect()
    }
    plain = {
        r["user_id"]: r["s"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.sum("value").alias("s"))
        .collect()
    }
    assert set(rows) == set(plain)
    for uid, r in rows.items():
        # decay in (0, 1]: decayed sum <= plain sum (values positive)
        assert r["decayed_score"] <= plain[uid] + 1e-6
        assert r["decayed_score"] > 0
