"""Semantic invariants for batch 43 — properties the oracle hash
cannot see."""

from __future__ import annotations

from hivetomysql_spark.tables import load_table


def test_median_of_means_close_to_mean_on_light_tail(spark, sf_dir, Q):
    r = Q["agg_median_of_means"](spark, sf_dir).collect()[0]
    o = load_table(spark, sf_dir, "orders")
    assert r["n_rows"] == o.count()
    assert r["k_buckets"] == 16
    # light-tailed fixture: MoM and the mean nearly coincide, and
    # both sit inside the bucket-mean spread
    assert abs(r["median_of_means"] - r["plain_mean"]) <= r[
        "bucket_mean_spread"
    ]
    assert r["bucket_mean_spread"] > 0


def test_entropy_rate_below_ceiling(spark, sf_dir, Q):
    r = Q["events_entropy_rate"](spark, sf_dir).collect()[0]
    assert r["n_transitions"] > 0
    assert 0.0 <= r["entropy_rate_bits"] <= r["max_entropy_bits"] + 1e-9
    # uniform-ish synthetic event types: the chain is near-memoryless
    assert r["entropy_rate_bits"] > 0.5 * r["max_entropy_bits"]


def test_hapax_ratio_closed_vocabulary(spark, sf_dir, Q):
    out = Q["text_hapax_ratio"](spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    assert len(out) == docs.select("source").distinct().count()
    for r in out:
        assert 0.0 <= r["hapax_ratio"] <= 1.0
        assert r["hapax"] <= r["vocab"] <= r["n_tokens"]
        # 31-token closed template vocabulary: hapax are rare
        assert r["hapax_ratio"] < 0.3
