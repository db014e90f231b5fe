"""Semantic invariants for batch 39 — properties the oracle hash
cannot see."""

from __future__ import annotations

from hivetomysql_spark.tables import load_table


def test_nrr_bounds_grr(spark, sf_dir, Q):
    out = Q["orders_nrr_grr"](spark, sf_dir).collect()
    assert out
    for r in out:
        # GRR caps each customer at base revenue: GRR <= 1 and <= NRR
        assert 0.0 <= r["grr"] <= 1.0 + 1e-9
        assert r["grr"] <= r["nrr"] + 1e-9
        assert r["n_customers"] > 0


def test_mtbf_mttr_sane(spark, sf_dir, Q):
    r = Q["events_mtbf_mttr"](spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events")
    n_err = ev.where("event_type = 'error'").count()
    assert r["n_failures"] == n_err
    assert r["mtbf_s"] > 0 and r["mttr_s"] > 0
    # recovery (first event after an error) comes no later than the
    # next error on average
    assert r["mttr_s"] <= r["mtbf_s"]
    assert 0.0 <= r["availability"] <= 1.0


def test_js_divergence_bounded_bits(spark, sf_dir, Q):
    out = Q["text_js_divergence_sources"](spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    assert len(out) == docs.select("source").distinct().count()
    for r in out:
        # JS divergence in bits is bounded by 1; same-corpus slices
        # should be close to the mixture
        assert 0.0 <= r["js_divergence_bits"] <= 1.0
        assert r["js_divergence_bits"] < 0.5


def test_triplet_mining_band_partitions_negatives(spark, sf_dir, Q):
    out = Q["embedding_triplet_mining"](spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "embeddings")
    assert len(out) == 20
    labels = {
        r["vec_id"]: r["label"] for r in e.select("vec_id", "label").collect()
    }
    for r in out:
        assert r["d_ap"] >= 0.0
        # positive shares the anchor's label and is not the anchor
        assert labels[r["positive_id"]] == labels[r["anchor_id"]]
        assert r["positive_id"] != r["anchor_id"]
        n_neg_total = sum(
            1 for v, l in labels.items() if l != labels[r["anchor_id"]]
        )
        assert 0 <= r["n_hard"] + r["n_semihard"] <= n_neg_total
