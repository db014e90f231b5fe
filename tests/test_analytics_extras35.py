"""Semantic invariants for batch 35 — properties the oracle hash
cannot see."""

from __future__ import annotations

from hivetomysql_spark.tables import load_table


def test_gains_table_accounting(spark, sf_dir, Q):
    out = sorted(
        Q["ml_lift_gains_table"](spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    o = load_table(spark, sf_dir, "orders")
    assert [r["decile"] for r in out] == list(range(1, 11))
    assert sum(r["n"] for r in out) == o.count()
    gains = [r["cum_gain"] for r in out]
    assert gains == sorted(gains)
    assert abs(gains[-1] - 1.0) < 1e-6
    # independent score: every lift near 1
    for r in out:
        assert 0.5 < r["lift"] < 1.5


def test_embedding_drift_nonnegative_and_small(spark, sf_dir, Q):
    out = Q["embedding_drift_centroids"](spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "embeddings")
    assert len(out) == e.select("label").distinct().count()
    for r in out:
        assert r["centroid_shift"] >= 0.0
        assert r["n_a"] + r["n_b"] == e.where(
            f"label = {r['label']}"
        ).count()


def test_hill_alpha_positive(spark, sf_dir, Q):
    r = Q["finance_hill_tail_index"](spark, sf_dir).collect()[0]
    assert r["k"] == 100
    assert r["threshold"] > 0
    # order totals are bounded-ish (sums of uniforms): thin tail,
    # alpha well above the infinite-variance line
    assert r["hill_alpha"] > 2.0


def test_assortativity_is_correlation(spark, sf_dir, Q):
    r = Q["graph_assortativity"](spark, sf_dir).collect()[0]
    assert r["n_edges"] > 0
    assert -1.0 <= r["assortativity"] <= 1.0
