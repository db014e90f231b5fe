"""Semantic invariants for batch 40 — properties the oracle hash
cannot see."""

from __future__ import annotations

from hivetomysql_spark.tables import load_table


def test_ann_recall_monotone_in_nprobe(spark, sf_dir, Q):
    out = sorted(
        Q["embedding_ann_recall_sweep"](spark, sf_dir).collect(),
        key=lambda r: r["nprobe"],
    )
    assert [r["nprobe"] for r in out] == [1, 2, 4]
    recs = [r["recall_at_5"] for r in out]
    # probing more cells can only find more of the exact top-5
    assert recs == sorted(recs)
    assert 0.0 <= recs[0] and recs[-1] <= 1.0
    # at nprobe=4/16 cells recall should be substantial
    assert recs[-1] >= 0.5


def test_cuped_is_mean_preserving_and_reduces_variance(spark, sf_dir, Q):
    r = Q["events_cuped_adjustment"](spark, sf_dir).collect()[0]
    assert r["n_users"] > 0
    # CUPED subtracts a centered covariate: the mean is unchanged
    assert abs(r["cuped_mean"] - r["post_mean"]) < 1e-4
    # theta-optimal adjustment can never increase variance
    assert r["variance_reduction"] >= -1e-9


def test_scorecard_weights_and_share(spark, sf_dir, Q):
    out = Q["supplier_scorecard"](spark, sf_dir).collect()
    li = load_table(spark, sf_dir, "lineitem")
    assert len(out) == li.select("l_suppkey").distinct().count()
    assert abs(sum(r["volume_share"] for r in out) - 1.0) < 1e-3
    scores = [r["composite_score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    for r in out:
        assert 0.0 <= r["composite_score"] <= 1.0 + 1e-9
        assert 0.0 <= r["on_time_rate"] <= 1.0
