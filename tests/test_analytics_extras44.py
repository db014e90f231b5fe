"""Semantic invariants for batch 44 — properties the oracle hash
cannot see."""

from __future__ import annotations

from hivetomysql_spark.tables import load_table


def test_rolling_beta_bounded_by_share(spark, sf_dir, Q):
    r = Q["window_rolling_beta"](spark, sf_dir).collect()[0]
    assert r["n_windows"] > 0
    assert r["min_beta"] <= r["mean_beta"] <= r["max_beta"]
    # segment revenue is a component of total: beta centers near the
    # segment's share of variance contribution, well inside [-1, 2]
    assert -1.0 < r["mean_beta"] < 2.0
    assert r["beta_vol"] >= 0.0


def test_pacf_lag1_equals_acf1_and_bounded(spark, sf_dir, Q):
    r = Q["timeseries_pacf"](spark, sf_dir).collect()[0]
    assert r["n_obs"] > 100
    for c in ("pacf_1", "pacf_2", "pacf_3"):
        assert -1.0 <= r[c] <= 1.0
    # independent daily counts: all partial autocorrelations small
    assert abs(r["pacf_2"]) < 0.2 and abs(r["pacf_3"]) < 0.2


def test_shot_detection_every_synthetic_pair_is_cut(spark, sf_dir, Q):
    out = Q["multimodal_video_shot_detection"](spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    n_vids = docs.where("doc_id % 4 = 2").count()
    assert len(out) == n_vids
    for r in out:
        assert r["n_frame_pairs"] == 2
        # independent md5 pixel noise: mean |delta| of uniform bytes
        # ~ 85, far above the cut threshold — every pair is a cut
        assert r["avg_frame_delta"] > 60
        assert r["n_shot_cuts"] == 2
