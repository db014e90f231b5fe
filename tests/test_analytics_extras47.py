"""Semantic invariants for batch 47 — properties the oracle hash
cannot see."""

from __future__ import annotations

from hivetomysql_spark.operators.multimodal import phash_ppm, synthesize_ppm


def test_phash_pure_fn_properties():
    h1, n1 = phash_ppm(synthesize_ppm(42, "x"))
    h2, _ = phash_ppm(synthesize_ppm(42, "different text"))
    h3, _ = phash_ppm(synthesize_ppm(43, "x"))
    # pixels derive from doc_id only, so same id => same hash
    assert h1 == h2
    assert h1 != h3  # different image => different signature (md5 pixels)
    assert len(h1) == 16 and int(h1, 16) >= 0
    assert 0 <= n1 <= 64
    # strict > threshold: an all-constant image has zero bright bits
    flat = b"P6\n16 16\n255\n" + bytes([7]) * 768
    hf, nf = phash_ppm(flat)
    assert hf == "0" * 16 and nf == 0


def test_phash_query_covers_all_images(spark, sf_dir, Q):
    rows = Q["multimodal_phash"](spark, sf_dir).collect()
    ids = {r["doc_id"] for r in rows}
    assert all(i % 4 == 1 for i in ids)
    assert len(rows) == len(ids)  # 1:1
    for r in rows:
        assert len(r["phash"]) == 16
        assert bin(int(r["phash"], 16)).count("1") == r["n_bright"]


def test_kalman_gain_converges_to_steady_state(spark, sf_dir, Q):
    row = Q["timeseries_kalman_local_level"](spark, sf_dir).collect()[0]
    # steady-state gain of Q=10,R=100: K* = (sqrt(Q^2+4QR)-Q)/(2R)
    k_star = ((10.0**2 + 4 * 10.0 * 100.0) ** 0.5 - 10.0) / (2 * 100.0)
    assert abs(row["final_gain"] - k_star) < 1e-4
    assert row["n_days"] > 100
    assert row["level"] > 0
    assert row["innovation_rms"] > 0
    # posterior variance = (1-K)(P+Q) consistent with the gain
    assert abs(row["variance"] - (1 - row["final_gain"]) * 100.0 *
               row["final_gain"] / (1 - row["final_gain"])) < 1e-2


def test_levene_shape(spark, sf_dir, Q):
    row = Q["stats_levene_brown_forsythe"](spark, sf_dir).collect()[0]
    assert row["k_groups"] == 5
    assert row["df1"] == 4
    assert row["df2"] == row["n_total"] - 5
    # W is a valid F statistic: non-negative and finite
    assert row["w_stat"] >= 0.0


def test_l_diversity_bounds(spark, sf_dir, Q):
    rows = Q["privacy_l_diversity"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r["l_distinct"] <= 5  # 5 priority classes exist
        assert r["meets_l3"] == (r["l_distinct"] >= 3)
        assert r["n_customers"] <= r["n_orders"]
