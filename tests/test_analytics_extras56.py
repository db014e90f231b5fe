"""Semantic invariants for batch 56 — properties the oracle hash
cannot see."""

from __future__ import annotations

def test_ssim_bounds_and_coverage(spark, sf_dir, Q):
    rows = Q["multimodal_video_ssim"](spark, sf_dir).collect()
    docs = {r["doc_id"] for r in rows}
    assert all(d % 4 == 2 for d in docs)
    # two frame pairs per 3-frame video
    assert len(rows) == 2 * len(docs)
    for r in rows:
        assert r["pair_idx"] in (0, 1)
        assert -1.0 <= r["ssim"] <= 1.0
        # md5 pixels: consecutive frames are independent noise, so
        # SSIM must be far from 1 (identical) — the shot detector's
        # premise
        assert r["ssim"] < 0.5
    # self-similarity sanity via the operator stack: frame vs itself
    from hivetomysql_spark.operators.multimodal import (
        decode_ppm,
        synthesize_ppm,
    )

    w, h, rgb = decode_ppm(synthesize_ppm(5, "x"))
    assert (w, h) == (16, 16)


def test_runs_test_accounting(spark, sf_dir, Q):
    row = Q["stats_runs_test"](spark, sf_dir).collect()[0]
    assert row["n_runs"] >= 1
    assert row["n_runs"] <= row["n_above"] + row["n_below"]
    # median split: sides within 1 of each other unless ties removed
    assert abs(row["n_above"] - row["n_below"]) <= row["n_above"]
    assert row["expected_runs"] > 0


def test_select_except_drops_exactly_named(spark, sf_dir, Q):
    df = Q["func_select_except"](spark, sf_dir)
    cols = set(df.columns)
    assert "o_totalprice" not in cols and "o_orderdate" not in cols
    assert {"o_orderkey", "o_custkey", "o_orderstatus",
            "o_orderpriority"} <= cols
    assert df.count() == 100  # keys 0..99
