"""Semantic invariants for batch 70 — properties the oracle hash
cannot see."""

from __future__ import annotations

def test_edge_energy_detects_flat_vs_noise():
    from hivetomysql_spark.operators.multimodal import (
        decode_ppm,
        synthesize_ppm,
    )

    # a flat image has ZERO gradient; md5-noise images lots
    flat = b"P6\n16 16\n255\n" + bytes([100]) * 768
    w, h, rgb = decode_ppm(flat)
    l = [299 * rgb[3 * i] + 587 * rgb[3 * i + 1] + 114 * rgb[3 * i + 2]
         for i in range(w * h)]
    total = 0
    for y in range(1, h - 1):
        for x in range(1, w - 1):
            total += abs(l[y * w + x + 1] - l[y * w + x - 1])
            total += abs(l[(y + 1) * w + x] - l[(y - 1) * w + x])
    assert total == 0


def test_edge_energy_query_nontrivial(spark, sf_dir, Q):
    rows = Q["multimodal_image_edge_energy"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["doc_id"] % 4 == 1
        # md5 pixels: plenty of detail everywhere
        assert r["edge_energy_millis"] > 0
        assert 0 < r["mean_gradient"] < 512.0  # max |gx|+|gy| in luma units


def test_ddsketch_merge_is_exact(spark, sf_dir, Q):
    row = Q["agg_ddsketch_merge_proof"](spark, sf_dir).collect()[0]
    assert row["merge_exact"] is True
    assert row["n_buckets_merged"] == row["n_buckets_full"]
    assert row["n_cells_compared"] == row["n_buckets_full"]
