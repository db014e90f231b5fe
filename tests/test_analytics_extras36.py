"""Semantic invariants for batch 36 — properties the oracle hash
cannot see."""

from __future__ import annotations

import math


from hivetomysql_spark.tables import load_table


def test_late_data_monotone_in_delay(spark, sf_dir, Q):
    out = Q["stream_late_data_accounting"](spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    assert sum(r["n_events"] for r in out) == ev.count()
    for r in out:
        # a longer watermark can only drop fewer events
        assert (
            r["dropped_at_30m"] <= r["dropped_at_10m"] <= r["n_out_of_order"]
        )
        assert r["max_late_s"] >= 0.0


def test_gram_matrix_psd_diagonals(spark, sf_dir, Q):
    out = {(r["i"], r["j"]): r["gram"] for r in
           Q["embedding_gram_matrix"](spark, sf_dir).collect()}
    assert len(out) == 8 * 9 // 2
    for i in range(1, 9):
        # diagonal of X^T X is a sum of squares
        assert out[(i, i)] >= 0.0
        for j in range(i + 1, 9):
            # Cauchy-Schwarz bound cell by the diagonals
            assert out[(i, j)] ** 2 <= out[(i, i)] * out[(j, j)] * 1.0001


def test_dft_band_peaks_near_signal_frequency(spark, sf_dir, Q):
    import hashlib

    out = Q["multimodal_audio_dft_bands"](spark, sf_dir).collect()
    by_doc: dict[int, dict[int, float]] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], {})[r["k"]] = r["magnitude"]
    assert by_doc
    for doc_id, bands in list(by_doc.items())[:20]:
        assert set(bands) == {1, 2, 3, 4}
        assert all(v >= 0 for v in bands.values())
        # the sine's frequency maps to DFT bin freq*N/rate; with
        # freq in [200, 1220] Hz and N=256 @ 8 kHz, bin 6.4..39 — all
        # four reported low bins are OFF-peak, so magnitudes are
        # leakage-bounded, far below the on-peak value N*amp/2 ~ 38
        assert max(bands.values()) < 20.0
