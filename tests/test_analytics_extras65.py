"""Semantic invariants for batch 65 — properties the oracle hash
cannot see."""

from __future__ import annotations

def test_pca2_spectral_invariants(spark, sf_dir, Q):
    row = Q["embedding_pca_second_component"](spark, sf_dir).collect()[0]
    # random near-isotropic embeddings have a FLAT spectrum; with a
    # tiny eigengap, 3 power iterations cannot strictly order
    # near-equal eigenvalues — the certified invariants are
    # positivity, a near-1 ratio (flat spectrum read correctly), and
    # orthogonality of the deflated direction
    assert row["lambda_1"] > 0 and row["lambda_2"] > 0
    assert 0.5 < row["lambda_ratio"] < 1.5
    # orthogonality: v2 is deflated against v1 after the last product
    assert row["ortho_check"] < 1e-4
    assert row["n_vectors"] == 500
