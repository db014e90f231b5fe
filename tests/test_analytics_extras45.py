"""Semantic invariants for batch 45 — properties the oracle hash
cannot see."""

from __future__ import annotations

from hivetomysql_spark.tables import load_table


def test_dataset_card_internally_consistent(spark, sf_dir, Q):
    card = {r["metric"]: r["value"] for r in
            Q["pipeline_dataset_card"](spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    assert card["n_docs"] == docs.count()
    assert card["total_tokens"] > card["n_docs"]  # multi-token docs
    assert 0.0 <= card["exact_dup_rate"] < 1.0
    # a share of the whole is at least 1/k and at most 1
    assert 1.0 / card["n_sources"] <= card["top_source_share"] <= 1.0
    assert 1.0 / card["n_langs"] <= card["top_lang_share"] <= 1.0
    assert card["median_tokens"] > 0 and card["mean_chars"] > 0


def test_lorenz_curve_convex_below_diagonal(spark, sf_dir, Q):
    out = sorted(
        Q["events_lorenz_deciles"](spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in out] == list(range(1, 11))
    shares = [r["cum_event_share"] for r in out]
    assert shares == sorted(shares)
    assert abs(shares[-1] - 1.0) < 1e-6
    # ascending-rank Lorenz curve sits on/below the diagonal, where
    # the diagonal point is the CUMULATIVE USER share (NTILE deciles
    # are ±1 user in size, so i/10 is not exact)
    total_users = sum(r["n_users"] for r in out)
    cum_users = 0
    for r, s in zip(out[:-1], shares[:-1]):
        cum_users += r["n_users"]
        assert s <= cum_users / total_users + 1e-6
