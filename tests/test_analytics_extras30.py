"""Semantic invariants for batch 30 — properties the oracle hash
cannot see."""

from __future__ import annotations

from pyspark.sql import functions as F

from hivetomysql_spark.tables import load_table


def test_kcore_every_core_node_has_degree_ge_k(spark, sf_dir, Q):
    r = Q["graph_kcore"](spark, sf_dir).collect()[0]
    assert r["k"] == 3
    # handshake: edges counted from degree sums must be integral and
    # the max degree of the core cannot be below k when nonempty
    if r["n_core_nodes"] > 0:
        assert r["max_core_degree"] >= r["k"]
        assert r["n_core_edges"] * 2 >= r["n_core_nodes"] * r["k"]
    else:
        assert r["n_core_edges"] == 0 and r["max_core_degree"] == 0


def test_mmr_first_pick_is_most_relevant_and_no_repeats(spark, sf_dir, Q):
    out = sorted(
        Q["similarity_mmr_rerank"](spark, sf_dir).collect(),
        key=lambda r: r["pick"],
    )
    assert [r["pick"] for r in out] == [1, 2, 3, 4, 5]
    ids = [r["neighbor_id"] for r in out]
    assert len(set(ids)) == 5 and 0 not in ids
    # pick 1 is the raw-relevance argmax, so its relevance bounds all
    assert out[0]["relevance"] == max(r["relevance"] for r in out)


def test_mmr_diversifies_vs_plain_topk(spark, sf_dir, Q):
    mmr = {r["neighbor_id"] for r in Q["similarity_mmr_rerank"](spark, sf_dir).collect()}
    # plain top-5 by relevance for query vec 0
    emb = load_table(spark, sf_dir, "embeddings")
    from hivetomysql_spark.operators.similarity import cosine_topk_bruteforce

    top5 = {
        r["neighbor_id"]
        for r in cosine_topk_bruteforce(
            emb, query_pred=F.col("__id") == 0, k=5
        ).collect()
    }
    # the MMR set must still be drawn from the top-12 candidates and
    # share its top pick with plain ranking
    assert len(mmr) == 5
    assert mmr & top5, "MMR should overlap plain top-k at least on pick 1"


def test_jackknife_matches_closed_form_magnitudes(spark, sf_dir, Q):
    r = Q["stats_jackknife_ratio"](spark, sf_dir).collect()[0]
    assert r["n"] > 0
    assert r["ratio"] > 0
    assert r["jk_se"] > 0
    # SE of a mean-like ratio over n rows shrinks ~1/sqrt(n): it must
    # be far below the ratio itself, and the bias far below the SE
    assert r["jk_se"] < r["ratio"] * 0.1
    assert abs(r["jk_bias"]) < max(10 * r["jk_se"], 1e-6)


def test_standardized_dims_have_zero_mean_unit_var(spark, sf_dir, Q):
    out = Q["embedding_standardize_dims"](spark, sf_dir)
    aggs = out.agg(
        *[F.avg(f"z{j}").alias(f"m{j}") for j in range(8)],
        *[F.stddev_samp(f"z{j}").alias(f"s{j}") for j in range(8)],
    ).collect()[0]
    for j in range(8):
        assert abs(aggs[f"m{j}"]) < 1e-3
        assert abs(aggs[f"s{j}"] - 1.0) < 1e-2
