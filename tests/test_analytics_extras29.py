"""Semantic invariants for batch 29 — properties the oracle hash
cannot see."""

from __future__ import annotations

from hivetomysql_spark.queries import queries
from hivetomysql_spark.tables import load_table


def test_naive_bayes_confusion_covers_all_docs(spark, sf_dir, Q):
    out = Q["ml_naive_bayes_langid"](spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    assert sum(r["n"] for r in out) == docs.count()
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    assert {r["actual"] for r in out} <= langs
    assert {r["predicted"] for r in out} <= langs


def test_abc_xyz_partitions_all_parts(spark, sf_dir, Q):
    out = Q["inventory_abc_xyz"](spark, sf_dir).collect()
    li = load_table(spark, sf_dir, "lineitem")
    n_parts = li.select("l_partkey").distinct().count()
    assert sum(r["n_parts"] for r in out) == n_parts
    assert abs(sum(r["revenue_share"] for r in out) - 1.0) < 1e-4
    for r in out:
        assert r["abc_class"] in ("A", "B", "C")
        assert r["xyz_class"] in ("X", "Y", "Z")


def test_churn_hazard_is_probability_and_risk_monotone(spark, sf_dir, Q):
    out = sorted(
        Q["event_churn_hazard"](spark, sf_dir).collect(),
        key=lambda r: r["week"],
    )
    assert out
    risks = [r["n_at_risk"] for r in out]
    assert risks == sorted(risks, reverse=True)
    for r in out:
        assert 0.0 < r["hazard"] <= 1.0
        assert r["n_churned"] <= r["n_at_risk"]
    # final week: everyone still at risk churns (last observed week)
    assert out[-1]["hazard"] == 1.0


def test_bpe_pairs_are_two_chars_weighted(spark, sf_dir, Q):
    out = Q["tokenizer_bpe_merges"](spark, sf_dir).collect()
    assert out
    for r in out:
        assert len(r["pair"]) == 2
        assert r["n"] > 0
    ns = [r["n"] for r in out]
    assert ns == sorted(ns, reverse=True)


def test_rake_phrases_contain_no_stopwords(spark, sf_dir, Q):
    from hivetomysql_spark.queries.text_suite import _RAKE_STOP

    out = Q["text_rake_keywords"](spark, sf_dir).collect()
    assert out
    for r in out:
        toks = r["phrase"].split(" ")
        assert 1 <= len(toks) <= 4
        assert not (set(toks) & set(_RAKE_STOP))
        assert r["rake_score"] > 0
