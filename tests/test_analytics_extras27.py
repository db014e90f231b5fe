"""Semantic invariants for batch 27 — properties the oracle hash
cannot see (both engines computing the same wrong thing would still
hash-match; these pin the modeling down independently)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hivetomysql_spark.tables import load_table


def test_url_parse_covers_all_events(spark, sf_dir, Q):
    out = Q["func_url_parse"](spark, sf_dir).collect()
    ev_n = load_table(spark, sf_dir, "events").count()
    assert sum(r["n_urls"] for r in out) == ev_n
    assert all(r["scheme"] == "https" for r in out)
    # host embeds the event type, and ref_param must echo it
    for r in out:
        assert r["host"] == f"{r['ref_param']}.example.com"


def test_schema_contract_clean_fixture(spark, sf_dir, Q):
    out = {r["constraint_name"]: r["n_violations"]
           for r in Q["dq_schema_contract"](spark, sf_dir).collect()}
    assert len(out) == 6
    # the TPC-H-ish fixture satisfies its own contract
    assert all(v == 0 for v in out.values()), out


def test_quantile_bins_are_equal_depth_and_ordered(spark, sf_dir, Q):
    out = sorted(
        Q["feature_ntile_binning"](spark, sf_dir).collect(),
        key=lambda r: r["bin"],
    )
    assert [r["bin"] for r in out] == [1, 2, 3, 4]
    sizes = [r["n_rows"] for r in out]
    assert max(sizes) - min(sizes) <= 1  # NTILE equal depth
    for a, b in zip(out, out[1:]):
        assert a["hi"] <= b["lo"]  # bins partition the value axis


def test_cramers_v_in_unit_interval(spark, sf_dir, Q):
    r = Q["stats_cramers_v"](spark, sf_dir).collect()[0]
    assert 0.0 <= r["cramers_v"] <= 1.0
    assert r["n_rows_levels"] >= 2 and r["n_col_levels"] >= 2
    # priority and status are independent in the synthetic generator
    assert r["cramers_v"] < 0.2


def test_target_encoding_shrinks_toward_global(spark, sf_dir, Q):
    out = Q["feature_target_encoding_smooth"](spark, sf_dir).collect()
    o = load_table(spark, sf_dir, "orders")
    gmean = o.agg(F.avg("o_totalprice")).collect()[0][0]
    for r in out:
        lo, hi = sorted([r["raw_mean"], gmean])
        # smoothing pulls the encoding strictly between raw and prior
        assert lo - 0.01 <= r["encoded"] <= hi + 0.01


def test_split_leakage_accounting(spark, sf_dir, Q):
    r = Q["dq_split_leakage"](spark, sf_dir).collect()[0]
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert r["n_train_docs"] + r["n_test_docs"] == n_docs
    # ~20% hash split, loose bounds
    assert 0.05 * n_docs < r["n_test_docs"] < 0.40 * n_docs
    assert r["leaked_test_docs"] >= r["leaked_texts"] * 0   # non-negative
    assert r["leaked_texts"] <= min(r["n_train_docs"], r["n_test_docs"])


def test_pmi_bigrams_beat_independence(spark, sf_dir, Q):
    out = Q["text_pmi_bigrams"](spark, sf_dir).collect()
    assert len(out) == 20
    assert all(r["n_pair"] >= 5 for r in out)
    # top collocations must be positively associated
    assert all(r["pmi"] > 0 for r in out)
    pmis = [r["pmi"] for r in out]
    assert pmis == sorted(pmis, reverse=True)
