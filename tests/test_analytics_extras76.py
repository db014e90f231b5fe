"""Semantic invariants for batch 76 — properties the oracle hash
cannot see."""

from __future__ import annotations

def test_aes_roundtrip_total(spark, sf_dir, Q):
    row = Q["func_aes_roundtrip"](spark, sf_dir).collect()[0]
    assert row["n_rows"] > 0
    assert row["n_roundtrip_ok"] == row["n_rows"]
    assert row["all_ok"] is True


def test_luhn_builtin_matches_first_principles(spark, sf_dir, Q):
    row = Q["func_luhn_validation"](spark, sf_dir).collect()[0]
    assert row["n_numbers"] > 0
    # the (orderkey*7)%10 check digit is essentially uniform: valid
    # rate should sit near 1/10, far from 0 or 1
    assert 0.02 < row["valid_rate"] < 0.3
    # cross-check a known Luhn number through the builtin
    import pyspark.sql.functions as F

    ok = spark.range(1).select(
        F.expr("luhn_check('79927398713')").alias("v")
    ).collect()[0]["v"]
    assert ok is True
