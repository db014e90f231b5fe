"""Source readers: the reference's TSV dump (``read_tsv_dump``),
extension-tier CSV / JSON round-trips and the rate streaming source
(SURVEY.md §2.2 "Scans/sources beyond Hive-CLI")."""

from __future__ import annotations

import pytest

from hivetomysql_spark.errors import RowArityError, to_exit_code
from hivetomysql_spark.sources import read_csv, read_json, read_orc, read_tsv_dump
from hivetomysql_spark.tables import load_table


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_orc")
    nation.write.orc(path)
    back = read_orc(spark, path)
    got = {(r.n_nationkey, r.n_name, r.n_regionkey) for r in back.collect()}
    want = {(r.n_nationkey, r.n_name, r.n_regionkey) for r in nation.collect()}
    assert got == want


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_csv")
    nation.write.option("header", True).csv(path)
    back = read_csv(spark, path, header=True)
    assert back.count() == nation.count()
    assert set(back.columns) == set(nation.columns)
    # inferSchema restored integer types
    assert dict(back.dtypes)["n_nationkey"] == "int"


def test_json_roundtrip(spark, sf_dir, tmp_path):
    region = load_table(spark, sf_dir, "region")
    path = str(tmp_path / "region_json")
    region.write.json(path)
    back = read_json(spark, path)
    got = {(r.r_regionkey, r.r_name) for r in back.collect()}
    want = {(r.r_regionkey, r.r_name) for r in region.collect()}
    assert got == want


def test_rate_stream_source(spark):
    """Rate source — the built-in load-generator stream (useful for
    soak-testing streaming operators without a broker)."""
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "100").load()
    )
    assert stream.isStreaming
    assert set(stream.columns) == {"timestamp", "value"}
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_smoke")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) c FROM rate_smoke").collect()[0].c
            if n > 0:
                break
            time.sleep(0.5)
        assert n > 0
    finally:
        q.stop()


def test_binary_file_source_roundtrip_and_feature_plumbing(spark, tmp_path):
    """binaryFile source → binary column → Arrow feature extraction:
    the full multimodal ingestion path on fake payloads."""
    from pyspark.sql import functions as F

    from hivetomysql_spark.operators import multimodal as M
    from hivetomysql_spark.sources.readers import read_binary_files

    payloads = {f"img_{i}.txt": f"payload number {i} {'x' * i}" for i in range(5)}
    (tmp_path / "skipme.bin").write_bytes(b"\x00\x01")
    for name, text in payloads.items():
        (tmp_path / name).write_bytes(text.encode())

    df = read_binary_files(spark, str(tmp_path), glob="*.txt")
    rows = df.collect()
    assert len(rows) == 5  # glob pushdown excluded skipme.bin
    got = {r["path"].rsplit("/", 1)[-1]: bytes(r["content"]) for r in rows}
    assert got == {k: v.encode() for k, v in payloads.items()}
    assert all(r["length"] == len(got[r["path"].rsplit("/", 1)[-1]]) for r in rows)

    binary_df = df.select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.col("content").alias("payload"),
        F.lit("txt").alias("format"),
        F.col("length").alias("n_bytes"),
    )
    feats = M.extract_features(binary_df).collect()
    assert len(feats) == 5
    assert all(len(r["feature"]) == 8 for r in feats)


def test_xml_roundtrip(spark, sf_dir, tmp_path):
    """Native Spark 4 XML source: write a slice of orders as XML,
    read it back through read_xml, and match the original values."""
    from pyspark.sql import functions as F

    from hivetomysql_spark.sources.readers import read_xml

    o = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .where(F.col("o_orderkey") < 100)
    )
    path = str(tmp_path / "orders_xml")
    o.write.format("xml").option("rowTag", "order").mode("overwrite").save(path)
    back = read_xml(spark, path, row_tag="order", schema=o.schema)
    orig = {(r.o_orderkey, r.o_orderstatus, round(r.o_totalprice, 4)) for r in o.collect()}
    got = {(r.o_orderkey, r.o_orderstatus, round(r.o_totalprice, 4)) for r in back.collect()}
    assert got == orig and len(got) > 0


def test_tsv_dump_directory(spark, tmp_path):
    """The reference's TSV dump format over a directory of dumps:
    table-prefix stripping, NULL literal, a header per file and a
    mid-file header echo filtered out."""
    d = tmp_path / "dumps"
    d.mkdir()
    header = "events.event_id\tevents.etype\tevents.val"
    (d / "part1.data").write_text(
        f"{header}\n1\tclick\t10\n{header}\n2\tview\tNULL\n"
    )
    (d / "part2.data").write_text(f"{header}\n3\tbuy\t7\n")
    df = read_tsv_dump(spark, str(d))
    assert df.columns == ["event_id", "etype", "val"]
    rows = {(r.event_id, r.etype, r.val) for r in df.collect()}
    assert rows == {("1", "click", "10"), ("2", "view", None), ("3", "buy", "7")}


def _dump_with(tmp_path, row: str) -> str:
    """A three-column dump with ``row`` between two well-formed rows."""
    f = tmp_path / "dump.data"
    f.write_text(f"t.a\tt.b\tt.c\n1\t2\t3\n{row}\n4\t5\t6\n")
    return str(f)


@pytest.mark.parametrize("pruning", ["true", "false"], ids=["pruned", "unpruned"])
@pytest.mark.parametrize("row", ["7\t8", "7\t8\t9\t10"], ids=["short", "long"])
def test_tsv_dump_row_arity_fails(spark, tmp_path, row, pruning):
    """A row one field short or long fails the read itself (reference
    exit 9996), before any projection or sink, whether or not the
    session prunes CSV columns."""
    key = "spark.sql.csv.parser.columnPruning.enabled"
    spark.conf.set(key, pruning)
    try:
        with pytest.raises(RowArityError) as err:
            read_tsv_dump(spark, _dump_with(tmp_path, row))
    finally:
        spark.conf.unset(key)
    assert to_exit_code(err.value) == 9996


@pytest.mark.parametrize("cols", [["a"], ["a", "b", "c"]], ids=["one_column", "all_columns"])
def test_tsv_dump_well_formed_passes(spark, tmp_path, cols):
    """Every row at the header's arity reads, a fully quoted field
    with an embedded tab as one value."""
    df = read_tsv_dump(spark, _dump_with(tmp_path, '7\t"8\t8"\t9')).select(*cols)
    want = [("1", "2", "3"), ("7", "8\t8", "9"), ("4", "5", "6")]
    assert sorted(map(tuple, df.collect())) == sorted(r[: len(cols)] for r in want)


def test_tsv_dump_empty_field_reads_null(spark, tmp_path):
    """Pinned divergence from the reference, whose only null rule is
    the literal ``NULL``: Spark's CSV reader reads an unquoted empty
    field as NULL, not ``''``."""
    df = read_tsv_dump(spark, _dump_with(tmp_path, "7\t\t9"))
    assert ("7", None, "9") in set(map(tuple, df.collect()))


def test_csv_corrupt_record_modes(spark, tmp_path):
    """Malformed-row policy on the generic readers: PERMISSIVE
    captures the raw line in a corrupt-record column (audit-and-
    continue), FAILFAST raises — the reader-level analogue of the
    reference's fatal row-arity contract (HiveToMysql.java:437-441,
    exit 9996)."""
    from pyspark.sql.utils import PythonException  # noqa: F401

    f = tmp_path / "rows.csv"
    f.write_text("a,b\n1,2\n3\n4,5\n")
    schema = "a int, b int, _bad string"
    ok = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(str(f))
    )
    rows = ok.collect()
    bad = [r for r in rows if r._bad is not None]
    assert len(rows) == 3 and len(bad) == 1 and bad[0]._bad == "3"
    strict = (
        spark.read.schema("a int, b int")
        .option("header", "true")
        .option("mode", "FAILFAST")
        .csv(str(f))
    )
    with pytest.raises(Exception, match="Malformed|FAILFAST"):
        strict.collect()


def test_parquet_zstd_roundtrip(spark, sf_dir, tmp_path):
    """Column codecs are a writer option away; zstd round-trips and
    compresses the orders slice smaller than snappy (the default) —
    the knob that matters when 100 TB sits on object storage."""
    import os

    o = load_table(spark, sf_dir, "orders")
    pz, ps = str(tmp_path / "zstd"), str(tmp_path / "snappy")
    o.coalesce(1).write.option("compression", "zstd").parquet(pz)
    o.coalesce(1).write.option("compression", "snappy").parquet(ps)

    def total(p):
        return sum(
            os.path.getsize(os.path.join(p, f))
            for f in os.listdir(p)
            if f.endswith(".parquet")
        )

    assert spark.read.parquet(pz).count() == o.count()
    assert total(pz) < total(ps)
