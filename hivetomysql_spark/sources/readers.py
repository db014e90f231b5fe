"""Source readers.

The reference's only source is a Hive-CLI TSV dump of one table
partition (HiveToMysql.java:221-229). Here that becomes:

* :func:`read_hive_table` — metastore-backed scan; the ``ds``
  equality predicate is applied as a DataFrame filter so Catalyst
  performs static partition pruning (only the one partition's files
  are listed/read — at 100 TB this is the difference between a
  full-table scan and a single day's slice).
* :func:`read_tsv_dump` — byte-parity reader for the reference's
  native intermediate format (tab-separated, header with optional
  ``table.`` prefixes, literal ``NULL`` ⇒ null, all columns varchar —
  HiveToMysql.java:295-377,526-545). Exists so existing dump files
  keep working and so parity tests can assert the exact semantics.

Extension-tier sources: parquet / CSV / JSON / JDBC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hivetomysql_spark.errors import MissingHeaderError, RowArityError


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    sep: str = ",",
    schema=None,
    **options,
) -> DataFrame:
    reader = spark.read.option("header", header).option("sep", sep)
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def read_json(spark: SparkSession, path: str, **options) -> DataFrame:
    reader = spark.read
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.json(path)


def read_hive_table(
    spark: SparkSession,
    db: str,
    table: str,
    ds: str | None = None,
    ds_column: str = "ds",
) -> DataFrame:
    """Scan ``db.table``, optionally pruned to one ``ds`` partition.

    Mirrors the reference's ``select * from db.tbl where ds=X``
    (HiveToMysql.java:227) — but as a lazy plan: Catalyst pushes the
    partition predicate into the metastore listing, so unlike the
    reference (which exports *all columns* of the partition to local
    disk) only the columns the downstream mapping needs are ever read.
    """
    df = spark.read.table(f"{db}.{table}")
    if ds is not None:
        df = df.where(F.col(ds_column) == F.lit(ds))
    return df


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    user: str = "",
    password: str = "",
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    **options,
) -> DataFrame:
    """JDBC source with optional range-partitioned parallel read.

    At scale, always pass ``partition_column``/bounds/``num_partitions``
    — a single-connection JDBC read is a driver bottleneck.
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 32))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def _conditions(exc: BaseException):
    """Spark error conditions along ``exc``'s JVM cause chain (PySpark
    keeps the JVM throwable as ``java_exception`` or ``_origin``; only
    a ``SparkThrowable`` has a condition)."""
    jt = getattr(exc, "java_exception", None) or getattr(exc, "_origin", None)
    try:
        while jt is not None:
            if "getCondition" in dir(jt) and (cond := jt.getCondition()):
                yield cond
            jt = jt.getCause()
    except Exception:  # noqa: BLE001 - JVM gone: no more causes
        return


def read_tsv_dump(spark: SparkSession, path: str) -> DataFrame:
    """Read a reference-native Hive TSV dump, all columns as strings.

    Reproduces (citations into /root/reference/HiveToMysql.java):

    * tab separation + header line (366, 526-545)
    * ``table.`` prefix stripped from header fields (532-545)
    * literal ``NULL`` text ⇒ SQL NULL (443-446)
    * mid-stream header echoes dropped (347-350, 402-405) — the hive
      CLI sometimes re-prints the header; with a schema'd reader any
      such line would otherwise surface as a data row, so we filter
      rows where the first column equals its own header name.
    * all-varchar model (README.md:17) — every column StringType.
    * a row whose field count differs from the header's raises
      :class:`RowArityError` (437-441, exit 9996; stricter than the
      reference, which aborts only on a row short of a field the map
      reads). One eager FAILFAST pass over every column checks it
      here, before any sink and its pre-delete, as the reference
      checks arity before its DELETE (256-290); under CSV column
      pruning a narrower lazy read parses only its own columns.

    Raises :class:`MissingHeaderError` (reference exit 9995) when the
    file is empty.

    Known divergence: an unquoted empty field reads as NULL (Spark's
    CSV reader, whatever ``nullValue`` says), not the reference's ``''``.
    """
    df = (
        spark.read.option("sep", "\t")
        .option("header", "true")
        .option("nullValue", "NULL")
        .option("inferSchema", "false")
        .option("mode", "FAILFAST")
        .csv(path)
    )
    if not df.columns:
        raise MissingHeaderError(f"no header line in {path}")
    try:
        df.write.format("noop").mode("overwrite").save()
    except Exception as exc:
        if any(c.startswith("MALFORMED_RECORD_IN_PARSING") for c in _conditions(exc)):
            raise RowArityError(f"row arity differs from the header in {path}") from exc
        raise
    # strip "table." prefixes (HiveToMysql.java:532-545)
    stripped = [c.split(".")[-1] for c in df.columns]
    raw_first = df.columns[0]
    df = df.toDF(*stripped)
    # drop header-echo rows (HiveToMysql.java:347-350): a re-echoed
    # header parses as a row whose first field is the header token.
    first = stripped[0]
    df = df.where(
        F.col(first).isNull()
        | ((F.col(first) != F.lit(raw_first)) & (F.col(first) != F.lit(first)))
    )
    return df


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = True,
) -> DataFrame:
    """Multimodal raw-asset ingestion: Spark's ``binaryFile`` source
    reads each file as one row ``(path, modificationTime, length,
    content binary)`` — the entry point for image/audio/video corpora
    (FIXTURES have no real media; tests feed fake payloads).

    Scale notes: the source parallelizes per-file (one task per file
    up to ``maxPartitionBytes``), pushes ``pathGlobFilter`` down so
    non-matching files are never opened, and prunes the ``content``
    column when only metadata is selected — listing a 100 TB bucket
    for a size audit reads zero payload bytes. Pair with
    ``spark.sql.files.maxPartitionBytes`` sizing so a huge asset
    doesn't skew one task.
    """
    reader = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", str(recursive).lower())
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema=None,
) -> DataFrame:
    """XML source (native in Spark 4 — no external package): one row
    per ``row_tag`` element, attributes surfaced as ``_attr`` columns.

    Scale notes: like JSON/CSV, schema inference is a full extra pass
    over the data — always pass ``schema`` in production so the scan
    is single-pass; files split per-element only when the rowTag
    elements are newline-delimited, so prefer many medium files over
    one giant document for parallelism.
    """
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)
