"""JDBC (MySQL) sink with idempotent partition-scoped overwrite.

The reference loads via generated multi-row INSERT text piped to the
mysql CLI, 100 rows per statement (HiveToMysql.java:338-377, 352), and
makes re-runs idempotent with a ``DELETE ... WHERE k1='v1' AND ...``
keyed on the mapping's *constant* columns — typically ``ds`` +
``version`` — before loading (HiveToMysql.java:270-282, README.md:22-24).

Spark's JDBC writer subsumes the INSERT generation (``batchsize``
batched prepared statements, executed in parallel from every
partition's task — vs the reference's single-threaded pipe). But
Spark has no partition-scoped JDBC overwrite: ``mode("overwrite")``
truncates or drops the whole table. So the delete-before-insert is a
driver-side pre-action: one parameterized DELETE over a plain JDBC
connection, then an append-mode distributed write. Delete+append is
not atomic — neither is the reference (its DELETE and INSERT are two
separate mysql-CLI statements). :func:`write_jdbc_staged` (r12)
closes that window: the distributed write lands in ``tbl__staging``
and ONE driver-side transaction swaps the partition in
(delete+insert-select+commit), so readers never observe the gap and
a mid-load failure leaves the target untouched.

Scale notes (100 TB / 1000-executor design):

* The write parallelism = number of DataFrame partitions; each task
  opens one connection. ``coalesce`` the DataFrame to a connection
  count the target MySQL can survive (default cap below) — thousands
  of concurrent INSERT streams would melt a single MySQL primary.
* ``rewriteBatchedStatements=true`` in the URL turns MySQL's batched
  prepared statements into true multi-row INSERTs — the wire-level
  equivalent of the reference's 100-rows-per-INSERT, ~10× throughput.
"""

from __future__ import annotations

import logging
from collections.abc import Sequence

from pyspark.sql import DataFrame

from hivetomysql_spark.config import DumpConf, DumpMap

log = logging.getLogger(__name__)

DEFAULT_BATCH_SIZE = 1000  # reference uses 100 (HiveToMysql.java:352)
DEFAULT_MAX_WRITE_CONNECTIONS = 16


def build_delete_statement(
    table: str, constant_fields: dict[str, str], ident_quote: str = "`"
) -> tuple[str, list[str]]:
    """Parameterized ``DELETE`` keyed on the constant columns.

    Mirrors HiveToMysql.java:270-282 (``DELETE FROM tbl WHERE 1=1 AND
    k1="v1" AND ...``) but with ``?`` placeholders instead of value
    splicing, so the injection-safety the reference *attempted* with
    quote-wrapping (470-508) is structural here.

    ``ident_quote`` is the identifier quote char — backtick for MySQL
    (the reference's target), ``"`` for ANSI databases (Derby in our
    integration test).
    """
    q = ident_quote
    clauses = " AND ".join(f"{q}{k}{q} = ?" for k in constant_fields)
    sql = f"DELETE FROM {table} WHERE 1=1"
    params: list[str] = []
    if clauses:
        sql += f" AND {clauses}"
        params = list(constant_fields.values())
    return sql, params


def _execute(conn, sql: str, params: Sequence[str] = ()) -> int:
    """One statement on a JVM JDBC connection, ``?`` parameters bound
    as strings; returns its update count."""
    stmt = conn.prepareStatement(sql)
    try:
        for i, value in enumerate(params, start=1):
            stmt.setString(i, value)
        return stmt.executeUpdate()
    finally:
        stmt.close()


def delete_before_insert(
    spark,
    conf: DumpConf,
    mapping: DumpMap,
    url: str | None = None,
    ident_quote: str = "`",
) -> None:
    """Driver-side pre-delete via the JVM's DriverManager.

    Uses the same JDBC driver the writer uses; runs once on the
    driver before the distributed append.
    """
    sql, params = build_delete_statement(
        conf.mysql_table, mapping.constant_fields, ident_quote=ident_quote
    )
    log.info("pre-delete: %s params=%s", sql, params)
    conn = spark._jvm.java.sql.DriverManager.getConnection(
        url or conf.jdbc_url, conf.mysql_user, conf.mysql_password
    )
    try:
        deleted = _execute(conn, sql, params)
        log.info("pre-delete removed %d rows", deleted)
    finally:
        conn.close()


def _save_jdbc(
    df: DataFrame, conf: DumpConf, table: str, mode: str, url: str,
    url_params, batch_size, max_connections, isolation_level, create_types,
) -> None:
    """The distributed JDBC write of ``df`` into ``table``, at most
    ``max_connections`` tasks wide."""
    out = df
    if df.rdd.getNumPartitions() > max_connections:
        out = df.coalesce(max_connections)
    writer = (
        out.write.format("jdbc")
        .option("url", url + (f"?{url_params}" if url_params else ""))
        .option("dbtable", table)
        .option("user", conf.mysql_user)
        .option("password", conf.mysql_password)
        .option("batchsize", str(batch_size))
        .option("isolationLevel", isolation_level)
    )
    if create_types:
        # explicit DDL types when the writer creates the table —
        # e.g. VARCHAR instead of Derby's default CLOB (CLOB is not
        # '='-comparable, which would break the pre-delete) or
        # MySQL's TEXT
        writer = writer.option("createTableColumnTypes", create_types)
    writer.mode(mode).save()


def write_jdbc(
    df: DataFrame,
    conf: DumpConf,
    mapping: DumpMap | None = None,
    batch_size: int = DEFAULT_BATCH_SIZE,
    max_connections: int = DEFAULT_MAX_WRITE_CONNECTIONS,
    isolation_level: str = "READ_COMMITTED",
    url: str | None = None,
    url_params: str | None = "rewriteBatchedStatements=true",
    ident_quote: str = "`",
    create_table_column_types: str | None = None,
) -> None:
    """Append ``df`` into the MySQL target, optionally pre-deleting.

    ``delete_before_dump`` + constant columns ⇒ idempotent re-runs:
    running the pipeline twice leaves the target in the same state as
    running it once (reference README.md:22-24). A failure during the
    append, after the pre-delete, leaves the partition partly loaded
    (module note), so a source's own checks must fail before this
    runs, as :func:`read_tsv_dump`'s arity pass does.

    ``url``/``url_params``/``ident_quote`` default to the reference's
    MySQL target; the Derby integration test overrides them (ANSI
    quotes, no MySQL URL params) — the write path is otherwise
    identical.
    """
    if conf.delete_before_dump and mapping is not None:
        delete_before_insert(
            df.sparkSession, conf, mapping, url=url, ident_quote=ident_quote
        )
    _save_jdbc(
        df, conf, conf.mysql_table, "append", url or conf.jdbc_url, url_params,
        batch_size, max_connections, isolation_level, create_table_column_types,
    )


def write_jdbc_staged(
    df: DataFrame,
    conf: DumpConf,
    mapping: DumpMap | None = None,
    batch_size: int = DEFAULT_BATCH_SIZE,
    max_connections: int = DEFAULT_MAX_WRITE_CONNECTIONS,
    isolation_level: str = "READ_COMMITTED",
    url: str | None = None,
    url_params: str | None = "rewriteBatchedStatements=true",
    ident_quote: str = "`",
    create_table_column_types: str | None = None,
) -> None:
    """Atomic partition overwrite via a staging table — the path that
    EXCEEDS the reference (and plain :func:`write_jdbc`, which both
    leave a visible rows-deleted-but-not-yet-inserted window on
    failure or mid-load reads; documented at the top of this module).

    1. The distributed writer loads ``df`` into ``{table}__staging``
       (mode=overwrite: scratch table, dropped and recreated per run)
       — all the heavy parallel INSERT traffic targets the staging
       table, invisible to readers. A failure here leaves the TARGET
       untouched: re-run and nothing was lost.
    2. One driver-side transaction then does
       ``DELETE FROM target WHERE <constants>; INSERT INTO target
       SELECT <cols> FROM staging; COMMIT`` — server-side data
       movement, no second trip over the wire, and readers at
       READ_COMMITTED see the old partition or the new one, never
       the gap. A failure between the two statements rolls back.
    3. The staging table is dropped best-effort (next run overwrites
       it anyway).

    Scale note: the swap transaction is O(partition rows) of
    server-side I/O inside one transaction — fine for the ds-grain
    partition loads this pipeline ships (the reference's unit of
    work). For multi-TB targets prefer a partitioned target table
    and EXCHANGE PARTITION; same staging shape.
    """
    staging = f"{conf.mysql_table}__staging"
    base_url = url or conf.jdbc_url
    _save_jdbc(
        df, conf, staging, "overwrite", base_url, url_params,
        batch_size, max_connections, isolation_level, create_table_column_types,
    )
    q = ident_quote
    cols = ", ".join(f"{q}{c}{q}" for c in df.columns)
    keyed = conf.delete_before_dump and mapping is not None
    delete_sql, params = build_delete_statement(
        conf.mysql_table, mapping.constant_fields if keyed else {}, ident_quote=q
    )
    insert_sql = (
        f"INSERT INTO {conf.mysql_table} ({cols}) "
        f"SELECT {cols} FROM {staging}"
    )
    conn = df.sparkSession._jvm.java.sql.DriverManager.getConnection(
        base_url, conf.mysql_user, conf.mysql_password
    )
    try:
        conn.setAutoCommit(False)
        try:
            deleted = _execute(conn, delete_sql, params)
            inserted = _execute(conn, insert_sql)
            conn.commit()
            log.info(
                "staged swap: -%d +%d rows in one transaction",
                deleted, inserted,
            )
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.setAutoCommit(True)
        try:
            _execute(conn, f"DROP TABLE {staging}")
        except Exception as exc:  # noqa: BLE001 - scratch cleanup only
            log.info("staging drop skipped: %s", exc)
    finally:
        conn.close()
