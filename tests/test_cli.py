"""End-to-end CLI tests: ``python -m hivetomysql_spark <conf>`` with
the reference's exit-code protocol (subprocess — the CLI builds its
own SparkSession, and exit codes are the observable contract)."""

from __future__ import annotations

import subprocess
import sys

TSV = (
    "events.event_id\tevents.event_type\tevents.user_id\tevents.value\n"
    "1\tclick\t10\t1.5\n"
    "2\tview\tNULL\t2.0\n"
    "3\tpurchase\t12\tNULL\n"
)

MAP_TEXT = "etype=event_type\nuid=user_id\namount=value\nds=$ds\nversion=#2.0\n"


def run_cli(conf_path):
    return subprocess.run(
        [sys.executable, "-m", "hivetomysql_spark", str(conf_path)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/root/repo",
    )


def write_fixture(tmp_path, conf_extra="", map_text=MAP_TEXT, tsv=TSV):
    (tmp_path / "dump.data").write_text(tsv)
    (tmp_path / "dump.map").write_text(map_text)
    conf = (
        "ds=20240101\n"
        "source_format=tsv\n"
        f"source_path={tmp_path}/dump.data\n"
        "sink_format=parquet\n"
        f"sink_path={tmp_path}/out.parquet\n" + conf_extra
    )
    p = tmp_path / "dump.conf"
    p.write_text(conf)
    return p


def test_cli_tsv_to_parquet_success(tmp_path):
    conf = write_fixture(tmp_path)
    proc = run_cli(conf)
    assert proc.returncode == 0, proc.stderr[-2000:]
    # verify sink contents via duckdb (no need for a second JVM)
    import duckdb

    rows = duckdb.sql(
        f"SELECT etype, uid, amount, ds, version FROM '{tmp_path}/out.parquet/*.parquet' ORDER BY etype"
    ).fetchall()
    assert rows == [
        ("click", "10", "1.5", "20240101", "2.0"),
        ("purchase", "12", None, "20240101", "2.0"),
        ("view", None, "2.0", "20240101", "2.0"),
    ]


def test_cli_empty_dump_exit_9995(tmp_path):
    conf = write_fixture(tmp_path, tsv="")
    assert run_cli(conf).returncode == 9995 % 256


def test_cli_short_row_exit_9996(tmp_path):
    # the map reads only event_type, which the short row has
    conf = write_fixture(
        tmp_path, map_text="etype=event_type\n", tsv=TSV + "4\tclick\n"
    )
    assert run_cli(conf).returncode == 9996 % 256


def test_cli_missing_field_exit_9997(tmp_path):
    conf = write_fixture(
        tmp_path,
        conf_extra="error_if_src_field_not_exsits=true\n",
        map_text=MAP_TEXT + "ghost=no_such_col\n",
    )
    # POSIX truncates exit status to 8 bits; the reference's
    # System.exit(9997) is likewise observed as 9997 % 256 on Linux
    assert run_cli(conf).returncode == 9997 % 256


def test_cli_no_data_exit_9998(tmp_path):
    header_only = TSV.splitlines()[0] + "\n"
    conf = write_fixture(
        tmp_path, conf_extra="error_if_none_data=true\n", tsv=header_only
    )
    assert run_cli(conf).returncode == 9998 % 256


def test_cli_mode_test_dry_run_writes_nothing(tmp_path):
    conf = write_fixture(tmp_path, conf_extra="mode=test\n")
    proc = run_cli(conf)
    assert proc.returncode == 0
    assert not (tmp_path / "out.parquet").exists()


def test_cli_unknown_error_exit_9999(tmp_path):
    conf = tmp_path / "dump.conf"
    conf.write_text("source_format=bogus\n")
    (tmp_path / "dump.map").write_text(MAP_TEXT)
    assert run_cli(conf).returncode == 9999 % 256


def test_cli_short_row_reimport_keeps_target_rows(spark, tmp_path):
    """A re-import whose dump has a short row exits 9996 before the
    JDBC pre-delete: the target keeps the partition's rows from the
    good load, and no row of the bad dump is appended (in-process,
    against embedded Derby)."""
    from hivetomysql_spark.__main__ import main
    from hivetomysql_spark.sources import read_jdbc

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    jdbc = (
        "sink_format=jdbc\nmysql_table=app_cli\n"
        f"jdbc_url={url}\njdbc_url_params=\njdbc_ident_quote=\"\n"
    )
    # the pre-delete compares ds and version, which a CLOB cannot be
    types = "ds VARCHAR(20), version VARCHAR(20)"
    conf = write_fixture(tmp_path, conf_extra=jdbc + f"jdbc_create_types={types}\n")
    assert main([str(conf)]) == 0
    conf = write_fixture(
        tmp_path,
        conf_extra=jdbc + "delete_before_dump=true\n",
        tsv=TSV + "4\tclick\n",
    )
    assert main([str(conf)]) == 9996
    back = read_jdbc(spark, url.replace(";create=true", ""), "app_cli")
    assert sorted(r.etype for r in back.collect()) == ["click", "purchase", "view"]
