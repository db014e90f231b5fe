"""The reference's source is a partitioned Hive table
(HiveToMysql.java:227: ``select * from db.tbl where ds=X``). Exercise
read_hive_table against a real local Hive metastore (Derby-backed,
temp warehouse) including static partition pruning.

Runs in a subprocess: Hive support needs its own SparkSession
configuration, and SparkSession.builder.getOrCreate() would otherwise
collide with (or, worse, stop) the suite's shared session/JVM.
"""

from __future__ import annotations

import subprocess
import sys

SCRIPT = r"""
import sys
sys.path.insert(0, ".")
from pyspark.sql import SparkSession
from hivetomysql_spark.sources import read_hive_table

wh, meta = sys.argv[1], sys.argv[2]
spark = (
    SparkSession.builder.appName("hive-test")
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir", wh)
    .config("spark.hadoop.javax.jdo.option.ConnectionURL",
            f"jdbc:derby:;databaseName={meta}/metastore_db;create=true")
    .config("spark.ui.enabled", "false")
    .enableHiveSupport()
    .getOrCreate()
)
spark.sql("CREATE DATABASE IF NOT EXISTS dm")
rows = [(1, "click", "20240101"), (2, "view", "20240101"), (3, "click", "20240102")]
df = spark.createDataFrame(rows, ["event_id", "etype", "ds"])
df.write.mode("overwrite").partitionBy("ds").format("parquet").saveAsTable("dm.events_part")

one_day = read_hive_table(spark, "dm", "events_part", ds="20240101")
got = sorted(r.event_id for r in one_day.collect())
assert got == [1, 2], got

plan = one_day._jdf.queryExecution().executedPlan().toString()
assert "20240101" in plan
assert "20240102" not in plan, "partition pruning failed: other ds scanned"

full = read_hive_table(spark, "dm", "events_part")
assert full.count() == 3
assert set(full.columns) == {"event_id", "etype", "ds"}
print("HIVE_SOURCE_OK")
"""


def test_hive_partitioned_read_with_ds_pruning(tmp_path):
    wh = str(tmp_path / "warehouse")
    meta = str(tmp_path / "metastore")
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, wh, meta],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "HIVE_SOURCE_OK" in proc.stdout
