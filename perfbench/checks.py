"""Output checks, run outside the timed phase.

* Query ops: a DuckDB-oracle differential against ``oracle_sql()`` on
  the same generated inputs — row count, column names and the
  order-insensitive value hash of ``tools/diffcheck.py``.
* ETL ops: the target's row count and an order-insensitive value
  digest per ``ds``, against the mapped source rows.
"""

from __future__ import annotations

import os

import duckdb

from tools.diffcheck import table_hash


class Oracle:
    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        self._results: dict[str, tuple[list[str], list]] = {}
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                self.con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'"
                )

    def problems(self, rows, columns: list[str], sql: str) -> list[str]:
        if sql not in self._results:
            rel = self.con.sql(sql)
            self._results[sql] = (list(rel.columns), rel.fetchall())
        ocols, orows = self._results[sql]
        out = []
        if len(rows) != len(orows):
            out.append(f"rowcount spark={len(rows)} oracle={len(orows)}")
        if sorted(columns) != sorted(ocols):
            out.append(f"columns spark={sorted(columns)} oracle={sorted(ocols)}")
        else:
            sh, oh = table_hash(rows, columns), table_hash(orows, ocols)
            if sh != oh:
                out.append(f"value-hash spark={sh} oracle={oh}")
        return out


def table_digests(df, columns: list[str], key: str) -> dict[str, tuple[int, int]]:
    """``{key value: (rows, digest)}``. The digest is order-insensitive
    (a sum of per-row hashes), so a doubled row changes it as surely as
    a changed one. Spark computes it next to the data, as a calculator:
    no package code is involved."""
    from pyspark.sql import functions as F

    row_hash = F.pmod(F.xxhash64(*[F.col(c) for c in columns]), F.lit(1 << 40))
    rows = df.groupBy(key).agg(F.count(F.lit(1)), F.sum(row_hash)).collect()
    return {r[0]: (int(r[1]), int(r[2])) for r in rows}
