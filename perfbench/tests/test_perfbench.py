"""The benchmark's own tests: seeded inputs, the percentile rule, and
the output checks flagging bad outputs.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import statistics

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import inputs
import stats
from checks import Oracle


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    for n in names:
        pa_, pb = os.path.join(a, n), os.path.join(b, n)
        if os.path.isdir(pa_):
            if not _same_tree(pa_, pb):
                return False
        elif not filecmp.cmp(pa_, pb, shallow=False):
            return False
    return True


def _all_inputs(root: str, seed: int) -> str:
    base = os.path.join(root, "base")
    inputs.write_fixture_tables(base, seed, 0.001)
    inputs.write_x4_corpus(base, os.path.join(root, "x4"), seed)
    inputs.write_tsv_partitions(os.path.join(root, "tsv"), seed,
                                ["20240101", "20240102"], 500, 2)
    return root


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    a = _all_inputs(str(tmp_path / "a"), 7)
    b = _all_inputs(str(tmp_path / "b"), 7)
    c = _all_inputs(str(tmp_path / "c"), 8)
    assert _same_tree(a, b)
    for sub in ("base", "x4", "tsv"):
        assert not _same_tree(os.path.join(a, sub), os.path.join(c, sub)), sub


def test_fixture_tables_match_the_fixture_row_counts(tmp_path):
    rows = inputs.write_fixture_tables(str(tmp_path), 1, 0.01)
    assert rows["lineitem"] == 60_000 and rows["orders"] == 15_000
    assert rows["documents"] == 500 and rows["embeddings"] == 500


def test_tsv_dump_carries_the_reference_edge_rows(tmp_path):
    truth = inputs.write_tsv_partitions(str(tmp_path), 3, ["20240105"], 2000, 2)
    files = sorted((tmp_path / "ds=20240105").iterdir())
    assert len(files) == 2
    text = files[0].read_text()
    header = text.splitlines()[0]
    assert header.startswith("ods_events.event_id\t")
    assert text.count(header) == 2  # the first line and one echo
    cells = [c for line in text.splitlines()[1:] for c in line.split("\t")]
    assert "NULL" in cells and "NULLville" in cells
    assert any('"' in c for c in cells)
    rows = truth["20240105"]
    assert len(rows) == 2000
    assert any(v is None for r in rows for v in r)
    assert any(v and "\t" in v for r in rows for v in r)  # quoted tab


def test_percentile_needs_ten_samples_beyond_it():
    assert stats.percentile(list(range(99)), 0.9) is None
    assert stats.percentile(list(range(1, 101)), 0.9) == 90
    assert stats.percentile(list(range(19)), 0.5) is None
    assert stats.percentile(list(range(1, 21)), 0.5) == 10


def test_iqr_share_uses_statistics_quantiles():
    v = [1.0, 1.1, 0.9, 1.2, 1.05, 0.95, 1.0, 1.3, 0.8, 1.0]
    q1, _, q3 = statistics.quantiles(v, n=4)
    assert stats.iqr_share(v) == pytest.approx((q3 - q1) / statistics.median(v))


def test_union_length_merges_overlaps():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4


def test_query_check_flags_a_perturbed_output(tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}),
                   tmp_path / "t.parquet")
    oracle = Oracle(str(tmp_path))
    sql = "SELECT k, v FROM t"
    good = [(3, "c"), (1, "a"), (2, "b")]  # order does not matter
    assert oracle.problems(good, ["k", "v"], sql) == []
    perturbed = [(1, "a"), (2, "b"), (3, "x")]
    assert any("value-hash" in p for p in oracle.problems(perturbed, ["k", "v"], sql))
    assert any("rowcount" in p for p in oracle.problems(good[:2], ["k", "v"], sql))
    assert any("columns" in p for p in oracle.problems(good, ["k", "w"], sql))


def test_query_check_flags_an_output_wrong_only_on_a_repeat_call(spark, tmp_path):
    from engine import Engine
    from tracing import Tracer
    from workloads import Context, QueryWorkload

    ctx = Context(spark, Engine(spark, 2), Tracer(False), str(tmp_path), 5, 2)
    wl = QueryWorkload(ctx)
    os.makedirs(wl.data_dir)
    pq.write_table(pa.table({"k": [1, 2, 3]}), os.path.join(wl.data_dir, "t.parquet"))
    calls = []

    def query(spark, data_dir):
        calls.append(1)
        df = spark.read.parquet(os.path.join(data_dir, "t.parquet"))
        return df if len(calls) == 1 else df.where("k > 1")

    wl.qmap, wl.omap, wl.order = {"q": query}, {"q": "SELECT k FROM t"}, ["q"]
    wl.warm_up()
    problem = wl.failures()["q"]
    assert "first call" not in problem
    assert "after the timed ops: rowcount spark=2 oracle=3" in problem


@pytest.fixture
def etl(spark, tmp_path):
    from engine import Engine
    from tracing import Tracer
    from workloads import Context, EtlWorkload

    ctx = Context(spark, Engine(spark, 2), Tracer(False), str(tmp_path), 5, 2)
    wl = EtlWorkload(ctx)
    wl.ROWS, wl.SENTINEL_ROWS = 300, 100
    wl.setup()
    wl.warm_up()
    wl.run_pass(traced=False)
    return wl


def test_etl_pass_is_correct(etl):
    assert etl.failures() == {}
    assert all(not o.failed for o in etl.ctx.ops)


def test_etl_check_flags_a_doubled_partition(etl):
    from workloads import ETL_TABLE, Op

    ds = str(int(etl.file_sets()[0]) + 10_000)
    etl._sql(f'INSERT INTO {ETL_TABLE} SELECT * FROM {ETL_TABLE} '
             f"WHERE \"ds\" = '{ds}'")
    op = Op("doubled", "reimport", 0)
    etl._check_counts([op], [ds])
    assert "rows 600 != 300" in etl.failures()["doubled"]


def test_etl_check_flags_changed_values_and_other_partitions(etl):
    from workloads import ETL_TABLE, Op

    ds = str(int(etl.file_sets()[0]) + 10_000)
    etl._sql(f"UPDATE {ETL_TABLE} SET \"event_id\" = 'x' "
             f"WHERE \"ds\" = '{ds}' AND \"event_id\" LIKE '%-0000007'")
    etl._sql(f"DELETE FROM {ETL_TABLE} WHERE \"ds\" = '{etl.SENTINEL}' "
             "AND \"event_id\" LIKE '%-0000001'")
    op = Op("changed", "reimport", 0)
    etl._check_counts([op], [ds])
    problems = etl.failures()
    assert etl.SENTINEL in problems["changed"]
    writers = [o.op_id for o in etl.ctx.ops if o.op_id.endswith(ds)]
    assert len(writers) == 2  # the fresh load and the re-import
    for op_id in writers:
        assert f"values of ds={ds} differ" in problems[op_id]
