"""The three workloads. Each builds its inputs from the seed, warms up,
runs its fixed op list in a closed loop (one client, one op at a time)
and checks the outputs outside the timed phase.

An op is one query (registry build plus noop-sink execute) or one
partition load (one ``__main__.run(conf)`` call). The timed phase runs
whole passes over the op list; ``wall_s`` is the median pass time.
"""

from __future__ import annotations

import dataclasses
import functools
import json
import os
import random
import subprocess
import sys
import time
import traceback

import inputs
from checks import Oracle, table_digests
from engine import engine_layer
from stats import median

# bench.py's HEADLINE names with the highest driver share (registry
# build time over op time, warm, sf0.1, local[4]) whose oracle costs
# under 0.5 s and that warm up fastest, leaving out the corpus operators
# that llm_ops_x4 runs; the run budget holds no more.
HEADLINE_SUBSET = [
    "graph_connected_components",
    "parity_mapping",
    "join_broadcast_dims",
    "agg_pricing_summary",
    "sort_topk_orders",
]

# The corpus operators. Exact n-gram Jaccard and SimHash dedup run in
# every pass; the rest are timed once each in the traced run only, as
# the run budget has no room for them in every run (MinHash-LSH alone
# would add about 6.5 s cold and 2.6-3.4 s a pass at this corpus size).
LLM_OPS = [
    "dedup_ngram_jaccard",
    "dedup_simhash_pairs",
]
LLM_TRACE_ONLY = [
    "dedup_minhash_lsh",
    "dedup_lsh_quality_audit",
    "similarity_ivf_topk",
    "text_bm25_scores",
    "multimodal_phash",
    "pipeline_corpus_clean",
]


def generate(fn: str, *args) -> None:
    """Run the input generator ``inputs.<fn>(*args)`` in a child
    interpreter: it only writes files, so its memory never counts in
    this process's peak RSS."""
    subprocess.run([sys.executable, inputs.__file__, fn, json.dumps(args)],
                   check=True)


@dataclasses.dataclass
class Op:
    op_id: str
    name: str
    wall_s: float = 0.0
    error: str | None = None
    failed: bool = False
    t0_ms: float = 0.0
    t1_ms: float = 0.0
    stats: dict | None = None
    extra: dict = dataclasses.field(default_factory=dict)


class Context:
    def __init__(self, spark, engine, tracer, work: str, seed: int, nproc: int):
        self.spark = spark
        self.engine = engine
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.nproc = nproc
        self.ops: list[Op] = []
        self.passes = 0

    def next_pass(self) -> int:
        self.passes += 1
        return self.passes - 1


def run_op(ctx: Context, op: Op, body, traced: bool) -> Op:
    """Time ``body`` as one op; a raise marks it failed, never retried."""
    if traced:
        ctx.engine.set_group(op.op_id)
        ctx.tracer.op_id = op.op_id
    op.t0_ms = time.time() * 1000
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span("op"):
            body()
    except Exception as exc:  # noqa: BLE001 - counted, reported, not retried
        op.failed = True
        op.error = f"{type(exc).__name__}: {exc}"[:300]
        traceback.print_exc(file=sys.stderr)
    op.wall_s = time.perf_counter() - t0
    op.t1_ms = time.time() * 1000
    if traced:
        ctx.tracer.op_id = None
        ctx.engine.set_group(None)
        ctx.engine.drain()
        op.stats = ctx.engine.group_stats(op.op_id, op.t0_ms, op.t1_ms)
    ctx.ops.append(op)
    return op


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- query workloads -------------------------------------------------------


class QueryWorkload:
    names: list[str] = []

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.data_dir = os.path.join(ctx.work, "data")
        from hivetomysql_spark import queries as registry

        self.qmap = registry.queries()
        self.omap = registry.oracle_sql()
        self.order = list(self.names)
        random.Random(ctx.seed).shuffle(self.order)
        # every collected output of each query: the warm-up's, then the
        # one collected after the timed and traced passes
        self.outputs: dict[str, list[tuple[list, list[str]] | str]] = {}

    def warm_up(self) -> None:
        """One cold pass that collects every query's rows for the output
        check."""
        self.collect(self.order)

    def collect(self, names: list[str]) -> None:
        for name in names:
            try:
                df = self.qmap[name](self.ctx.spark, self.data_dir)
                out = (df.collect(), df.columns)
            except Exception as exc:  # noqa: BLE001 - reported by failures()
                out = f"{type(exc).__name__}: {exc}"[:300]
            self.outputs.setdefault(name, []).append(out)

    def run_pass(self, traced: bool) -> float:
        p = self.ctx.next_pass()
        t0 = time.perf_counter()
        for name in self.order:
            op = Op(f"p{p}-{name}{'-t' if traced else ''}", name)
            run_op(self.ctx, op, lambda n=name, o=op: self._query(n, o, traced),
                   traced)
        return time.perf_counter() - t0

    def _query(self, name: str, op: Op, traced: bool) -> None:
        tr = self.ctx.tracer
        with tr.span("queries.build"):
            df = self.qmap[name](self.ctx.spark, self.data_dir)
        if traced:
            from hivetomysql_spark.plans import introspect

            with tr.span("plans.plan"):
                introspect.executed_plan(df)
            op.extra["plan_ms"] = catalyst_ms(df)
        with tr.span("queries.execute"):
            noop(df)

    def failures(self) -> dict[str, str]:
        """``{query: problem}`` for every query whose output differs
        from its DuckDB oracle (or that raised), on its cold first call
        or on a call after all of its timed and traced ops."""
        self.collect(list(self.outputs))
        oracle = Oracle(self.data_dir)
        bad = {}
        for name, outs in self.outputs.items():
            problems = []
            for when, out in zip(("first call", "after the timed ops"), outs):
                if isinstance(out, str):
                    problems.append(f"{when}: {out}")
                    continue
                if name not in self.omap:
                    continue
                try:
                    found = oracle.problems(*out, self.omap[name])
                except Exception as exc:  # noqa: BLE001
                    found = [f"oracle error: {exc}"[:300]]
                problems += [f"{when}: {p}" for p in found]
            if problems:
                bad[name] = "; ".join(problems)
        return bad

    def trace_extras(self) -> dict[str, float]:
        return {}

    def layers(self, traced_ops: list[Op], passes: int) -> dict[str, float]:
        tr = self.ctx.tracer
        ops = [o for o in traced_ops if not o.failed]
        out = {
            "queries.build_s": median(
                [tr.total("queries.build", o.op_id) for o in ops]),
            "queries.execute_s": median(
                [tr.total("queries.execute", o.op_id) for o in ops]),
            "plans.plan_s": median(
                [o.extra.get("plan_ms", 0) / 1000 for o in ops]),
        }
        for name in LLM_OPS + LLM_TRACE_ONLY:
            walls = [o.wall_s for o in ops if o.name == name]
            out[f"queries.{name}_s"] = median(walls)
        out.update(engine_layer([o.stats for o in traced_ops if o.stats],
                                self.ctx.nproc, passes))
        return out


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time from the query's own
    Catalyst phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        if ph.isDefined():
            total += ph.get().durationMs()
    return float(total)


class HeadlineWorkload(QueryWorkload):
    names = HEADLINE_SUBSET

    def setup(self) -> None:
        generate("write_fixture_tables", self.data_dir, self.ctx.seed, 0.1)


class LlmOpsWorkload(QueryWorkload):
    names = LLM_OPS
    BASE_DOCS = 250  # x4 -> 1000 documents and 1000 embeddings

    def setup(self) -> None:
        generate("write_llm_inputs", os.path.join(self.ctx.work, "base"),
                 self.data_dir, self.ctx.seed, self.BASE_DOCS)

    def trace_extras(self) -> dict[str, float]:
        """The trace-only queries (checked like the others, then timed
        once each, traced), and the direct operator calls."""
        self.collect(LLM_TRACE_ONLY)
        out = {}
        for name in LLM_TRACE_ONLY:
            op = Op(f"extra-{name}-t", name)
            run_op(self.ctx, op, lambda n=name, o=op: self._query(n, o, True),
                   traced=True)
            out[f"queries.{name}_s"] = op.wall_s
        out.update(self.operator_calls())
        return out

    def operator_calls(self) -> dict[str, float]:
        """Direct operator calls on the x4 inputs, forced through the
        noop sink, plus the MinHash-LSH candidate yield read from the
        SQL plan row metrics."""
        from pyspark.sql import functions as F

        from hivetomysql_spark.operators import dedup as D
        from hivetomysql_spark.operators import multimodal as M
        from hivetomysql_spark.operators import similarity as S
        from hivetomysql_spark.operators import text as T
        from hivetomysql_spark.tables import load_table

        spark, d = self.ctx.spark, self.data_dir
        docs = load_table(spark, d, "documents")
        emb = load_table(spark, d, "embeddings")
        calls = {
            "dedup.minhash_lsh_pairs": lambda: D.minhash_lsh_pairs(
                docs, "doc_id", "text", num_hashes=32, bands=8,
                threshold=0.2, hash_family="md5"),
            "dedup.ngram_jaccard_pairs": lambda: D.ngram_jaccard_pairs(
                docs, "doc_id", "text", n=3, threshold=0.2),
            "dedup.simhash_near_pairs": lambda: D.simhash_near_pairs(
                docs, "doc_id", "text", max_hamming=4),
            "similarity.ivf_cosine_topk": lambda: S.ivf_cosine_topk(
                emb, query_pred=F.col("__id") < 10, k=5, n_cells=16, nprobe=4),
            "text.quality_score": lambda: T.quality_score(docs, "doc_id", "text"),
            "multimodal.phash_payloads": lambda: M.phash_payloads(
                M.attach_multimodal_payload(
                    docs.where(F.col("doc_id") % 4 == 1), "doc_id", "text")),
        }
        out = {}
        for key, build in calls.items():
            op = Op(f"operators.{key}", key)
            before = self.ctx.engine.last_execution_id()
            run_op(self.ctx, op, lambda b=build: noop(b()), traced=True)
            out[f"operators.{key}_s"] = op.wall_s
            if key == "dedup.minhash_lsh_pairs":
                joined, final = self.ctx.engine.join_and_root_rows(before)
                out["operators.dedup.candidate_yield"] = (
                    final / joined if joined else 0.0)
        return out


# --- ETL re-import ---------------------------------------------------------

ETL_TABLE = "etl_target"
ETL_COLUMNS = ["event_id", "uid", "etype", "amount", "note", "city", "ds",
               "version"]
DUMP_MAP = """\
event_id=event_id
uid=user_id
etype=event_type
amount=amount
note=note
city=city
ds=$ds
version=#2.0
"""
# Spark's Derby dialect binds a null string as CLOB, which Derby will
# not store in a VARCHAR column, so the columns that can hold the dump's
# NULL literal are CLOB; the delete keys stay '='-comparable VARCHARs.
ETL_DDL = (
    f"CREATE TABLE {ETL_TABLE} ("
    '"event_id" VARCHAR(32), "uid" CLOB, "etype" CLOB, "amount" CLOB, '
    '"note" CLOB, "city" CLOB, "ds" VARCHAR(8), "version" VARCHAR(8))'
)


class EtlWorkload:
    ROWS = 50_000
    PARTITIONS = 1  # fresh partitions per pass; each is then re-imported
    SENTINEL = "19991231"  # loaded in set-up; no timed op may touch it
    SENTINEL_ROWS = 5_000

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.src = os.path.join(ctx.work, "dumps")
        self.url = f"jdbc:derby:{os.path.join(ctx.work, 'derby', 'etl')};create=true"
        self.map_file = os.path.join(ctx.work, "dump.map")
        self.source_of: dict[str, str] = {}  # target ds -> dump file set
        self.ops_of: dict[str, list[Op]] = {}  # ds -> the ops that wrote it
        self.problems: dict[str, str] = {}  # op_id -> problem
        self.base_day = 20240101 + ctx.seed % 20  # stays inside January

    def file_sets(self) -> list[str]:
        return [f"{self.base_day + i}" for i in range(self.PARTITIONS)]

    def setup(self) -> None:
        sizes = {f: self.ROWS for f in self.file_sets()}
        sizes[self.SENTINEL] = self.SENTINEL_ROWS
        generate("write_etl_inputs", self.src, self.ctx.work, self.ctx.seed,
                 sizes, self.ctx.nproc, ETL_COLUMNS)
        with open(self.map_file, "w") as fh:
            fh.write(DUMP_MAP)
        self._sql(ETL_DDL)

    def _sql(self, sql: str):
        jvm = self.ctx.spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(self.url, "", "")
        try:
            st = conn.createStatement()
            if not sql.startswith("SELECT"):
                st.execute(sql)
                return None
            rs = st.executeQuery(sql)
            rows = []
            while rs.next():
                rows.append((rs.getString(1), rs.getLong(2)))
            return rows
        finally:
            conn.close()

    def conf_path(self, file_set: str, ds: str) -> str:
        self.source_of[ds] = file_set
        path = os.path.join(self.ctx.work, f"dump-{ds}.conf")
        with open(path, "w") as fh:
            fh.write(
                "source_format=tsv\n"
                f"source_path={os.path.join(self.src, f'ds={file_set}')}\n"
                f"ds={ds}\n"
                f"mysql_table={ETL_TABLE}\n"
                "delete_before_dump=true\n"
                "error_if_none_data=true\n"
                "sink_format=jdbc\n"
                f"jdbc_url={self.url}\n"
                "jdbc_url_params=\n"
                'jdbc_ident_quote="\n'
                f"map_file={self.map_file}\n"
            )
        return path

    def warm_up(self) -> None:
        """Fresh load plus re-import of the sentinel partition: warms
        both sink paths and leaves a partition no timed op may touch."""
        from hivetomysql_spark.__main__ import run

        conf = self.conf_path(self.SENTINEL, self.SENTINEL)
        run(conf)
        run(conf)

    def run_pass(self, traced: bool) -> float:
        """K fresh loads, then K re-imports of the same partitions. Every
        pass loads new target partitions (one year on) from the same dump
        files. The row counts are checked after each half, the row values
        after the last pass (``failures``); neither check is timed."""
        p = self.ctx.next_pass()
        jobs = [(f, str(int(f) + 10_000 * (p + 1))) for f in self.file_sets()]
        wall = 0.0
        for phase in ("load", "reimport"):
            ops = []
            for file_set, ds in jobs:
                op = Op(f"p{p}-{phase}-{ds}{'-t' if traced else ''}", phase)
                if traced:
                    op.extra["deleted_rows"] = self._count(ds)
                    op.extra["input_mb"] = dir_mb(
                        os.path.join(self.src, f"ds={file_set}"))
                ops.append((op, self.conf_path(file_set, ds)))
            t0 = time.perf_counter()
            for op, conf in ops:
                run_op(self.ctx, op, lambda c=conf: self._load(c, traced), traced)
            wall += time.perf_counter() - t0
            self._check_counts([o for o, _ in ops], [ds for _, ds in jobs])
        return wall

    def _count(self, ds: str) -> int:
        rows = self._sql(
            f"SELECT \"ds\", COUNT(*) FROM {ETL_TABLE} WHERE \"ds\" = '{ds}' "
            'GROUP BY "ds"')
        return int(rows[0][1]) if rows else 0

    def _load(self, conf_file: str, traced: bool) -> None:
        """One ``__main__.run(conf)`` call. Traced, the same call runs
        with spans around the layer entry points it looks up."""
        from hivetomysql_spark import __main__ as cli
        from hivetomysql_spark.sinks import jdbc

        if not traced:
            cli.run(conf_file)
            return
        with self.ctx.tracer.wrapped([
            (cli, "load_source", "sources.load"),
            (cli, "run_pipeline", "pipeline.run"),
            (cli, "write_jdbc", "sinks.write"),
            (jdbc, "delete_before_insert", "sinks.delete"),
        ]):
            cli.run(conf_file)

    def rows_of(self, ds: str) -> int:
        file_set = self.source_of[ds]
        return self.SENTINEL_ROWS if file_set == self.SENTINEL else self.ROWS

    def _check_counts(self, ops: list[Op], pass_ds: list[str]) -> None:
        """Each partition of the half holds its source's rows exactly
        once, and every other partition keeps its row count."""
        counts = dict(self._sql(
            f'SELECT "ds", COUNT(*) FROM {ETL_TABLE} GROUP BY "ds"'))
        changed = sorted(
            d for d in set(counts) | set(self.source_of)
            if d not in pass_ds and counts.get(d) != self.rows_of(d))
        for op, ds in zip(ops, pass_ds):
            self.ops_of.setdefault(ds, []).append(op)
            problems = []
            if counts.get(ds) != self.rows_of(ds):
                problems.append(f"rows {counts.get(ds)} != {self.rows_of(ds)}")
            if changed:
                problems.append(f"other partitions changed: {changed}")
            if problems:
                self.problems[op.op_id] = "; ".join(problems)

    def failures(self) -> dict[str, str]:
        """The count problems found after each half, plus the row values
        of every partition, read back once after the last pass and
        compared with the mapped source rows. A partition whose values
        differ fails the ops that wrote it; a changed sentinel fails
        every op, as any of them could have changed it."""
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from hivetomysql_spark.sources import read_jdbc

        back = read_jdbc(self.ctx.spark, self.url.replace(";create=true", ""),
                         ETL_TABLE)
        got = table_digests(back, ETL_COLUMNS, "ds")
        mapped = [
            self.ctx.spark.read.parquet(
                os.path.join(self.ctx.work, f"truth-{file_set}.parquet"))
            .select(*ETL_COLUMNS[:-2], F.lit(ds).alias("ds"),
                    F.lit("2.0").alias("version"))
            for ds, file_set in sorted(self.source_of.items())
        ]
        want = table_digests(functools.reduce(DataFrame.unionAll, mapped),
                             ETL_COLUMNS, "ds")
        for ds in sorted(self.source_of):
            if got.get(ds) == want[ds]:
                continue
            blamed = (self.ctx.ops if ds == self.SENTINEL
                      else self.ops_of.get(ds, []))
            for op in blamed:
                problem = f"values of ds={ds} differ from the mapped source"
                self.problems[op.op_id] = "; ".join(
                    filter(None, [self.problems.get(op.op_id), problem]))
        return self.problems

    def trace_extras(self) -> dict[str, float]:
        return {}

    def layers(self, traced_ops: list[Op], passes: int) -> dict[str, float]:
        tr = self.ctx.tracer
        ops = [o for o in traced_ops if not o.failed]
        guard, write_tasks = [], 0
        for o in ops:
            sink_t0 = tr.find("sinks.write", o.op_id)["t0_ms"]
            pipe_t0 = tr.find("pipeline.run", o.op_id)["t0_ms"]
            jobs = o.stats["jobs_detail"]
            guard.append(sum((min(done, sink_t0) - sub) / 1000
                             for sub, done, _ in jobs if pipe_t0 <= sub < sink_t0))
            write_tasks += sum(t for sub, _, t in jobs if sub >= sink_t0)
        # the append alone: the write span minus its pre-delete child
        write = [tr.self_time("sinks.write", o.op_id) for o in ops]
        out = {
            "sources.load_s": median(
                [tr.total("sources.load", o.op_id) for o in ops]),
            "sources.input_mb": sum(o.extra["input_mb"] for o in ops) / passes,
            "pipeline.run_s": median([
                tr.self_time("pipeline.run", o.op_id) for o in ops]),
            "pipeline.guard_s": median(guard),
            "sinks.delete_s": median(
                [tr.total("sinks.delete", o.op_id) for o in ops]),
            "sinks.write_s": median(write),
            "sinks.rows_per_s": self.ROWS * len(ops) / sum(write) if ops else 0.0,
            "sinks.write_tasks": write_tasks / passes,
            "sinks.deleted_rows": sum(o.extra["deleted_rows"] for o in ops) / passes,
        }
        out.update(engine_layer([o.stats for o in traced_ops if o.stats],
                                self.ctx.nproc, passes))
        return out


def dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
    ) / (1024 * 1024)


WORKLOADS = {
    "etl_reimport": EtlWorkload,
    "headline_sf0.1": HeadlineWorkload,
    "llm_ops_x4": LlmOpsWorkload,
}
