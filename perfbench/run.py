"""Repository benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It builds its inputs from the seed under
``.perfbench_work/``, starts one Spark session on ``local[nproc]``,
warms up, runs whole passes of the workload's fixed op list for about
``--seconds`` seconds, checks every output outside the timed phase and
prints one line per metric (value, unit, sample count). The last stdout
line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` repeats
the timed phase with spans around every call into the package and the
Spark status store read per op, and reports the per-layer metrics plus
the tracing overhead; spans and the per-layer record are written to
``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up time counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOAD_NAMES = ("etl_reimport", "headline_sf0.1", "llm_ops_x4")
END_TO_END = {"setup_s": "s", "wall_s": "s", "op_s_p50": "s", "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    from workloads import LLM_OPS, LLM_TRACE_ONLY

    return {
        "session.start_s": "s",
        "gen.inputs_s": "s",
        "sources.load_s": "s",
        "sources.input_mb": "MB",
        "pipeline.run_s": "s",
        "pipeline.guard_s": "s",
        "sinks.delete_s": "s",
        "sinks.write_s": "s",
        "sinks.rows_per_s": "rows/s",
        "sinks.write_tasks": "count",
        "sinks.deleted_rows": "count",
        "queries.build_s": "s",
        "queries.execute_s": "s",
        **{f"queries.{n}_s": "s" for n in LLM_OPS + LLM_TRACE_ONLY},
        "plans.plan_s": "s",
        "operators.dedup.minhash_lsh_pairs_s": "s",
        "operators.dedup.ngram_jaccard_pairs_s": "s",
        "operators.dedup.simhash_near_pairs_s": "s",
        "operators.similarity.ivf_cosine_topk_s": "s",
        "operators.text.quality_score_s": "s",
        "operators.multimodal.phash_payloads_s": "s",
        "operators.dedup.candidate_yield": "ratio",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.driver_s": "s",
        "spark.slot_idle_ratio": "ratio",
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.gc_s": "s",
        "spark.shuffle_write_mb": "MB",
        "spark.shuffle_read_mb": "MB",
        "spark.spill_mb": "MB",
        "spark.task_skew": "ratio",
        "spark.failed_tasks": "count",
        "trace.overhead_s": "s",
        "trace.overhead_share": "ratio",
    }


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str, nproc: int) -> None:
    """Everything the session and its Python workers need, set before
    the JVM starts: the package on PYTHONPATH, local[nproc], and every
    scratch file inside the work directory."""
    old = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_session(work: str):
    from hivetomysql_spark.session import get_spark

    java_opts = (
        # a fixed young generation and initial heap: with G1's adaptive
        # sizing the peak RSS of identical runs spread by a third; with
        # the young generation alone pinned it still fell into two
        # groups (about 1.95 and 2.4 GB) on llm_ops_x4; with both, four
        # runs over two seeds read within 1%
        "-Xmn512m -Xms3g "
        # temporary files inside the work directory, no hsperfdata file
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
        # Derby: durability fixed at "test" (no fsync per commit), logs
        # and system home kept inside the work directory
        "-Dderby.system.durability=test "
        f"-Dderby.system.home={work} "
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}"
    )
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    gw = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)


MIN_PASSES = 3  # wall_s is a median of at least this many passes


def timed_phase(wl, seconds: float, traced: bool, passes: int | None = None):
    """Whole passes until about ``seconds`` have gone by (or exactly
    ``passes`` when given): after ``MIN_PASSES``, one more pass runs
    only while the time left exceeds half a pass."""
    walls = []
    t0 = time.perf_counter()
    while True:
        walls.append(wl.run_pass(traced))
        if passes is not None:
            if len(walls) >= passes:
                break
            continue
        elapsed = time.perf_counter() - t0
        if (len(walls) >= MIN_PASSES
                and elapsed + sum(walls) / len(walls) / 2 >= seconds):
            break
    return walls


def bench(args, work: str, nproc: int) -> dict:
    import stats
    from engine import Engine
    from tracing import Tracer
    from workloads import WORKLOADS, Context

    t_setup = T_START
    spark = start_session(work)
    try:
        session_s = time.perf_counter() - t_setup
        tracer = Tracer(enabled=False)
        ctx = Context(spark, Engine(spark, nproc), tracer, work, args.seed, nproc)
        wl = WORKLOADS[args.workload](ctx)
        t_gen = time.perf_counter()
        wl.setup()
        gen_s = time.perf_counter() - t_gen
        t_warm = time.perf_counter()
        wl.warm_up()
        setup_s = time.perf_counter() - t_setup
        phases = {"session": session_s, "inputs": gen_s,
                  "warm_up": time.perf_counter() - t_warm}
        ctx.ops.clear()  # warm-up ops are set-up, not measured

        t_timed = time.perf_counter()
        walls = timed_phase(wl, args.seconds, traced=False)
        phases["timed"] = time.perf_counter() - t_timed
        timed_ops = list(ctx.ops)
        peak = ctx.engine.peak_rss_mb()
        layers: dict[str, float] = {}
        if args.trace:
            # untraced, traced, untraced again: the traced passes are
            # compared with the mean of the untraced ones on both sides,
            # which cancels a steady warm-up trend
            tracer.enabled = True
            traced_walls = timed_phase(wl, args.seconds, True, passes=len(walls))
            traced_ops = ctx.ops[len(timed_ops):]
            tracer.enabled = False
            after_walls = timed_phase(wl, args.seconds, False, passes=len(walls))
            baseline = (stats.median(walls) + stats.median(after_walls)) / 2
            layers = dict.fromkeys(per_layer_units(), 0.0)
            layers.update(wl.layers(traced_ops, len(traced_walls)))
            layers.update(wl.trace_extras())
            layers["session.start_s"] = session_s
            layers["gen.inputs_s"] = gen_s
            overhead = stats.median(traced_walls) - baseline
            layers["trace.overhead_s"] = overhead
            layers["trace.overhead_share"] = overhead / baseline
            tracer.dump(os.path.join(args.out, "spans.json"))

        # output checks: outside every timed phase
        t_check = time.perf_counter()
        bad = wl.failures()
        for op in ctx.ops:
            problem = bad.get(op.op_id) or bad.get(op.name)
            if problem and not op.failed:
                op.failed, op.error = True, problem
        phases["check"] = time.perf_counter() - t_check
    finally:
        t_stop = time.perf_counter()
        stop_session(spark)
    phases["stop"] = time.perf_counter() - t_stop

    op_walls = [o.wall_s for o in timed_ops]
    return {
        "ops": ctx.ops,
        "timed_ops": timed_ops,
        "walls": walls,
        "end_to_end": {
            "setup_s": setup_s,
            "wall_s": stats.median(walls),
            "op_s_p50": stats.median(op_walls),
            "peak_rss_mb": peak,
        },
        "op_s_p90": stats.percentile(op_walls, 0.9),
        "rows_per_s": (
            getattr(wl, "ROWS", 0) * len(timed_ops) / sum(walls)
            if args.workload == "etl_reimport" else None
        ),
        "layers": layers,
        "phases": phases,
    }


def report(args, res: dict) -> dict:
    """Human-readable lines (value, unit, samples), then the record."""
    ops, walls = res["ops"], res["walls"]
    n_ops = len(res["timed_ops"])
    failed = [o for o in ops if o.failed]
    print(f"# workload={args.workload} seed={args.seed} passes={len(walls)} "
          f"ops={n_ops} (+{len(ops) - n_ops} traced)")
    samples = {"setup_s": 1, "wall_s": len(walls), "op_s_p50": n_ops,
               "peak_rss_mb": 1}
    for name, value in res["end_to_end"].items():
        print(f"# {name} = {value:.4f} {END_TO_END[name]} (n={samples[name]})")
    p90 = res["op_s_p90"]
    print("# op_s_p90 = " + (f"{p90:.4f} s (n={n_ops})" if p90 is not None
          else f"not reported: {n_ops} ops leave fewer than 10 beyond p90"))
    if res["rows_per_s"] is not None:
        print(f"# rows_per_s = {res['rows_per_s']:.1f} rows/s (n={len(walls)})")
    for o in res["timed_ops"]:
        print(f"# op {o.op_id} {o.wall_s:.4f} s")
    print(f"# failed_ratio = {len(failed)}/{len(ops)}")
    print("# run phases (s): " + ", ".join(
        f"{k} {v:.2f}" for k, v in res["phases"].items()))
    for o in failed:
        print(f"# FAILED {o.op_id}: {o.error}")
    if args.trace:
        units = per_layer_units()
        for name, value in res["layers"].items():
            print(f"# {name} = {value:.6g} {units[name]}")
        with open(os.path.join(args.out, "layers.json"), "w") as fh:
            json.dump(res["layers"], fh, indent=1)
        metrics = {k: {"value": v, "unit": units[k]}
                   for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in res["end_to_end"].items()}
    return {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hivetomysql_spark", "__main__.py")) \
            or not os.path.isfile(os.path.join(ROOT, "tools", "diffcheck.py")):
        print("perfbench: run from a repository checkout (package sources "
              "not found)", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{run_id}-{os.getpid()}")
    args.out = os.path.join(ROOT, ".perfbench_out", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if args.trace:
        os.makedirs(args.out, exist_ok=True)
    prepare_env(work, nproc)
    try:
        res = bench(args, work, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record = report(args, res)
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
