"""spark-graft benchmark: one single-client closed loop per run.

Usage (from the repository root):

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each exists and which layers it
exercises or bypasses):

- ``sql_analytics``  relational catalog entries (``QUERIES[n].build`` + noop force)
- ``llm_operators``  operator catalog entries, one module or more each
- ``etl_blueprints`` the ingest / SQL / COPY-UNLOAD / DML / export pipeline

A run:

1. isolates itself: its own warehouse, Spark local dirs and temp dirs
   under ``.perfbench_work/`` in the checkout, ``PYTHONPATH`` for Python
   workers and ``SPARK_GRAFT_CPUS`` = the usable CPU count;
2. writes the seeded inputs;
3. sets up once cold (package import to a session with the fixtures
   registered), then restarts the session ``SETUPS`` times in the same
   JVM; ``setup_s`` is the median restart;
4. runs one untimed pass that warms the JVM and verifies every op's
   output (DuckDB oracle, table contents, exported files);
5. runs timed passes over the seed-shuffled op list until ``--seconds``
   have passed, clearing the Spark cache before every op and checking
   every op's output after it (outside the timed region). Passes during
   which the hypervisor stole more than ``STEAL_MAX`` of the CPU are
   rerun (for up to twice ``--seconds``) and left out of the timings
   while a quieter pass exists.

With ``--trace 1`` the timed passes alternate untraced and traced; the
traced ones record spans and per-job-group Spark counts, and the run
reports per-layer metrics and the tracing overhead instead of the
end-to-end ones. The spans are written to
``.perfbench_out/trace-<workload>-<seed>.json`` at the end.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

WORKLOADS = ("sql_analytics", "llm_operators", "etl_blueprints")
SCALE = {"sql_analytics": 0.1, "llm_operators": 0.005, "etl_blueprints": 0.01}
ETL_ORDERS, ETL_PARTS = 20_000, 4
SETUPS = 3  # warm set-ups per run; setup_s is their median
DRIVER_MEM = "1g"
DEADLINE_S = 150.0  # stop starting passes after this much run time
# A timed pass during which the hypervisor stole more than this share of
# the CPU time is run again (up to twice --seconds) and left out of the
# end-to-end timings while at least one quiet pass exists: on a shared
# host such passes run up to 2x slower.
STEAL_MAX = 0.05


class Context:
    """What ops see: the session, the inputs and the DuckDB connection."""

    def __init__(self, work: str, sf_dir: str, warehouse: str) -> None:
        self.work, self.sf_dir, self.warehouse = work, sf_dir, warehouse
        self.spark = None
        self.duck = None
        self.etl = None


def isolate(work: str, cores: int) -> None:
    """Settings the run sets for itself, before any JVM starts."""
    for sub in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        {
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "TMPDIR": tmp,
            # a fixed-size heap, so peak RSS does not hinge on when G1 grows it
            "PYSPARK_SUBMIT_ARGS": (
                f'--driver-java-options "-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}" pyspark-shell'
            ),
        }
    )


def setup_session(sf_dir: str):
    """One set-up: ``get_spark`` then ``register_tables``; returns the
    session and both times."""
    from amazonredshift_blueprints_spark.session import get_spark, register_tables

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    register_tables(spark, sf_dir, strict=True)
    return spark, t1 - t0, time.perf_counter() - t1


def duck_views(sf_dir: str):
    import duckdb

    from amazonredshift_blueprints_spark.session import TABLES

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def build_ops(workload: str, seed: int):
    import workloads

    if workload == "sql_analytics":
        return workloads.sql_analytics_ops(seed)
    if workload == "llm_operators":
        return workloads.llm_operators_ops(seed)
    import etl

    return etl.etl_ops(seed)


def run_op(ctx: Context, op, probe, pass_no: int, verify: bool):
    """Reset the cache, run the op (timed), then check its output."""
    from spark_hooks import reset_caches

    reset_caches(ctx.spark)
    rec = probe.start(op.name, op.layer, pass_no)
    value = None
    tracer = probe.tracer
    if tracer is not None:
        tracer.op = f"{pass_no}:{op.name}"
    try:
        with tracer.span("bench", op.name) if tracer else contextlib.nullcontext():
            value = op.run(ctx, probe, warmup=verify)
    except Exception as e:  # noqa: BLE001 - a failed op is a result
        rec.error = f"{type(e).__name__}: {str(e)[:300]}"
    probe.finish()
    if isinstance(value, (int, tuple)):
        rec.value = value  # counts the report needs; frames are not kept
    if rec.error is None:
        try:
            rec.problems = op.verify(ctx, value) if verify else op.check(ctx, value)
        except Exception as e:  # noqa: BLE001
            rec.problems = [f"check raised {type(e).__name__}: {str(e)[:300]}"]
    return rec


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--counts-out", help="write per-op job/stage/task counts (traced passes) here")
    args = ap.parse_args(argv)
    for module in ("amazonredshift_blueprints_spark", "tools.check_correctness"):
        if importlib.util.find_spec(module) is None:
            sys.exit(f"perfbench: {module} is not importable from {ROOT}")

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work, cores)
    ctx = Context(work, os.path.join(work, "data"), os.path.join(work, "warehouse"))
    try:
        result, report = run(args, ctx, cores)
    finally:
        from spark_hooks import stop_jvm

        stop_jvm(ctx.spark)
        if ctx.duck is not None:
            ctx.duck.close()
        shutil.rmtree(work, ignore_errors=True)
    for line in report:
        print(line)
    print(json.dumps(result))
    return 0


def run(args, ctx: Context, cores: int):
    import fixtures

    t = time.perf_counter()
    fixtures.write_tables(ctx.sf_dir, args.seed, SCALE[args.workload])
    csv_paths = None
    if args.workload == "etl_blueprints":
        csv_paths = fixtures.write_etl_csvs(
            os.path.join(ctx.work, "csv"), args.seed, ETL_ORDERS, ETL_PARTS
        )
    gen_s = time.perf_counter() - t

    # cold set-up: package import + JVM launch + fixture registration
    t = time.perf_counter()
    import pyspark

    from workloads import Probe

    spark, _, _ = setup_session(ctx.sf_dir)
    cold_start_s = time.perf_counter() - t
    setup: dict[str, float] = {}
    starts, registers = [], []
    for _ in range(SETUPS):
        spark.stop()
        spark, s, r = setup_session(ctx.sf_dir)
        starts.append(s)
        registers.append(r)
    ctx.spark = spark
    ctx.duck = duck_views(ctx.sf_dir)
    if csv_paths is not None:
        from etl import EtlContext

        ctx.etl = EtlContext(ctx, csv_paths, os.path.join(ctx.work, "csv"))

    ops = build_ops(args.workload, args.seed)
    probe = Probe(spark, None)

    # warm-up pass: verifies every op once
    t_warm = time.perf_counter()
    setup["setups_s"] = t_warm - t - cold_start_s
    bad: dict[str, str] = {}
    for op in ops:
        rec = run_op(ctx, op, probe, 0, verify=True)
        if not rec.ok:
            bad[op.name] = rec.error or "; ".join(rec.problems)

    setup["warmup_s"] = time.perf_counter() - t_warm

    # timed passes
    from spark_hooks import cpu_ticks, steal_share
    from tracing import Tracer, instrumented

    tracer = Tracer() if args.trace else None
    passes: list[dict] = []
    t_loop = time.perf_counter()
    order = random.Random(args.seed + 1)
    while True:
        elapsed = time.perf_counter() - t_loop
        n_traced = sum(p["traced"] for p in passes)
        n_quiet = sum(p["steal"] <= STEAL_MAX for p in passes)
        enough = (
            elapsed >= args.seconds
            and (n_quiet >= 2 or elapsed >= 2 * args.seconds)
            and (not args.trace or (n_traced and len(passes) - n_traced))
        )
        if passes and (enough or time.perf_counter() - _T0 > DEADLINE_S):
            break
        traced = bool(args.trace) and len(passes) % 2 == 1
        pass_no = len(passes) + 1
        if args.workload != "etl_blueprints":
            order.shuffle(ops)
        probe = Probe(spark, tracer if traced else None)
        span_start = len(tracer.spans) if tracer is not None else 0
        recs = []
        ticks = cpu_ticks()
        with instrumented(tracer) if traced else contextlib.nullcontext():
            for op in ops:
                rec = run_op(ctx, op, probe, pass_no, verify=False)
                if op.name in bad:
                    rec.problems.append(f"failed verification: {bad[op.name]}")
                recs.append(rec)
        span_end = len(tracer.spans) if tracer is not None else 0
        entry = {
            "traced": traced,
            "recs": recs,
            "spans": (span_start, span_end),
            "steal": steal_share(ticks, cpu_ticks()),
        }
        if ctx.etl is not None:
            entry["bytes"] = ctx.etl.storage()
        passes.append(entry)

    from spark_hooks import jvm_pid, peak_rss_mb

    rss = peak_rss_mb({os.getpid(), jvm_pid()})
    env = {
        "seed": args.seed,
        "nproc": cores,
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
    setup.update({
        "loop_s": time.perf_counter() - t_loop,
        "cold_start_s": cold_start_s,
        "session.start_s": statistics.median(starts),
        "session.register_s": statistics.median(registers),
        "setup_s": statistics.median(s + r for s, r in zip(starts, registers)),
        "inputs_s": gen_s,
    })
    import report

    if tracer is not None:
        tracer.dump(
            os.path.join(_out_dir(), f"trace-{args.workload}-{args.seed}.json")
        )
    if args.counts_out:
        report.write_counts(args.counts_out, passes)
    return report.build(args, ctx, ops, passes, tracer, setup, rss, env, bad, cores, STEAL_MAX)


def _out_dir() -> str:
    path = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(path, exist_ok=True)
    return path


if __name__ == "__main__":
    sys.exit(main())
