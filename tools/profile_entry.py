"""Per-entry profiling for the optimization rounds: time an entry with
the noop sink (guide §1.4), count the Spark work of its build and of its
execution, and capture its ``explain("formatted")`` plan.

Usage:
    python tools/profile_entry.py [--sf DIR] [--runs N] [--plan-out DIR:TAG] name...

- Timing: one warmup + N timed runs (median of build + exec reported),
  every pinned frame (persisted or checkpointed) released before each
  timed run, so each run starts cold and checkpoint blocks do not pile
  up.
- Work per phase: each timed run's ``build()`` call (with the eager
  jobs iterative operators launch while building) and its noop force
  run under their own job groups. For each phase the jobs, stages and
  shuffle bytes of every timed run are printed, read from Spark's status
  store with ``perfbench/spark_hooks.py``'s ``group_counts``; ``pinned``
  is the persisted-RDD count the build left above the count before it.
- Build split: each timed ``build()`` wall time is split into the wall
  time its eager jobs ran (the union of their submission-to-completion
  intervals in the status store) and the driver-side rest (Python,
  py4j, Catalyst analysis).
- ``--plan-out plans/r16:before`` writes ``plans/r16/<name>_before.txt``
  with the formatted plan (the judge-facing artifact).
- Plan summary: Exchange / BatchEvalPython / ArrowEvalPython / join node
  counts are printed per entry so plan-shape diffs are one grep away.
"""

from __future__ import annotations

import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from amazonredshift_blueprints_spark.operators import release_pins  # noqa: E402
from amazonredshift_blueprints_spark.plans import QUERIES  # noqa: E402
from amazonredshift_blueprints_spark.session import get_spark  # noqa: E402
from perfbench.spark_hooks import drain, group_counts, persistent_rdds  # noqa: E402


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def eager_wall_s(sc, group: str) -> float:
    """Wall time during which at least one job of ``group`` ran: the
    union of the jobs' submission-to-completion intervals in the status
    store (overlapping jobs count once). Call after ``drain``."""
    store = sc._jsc.sc().statusStore()
    spans = []
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        start, end = job.submissionTime(), job.completionTime()
        if start.isDefined() and end.isDefined():
            spans.append((start.get().getTime(), end.get().getTime()))
    total_ms, reach = 0, None
    for a, b in sorted(spans):
        if reach is None or a > reach:
            total_ms, reach = total_ms + b - a, b
        elif b > reach:
            total_ms, reach = total_ms + b - reach, b
    return total_ms / 1000.0


def plan_text(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def plan_summary(text: str) -> str:
    counts = {}
    for node in (
        "Exchange",
        "BroadcastExchange",
        "SortMergeJoin",
        "BroadcastHashJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
        "BatchEvalPython",
        "ArrowEvalPython",
        "MapInArrow",
        "FlatMapGroupsInPandas",
        "MapInPandas",
        "Sort ",
        "Window",
        "HashAggregate",
        "ObjectHashAggregate",
        "SortAggregate",
        "InMemoryTableScan",
    ):
        n = len(re.findall(rf"(?m)^\s*[+:\-\s|]*\*?\(?\d*\)?\s?{re.escape(node)}", text))
        if n:
            counts[node.strip()] = n
    return " ".join(f"{k}={v}" for k, v in sorted(counts.items()))


def main() -> None:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    runs = 3
    plan_out = None
    names: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--sf":
            i += 1
            sf_dir = argv[i]
        elif a == "--runs":
            i += 1
            runs = int(argv[i])
        elif a == "--plan-out":
            i += 1
            plan_out = argv[i]
        else:
            names.append(a)
        i += 1

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        full = name if name in QUERIES else next(
            (k for k in QUERIES if k.split("_", 1)[0] == name), None
        )
        if full is None:
            print(f"SKIP {name}: not in catalog")
            continue
        build = QUERIES[full].build
        spark.sparkContext.setJobDescription(f"profile:{full}")
        t0 = time.time()
        df = build(spark, sf_dir)
        build_s = time.time() - t0
        text = plan_text(df)
        if plan_out:
            out_dir, tag = plan_out.split(":", 1)
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"{full}_{tag}.txt"), "w") as f:
                f.write(text)
        _force(df)  # warmup
        sc = spark.sparkContext
        timed, counts, pinned = [], {"build": [], "exec": []}, []
        builds, eager = [], []
        for i in range(runs):
            release_pins(spark)
            before = persistent_rdds(sc)
            sc.setJobGroup(f"profile:{full}:{i}:build", f"{full} build")
            t0 = time.time()
            df = build(spark, sf_dir)
            build_t = time.time() - t0
            builds.append(build_t)
            pinned.append(persistent_rdds(sc) - before)
            sc.setJobGroup(f"profile:{full}:{i}:exec", f"{full} exec")
            t0 = time.time()
            _force(df)
            timed.append(round(build_t + time.time() - t0, 3))
            sc._jsc.clearJobGroup()
            drain(sc)
            for phase in counts:
                counts[phase].append(group_counts(sc, f"profile:{full}:{i}:{phase}"))
            eager.append(eager_wall_s(sc, f"profile:{full}:{i}:build"))
        med = statistics.median(timed)
        print(f"{full}: median={med:.3f}s runs={timed} build={build_s:.2f}s")
        for phase, cs in counts.items():
            print(
                f"  {phase}: jobs={[c.jobs for c in cs]} "
                f"stages={[c.stages for c in cs]} "
                f"shuffle_bytes={[c.shuffle_bytes for c in cs]}"
            )
        print(
            f"  build split: wall={[round(b, 3) for b in builds]} "
            f"eager_jobs_s={[round(e, 3) for e in eager]} "
            f"driver_s={[round(b - e, 3) for b, e in zip(builds, eager)]}"
        )
        print(f"  pinned: {pinned}\n  plan: {plan_summary(text)}")
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
