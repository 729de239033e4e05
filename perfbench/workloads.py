"""Ops, the per-op probe, and the two catalog workloads.

An op is one call the closed loop times. ``run`` is the timed part; it
marks its phases with :meth:`Probe.phase`, which puts each phase under
its own Spark job group (and, in a traced pass, its own span).
``check`` is a cheap test of every timed op's output; ``verify`` is the
full output check, run once per op in the untimed warm-up pass.
"""

from __future__ import annotations

import contextlib
import random
import time
from dataclasses import dataclass, field

from spark_hooks import Counts, drain, group_counts, planning_s, persistent_rdds
from tracing import Tracer

# tags of the relational catalog entries (sql_analytics draws from these)
RELATIONAL_TAGS = {"sql", "tpch", "join", "agg", "window", "setops", "scalar"}

# A fixed subset, at least one entry per relational tag.
SQL_ENTRIES = (
    "q62_tpch_q7_volume_shipping",
    "q64_tpch_q13_order_distribution",
    "q79_tpch_q4_order_priority",
    "q81_tpch_q6_forecast_revenue",
    "q03_join_revenue_by_nation",
    "q04_join_semi",
    "q05_join_anti",
    "q07_join_full_outer",
    "q10_agg_hash",
    "q13_agg_rollup",
    "q15_window_rank",
    "q18_setops",
    "q20_scalar_math",
)

# Operator entries, one per module in OPERATOR_MODULES, each attributed
# to the operator module its builder calls. They include two iterative
# loops (c29 connected components, c98 PageRank).
LLM_ENTRIES = (
    "c29_dedup_groups",
    "c06_ann_bruteforce_topk",
    "c58_bm25_search",
    "c98_pagerank_dangling",
    "c144_knn_classifier",
)
OPERATOR_MODULES = ("dedup", "similarity", "text", "graph", "ml")


@dataclass
class OpRecord:
    """One executed op: its timings, Spark counts and verdict."""

    name: str
    layer: str
    pass_no: int
    phases: dict[str, float] = field(default_factory=dict)
    counts: dict[str, Counts] = field(default_factory=dict)
    plan_s: float = 0.0
    rdds_left: int = 0
    value: object = None
    error: str | None = None
    problems: list[str] = field(default_factory=list)

    @property
    def latency_s(self) -> float:
        return sum(self.phases.values())

    @property
    def ok(self) -> bool:
        return self.error is None and not self.problems

    def total(self) -> Counts:
        out = Counts()
        for c in self.counts.values():
            out += c
        return out


class Probe:
    """Marks an op's phases: a Spark job group per phase (always), a
    span per phase and status-store counts (traced passes only)."""

    def __init__(self, spark, tracer: Tracer | None) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.record: OpRecord | None = None
        self._uid = 0

    @property
    def tracing(self) -> bool:
        return self.tracer is not None

    def start(self, name: str, layer: str, pass_no: int) -> OpRecord:
        self._uid += 1
        self.record = OpRecord(name, layer, pass_no)
        self._rdds_before = persistent_rdds(self.sc) if self.tracing else 0
        return self.record

    @contextlib.contextmanager
    def phase(self, phase: str, layer: str):
        rec = self.record
        group = f"perfbench-{self._uid}:{phase}"
        self.sc.setJobGroup(group, f"{rec.name} {phase} (pass {rec.pass_no})")
        span = (
            self.tracer.span(layer, f"{rec.name}:{phase}")
            if self.tracer is not None
            else contextlib.nullcontext()
        )
        t0 = time.perf_counter()
        try:
            with span:
                yield
        finally:
            rec.phases[phase] = rec.phases.get(phase, 0.0) + time.perf_counter() - t0
            self.sc._jsc.clearJobGroup()

    def finish(self) -> OpRecord:
        """Untimed read-outs after the op: counts per phase group and
        the persisted-RDD delta (read before the cache is cleared)."""
        rec = self.record
        if self.tracing:
            drain(self.sc)
            for phase in rec.phases:
                rec.counts[phase] = group_counts(self.sc, f"perfbench-{self._uid}:{phase}")
            rec.rdds_left = persistent_rdds(self.sc) - self._rdds_before
        return rec


class Op:
    name: str
    layer: str

    def run(self, ctx, probe: Probe, warmup: bool = False):  # timed
        """Run the op. In the warm-up pass (``warmup``) an op may leave
        work to ``verify``, which executes it anyway."""
        raise NotImplementedError

    def check(self, ctx, value) -> list[str]:  # untimed, every op
        return []

    def verify(self, ctx, value) -> list[str]:  # untimed, warm-up pass only
        return self.check(ctx, value)


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class CatalogOp(Op):
    """``QUERIES[name].build`` plus a noop force. ``layer`` is the
    operator module the entry exercises, or ``catalog``; its phase spans
    all belong to the catalog layer, with operator calls nested below."""

    def __init__(self, name: str, layer: str) -> None:
        from amazonredshift_blueprints_spark.plans import QUERIES

        self.name, self.layer = name, layer
        self.spec = QUERIES[name]
        self.columns: list[str] | None = None

    def run(self, ctx, probe: Probe, warmup: bool = False):
        with probe.phase("build", "catalog"):
            df = self.spec.build(ctx.spark, ctx.sf_dir)
        if probe.tracing:
            with probe.phase("plan", "catalog"):
                probe.record.plan_s = planning_s(df)
        if not warmup:  # verify() collects the frame instead
            with probe.phase("exec", "catalog"):
                _force(df)
        return df

    def check(self, ctx, df) -> list[str]:
        if self.columns is not None and df.columns != self.columns:
            return [f"columns {df.columns} != verified {self.columns}"]
        return []

    def verify(self, ctx, df) -> list[str]:
        from tools.check_correctness import compare

        pdf = df.toPandas()
        self.columns = list(df.columns)
        if self.spec.oracle is None:
            return [] if len(pdf) > 0 else ["rows-only entry returned no rows"]
        expected = ctx.duck.execute(self.spec.oracle).fetchdf()
        return compare(self.name, pdf, expected)


def operator_module(name: str) -> str:
    """The ``operators.<module>`` a catalog entry's builder calls."""
    from amazonredshift_blueprints_spark.plans import QUERIES

    code = QUERIES[name].build.__code__
    mods = [c for c in code.co_names if c.startswith("operators.")]
    return mods[0] if mods else "catalog"


def relational_entries() -> list[str]:
    from amazonredshift_blueprints_spark.plans import QUERIES

    return [n for n, s in QUERIES.items() if s.tags and set(s.tags) <= RELATIONAL_TAGS]


def sql_analytics_ops(seed: int) -> list[Op]:
    relational = set(relational_entries())
    missing = [n for n in SQL_ENTRIES if n not in relational]
    if missing:
        raise ValueError(f"not relational catalog entries: {missing}")
    ops: list[Op] = [CatalogOp(n, "catalog") for n in SQL_ENTRIES]
    random.Random(seed).shuffle(ops)
    return ops


def llm_operators_ops(seed: int) -> list[Op]:
    ops: list[Op] = [CatalogOp(n, operator_module(n)) for n in LLM_ENTRIES]
    covered = {op.layer for op in ops}
    absent = [m for m in OPERATOR_MODULES if f"operators.{m}" not in covered]
    if absent:
        raise ValueError(f"no llm_operators entry covers operators.{absent}")
    random.Random(seed).shuffle(ops)
    return ops
