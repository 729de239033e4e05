"""Turns a run's op records into the benchmark's metrics.

End-to-end metrics come from untraced passes only; per-layer metrics from
traced passes (their median over traced passes, counts being equal).
Layers a workload bypasses report 0.
"""

from __future__ import annotations

import json
import os
import statistics

from spark_hooks import Counts
from tracing import LAYER_MODULES
from workloads import OPERATOR_MODULES

HERE = os.path.dirname(os.path.abspath(__file__))
SELF_LAYERS = ("catalog", *LAYER_MODULES)


def _tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples above it, never
    below the median; returns (value, percentile, samples above)."""
    xs = sorted(values)
    i = max(len(xs) - 11, len(xs) // 2)
    return xs[i], 100.0 * (i + 1) / len(xs), len(xs) - 1 - i


def _sum_counts(recs) -> Counts:
    out = Counts()
    for r in recs:
        out += r.total()
    return out


def _phase_s(recs, phase: str) -> float:
    return sum(r.phases.get(phase, 0.0) for r in recs)


def _catalog_layer(recs, cores: int) -> dict[str, float]:
    cat = [r for r in recs if "build" in r.phases]
    total = _sum_counts(cat)
    wall = sum(r.latency_s for r in cat)
    return {
        "catalog.build_s": _phase_s(cat, "build"),
        "catalog.build_jobs": sum(r.counts["build"].jobs for r in cat if "build" in r.counts),
        "catalog.plan_s": sum(r.plan_s for r in cat),
        "catalog.exec_s": _phase_s(cat, "exec"),
        "catalog.jobs": total.jobs,
        "catalog.stages": total.stages,
        "catalog.tasks": total.tasks,
        "catalog.shuffle_bytes": total.shuffle_bytes,
        "catalog.spill_bytes": total.spill_bytes,
        "catalog.slot_busy_ratio": (total.run_ms / 1000.0) / (wall * cores) if wall else 0.0,
        "catalog.cached_rdds_left": sum(r.rdds_left for r in cat),
    }


def _operator_layers(recs) -> dict[str, float]:
    out: dict[str, float] = {}
    for m in OPERATOR_MODULES:
        mine = [r for r in recs if r.layer == f"operators.{m}"]
        counts = _sum_counts(mine)
        out[f"operators.{m}.build_s"] = _phase_s(mine, "build")
        out[f"operators.{m}.exec_s"] = _phase_s(mine, "exec")
        out[f"operators.{m}.jobs"] = counts.jobs
        out[f"operators.{m}.shuffle_bytes"] = counts.shuffle_bytes
    return out


def _layer_calls(recs, layer: str) -> tuple[list, Counts, float]:
    mine = [r for r in recs if r.layer == layer]
    return mine, _sum_counts(mine), sum(r.latency_s for r in mine)


def _statements(rec) -> int:
    return rec.value if isinstance(rec.value, int) else 1


def _rows_changed(rec) -> int:
    v = rec.value
    return sum(v) if isinstance(v, tuple) else int(v or 0)


def _etl_layers(recs, tracer, span: tuple[int, int]) -> dict[str, float]:
    ingest, ingest_c, ingest_s = _layer_calls(recs, "ingest")
    sqlrun, sqlrun_c, sqlrun_s = _layer_calls(recs, "sqlrun")
    dml, dml_c, dml_s = _layer_calls(recs, "dml")
    _export, export_c, export_s = _layer_calls(recs, "export")
    n_stmt = sum(_statements(r) for r in sqlrun)
    changed = sum(_rows_changed(r) for r in dml)
    return {
        "ingest.call_s": ingest_s,
        "ingest.jobs": ingest_c.jobs,
        "ingest.bytes_written": ingest_c.output_bytes,
        "sqlrun.stmt_s": sqlrun_s / n_stmt if n_stmt else 0.0,
        "sqlrun.jobs_per_stmt": sqlrun_c.jobs / n_stmt if n_stmt else 0.0,
        "functions.translate_s": tracer.layer_time("functions", "translate_redshift_sql", *span),
        "transactions.commit_s": tracer.layer_time("transactions", "commit", *span),
        "dml.call_s": dml_s,
        "dml.jobs": dml_c.jobs,
        "dml.bytes_written_per_row_changed": dml_c.output_bytes / changed if changed else 0.0,
        "export.call_s": export_s,
        "export.jobs": export_c.jobs,
    }


def _throughput(ctx, ops, recs, kind: str) -> float:
    moving = {op.name: op for op in ops if getattr(op, "moves", None) == kind}
    mine = [r for r in recs if r.name in moving]
    secs = sum(r.latency_s for r in mine)
    return sum(moving[r.name].rows_moved(ctx) for r in mine) / secs if secs else 0.0


def _etl_pass_metrics(ctx, ops, entry) -> dict[str, float]:
    recs = entry["recs"]
    return {
        "load_rows_per_s": _throughput(ctx, ops, recs, "load"),
        "export_rows_per_s": _throughput(ctx, ops, recs, "export"),
        **entry["bytes"],
    }


def _median_dicts(dicts: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]} if dicts else {}


def _shapes(entry) -> dict[str, tuple[int, int, int]]:
    return {r.name: r.total().shape() for r in entry["recs"]}


def write_counts(path: str, passes) -> None:
    traced = [p for p in passes if p["traced"]]
    with open(path, "w") as f:
        json.dump([_shapes(p) for p in traced], f, indent=1, sort_keys=True)


def per_layer(ctx, ops, passes, tracer, setup, cores) -> dict[str, float]:
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    per_pass = []
    for p in traced:
        recs = p["recs"]
        m = {**_catalog_layer(recs, cores), **_operator_layers(recs)}
        m.update(_etl_layers(recs, tracer, p["spans"]))
        selfs = tracer.self_times(*p["spans"])
        m.update({f"{layer}.self_s": selfs.get(layer, 0.0) for layer in SELF_LAYERS})
        m["trace.spans"] = p["spans"][1] - p["spans"][0]
        per_pass.append(m)
    out = _median_dicts(per_pass)
    etl = {
        "load_rows_per_s": 0.0,
        "export_rows_per_s": 0.0,
        "stored_bytes_per_input_byte": 0.0,
        "timetravel.bytes_per_version": 0.0,
    }
    if ctx.etl is not None:
        etl.update(_median_dicts([_etl_pass_metrics(ctx, ops, p) for p in untraced]))
    out.update(etl)
    out["session.start_s"] = setup["session.start_s"]
    out["session.register_s"] = setup["session.register_s"]
    out["session.cold_start_s"] = setup["cold_start_s"]
    t_pass = statistics.median(_pass_s(p) for p in traced)
    u_pass = statistics.median(_pass_s(p) for p in untraced)
    out["trace.overhead_ratio"] = t_pass / u_pass - 1.0
    shapes = [_shapes(p) for p in traced]
    out["selfcheck.count_mismatches"] = sum(
        1 for name in shapes[0] if any(s.get(name) != shapes[0][name] for s in shapes[1:])
    )
    return out


def _pass_s(entry) -> float:
    return sum(r.latency_s for r in entry["recs"])


def units() -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def build(args, ctx, ops, passes, tracer, setup, rss, env, bad, cores, steal_max):
    """Return (result JSON object, human-readable report lines)."""
    recs = [r for p in passes for r in p["recs"]]
    failed = [r for r in recs if not r.ok]
    untraced = [p for p in passes if not p["traced"]]
    quiet = [p for p in untraced if p["steal"] <= steal_max] or untraced
    lat = [r.latency_s for p in quiet for r in p["recs"]]
    tail, tail_pct, tail_beyond = _tail(lat)
    end_to_end = {
        "setup_s": setup["setup_s"],
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail,
        "pass_s": statistics.median(_pass_s(p) for p in quiet),
        "ok_ratio": 1.0 - len(failed) / len(recs),
        "peak_rss_mb": rss,
    }
    lines = [
        f"env: {json.dumps(env, sort_keys=True)}",
        f"workload {args.workload}: {len(ops)} ops/pass, {len(passes)} timed passes "
        f"({sum(p['traced'] for p in passes)} traced); seconds spent: inputs "
        f"{setup['inputs_s']:.1f}, cold start {setup['cold_start_s']:.1f}, warm set-ups "
        f"{setup['setups_s']:.1f}, warm-up pass {setup['warmup_s']:.1f}, timed passes "
        f"{setup['loop_s']:.1f} ({', '.join(f'{_pass_s(p):.2f}' for p in passes)})",
        f"op_tail_s is p{tail_pct:.1f} of {len(lat)} samples ({tail_beyond} above it); "
        f"timings from {len(quiet)} of {len(untraced)} untraced passes; hypervisor steal per pass: "
        + ", ".join(f"{100 * p['steal']:.1f}%" for p in passes),
    ]
    for name, why in sorted(bad.items()):
        lines.append(f"FAILED VERIFICATION {name}: {why}")
    for r in failed[:20]:
        lines.append(f"FAILED pass {r.pass_no} {r.name}: {r.error or '; '.join(r.problems)}")
    if args.trace:
        metrics = per_layer(ctx, ops, passes, tracer, setup, cores)
    else:
        metrics = end_to_end
        if ctx.etl is not None:
            extra = _median_dicts([_etl_pass_metrics(ctx, ops, p) for p in untraced])
            lines.append(f"etl: {json.dumps(extra, sort_keys=True)}")
    unit = units()
    result = {
        "correct": not failed,
        "attempted": len(recs),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()},
    }
    return result, lines
