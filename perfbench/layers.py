"""Per-layer metrics of a traced run, from its spans and Spark's status store.

Every per-statement figure is a mean over the timed window's statements
(warm-up excluded). ``catalog.*`` covers the whole run, set-up included,
because the engine's DML never saves the catalog.
"""

from __future__ import annotations

import statistics

import checks
import stats
import tracing

#: layer of each span name, for the self-time table. The root ``request``
#: span's self time is the untraced remainder: HTTP, JSON and client code
#: on the REST workloads, the harness on analytic_scan.
LAYER = {
    "request": "untraced",
    "server.handle": "server",
    "server.lock_wait": "server.lock_wait",
    "refsql": "refsql",
    "catalyst.plan": "catalyst",
    "spark.exec": "spark",
    "operators.build": "operators",
    "tables.overwrite": "tables",
    "tables.append": "tables",
    "catalog.save": "catalog",
}


#: every per-layer metric and its unit, in BENCHMARK.json order
UNITS = {
    "server.overhead_ms": "ms",
    "server.lock_wait_ms": "ms",
    "refsql.build_ms": "ms",
    "refsql.build_jobs": "count",
    "engine.files_listed": "count",
    "catalog.saves": "count",
    "catalog.save_ms": "ms",
    "catalyst.plan_ms": "ms",
    "catalyst.codegen_compiles": "count",
    "catalyst.codegen_ms": "ms",
    "catalyst.codegen_hit_ratio": "ratio",
    "spark.exec_ms": "ms",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.input_bytes": "bytes",
    "spark.rows_examined_per_row": "ratio",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "operators.build_ms": "ms",
    "operators.build_jobs": "count",
    "tables.overwrite_ms": "ms",
    "tables.append_ms": "ms",
    "tables.bytes_written_per_row": "bytes/row",
    "tables.part_files": "count",
    "tables.leftover_entries": "count",
}


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def per_layer(spark, tracer, measured, cg0, cg1, parts: int, leftover: int) -> tuple[dict, dict]:
    """The per-layer metrics, and the mean self time per statement of each
    layer (which add up to the mean statement latency)."""
    rids = {s.rid for s in measured}
    spans = [s for s in tracer.spans if s["rid"] in rids]
    own = stats.self_times(spans)
    by_rid: dict[str, list[dict]] = {}
    for s in spans:
        by_rid.setdefault(s["rid"], []).append(s)

    def spent(rid: str, *names: str, self_time: bool = False) -> float:
        return sum((own[s["id"]] if self_time else s["end"] - s["start"]) * 1000.0
                   for s in by_rid.get(rid, ()) if s["name"] in names)

    def has(rid: str, name: str) -> bool:
        return any(s["name"] == name for s in by_rid.get(rid, ()))

    rest = [s for s in measured if has(s.rid, "server.handle")]
    selects = [s for s in measured if s.kind == "read" and has(s.rid, "catalyst.plan")]
    via_refsql = [s for s in selects if has(s.rid, "refsql")]
    operators = [s for s in measured if has(s.rid, "operators.build")]
    writes = [s for s in measured if s.kind == "write"]

    jobs = {s.rid: {ph: tracing.job_group_metrics(spark, f"pb-{s.rid}-{ph}")
                    for ph in ("build", "plan", "exec")} for s in measured}

    def total(rid: str, key: str) -> int:
        return sum(m[key] for m in jobs[rid].values())

    saves = [s for s in tracer.spans if s["name"] == "catalog.save"]
    n = max(1, len(measured))
    result_rows = sum(max(1, s.rows) for s in selects)
    affected = 0
    for s in writes:
        try:
            affected += checks.parse_affected(s.answer)
        except (TypeError, ValueError):
            pass

    m = {
        "server.overhead_ms": _mean(spent(s.rid, "request", "server.handle", self_time=True) for s in rest),
        "server.lock_wait_ms": _mean(spent(s.rid, "server.lock_wait") for s in rest),
        "refsql.build_ms": _mean(spent(s.rid, "refsql", self_time=True) for s in via_refsql),
        "refsql.build_jobs": _mean(jobs[s.rid]["build"]["jobs"] for s in via_refsql),
        "engine.files_listed": _mean(s.files for s in measured),
        "catalog.saves": len(saves),
        "catalog.save_ms": _mean((s["end"] - s["start"]) * 1000.0 for s in saves),
        "catalyst.plan_ms": _mean(spent(s.rid, "catalyst.plan") for s in selects),
        "catalyst.codegen_compiles": (cg1[0] - cg0[0]) / n,
        "catalyst.codegen_ms": (cg1[1] - cg0[1]) / n,
        "catalyst.codegen_hit_ratio": _mean(1.0 if s.compiles == 0 else 0.0 for s in selects),
        "spark.exec_ms": _mean(spent(s.rid, "spark.exec", self_time=True) for s in selects),
        "spark.jobs": _mean(total(s.rid, "jobs") for s in measured),
        "spark.tasks": _mean(total(s.rid, "tasks") for s in measured),
        "spark.executor_run_ms": _mean(total(s.rid, "executor_run_ms") for s in measured),
        "spark.executor_cpu_ms": _mean(total(s.rid, "executor_cpu_ns") / 1e6 for s in measured),
        "spark.gc_ms": _mean(total(s.rid, "gc_ms") for s in measured),
        "spark.input_bytes": _mean(total(s.rid, "input_bytes") for s in measured),
        "spark.rows_examined_per_row": sum(total(s.rid, "input_records") for s in selects) / max(1, result_rows),
        "spark.shuffle_bytes": _mean(total(s.rid, "shuffle_read_bytes") + total(s.rid, "shuffle_write_bytes")
                                     for s in measured),
        "spark.spill_bytes": _mean(total(s.rid, "disk_spilled") for s in measured),
        "operators.build_ms": _mean(spent(s.rid, "operators.build") for s in operators),
        "operators.build_jobs": _mean(jobs[s.rid]["build"]["jobs"] for s in operators),
        "tables.overwrite_ms": _mean(s["end"] - s["start"] for s in spans
                                     if s["name"] == "tables.overwrite") * 1000.0,
        "tables.append_ms": _mean(s["end"] - s["start"] for s in spans
                                  if s["name"] == "tables.append") * 1000.0,
        "tables.bytes_written_per_row": sum(total(s.rid, "output_bytes") for s in writes) / max(1, affected),
        "tables.part_files": parts,
        "tables.leftover_entries": leftover,
    }
    metrics = {k: {"value": m[k], "unit": unit} for k, unit in UNITS.items()}

    # Self-time table: mean ms per statement for each layer; the layers
    # add up to the mean root-span latency.
    table = {layer: t * 1000.0 / n
             for layer, t in stats.layer_self_times(spans, lambda s: LAYER[s["name"]]).items()}
    table["total_ms"] = sum(table.values())
    table["measured_latency_ms"] = _mean(s.ms for s in measured)
    return metrics, table
