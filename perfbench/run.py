#!/usr/bin/env python3
"""sparkdb workload benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One run starts a Spark session, sets the
workload up (fresh engine root, ingest, server), warms it up, runs the
timed closed-loop window, checks every answer, and prints one JSON object
as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, taken from spans around the engine's public calls.
Diagnostics go to stderr. See perfbench/README.md for every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from tracing import PKG  # noqa: E402

DRIVER_MEM = "2g"  # local mode: the driver heap is the executor heap
WORK_DIR = os.path.join(ROOT, ".perfbench-work")
OUT_DIR = os.path.join(ROOT, ".perfbench-out")


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str) -> dict[str, str]:
    """The run's environment, set before the JVM starts; returned so the
    detail line records it."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    pinned = {
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARKDB_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # Python workers import the engine package from the repo root.
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    os.environ.update(pinned)
    return pinned


def start_session(work: str):
    import importlib

    sparkdb = importlib.import_module(PKG)
    return sparkdb.get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # A heap that never resizes and is touched at start keeps peak
            # RSS from depending on when G1 grows it or how far a run's
            # allocations reach into it.
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                                             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep every job of a run in the status store for the trace
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def cpu_s(pid: int) -> float:
    """User plus system CPU time of process ``pid`` so far."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rpartition(")")[2].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def storage_counts(root: str) -> tuple[int, int]:
    """Parquet part files under the engine's table directories, and
    entries left in its ``.staging``/``.trash`` directories."""
    parts = 0
    for _, _, files in os.walk(os.path.join(root, "tables")):
        parts += sum(1 for f in files if f.startswith("part-"))
    leftover = sum(
        len(os.listdir(os.path.join(root, d)))
        for d in (".staging", ".trash")
        if os.path.isdir(os.path.join(root, d))
    )
    return parts, leftover


#: every end-to-end metric and its unit, in BENCHMARK.json order
E2E_UNITS = {
    "setup_s": "s",
    "read_p50_ms": "ms",
    "write_p50_ms": "ms",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
    "stored_bytes_ratio": "ratio",
}


def end_to_end(stmts, window_s: float, setup_s: float, setup_writes: dict[str, list[float]],
               peak_mb: float, stored_ratio: float, pooled_reads: bool = False) -> tuple[dict, dict]:
    """The end-to-end metrics of the window's statements. A workload that
    runs no DML in its window takes its write samples from its set-up
    ingests. The tails go to the detail line only: a window holds too few
    samples for a percentile above the median with ten beyond it."""
    import stats

    reads = by_shape(s for s in stmts if s.kind == "read")
    writes = by_shape(s for s in stmts if s.kind == "write") or setup_writes
    all_reads = [v for vs in reads.values() for v in vs]
    values = {
        "setup_s": setup_s,
        "read_p50_ms": stats.median(all_reads) if pooled_reads else stats.shape_p50(reads),
        "write_p50_ms": stats.shape_p50(writes),
        "ops_per_s": len(stmts) / window_s,
        "peak_rss_mb": peak_mb,
        "stored_bytes_ratio": stored_ratio,
    }
    metrics = {k: {"value": values[k], "unit": unit} for k, unit in E2E_UNITS.items()}
    detail = {
        "read_tail": stats.tail(all_reads),
        "write_tail": stats.tail([v for vs in writes.values() for v in vs]),
        "writes_from": "statements" if any(s.kind == "write" for s in stmts) else "setup_ingest",
        "shapes": {sh: [len(v), round(stats.median(v), 1)] for sh, v in {**reads, **writes}.items()},
    }
    return metrics, detail


def tally(stmts, leftover: int) -> tuple[int, int]:
    """Attempted and failed checks: every statement run (warm-up included),
    plus the end-of-run check that ``.staging``/``.trash`` are empty. An
    error and a wrong answer both count as failed."""
    failed = sum(1 for s in stmts if not s.ok) + (1 if leftover else 0)
    return len(stmts) + 1, failed


def run(args: argparse.Namespace, work: str) -> tuple[dict, dict]:
    import datagen
    import stats
    import tracing
    import workloads

    cls = workloads.WORKLOADS[args.workload]
    detail: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "env": pin_environment(work)}
    data_dir = os.path.join(work, "data")
    # The inputs are generated in a child process while the JVM starts.
    gen = subprocess.Popen([sys.executable, os.path.join(HERE, "datagen.py"), data_dir,
                            str(args.seed), str(cls.sf)])
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t0
    finally:
        if gen.wait() != 0:
            raise RuntimeError(f"input generation failed with code {gen.returncode}")
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    tracer = tracing.Tracer() if args.trace else tracing.NullTracer()
    wl = None
    try:
        tracer.install(spark)
        counters = tracing.JvmCounters(spark) if args.trace else None
        ctx = workloads.Context(spark, data_dir, work, args.seed, tracer, counters)
        wl = cls(ctx)
        t0 = time.perf_counter()
        wl.setup()
        wl_setup_s = time.perf_counter() - t0
        bytes_before = tree_bytes(wl.root)
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        cg0 = (counters.compiles(), counters.compile_ms()) if counters else None
        cpu0 = (cpu_s(os.getpid()), cpu_s(jvm_pid))
        window_s = wl.measure(args.seconds)
        window_cpu_s = [cpu_s(os.getpid()) - cpu0[0], cpu_s(jvm_pid) - cpu0[1]]
        cg1 = (counters.compiles(), counters.compile_ms()) if counters else None
        rss = {"python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
               "jvm": jvm_peak_rss_mb(jvm_pid)}
        peak_mb = rss["python"] + rss["jvm"]
        stored_ratio = tree_bytes(wl.root) / bytes_before
        parts, leftover = storage_counts(wl.root)
        wl.close()
        wl.verify()
        measured = [s for s in wl.stmts if s.measured]
        setup_s = session_s + wl_setup_s + warm_s
        e2e, e2e_detail = end_to_end(measured, window_s, setup_s, ctx.setup_writes,
                                     peak_mb, stored_ratio, cls.pooled_reads)
        attempted, failed = tally(wl.stmts, leftover)
        detail.update(e2e_detail)
        detail.update({
            "session_start_s": session_s, "workload_setup_s": wl_setup_s, "warm_up_s": warm_s,
            "peak_rss_mb": rss,
            "window_s": window_s, "statements": len(measured),
            # CPU the window used, Python then JVM: a window that takes
            # longer for the same CPU time waited for the host
            "window_cpu_s": window_cpu_s,
            "unmeasured_statements": len(wl.stmts) - len(measured),
            # one warm pass: the sum of the per-shape medians
            "suite_s": (sum(stats.median(v) for v in by_shape(measured).values()) / 1000.0
                        if cls is workloads.AnalyticScan else None),
            "leftover_entries": leftover, "failed_ratio": failed / attempted,
            "data_rows": datagen.sizes(cls.sf),
            "clients": cls.clients, "loop": "closed", "sf": cls.sf,
            "errors": [f"{s.shape}: {s.error or 'wrong answer'} :: {s.sql[:160]}"
                       for s in wl.stmts if not s.ok][:5],
        })
        if args.trace:
            import layers

            metrics, table = layers.per_layer(spark, tracer, measured, cg0, cg1, parts, leftover)
            detail["layer_self_ms"] = table
            detail["end_to_end_traced"] = {k: v["value"] for k, v in e2e.items()}
            write_spans(args, tracer, measured)
        else:
            metrics = e2e
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": metrics}
        return result, detail
    finally:
        if wl is not None:
            wl.close()
        tracer.uninstall()
        stop_session(spark)


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it: the gateway JVM exits
    when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def by_shape(stmts) -> dict[str, list[float]]:
    """Latencies (ms) by statement shape."""
    out: dict[str, list[float]] = {}
    for s in stmts:
        out.setdefault(s.shape, []).append(s.ms)
    return out


def write_spans(args, tracer, measured) -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"spans-{args.workload}-{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"statements": [{"rid": s.rid, "kind": s.kind, "shape": s.shape,
                                   "start": s.start, "end": s.end, "ok": s.ok} for s in measured],
                   "spans": tracer.spans}, f)


def main(argv: list[str] | None = None) -> int:
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: engine package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    args = parse_args(argv)
    # A terminated run still stops Spark and removes its run directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(WORK_DIR, f"{args.workload}-{os.getpid()}")
    try:
        os.makedirs(work)
        result, detail = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_DIR)
        except OSError:
            pass  # another run still uses it
    print("# detail: " + json.dumps(detail, default=str), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
