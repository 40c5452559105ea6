"""Tracing for the benchmark's traced run.

Spans come from the benchmark's own wrappers around the engine's public
calls; the engine itself is not modified. Each span records its name,
start, end, parent span and request id. Spans stay in memory and are
written out when the run ends.

``NullTracer`` has the same interface and does nothing, so the untraced
run executes the same benchmark code with tracing off.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import ExitStack, contextmanager, nullcontext

PKG = "custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark"  # the engine
HEADER = "X-Perfbench-Span"  # "<request id>:<parent span id>", traced runs only


class NullTracer:
    enabled = False

    def span(self, name: str, rid: str | None = None, parent: int | None = None):
        return nullcontext()

    def set_group(self, rid: str, phase: str) -> None:
        pass

    def header(self) -> dict[str, str]:
        return {}

    def install(self, spark) -> None:
        pass

    def instrument_server(self, httpd) -> None:
        pass

    def uninstall(self) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []
        self._sc = None

    # -- spans --------------------------------------------------------------

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, rid: str | None = None, parent: int | None = None):
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]["id"]
        if rid is None:
            rid = stack[-1]["rid"] if stack else "setup"
        s = {"id": next(self._ids), "name": name, "rid": rid, "parent": parent,
             "start": time.perf_counter(), "end": None}
        stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def current_rid(self) -> str:
        stack = self._stack()
        return stack[-1]["rid"] if stack else "setup"

    def header(self) -> dict[str, str]:
        stack = self._stack()
        return {HEADER: f"{stack[-1]['rid']}:{stack[-1]['id']}"} if stack else {}

    # -- Spark job attribution ----------------------------------------------

    def set_group(self, rid: str, phase: str) -> None:
        """Attribute the Spark jobs this thread launches next to one phase
        of one request (read back by ``job_group_metrics``)."""
        self._sc.setJobGroup(f"pb-{rid}-{phase}", "perfbench")

    # -- wrappers -------------------------------------------------------------

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, owner.__dict__.get(attr, _MISSING)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._undo):
            if old is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, old)
        self._undo.clear()

    def install(self, spark) -> None:
        """Wrap the public calls of the engine's layers (see README.md)."""
        import importlib

        engine = importlib.import_module(f"{PKG}.engine")
        catalog = importlib.import_module(f"{PKG}.catalog")
        tables = importlib.import_module(f"{PKG}.tables")
        server = importlib.import_module(f"{PKG}.server")
        fmt = importlib.import_module(f"{PKG}.functions.format")
        self._sc = spark.sparkContext
        tracer = self

        orig_ref_sql = engine.Engine.ref_sql

        def ref_sql(eng, text, *args, **kwargs):
            rid = tracer.current_rid()
            tracer.set_group(rid, "build")
            try:
                with tracer.span("refsql"):
                    return orig_ref_sql(eng, text, *args, **kwargs)
            finally:
                tracer.set_group(rid, "exec")

        self._patch(engine.Engine, "ref_sql", ref_sql)

        # The REST path renders ``df.limit(n)``, a DataFrame of its own: its
        # plan is forced where rendering creates it, so the span times the
        # plan that then runs.
        orig_format_result = fmt.format_result

        def format_result(df, *args, **kwargs):
            return orig_format_result(_PlanOnLimit(df, tracer), *args, **kwargs)

        self._patch(fmt, "format_result", format_result)

        def timed(name: str, fn):
            def wrapper(*args, **kwargs):
                with tracer.span(name):
                    return fn(*args, **kwargs)

            return wrapper

        for attr in ("add_table", "update_table", "drop_table"):
            self._patch(catalog.Catalog, attr, timed("catalog.save", getattr(catalog.Catalog, attr)))
        for attr in ("overwrite", "append"):
            self._patch(
                tables.ParquetTableStore, attr,
                timed(f"tables.{attr}", getattr(tables.ParquetTableStore, attr)),
            )
        self._patch(server, "render_statement_result",
                    timed("spark.exec", server.render_statement_result))

    def instrument_server(self, httpd) -> None:
        """Open a server-side span per request, parented to the client's
        request span, and time every acquisition of the handler's lock."""
        handler = httpd.RequestHandlerClass
        tracer = self
        orig_handle = handler.handle_query

        def handle_query(h):
            rid, _, parent = (h.headers.get(HEADER) or "setup:").partition(":")
            with tracer.span("server.handle", rid=rid, parent=int(parent) if parent else None):
                return orig_handle(h)

        self._patch(handler, "handle_query", handle_query)
        lock = handler.rwlock
        for attr in ("read_locked", "write_locked"):
            self._patch(lock, attr, self._timed_lock(getattr(lock, attr)))

    def _timed_lock(self, acquire):
        tracer = self

        @contextmanager
        def locked():
            with ExitStack() as held:
                with tracer.span("server.lock_wait"):
                    held.enter_context(acquire())
                yield

        return locked


_MISSING = object()


class _PlanOnLimit:
    """A DataFrame stand-in whose ``limit`` forces the limited DataFrame's
    physical plan in a ``catalyst.plan`` span; everything else is the
    wrapped DataFrame's."""

    def __init__(self, df, tracer: Tracer):
        self._df, self._tracer = df, tracer

    def limit(self, n: int):
        out = self._df.limit(n)
        rid = self._tracer.current_rid()
        self._tracer.set_group(rid, "plan")
        with self._tracer.span("catalyst.plan"):
            out._jdf.queryExecution().executedPlan()
        self._tracer.set_group(rid, "exec")
        return out

    def __getattr__(self, name: str):
        return getattr(self._df, name)


class JvmCounters:
    """Process-wide Spark counters read over py4j: codegen compiles and
    their total compile time, and files discovered by file listing."""

    def __init__(self, spark):
        src = spark._jvm.org.apache.spark.metrics.source
        self._jvm = spark._jvm
        self._compile = src.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._files = src.HiveCatalogMetrics.METRIC_FILES_DISCOVERED()

    def compiles(self) -> int:
        return int(self._compile.getCount())

    def compile_ms(self) -> float:
        """Sum of recorded compile times (ms). The histogram keeps every
        sample while fewer than 1028 were recorded; past that, its mean
        scaled by the count is used."""
        snap = self._compile.getSnapshot()
        n, size = self.compiles(), int(snap.size())
        total = float(self._jvm.java.util.Arrays.stream(snap.getValues()).sum())
        return total if size >= n or size == 0 else total / size * n

    def files(self) -> int:
        return int(self._files.getCount())


STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "disk_spilled": "diskBytesSpilled",
    "tasks": "numCompleteTasks",
}


def job_group_metrics(spark, group: str) -> dict:
    """Jobs, and stage metrics summed over every stage attempt, for the
    jobs launched under job group ``group`` (from Spark's status store)."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    total = dict.fromkeys(STAGE_FIELDS, 0)
    job_ids = tracker.getJobIdsForGroup(group)
    total["jobs"] = len(job_ids)
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in stage_ids:
        try:
            attempts = store.stageData(sid, False, None, False, None)
        except Py4JJavaError:  # evicted from the store: no metrics left
            continue
        for i in range(attempts.size()):
            st = attempts.apply(i)
            for key, getter in STAGE_FIELDS.items():
                total[key] += int(getattr(st, getter)())
    return total
