"""The benchmark's workloads.

Every workload is closed-loop: each client sends its next statement only
after the previous reply arrived. Statements come from streams seeded by
``--seed``; the engine receives only the generated SQL text.

* ``mixed_rw``: two REST clients at sf0.01, a DML writer and a reader whose
  answers are checked against the writer's replayed committed states.
* ``analytic_scan``: one in-process client, heavy SELECTs and registered
  operators at sf0.1.
"""

from __future__ import annotations

import bisect
import http.client
import itertools
import json
import os
import random
import shutil
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import checks
import datagen
from tracing import PKG


@dataclass
class Stmt:
    """One timed statement and what the engine answered."""

    rid: str
    kind: str  # "read" or "write"
    shape: str
    sql: str
    start: float = 0.0
    end: float = 0.0
    answer: object = None
    error: str | None = None
    ok: bool | None = None  # None until checked
    compiles: int = 0
    files: int = 0
    rows: int = 0
    measured: bool = False  # True for the timed window's statements

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


@dataclass
class Context:
    spark: object
    data_dir: str
    work_dir: str
    seed: int
    tracer: object
    counters: object | None  # tracing.JvmCounters in traced runs
    setup_writes: dict[str, list[float]] = field(default_factory=dict)  # shape -> ms


class Zipf:
    """Bounded Zipf(s) draws over a seeded permutation of ``values``."""

    def __init__(self, rng: random.Random, values, s: float = 1.1, shuffle: bool = True):
        self.values = list(values)
        if shuffle:
            rng.shuffle(self.values)
        self.cum = list(itertools.accumulate(1.0 / (i + 1) ** s for i in range(len(self.values))))
        self.rng = rng

    def __call__(self):
        return self.values[bisect.bisect_left(self.cum, self.rng.random() * self.cum[-1])]


def shape_blocks(rng: random.Random, shapes: list[str]):
    """Endless stream of shape names: every block of ``len(shapes)`` holds
    each shape once, in a seeded order, so the mix never drifts."""
    while True:
        block = list(shapes)
        rng.shuffle(block)
        yield from block


def in_threads(n: int, fn) -> None:
    """Run ``fn(i)`` for ``i`` in ``range(n)``, one thread each; wait for
    all of them and re-raise the first error."""
    errors: list[BaseException] = []

    def body(i: int) -> None:
        try:
            fn(i)
        except BaseException as ex:  # re-raised in the caller's thread
            errors.append(ex)

    threads = [threading.Thread(target=body, args=(i,), name=f"perfbench-{i}") for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


class RestClient:
    """One keep-alive HTTP connection to ``/api/query``."""

    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)

    def query(self, sql: str, headers: dict[str, str]) -> dict:
        self.conn.request("POST", "/api/query", json.dumps({"query": sql}),
                          {"Content-Type": "application/json", **headers})
        resp = self.conn.getresponse()
        return json.loads(resp.read())

    def close(self) -> None:
        self.conn.close()


class Workload:
    name = ""
    sf = 0.01
    clients = 1
    #: read latency as one median over every read, instead of per shape:
    #: for read shapes that cost the same (see ``MixedRW``)
    pooled_reads = False

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.stmts: list[Stmt] = []
        self._rids = itertools.count(1)
        self._lock = threading.Lock()
        self.engine = None
        self.root: str | None = None

    def fresh_root(self) -> str:
        """An empty engine root in the run directory."""
        self.root = os.path.join(self.ctx.work_dir, "engine")
        shutil.rmtree(self.root, ignore_errors=True)
        return self.root

    @contextmanager
    def timed(self, kind: str, shape: str, sql: str, measured: bool):
        """Time one statement as a root ``request`` span and record it; in
        traced runs, also the process-wide counters around it."""
        counters = self.ctx.counters
        with self._lock:
            st = Stmt(str(next(self._rids)), kind, shape, sql, measured=measured)
        if counters:
            c0, f0 = counters.compiles(), counters.files()
        st.start = time.perf_counter()
        try:
            with self.ctx.tracer.span("request", rid=st.rid):
                yield st
        finally:
            st.end = time.perf_counter()
            if counters:
                st.compiles, st.files = counters.compiles() - c0, counters.files() - f0
            with self._lock:
                self.stmts.append(st)

    # -- interface ------------------------------------------------------------

    def setup(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def measure(self, seconds: float) -> float:
        """Run the timed window; returns its length in seconds, from its
        start to the end of the last measured statement."""
        raise NotImplementedError

    def window_since(self, t0: float) -> float:
        return max(s.end for s in self.stmts if s.measured) - t0

    def verify(self) -> None:
        """Set ``ok`` on every statement."""
        raise NotImplementedError

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# analytic_scan
# ---------------------------------------------------------------------------

ANALYTIC_SELECTS = {
    "q1_pricing": "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
                  "SUM(l_extendedprice) AS sum_base, SUM(l_extendedprice * (1 - l_discount)) AS sum_disc, "
                  "AVG(l_discount) AS avg_disc, COUNT(*) AS n FROM lineitem "
                  "WHERE l_shipdate <= '{q1_date}' GROUP BY l_returnflag, l_linestatus "
                  "ORDER BY l_returnflag, l_linestatus",
    "q3_shipping": "SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue, "
                   "MIN(o_orderdate) AS odate FROM customer JOIN orders ON c_custkey = o_custkey "
                   "JOIN lineitem ON o_orderkey = l_orderkey WHERE c_mktsegment = '{segment}' "
                   "AND o_orderdate < '{q3_date}' AND l_shipdate > '{q3_date}' GROUP BY l_orderkey "
                   "ORDER BY revenue DESC, l_orderkey LIMIT 10",
    "q18_large_volume": "SELECT c_name, o_orderkey, o_totalprice, SUM(l_quantity) AS qty "
                        "FROM customer JOIN orders ON c_custkey = o_custkey "
                        "JOIN lineitem ON o_orderkey = l_orderkey WHERE o_orderkey IN "
                        "(SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > {q18_qty}) "
                        "GROUP BY c_name, o_orderkey, o_totalprice "
                        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100",
    "window_topk": "SELECT rn, COUNT(*) AS n, SUM(o_totalprice) AS total FROM "
                   "(SELECT o_totalprice, ROW_NUMBER() OVER (PARTITION BY o_custkey "
                   "ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) AS t "
                   "WHERE rn <= {topk} GROUP BY rn ORDER BY rn",
    "set_ops": "SELECT o_orderkey FROM orders WHERE o_orderpriority = '{priority}' INTERSECT "
               "SELECT l_orderkey FROM lineitem WHERE l_quantity > {setop_qty} EXCEPT "
               "SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R' ORDER BY o_orderkey LIMIT 50",
    "exists": "SELECT o_orderpriority, COUNT(*) AS n FROM orders WHERE o_orderdate >= '{ex_date}' "
              "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey "
              "AND l_discount > {discount}) GROUP BY o_orderpriority ORDER BY o_orderpriority",
}

#: Registered operators (``workloads.QUERIES``) timed as build + ``toArrow()``.
#: Each has a DuckDB oracle in ``workloads.ORACLES``.
ANALYTIC_OPERATORS = ("multimodal_jpeg_decode",)


def analytic_statements(seed: int) -> list[tuple[str, str]]:
    """The fixed pass: ``(name, sql)`` for SELECTs, ``(name, None)`` for
    operators. The seed picks each SELECT's literals."""
    rng = random.Random(f"{seed}:analytic")
    lits = {
        "q1_date": f"2000-{rng.randint(1, 12):02d}-01",
        "segment": rng.choice(datagen.SEGMENTS),
        "q3_date": f"1998-{rng.randint(1, 12):02d}-15",
        "q18_qty": rng.randint(230, 260),
        "topk": rng.randint(2, 4),
        "priority": rng.choice(datagen.PRIORITIES),
        "setop_qty": rng.randint(44, 48),
        "ex_date": f"{rng.randint(1995, 1998)}-06-01",
        "discount": rng.choice(("0.07", "0.08", "0.09")),
    }
    out = [(name, sql.format(**lits)) for name, sql in ANALYTIC_SELECTS.items()]
    return out + [(name, None) for name in ANALYTIC_OPERATORS]


MIN_PASSES = 2


class AnalyticScan(Workload):
    name = "analytic_scan"
    sf = 0.1
    clients = 1
    tables = ("customer", "orders", "lineitem")  # the tables its SELECTs read

    def setup(self) -> None:
        import importlib

        sparkdb = importlib.import_module(PKG)
        self.engine = sparkdb.Engine(self.ctx.spark, self.fresh_root())
        # The first write of a session loads and compiles the JVM's write
        # path (about 4 s); a 25-row table takes that cost, so the ingests
        # that are samples all find it loaded.
        self.engine.ingest_parquet(os.path.join(self.ctx.data_dir, "nation.parquet"), "nation")
        for t in self.tables:
            t0 = time.perf_counter()
            self.engine.ingest_parquet(os.path.join(self.ctx.data_dir, f"{t}.parquet"), t)
            self.ctx.setup_writes[f"ingest_{t}"] = [(time.perf_counter() - t0) * 1000.0]

    def _statement(self, name: str, sql: str | None, measured: bool) -> None:
        import importlib

        tracer = self.ctx.tracer
        with self.timed("read", name, sql or name, measured) as st:
            try:
                if sql is not None:
                    df = self.engine.ref_sql(sql)
                else:
                    registry = importlib.import_module(f"{PKG}.workloads")
                    tracer.set_group(st.rid, "build")
                    with tracer.span("operators.build"):
                        df = registry.QUERIES[name](self.ctx.spark, self.ctx.data_dir)
                tracer.set_group(st.rid, "plan")
                with tracer.span("catalyst.plan"):
                    if tracer.enabled:  # the plan toArrow() then reuses
                        df._jdf.queryExecution().executedPlan()
                tracer.set_group(st.rid, "exec")
                with tracer.span("spark.exec"):
                    st.answer = df.toArrow()  # every row, as Arrow batches
            except Exception as ex:  # the engine failed this statement: record it
                st.error = f"{type(ex).__name__}: {str(ex)[:500]}"

    def warm_up(self) -> None:
        # Warm-up only fills caches, so it runs one thread per statement:
        # the cold pass is mostly driver-side compilation, which overlaps.
        warm = analytic_statements(self.ctx.seed)
        in_threads(len(warm), lambda i: self._statement(*warm[i], False))

    def measure(self, seconds: float) -> float:
        """Whole passes until ``seconds`` have passed, and at least
        ``MIN_PASSES``, so that every shape has more than one sample."""
        t0 = time.perf_counter()
        for passes in itertools.count(1):
            for name, sql in analytic_statements(self.ctx.seed):
                self._statement(name, sql, True)
            if passes >= MIN_PASSES and time.perf_counter() - t0 >= seconds:
                return self.window_since(t0)

    def verify(self) -> None:
        import importlib

        registry = importlib.import_module(f"{PKG}.workloads")
        con = checks.duck_connection(self.ctx.data_dir, list(self.tables) + ["documents"])
        expected: dict[str, tuple] = {}
        try:
            for st in self.stmts:
                if st.error is not None:
                    st.ok = False
                    continue
                if st.sql not in expected:
                    oracle = st.sql if st.shape in ANALYTIC_SELECTS else (
                        registry.ORACLES[st.shape].replace("{sf_dir}", self.ctx.data_dir))
                    res = con.execute(oracle)
                    expected[st.sql] = ([d[0] for d in res.description], res.fetchall())
                want_cols, want = expected[st.sql]
                cols = st.answer.column_names
                got = [tuple(r.values()) for r in st.answer.to_pylist()]
                st.rows = len(got)
                if st.shape in ANALYTIC_SELECTS:
                    st.ok = checks.same_rows(got, want)
                else:
                    st.ok = checks.same_as_oracle(got, cols, want, want_cols)
        finally:
            con.close()


# ---------------------------------------------------------------------------
# mixed_rw
# ---------------------------------------------------------------------------

ORDERS_RW_COLUMNS = [("o_orderkey", "BIGINT"), ("o_custkey", "BIGINT"), ("o_orderstatus", "TEXT"),
                     ("o_totalprice", "DOUBLE"), ("o_orderdate", "TIMESTAMP"), ("o_orderpriority", "TEXT")]
BENCH_KEY_BASE = 10_000_000  # writer-owned order keys start here
BATCH = 3  # orders inserted (and deleted again) per writer cycle
# The second cycle of a session still runs its upsert about 15% slower
# than later ones: two warm-up cycles keep it out of the window.
WARM_CYCLES = 2
MIN_CYCLES = 2  # measured writer cycles: two samples of every write shape
LINES = 2  # lineitems inserted per cycle

#: The reader's shapes: point SELECTs on hot keys (the ones the writer
#: upserts) and on the writer's new keys, and COUNTs the writes change.
READ_SHAPES = {
    "point_hot": "SELECT o_orderstatus, o_totalprice, o_orderpriority FROM orders_rw "
                 "WHERE o_orderkey = {hot}",
    "point_new": "SELECT o_orderstatus, o_totalprice, o_orderpriority FROM orders_rw "
                 "WHERE o_orderkey = {new}",
    "count_status": "SELECT COUNT(*) FROM orders_rw WHERE o_orderstatus = '{status}'",
    "count_new_lines": f"SELECT COUNT(*) FROM lineitem_rw WHERE l_orderkey >= {BENCH_KEY_BASE}",
}


def _money(rng: random.Random) -> float:
    return round(rng.uniform(1000.0, 500000.0), 2)


def writer_cycle(rng: random.Random, cycle: int, hot_key) -> list[tuple[str, str]]:
    """One writer cycle as ``(shape, sql)``. It ends with the live row counts
    of both tables back at their set-up values."""
    n = datagen.sizes(MixedRW.sf)
    base = BENCH_KEY_BASE + cycle * BATCH
    values = ", ".join(
        f"({base + i}, {rng.randrange(n['customer'])}, '{rng.choice('FOP')}', {_money(rng)}, "
        f"'1999-0{1 + i}-01 00:00:00', '{rng.choice(datagen.PRIORITIES)}')"
        for i in range(BATCH)
    )
    lines = ", ".join(
        f"({base}, {rng.randrange(n['part'])}, {rng.randrange(n['supplier'])}, {i + 1}, "
        f"{rng.randint(1, 50)}.0, {_money(rng)}, 0.0{rng.randint(0, 9)}, 0.0{rng.randint(0, 8)}, "
        f"'N', 'O', '1999-02-01 00:00:00')"
        for i in range(LINES)
    )
    return [
        ("insert_orders", f"INSERT INTO orders_rw VALUES {values}"),
        ("insert_lines", f"INSERT INTO lineitem_rw VALUES {lines}"),
        ("update", f"UPDATE orders_rw SET o_totalprice = {_money(rng)}, o_orderstatus = 'F' "
                   f"WHERE o_orderkey = {base}"),
        ("upsert", f"INSERT INTO orders_rw VALUES ({hot_key()}, 7, 'O', 1.0, '1999-05-01 00:00:00', "
                   f"'{rng.choice(datagen.PRIORITIES)}') ON CONFLICT DO UPDATE "
                   f"SET o_orderpriority = excluded.o_orderpriority"),
        ("delete_lines", f"DELETE FROM lineitem_rw WHERE l_orderkey >= {BENCH_KEY_BASE}"),
        ("delete_orders", f"DELETE FROM orders_rw WHERE o_orderkey >= {base} AND o_orderkey < {base + BATCH}"),
    ]


def reader_stream(rng: random.Random, hot_key):
    """Endless seeded stream of ``(shape, sql)`` for the reader."""
    for shape in shape_blocks(rng, list(READ_SHAPES)):
        lits = {"hot": hot_key(), "new": BENCH_KEY_BASE + rng.randrange(6 * BATCH),
                "status": rng.choice("FOP")}
        yield shape, READ_SHAPES[shape].format(**lits)


def replay_model(data_dir: str):
    """DuckDB holding the set-up state of ``orders_rw`` and ``lineitem_rw``;
    replaying the writer's committed DML on it gives every later state."""
    import duckdb

    con = duckdb.connect()
    cols = ", ".join(f"{c} {'VARCHAR' if t == 'TEXT' else t}" for c, t in ORDERS_RW_COLUMNS)
    con.execute(f"CREATE TABLE orders_rw ({cols}, PRIMARY KEY (o_orderkey))")
    con.execute(f"INSERT INTO orders_rw SELECT * FROM read_parquet('{data_dir}/orders.parquet')")
    con.execute(f"CREATE TABLE lineitem_rw AS SELECT * FROM read_parquet('{data_dir}/lineitem.parquet')")
    return con


class MixedRW(Workload):
    name = "mixed_rw"
    sf = 0.01
    clients = 2
    # A read runs in about 100 ms but first waits for the write in progress,
    # so its latency is set by the write it queues behind, not by its shape.
    # The two clients fall into lock-step, and the same read shape can queue
    # behind the slow upsert every cycle: per-shape medians would follow
    # that alignment, a pooled median does not.
    pooled_reads = True
    httpd = None

    def setup(self) -> None:
        import importlib

        sparkdb = importlib.import_module(PKG)
        server = importlib.import_module(f"{PKG}.server")
        self.engine = sparkdb.Engine(self.ctx.spark, self.fresh_root())
        self.engine.ingest_parquet(os.path.join(self.ctx.data_dir, "lineitem.parquet"), "lineitem_rw")
        # orders_rw carries a PRIMARY KEY, the default ON CONFLICT target
        self.engine.create_table("orders_rw", ORDERS_RW_COLUMNS, primary_key=["o_orderkey"])
        self.engine.append_df("orders_rw", self.ctx.spark.read.parquet(
            os.path.join(self.ctx.data_dir, "orders.parquet")))
        self.httpd = server.make_server(self.engine)
        self.ctx.tracer.instrument_server(self.httpd)
        self._server_thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._server_thread.start()
        self._cycle = 0
        rng = random.Random(f"{self.ctx.seed}:mixed")
        self._writer_rng = random.Random(rng.random())
        self._hot_w = Zipf(random.Random(rng.random()), range(datagen.sizes(self.sf)["orders"]))
        # the reader favours the same keys the writer upserts
        self._hot_r = Zipf(random.Random(rng.random()), self._hot_w.values, shuffle=False)
        self._reader = reader_stream(random.Random(rng.random()), self._hot_r)

    def close(self) -> None:
        if self.httpd is not None:
            self.httpd.shutdown()
            self.httpd.server_close()
            self._server_thread.join(timeout=30)
            self.httpd = None

    def _send(self, client: RestClient, kind: str, shape: str, sql: str, measured: bool) -> None:
        with self.timed(kind, shape, sql, measured) as st:
            try:
                resp = client.query(sql, self.ctx.tracer.header())
            except (OSError, http.client.HTTPException, ValueError) as ex:
                resp = {"success": False, "error": f"{type(ex).__name__}: {ex}"}
            if resp.get("success"):
                st.answer = resp.get("result", "")
            else:
                st.error = str(resp.get("error"))

    def _write(self, client: RestClient, measured: bool, cycles: int, until: float) -> None:
        """Whole cycles, so the row counts end where they started: at least
        ``cycles`` of them, and until ``until`` has passed."""
        for n in itertools.count(1):
            for shape, sql in writer_cycle(self._writer_rng, self._cycle, self._hot_w):
                self._send(client, "write", shape, sql, measured)
            self._cycle += 1
            if n >= cycles and time.perf_counter() >= until:
                return

    def _read(self, client: RestClient, measured: bool, writer_done: threading.Event) -> None:
        """Reads until the writer is done."""
        while not writer_done.is_set():
            shape, sql = next(self._reader)
            self._send(client, "read", shape, sql, measured)

    def _clients(self, measured: bool, cycles: int, until: float) -> None:
        """The writer and the reader, concurrently."""
        writer_done = threading.Event()

        def client(i: int) -> None:
            c = RestClient(self.httpd.server_address[1])
            try:
                if i == 0:
                    self._write(c, measured, cycles, until)
                else:
                    self._read(c, measured, writer_done)
            finally:
                writer_done.set()
                c.close()

        in_threads(self.clients, client)

    def warm_up(self) -> None:
        self._clients(False, WARM_CYCLES, 0.0)

    def measure(self, seconds: float) -> float:
        t0 = time.perf_counter()
        self._clients(True, MIN_CYCLES, t0 + seconds)
        return self.window_since(t0)

    def verify(self) -> None:
        """Replay the committed writes on the DuckDB model in commit order
        (one writer, so send order). Each write's affected-row count must
        match the model's. State j (after j writes) may be visible to a read
        in flight between write j's send and write j+1's reply; the read
        must match one of the states it could see."""
        writes = [s for s in self.stmts if s.kind == "write"]
        reads = [s for s in self.stmts if s.kind == "read"]
        got = {}
        for st in reads:
            st.ok = False
            if st.error is None:
                try:
                    got[st.rid] = checks.parse_table(st.answer)
                    st.rows = len(got[st.rid])
                except ValueError:
                    pass
        con = replay_model(self.ctx.data_dir)
        try:
            for j in range(len(writes) + 1):
                for st in reads:
                    if (st.rid in got and not st.ok
                            and (j == 0 or writes[j - 1].start < st.end)
                            and (j == len(writes) or writes[j].end > st.start)):
                        st.ok = checks.same_rows(got[st.rid], con.execute(st.sql).fetchall())
                if j < len(writes):
                    w = writes[j]
                    w.ok = False
                    if w.error is None:  # a failed write committed nothing
                        affected = con.execute(w.sql).fetchall()[0][0]
                        try:
                            w.ok = checks.parse_affected(w.answer) == affected
                        except ValueError:
                            pass
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (MixedRW, AnalyticScan)}
