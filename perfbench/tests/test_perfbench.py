"""The benchmark's own tests: statistics, span arithmetic, answer checks and
the metric names. No Spark session is needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import json
import random
import sys
from pathlib import Path

import pyarrow as pa
import pytest

BENCH = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH))

import checks  # noqa: E402
import datagen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())


# -- tail rule ----------------------------------------------------------------


@pytest.mark.parametrize(
    "n, pct, value, beyond",
    [
        (100, "p90", 90, 10),
        (40, "p75", 30, 10),
        (24, "p58", 14, 10),
        (1000, "p99", 990, 10),  # capped at p99
        (2000, "p99", 1980, 20),
        (21, "p52", 11, 10),  # the median itself
        (20, "p55", 11, 9),  # nothing above the median has ten beyond
        (12, "p58", 7, 5),
        (1, "p100", 1, 0),
    ],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, pct, value, beyond):
    values = list(range(1, n + 1))
    random.Random(n).shuffle(values)
    assert stats.tail(values) == {"value": value, "pct": pct, "beyond": beyond, "n": n}
    assert stats.tail(values)["value"] >= stats.median(values)


def test_tail_rejects_empty_sample():
    with pytest.raises(ValueError):
        stats.tail([])


# -- self-time arithmetic -----------------------------------------------------


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": "x"}


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 6.0),  # overlaps span 2: the union counts once
        _span(4, 2, 1.5, 2.0),
        _span(5, 1, 9.0, 12.0),  # runs past its parent: clipped at 10
    ]
    own = stats.self_times(spans)
    assert own[1] == pytest.approx(10.0 - (5.0 + 1.0))
    assert own[2] == pytest.approx(3.0 - 0.5)
    assert own[3] == pytest.approx(3.0)
    assert own[4] == pytest.approx(0.5)
    assert own[5] == pytest.approx(3.0)


def test_layer_self_times_add_up_to_root_duration():
    spans = [_span(1, None, 0.0, 10.0), _span(2, 1, 2.0, 5.0), _span(3, 2, 3.0, 4.0)]
    for s, layer in zip(spans, ("untraced", "refsql", "spark")):
        s["name"] = layer
    by_layer = stats.layer_self_times(spans, lambda s: s["name"])
    assert by_layer == pytest.approx({"untraced": 7.0, "refsql": 2.0, "spark": 1.0})
    assert sum(by_layer.values()) == pytest.approx(10.0)


# -- answer checks --------------------------------------------------------------


def test_parse_table_and_compare():
    text = "count\n-----\n5"
    assert checks.parse_table(text) == [("5",)]
    assert checks.same_rows(checks.parse_table(text), [(5,)])
    assert not checks.same_rows(checks.parse_table(text), [(6,)])
    two = "a                   b\n---------------------\nx                   1.5\ny                   NULL"
    assert checks.same_rows(checks.parse_table(two), [("y", None), ("x", 1.5)])


@pytest.fixture(scope="module")
def tiny_data(tmp_path_factory):
    out = tmp_path_factory.mktemp("data")
    datagen.write_dataset(str(out), seed=5, sf=0.001)
    return str(out)


def _ctx(data_dir):
    from tracing import NullTracer

    return workloads.Context(None, data_dir, data_dir, 5, NullTracer(), None)


def test_wrong_answer_counts_as_failed(tiny_data):
    wl = workloads.AnalyticScan(_ctx(tiny_data))
    sql = "SELECT COUNT(*) AS n FROM orders WHERE o_orderkey < 10"
    right = workloads.Stmt("1", "read", "q1_pricing", sql, answer=pa.table({"n": [10]}))
    wrong = workloads.Stmt("2", "read", "q1_pricing", sql, answer=pa.table({"n": [11]}))
    errored = workloads.Stmt("3", "read", "q1_pricing", sql, error="boom")
    wl.stmts = [right, wrong, errored]
    wl.verify()
    assert [s.ok for s in wl.stmts] == [True, False, False]
    assert run.tally(wl.stmts, leftover=0) == (4, 2)
    assert run.tally(wl.stmts[:1], leftover=1) == (2, 1)  # leftover staging fails


NEW_KEY = workloads.BENCH_KEY_BASE
POINT = ("SELECT o_orderstatus, o_totalprice, o_orderpriority FROM orders_rw "
         f"WHERE o_orderkey = {NEW_KEY}")
NO_ROW = "o_orderstatus\n-------------"
ROW = ("o_orderstatus       o_totalprice        o_orderpriority\n-------\n"
       "O                   10.0                1-URGENT")


def _mixed(tiny_data, stmts):
    wl = workloads.MixedRW(_ctx(tiny_data))
    wl.stmts = stmts
    wl.verify()
    return [s.ok for s in stmts]


def test_mixed_reads_checked_against_committed_states(tiny_data):
    insert = workloads.Stmt(
        "1", "write", "insert",
        f"INSERT INTO orders_rw VALUES ({NEW_KEY}, 1, 'O', 10.0, '1999-01-01 00:00:00', '1-URGENT')",
        start=1.0, end=2.0, answer="1 row(s) affected")
    reads = [
        workloads.Stmt("2", "read", "p", POINT, start=0.0, end=0.5, answer=NO_ROW),  # before it
        workloads.Stmt("3", "read", "p", POINT, start=1.5, end=1.7, answer=NO_ROW),  # in flight
        workloads.Stmt("4", "read", "p", POINT, start=1.5, end=1.7, answer=ROW),  # in flight
        workloads.Stmt("5", "read", "p", POINT, start=3.0, end=3.5, answer=NO_ROW),  # stale
        workloads.Stmt("6", "read", "p", POINT, start=3.0, end=3.5, answer=ROW),
        workloads.Stmt("7", "read", "p", POINT, start=0.0, end=0.5, answer=ROW),  # from the future
    ]
    assert _mixed(tiny_data, [insert, *reads]) == [True, True, True, True, False, True, False]


def test_write_with_wrong_row_count_fails(tiny_data):
    delete = workloads.Stmt("1", "write", "delete",
                            f"DELETE FROM orders_rw WHERE o_orderkey >= {NEW_KEY}",
                            answer="2 row(s) affected")  # the model deletes nothing
    failed = workloads.Stmt("2", "write", "delete", "DELETE FROM orders_rw", error="boom")
    count = workloads.Stmt("3", "read", "c", "SELECT COUNT(*) FROM orders_rw",
                           start=5.0, end=6.0, answer="count\n-----\n1500")
    # the errored DELETE committed nothing, so the count is unchanged
    assert _mixed(tiny_data, [delete, failed, count]) == [False, False, True]


def test_writer_cycle_restores_row_counts(tiny_data):
    con = workloads.replay_model(tiny_data)
    counts = "SELECT (SELECT COUNT(*) FROM orders_rw), (SELECT COUNT(*) FROM lineitem_rw)"
    before = con.execute(counts).fetchall()
    hot = workloads.Zipf(random.Random(0), range(100))
    for cycle in range(3):
        for _, sql in workloads.writer_cycle(random.Random(cycle), cycle, hot):
            assert con.execute(sql).fetchall()[0][0] >= 1
    assert con.execute(counts).fetchall() == before


# -- seeded streams -----------------------------------------------------------


def test_same_seed_gives_identical_statement_stream():
    k = len(workloads.READ_SHAPES)

    def take(seed):
        hot = workloads.Zipf(random.Random(seed), range(1000))
        return list(itertools.islice(workloads.reader_stream(random.Random(seed), hot), 12 * k))

    assert take(7) == take(7)
    assert take(7) != take(8)
    shapes = [s for s, _ in take(7)]
    for i in range(0, 12 * k, k):  # every block holds each shape once
        assert sorted(shapes[i : i + k]) == sorted(workloads.READ_SHAPES)
    assert workloads.analytic_statements(3) == workloads.analytic_statements(3)
    cycle = lambda seed: workloads.writer_cycle(random.Random(seed), 0, lambda: 42)  # noqa: E731
    assert cycle(1) == cycle(1)


def test_datagen_is_deterministic():
    a, b = datagen.build_tables(3, 0.001), datagen.build_tables(3, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["orders"].equals(datagen.build_tables(4, 0.001)["orders"])


# -- metric names -------------------------------------------------------------


def test_end_to_end_metrics_match_benchmark_json():
    stmts = [workloads.Stmt(str(i), kind, "s", "q", start=0.0, end=0.1 * (i + 1))
             for i, kind in enumerate(["read"] * 5 + ["write"] * 3)]
    metrics, _ = run.end_to_end(stmts, 2.0, 1.0, {}, 100.0, 1.0)
    spec = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in metrics.items()} == spec
    assert all(v["value"] != 0 for v in metrics.values())


def test_latency_is_per_shape_median_averaged_over_shapes():
    # a slow shape's median counts once, whatever the mix of the window
    assert stats.shape_p50({"fast": [10.0, 12.0, 11.0, 500.0], "slow": [100.0, 90.0, 110.0]}) == 55.75
    stmts = [workloads.Stmt(str(i), "read", shape, "q", start=0.0, end=ms / 1000.0)
             for i, (shape, ms) in enumerate([("a", 10), ("a", 20), ("a", 30), ("b", 100)])]
    ingests = {"ingest": [300.0, 100.0, 200.0]}
    metrics, detail = run.end_to_end(stmts, 1.0, 1.0, ingests, 1.0, 1.0)
    assert metrics["read_p50_ms"]["value"] == pytest.approx(60.0)
    assert metrics["write_p50_ms"]["value"] == pytest.approx(200.0)  # no DML: set-up ingests
    assert detail["writes_from"] == "setup_ingest"
    pooled, _ = run.end_to_end(stmts, 1.0, 1.0, ingests, 1.0, 1.0, pooled_reads=True)
    assert pooled["read_p50_ms"]["value"] == pytest.approx(25.0)  # median of all four reads


def test_per_layer_metrics_match_benchmark_json():
    assert layers.UNITS == {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
