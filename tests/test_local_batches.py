"""Driver-local row batches (INSERT VALUES, the ON CONFLICT batch, empty
tables) travel to the JVM as Arrow: no Python RDD in their lineage, the
same rows and errors as PySpark's row-list ``createDataFrame``, and naive
TIMESTAMPs read as wall time in the session zone."""

from __future__ import annotations

import datetime
import decimal
import os
import time

import pytest
from pyspark.sql import Row

from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark import (
    Engine,
)
from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.plans.refsql import (
    RefSQL,
    _Cursor,
    tokenize,
)
from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.tables import (
    local_frame,
)

# The declared-type vocabulary: the five reference types plus native
# Spark DDL columns.
DECLS = [
    ("i", "INT"),
    ("d", "DECIMAL"),
    ("b", "BOOL"),
    ("s", "TEXT"),
    ("img", "IMAGE"),
    ("ts", "TIMESTAMP"),
    ("dt", "DATE"),
    ("dec", "decimal(10,2)"),
    ("arr", "array<double>"),
    ("bin", "binary"),
    ("st", "struct<x:bigint,y:string>"),
    ("tss", "array<timestamp>"),
    ("m", "map<string,decimal(4,1)>"),
]

ROWS = [
    {
        "i": 7, "d": 2.5, "b": True, "s": "x", "img": "cat",
        "ts": datetime.datetime(1999, 7, 1, 12, 0, 0, 123456),
        "dt": datetime.date(1999, 1, 2),
        "dec": decimal.Decimal("1.005"),
        "arr": [1.0, None, -2.5], "bin": b"\x00\xff",
        "st": {"x": 3, "y": "why"},
        "tss": [datetime.datetime(2000, 2, 3, 4, 5, 6), None],
        "m": {"a": decimal.Decimal("1.25"), "b": None},
    },
    {
        "i": -(2 ** 62), "d": -0.0, "b": False, "s": "", "img": "/no/such.jpg",
        "ts": datetime.datetime(1970, 1, 1),
        "dt": datetime.date(2024, 2, 29),
        "dec": decimal.Decimal("-12345678.99"),
        "arr": [], "bin": b"",
        "st": Row(x=None, y="row"),
        "tss": [], "m": {},
    },
    {c: None for c, _ in DECLS},
]


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "db"))


@pytest.fixture()
def process_tz(monkeypatch):
    """Set the driver process's local zone (TZ + tzset) for one test."""

    def set_tz(name: str) -> None:
        monkeypatch.setenv("TZ", name)
        time.tzset()

    yield set_tz
    monkeypatch.undo()
    time.tzset()


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def test_values_on_conflict_and_empty_frames_have_no_python_rdd(engine, spark):
    engine.create_table("t", [("k", "INT"), ("v", "TEXT")])
    values = engine.coerce_rows_df("t", [{"k": 1, "v": "a"}, {"k": 2}])
    upsert = RefSQL(engine)._insert_body_df(
        _Cursor(tokenize("VALUES (1, 'a'), (2, 'b')")), "t", None
    )
    empty = local_frame(spark, [], engine.catalog.get("t").schema)
    for df in (values, upsert, empty):
        assert "PythonRDD" not in _lineage(df)
    assert sorted(values.collect()) == [(1, "a"), (2, None)]
    assert empty.count() == 0


def test_matches_row_path_over_declared_types(engine, spark, process_tz):
    # The row path reads naive datetimes in the process zone: pin it to the
    # session zone so both sides mean the same instant.
    process_tz("UTC")
    engine.create_table("all_types", DECLS)
    schema = engine.catalog.get("all_types").schema
    ref = spark.createDataFrame(ROWS, schema).collect()
    got = local_frame(spark, ROWS, schema).collect()
    assert got == ref
    # HALF_UP, as the JVM rounds
    assert got[0]["dec"] == decimal.Decimal("1.01")
    assert got[0]["m"]["a"] == decimal.Decimal("1.3")

    # Through INSERT: coercion + the same batch, read back from storage.
    engine.insert_rows("all_types", ROWS)
    assert sorted(engine.table("all_types").collect(), key=str) == sorted(ref, key=str)


@pytest.mark.parametrize(
    "decl, value",
    [("int", 2 ** 31), ("INT", 2 ** 63), ("array<double>", "not a list"),
     ("struct<x:bigint,y:string>", 5)],
    ids=["int32-overflow", "int64-overflow", "array-wrong", "struct-wrong"],
)
def test_bad_values_fail_like_the_row_path(engine, spark, decl, value):
    engine.create_table("bad", [("c", decl)])
    schema = engine.catalog.get("bad").schema
    with pytest.raises((TypeError, ValueError)) as ref:
        spark.createDataFrame([{"c": value}], schema)
    with pytest.raises(ValueError) as got:
        engine.coerce_rows_df("bad", [{"c": value}])
    prefix = (
        "INSERT into 'bad': a value does not fit the declared schema "
        f"{schema.simpleString()}: "
    )
    assert str(got.value) == prefix + str(ref.value)


def test_values_timestamp_is_session_zone_wall_time(engine, process_tz):
    process_tz("America/New_York")
    engine.ref_sql("CREATE TABLE ev (k INT, ts TIMESTAMP)")
    engine.ref_sql(
        "INSERT INTO ev VALUES (1, '1999-01-01 00:00:00'), "
        "(2, TIMESTAMP '1999-07-01 12:00:00')"
    )
    engine.ref_sql("INSERT INTO ev SELECT 3 AS k, TIMESTAMP '1999-07-01 12:00:00' AS ts")
    got = engine.ref_sql("SELECT k, CAST(ts AS STRING) AS s FROM ev ORDER BY k")
    assert [tuple(r) for r in got.collect()] == [
        (1, "1999-01-01 00:00:00"),
        (2, "1999-07-01 12:00:00"),
        (3, "1999-07-01 12:00:00"),
    ]


def test_on_conflict_do_nothing_keeps_first_values_row_per_key(engine, spark):
    engine.ref_sql("CREATE TABLE kv (k INT PRIMARY KEY, v TEXT)")
    engine.ref_sql("INSERT INTO kv VALUES (100, 'old')")
    n = 4 * spark.sparkContext.defaultParallelism
    vals = ", ".join(f"({i % 5}, 'v{i}')" for i in range(n))
    engine.ref_sql(f"INSERT INTO kv VALUES {vals}, (100, 'new') ON CONFLICT DO NOTHING")
    got = dict(engine.ref_sql("SELECT k, v FROM kv").collect())
    assert got == {100: "old", **{k: f"v{k}" for k in range(5)}}


def test_on_conflict_do_update_probes_batch_in_one_action(engine, monkeypatch):
    engine.ref_sql("CREATE TABLE kv (k INT PRIMARY KEY, v TEXT)")
    engine.ref_sql("INSERT INTO kv VALUES (1, 'a')")
    frame_cls = type(engine.table("kv"))
    actions = []

    def counted(name):
        orig = getattr(frame_cls, name)

        def action(self, *args, **kwargs):
            actions.append(name)
            return orig(self, *args, **kwargs)

        return action

    for name in ("collect", "count"):
        monkeypatch.setattr(frame_cls, name, counted(name))
    engine.ref_sql(
        "INSERT INTO kv VALUES (1, 'b'), (2, 'c') "
        "ON CONFLICT (k) DO UPDATE SET v = excluded.v"
    )
    monkeypatch.undo()
    assert actions == ["collect"]
    assert dict(engine.ref_sql("SELECT k, v FROM kv").collect()) == {1: "b", 2: "c"}
    with pytest.raises(ValueError, match="NULL in conflict key column"):
        engine.ref_sql(
            "INSERT INTO kv VALUES (NULL, 'x'), (NULL, 'y') "
            "ON CONFLICT (k) DO UPDATE SET v = excluded.v"
        )
    with pytest.raises(ValueError, match="cannot affect the same row twice"):
        engine.ref_sql(
            "INSERT INTO kv VALUES (3, 'x'), (3, 'y') "
            "ON CONFLICT (k) DO UPDATE SET v = excluded.v"
        )
    assert engine.ref_sql("SELECT count(*) FROM kv").collect()[0][0] == 2


def test_truncate_and_replace_write_empty_arrow_frames(engine):
    engine.create_table("p", [("k", "INT"), ("g", "TEXT")], partition_by=["g"])
    engine.insert_rows("p", [{"k": 1, "g": "a"}, {"k": 2, "g": "b"}])
    engine.truncate_table("p")
    assert engine.table("p").count() == 0
    engine.replace_table("p", [("k", "INT"), ("ts", "TIMESTAMP")])
    assert engine.table("p").columns == ["k", "ts"]
    assert engine.table("p").count() == 0
    assert not os.listdir(engine.store.staging_dir)
