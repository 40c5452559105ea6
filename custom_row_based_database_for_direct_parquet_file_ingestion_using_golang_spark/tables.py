"""Parquet-backed table store with append and copy-on-write rewrite.

Reference parity: the Go engine appends JSON rows to ``<table>.dat``
(``pkg/storage/storage.go:48-85``) and implements UPDATE/DELETE as
read-all → transform → temp-file → fsync → atomic rename
(``pkg/storage/storage.go:251-316``). The Spark-native equivalent keeps the
same two primitives but columnar and distributed:

  * append  = ``df.write.mode("append").parquet(dir)`` — each executor writes
    its own part files; no global lock, no row-at-a-time IO.
  * rewrite = write the transformed snapshot to a staging dir, then atomically
    swap directories. Readers of the old snapshot are unaffected (Parquet
    files are immutable); a crash mid-swap leaves either old or new, never a
    torn table.

At cluster scale the swap would be a metastore pointer flip (or a Delta/
Iceberg commit); on a filesystem, ``os.replace``-style renames give the same
single-writer guarantee the reference has.
"""

from __future__ import annotations

import datetime
import decimal
import os
import shutil
import uuid
import zoneinfo

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _make_type_verifier

# Spark's widest decimal; HALF_UP is how the JVM rounds to a declared scale.
_DECIMAL_CTX = decimal.Context(prec=38, rounding=decimal.ROUND_HALF_UP)


def local_frame(spark: SparkSession, rows: list[dict], schema: T.StructType) -> DataFrame:
    """Driver-local rows (dicts keyed by field name) as a DataFrame.

    The rows are checked with PySpark's own row verifier, so a value that
    does not fit the schema raises the same TypeError/ValueError as
    PySpark's row-list path. They then travel as one Arrow table that the
    JVM decodes into a ``LocalRelation``: no pickled RDD, so no Spark job
    over the batch ever starts a Python worker.

    A naive TIMESTAMP is wall time in the session time zone, the zone
    Spark's own string casts read it in; decimals round HALF_UP to the
    declared scale."""
    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)
    zone = zoneinfo.ZoneInfo(spark.conf.get("spark.sql.session.timeZone"))
    arrow_schema = to_arrow_schema(schema)
    columns = []
    for f, atype in zip(schema.fields, arrow_schema.types):
        values = [row.get(f.name) for row in rows]
        conv = _arrow_value(f.dataType, zone)
        if conv is not None:
            values = [None if v is None else conv(v) for v in values]
        columns.append(pa.array(values, type=atype))
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def _arrow_value(dtype: T.DataType, zone: datetime.tzinfo):
    """Converter from a verified Python value of ``dtype`` to the value
    pyarrow must be given; None where pyarrow takes the value as it is.
    pyarrow keeps a datetime's wall time and drops its zone, so TIMESTAMP
    values go in as UTC."""
    if isinstance(dtype, T.TimestampType):
        return lambda v: (v if v.tzinfo else v.replace(tzinfo=zone)).astimezone(
            datetime.timezone.utc
        )
    if isinstance(dtype, T.TimestampNTZType):
        return lambda v: v.replace(tzinfo=None)
    if isinstance(dtype, T.DecimalType):
        exp = decimal.Decimal(1).scaleb(-dtype.scale)
        return lambda v: v.quantize(exp, context=_DECIMAL_CTX)
    if isinstance(dtype, T.ArrayType):
        elem = _arrow_value(dtype.elementType, zone)
        return elem and (lambda v: [None if x is None else elem(x) for x in v])
    if isinstance(dtype, T.MapType):
        key = _arrow_value(dtype.keyType, zone)
        val = _arrow_value(dtype.valueType, zone)
        if key is None and val is None:
            return None
        key, val = key or _same, val or _same
        return lambda v: {key(k): None if x is None else val(x) for k, x in v.items()}
    if isinstance(dtype, T.StructType):
        names = dtype.fieldNames()
        convs = [_arrow_value(f.dataType, zone) for f in dtype.fields]

        def struct(v):  # pyarrow takes a struct value only as a dict
            items = zip(names, v) if isinstance(v, (tuple, list)) else (
                (n, v.get(n)) for n in names
            )
            return {
                n: x if c is None or x is None else c(x)
                for (n, x), c in zip(items, convs)
            }

        return struct
    return None


def _same(v):
    return v


class ParquetTableStore:
    """Directory-per-table Parquet storage under an engine root.

    ``keep_snapshots > 0`` turns every copy-on-write rewrite into a
    versioned commit: the replaced snapshot moves to
    ``.snapshots/<table>/v<k>`` instead of being deleted, giving Delta-style
    time travel (``read_version``) with bounded retention. Snapshots are
    immutable Parquet directories, so historical reads are zero-copy.
    """

    def __init__(self, spark: SparkSession, root: str, keep_snapshots: int = 0):
        self.spark = spark
        self.root = root
        self.keep_snapshots = keep_snapshots
        self.tables_dir = os.path.join(root, "tables")
        self.staging_dir = os.path.join(root, ".staging")
        self.trash_dir = os.path.join(root, ".trash")
        self.snapshots_dir = os.path.join(root, ".snapshots")
        for d in (self.tables_dir, self.staging_dir, self.trash_dir, self.snapshots_dir):
            os.makedirs(d, exist_ok=True)

    def table_path(self, name: str) -> str:
        return os.path.join(self.tables_dir, name)

    def init_empty(
        self, name: str, schema, partition_by: list[str] | None = None
    ) -> str:
        """Materialize an empty table dir so scans of a fresh table work.

        A partitioned table's empty write must partition too: an
        unpartitioned part file at the table root would sit beside the
        later ``col=value/`` directories and corrupt partition discovery
        once it carried rows."""
        path = self.table_path(name)
        writer = local_frame(self.spark, [], schema).write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        return path

    def read(self, name: str, schema=None) -> DataFrame:
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self.table_path(name))

    def append(self, name: str, df: DataFrame, partition_by: list[str] | None = None) -> None:
        writer = df.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.table_path(name))

    def overwrite(self, name: str, df: DataFrame, partition_by: list[str] | None = None) -> None:
        """Copy-on-write rewrite with atomic swap (see module docstring)."""
        token = uuid.uuid4().hex[:12]
        staging = os.path.join(self.staging_dir, f"{name}-{token}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        try:
            writer.parquet(staging)
        except Exception:
            # A failed write (e.g. an in-plan guard raise_error) must not
            # leak a partial .staging/<table>-<token> directory.
            shutil.rmtree(staging, ignore_errors=True)
            raise

        current = self.table_path(name)
        trash = os.path.join(self.trash_dir, f"{name}-{token}")
        if os.path.exists(current):
            os.rename(current, trash)
        try:
            os.rename(staging, current)
        except OSError:
            # Roll back: restore the old snapshot.
            if os.path.exists(trash) and not os.path.exists(current):
                os.rename(trash, current)
            raise
        if self.keep_snapshots > 0 and os.path.exists(trash):
            # Best-effort: the write is already durable at this point, so a
            # retention failure must not surface as a failed UPDATE/DELETE.
            try:
                self._retire_to_snapshot(name, trash)
            except OSError:
                shutil.rmtree(trash, ignore_errors=True)
        else:
            shutil.rmtree(trash, ignore_errors=True)

    # -- snapshot retention / time travel ---------------------------------

    def _table_snap_dir(self, name: str) -> str:
        d = os.path.join(self.snapshots_dir, name)
        os.makedirs(d, exist_ok=True)
        return d

    def versions(self, name: str) -> list[int]:
        d = self._table_snap_dir(name)
        return sorted(
            int(v[1:]) for v in os.listdir(d) if v.startswith("v") and v[1:].isdigit()
        )

    def _retire_to_snapshot(self, name: str, old_dir: str) -> None:
        vs = self.versions(name)
        nxt = (vs[-1] + 1) if vs else 0
        os.rename(old_dir, os.path.join(self._table_snap_dir(name), f"v{nxt}"))
        for stale in [*vs, nxt][: -self.keep_snapshots]:
            shutil.rmtree(
                os.path.join(self._table_snap_dir(name), f"v{stale}"),
                ignore_errors=True,
            )

    def vacuum(self, name: str, keep: int = 0) -> list[int]:
        """Drop retired snapshots beyond the ``keep`` newest (the
        Delta-style VACUUM: reclaim history storage, keep recent time
        travel). Returns the removed version numbers. Snapshot dirs are
        immutable, so removal is safe for any reader that already planned
        against a dropped version only until its scan starts — same
        contract as Delta's retention window."""
        if keep < 0:
            raise ValueError("keep must be >= 0")
        vs = self.versions(name)
        doomed = vs[: max(0, len(vs) - keep)] if keep else vs
        for v in doomed:
            shutil.rmtree(
                os.path.join(self._table_snap_dir(name), f"v{v}"),
                ignore_errors=True,
            )
        return doomed

    def read_version(self, name: str, version: int, schema=None) -> DataFrame:
        """Time travel: read a retired snapshot by version number."""
        path = os.path.join(self._table_snap_dir(name), f"v{version}")
        if not os.path.exists(path):
            raise KeyError(
                f"table '{name}' has no snapshot v{version}; available: {self.versions(name)}"
            )
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(path)

    def drop(self, name: str) -> None:
        path = self.table_path(name)
        if os.path.exists(path):
            shutil.rmtree(path)
        # Snapshots die with the table: a recreated table must not time-
        # travel into a dead table's data (schema may differ).
        snaps = os.path.join(self.snapshots_dir, name)
        if os.path.exists(snaps):
            shutil.rmtree(snaps, ignore_errors=True)
