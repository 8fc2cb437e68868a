"""Catalog: parquet-backed tables with declared schemas.

Reference parity (SURVEY §1.1, §2.11 V6):
- ``CREATE DATABASE/SCHEMA IF NOT EXISTS`` (dp_setup.sql:12,137-138) ->
  warehouse subdirectories ``<root>/<db>/<schema>/<table>``
- typed DDL tables (dp_setup.sql:140-175) -> declared StructTypes below
- ``TRUNCATE TABLE`` (dp_demo.sql:16-19) -> :meth:`Table.truncate`
- CTAS (dp_demo.sql:250) -> :meth:`Catalog.create_table_as`

No Delta in this environment, so tables are schema-pinned parquet
directories. That is sufficient for the reference's whole DML surface:
its only writes are INSERT-append and *insert-only* MERGE (no
WHEN-MATCHED-UPDATE anywhere, dp_setup.sql:211-245), both of which
parquet append + anti-join express exactly (operators/merge.py).

Scale notes:
- the few rows a trigger writes from the driver (ledger rows, new
  dimension keys) go through ``Table.write_rows``: one pyarrow file
  renamed into place, no Spark job and no committer; ``Table.read_arrow``
  reads such small tables (ledgers, dimension keys) back the same way.
- ``Table.read`` is a schema'd parquet scan: Catalyst gets pushdown +
  column pruning for free, and streaming readers (streaming/streams.py)
  can treat the same directory as a file-source CDC log because the
  workload is insert-only.
- fact tables may be written day-partitioned (``partition_by``) so the
  reference's day-prefix pruning (dp_setup.sql:57) becomes real
  partition pruning at 100 TB.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _normalize_path(path: str) -> str:
    """One key per physical directory: strip trailing slashes and, for
    local paths (bare or ``file:`` scheme), resolve to an absolute path.
    Scheme'd remote paths keep their string form."""
    p = path.rstrip("/")
    if p.startswith("file:"):
        p = p[len("file:"):]
        # file:///x and file:/x both mean local /x
        while p.startswith("//"):
            p = p[1:]
    if "://" not in p:
        p = os.path.abspath(p)
    return p


#: Spark -> Arrow types for :meth:`Table.write_rows`: only the types the
#: driver-written tables use. Timestamps carry the UTC zone so the
#: parquet column is instant-semantics (read back as TimestampType, not
#: NTZ); naive datetimes are taken as UTC wall-clock.
_ARROW_TYPES = {
    T.StringType(): pa.string(),
    T.IntegerType(): pa.int32(),
    T.LongType(): pa.int64(),
    T.DoubleType(): pa.float64(),
    T.TimestampType(): pa.timestamp("us", tz="UTC"),
}


def _arrow_schema(schema: T.StructType) -> pa.Schema:
    """The Arrow schema :meth:`Table.write_rows` writes ``schema`` as;
    raises ``TypeError`` on a type outside :data:`_ARROW_TYPES`."""
    fields = []
    for f in schema.fields:
        if f.dataType not in _ARROW_TYPES:
            raise TypeError(
                f"write_rows cannot write column {f.name!r} of type "
                f"{f.dataType.simpleString()}"
            )
        fields.append(pa.field(f.name, _ARROW_TYPES[f.dataType]))
    return pa.schema(fields)


# -- Declared schemas (dp_setup.sql:140-175; SURVEY §1.1) -------------------

# raw.trips_raw (v VARIANT): the JSON doc is kept as its parsed struct plus
# the original text. Landing keeps both so `SELECT $1` (raw) and typed
# extraction are each one column read away.
#: starttime/stoptime travel as epoch-micros longs inside the wire doc
#: (format-free: the 'yyyy-MM-dd HH:mm:ss.SSS' formatter dominated the
#: doc round-trip cost). They are decoded back to timestamp_ntz at the
#: push_trips extraction edge (functions.variant.epoch_micros_to_ntz).
TRIP_DOC_FIELDS = [
    ("tripduration", T.IntegerType()),
    ("starttime", T.LongType()),
    ("stoptime", T.LongType()),
    ("start_station_id", T.IntegerType()),
    ("start_station_name", T.StringType()),
    ("start_station_latitude", T.DoubleType()),
    ("start_station_longitude", T.DoubleType()),
    ("end_station_id", T.IntegerType()),
    ("end_station_name", T.StringType()),
    ("end_station_latitude", T.DoubleType()),
    ("end_station_longitude", T.DoubleType()),
    ("bikeid", T.IntegerType()),
    ("usertype", T.StringType()),
    ("birth_year", T.IntegerType()),
    ("gender", T.IntegerType()),
    ("program_id", T.IntegerType()),
    ("program_name", T.StringType()),
]
#: the 17-field wire document (dp_setup.sql:58-75)
TRIP_DOC_SCHEMA = T.StructType([T.StructField(n, t) for n, t in TRIP_DOC_FIELDS])

#: raw.trips_raw — `v` is the parsed variant struct (dp_setup.sql:140)
TRIPS_RAW_SCHEMA = T.StructType([T.StructField("v", TRIP_DOC_SCHEMA)])

#: modelled.trips (dp_setup.sql:150-160)
TRIPS_SCHEMA = T.StructType([
    T.StructField("tripduration", T.IntegerType()),
    T.StructField("starttime", T.TimestampNTZType()),
    T.StructField("stoptime", T.TimestampNTZType()),
    T.StructField("start_station_id", T.IntegerType()),
    T.StructField("end_station_id", T.IntegerType()),
    T.StructField("bikeid", T.IntegerType()),
    T.StructField("usertype", T.StringType()),
    T.StructField("birth_year", T.IntegerType()),
    T.StructField("gender", T.IntegerType()),
    T.StructField("program_id", T.IntegerType()),
])

#: modelled.stations (dp_setup.sql:163-169)
STATIONS_SCHEMA = T.StructType([
    T.StructField("station_id", T.IntegerType()),
    T.StructField("station_name", T.StringType()),
    T.StructField("station_latitude", T.DoubleType()),
    T.StructField("station_longitude", T.DoubleType()),
    T.StructField("station_comment", T.StringType()),
])

#: modelled.programs (dp_setup.sql:172-175)
PROGRAMS_SCHEMA = T.StructType([
    T.StructField("program_id", T.IntegerType()),
    T.StructField("program_name", T.StringType()),
])

#: modelled.security (inferred from usage, dp_demo.sql:226-239)
SECURITY_SCHEMA = T.StructType([
    T.StructField("name", T.StringType()),
    T.StructField("account", T.StringType()),
    T.StructField("filter", T.StringType()),
])


class Table:
    """A schema-pinned parquet table directory."""

    def __init__(self, spark: SparkSession, path: str, schema: T.StructType,
                 partition_by: list[str] | None = None):
        self.spark = spark
        self.path = path
        self.schema = schema
        self.partition_by = partition_by or []
        self._norm_path = _normalize_path(path)
        self._ensure_dir()

    def _ensure_dir(self) -> None:
        jvm = self.spark.sparkContext._jvm
        p = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = p.getFileSystem(self.spark.sparkContext._jsc.hadoopConfiguration())
        fs.mkdirs(p)

    def _has_data(self) -> bool:
        jvm = self.spark.sparkContext._jvm
        p = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = p.getFileSystem(self.spark.sparkContext._jsc.hadoopConfiguration())
        # A monitoring read can race a LIVE micro-batch's commit. The
        # old recursive listFiles() was exposed to it twice over: it
        # enumerates batch_N/_temporary (deleted mid-iteration by the
        # commit protocol -> FileNotFoundException, seen r07/r08), and
        # it builds LocatedFileStatus per entry, which EAGERLY loads
        # permissions — on RawLocalFileSystem that shells out `ls`, so
        # a vanished staging dir surfaces as RuntimeException("Error
        # while running command to get file permissions"), which the
        # old FileNotFoundException-only retry did NOT absorb (r12
        # live-load capture: a purge AFTER hook read copy_history
        # mid-pipe-commit and killed its task query). Fixed at the
        # root: BFS with listStatus, pruning `_`/`.` names BEFORE
        # descending — the walk never enters _temporary at any depth,
        # and listStatus's FileStatus loads permissions lazily (never
        # asked for here). The bounded retry stays, broadened to both
        # transient signatures, for children that vanish between a
        # parent's list() and their stat. The listing race is normal
        # filesystem behavior and the monitoring contract is eventual.
        for attempt in range(3):
            try:
                stack = [p]
                while stack:
                    for st in fs.listStatus(stack.pop()):
                        name = st.getPath().getName()
                        if name.startswith(("_", ".")):
                            continue
                        if st.isDirectory():
                            stack.append(st.getPath())
                        else:
                            return True
                return False
            except Exception as ex:
                transient = (
                    "FileNotFoundException" in str(ex)
                    or "file permissions" in str(ex)
                )
                if attempt == 2 or not transient:
                    raise
        return False  # unreachable; keeps the type checker honest

    def read(self) -> DataFrame:
        """Base-relation scan (S9). Empty table -> empty typed DataFrame."""
        if not self._has_data():
            return self.spark.createDataFrame([], self.schema)
        r = self.spark.read.schema(self.schema)
        if not self.partition_by:
            # idempotent batch-keyed writes (overwrite_subdir) nest one
            # level down; recursive lookup reads root + subdir files.
            # Partitioned tables keep partition discovery instead.
            r = r.option("recursiveFileLookup", "true")
        return r.parquet(self.path)

    def read_arrow(self, columns: list[str]) -> pa.Table:
        """Driver-side read of ``columns`` with pyarrow, no Spark job:
        every data file under the table, skipping ``_``/``.`` names at
        any depth as :meth:`read` does.

        A file that a concurrent write removes between the listing and
        the read (a replayed batch-keyed write replacing its subdir)
        raises ``FileNotFoundError``; the read is retried, at most 3
        times in all. Types outside :data:`_ARROW_TYPES` raise
        ``TypeError``."""
        if self.partition_by:
            raise ValueError("read_arrow requires a non-partitioned table")
        schema = _arrow_schema(T.StructType([self.schema[c] for c in columns]))
        fs, root = pafs.FileSystem.from_uri(self._norm_path)
        attempts = 3
        while True:
            try:
                files = [
                    f.path for f in fs.get_file_info(pafs.FileSelector(
                        root, recursive=True, allow_not_found=True))
                    if f.type == pafs.FileType.File
                    and not any(part.startswith(("_", ".")) for part in
                                f.path[len(root):].strip("/").split("/"))
                ]
                return ds.dataset(files, schema=schema, format="parquet",
                                  filesystem=fs).to_table()
            except FileNotFoundError:
                attempts -= 1
                if not attempts:
                    raise

    def overwrite_subdir(self, df: DataFrame, subdir: str) -> None:
        """Idempotent write unit: (re)write ``{path}/{subdir}`` whole.
        A replayed streaming micro-batch that re-runs this converges to
        the same bytes instead of appending duplicates — the
        plain-parquet equivalent of Delta's txn-id'd foreachBatch
        write. Requires a non-partitioned table (see :meth:`read`)."""
        if self.partition_by:
            raise ValueError("overwrite_subdir requires a non-partitioned table")
        cols = [f.name for f in self.schema.fields]
        df.select(*cols).write.mode("overwrite").parquet(
            f"{self.path.rstrip('/')}/{subdir}"
        )

    def subdir_committed(self, subdir: str) -> bool:
        """True if a prior :meth:`overwrite_subdir` for ``subdir`` ran to
        job commit (its ``_SUCCESS`` marker exists) — lets a replayed
        batch skip the rewrite entirely, leaving file listings unchanged
        for downstream file-source streams."""
        jvm = self.spark.sparkContext._jvm
        p = jvm.org.apache.hadoop.fs.Path(
            f"{self.path.rstrip('/')}/{subdir}/_SUCCESS"
        )
        fs = p.getFileSystem(self.spark.sparkContext._jsc.hadoopConfiguration())
        return fs.exists(p)

    def write_rows(self, rows: list[tuple], subdir: str | None = None) -> None:
        """Driver-side write of a few rows (tuples in declared column
        order, like ``createDataFrame(rows, schema)``) as ONE parquet
        file, with no Spark job: pyarrow writes an ``_``-prefixed temp
        file (invisible to readers), then renames it into place.

        - ``subdir=None`` appends: the file gets a fresh unique name,
          so concurrent writers in any process never collide.
        - ``subdir`` is the :meth:`overwrite_subdir` contract: afterwards
          ``{path}/{subdir}`` holds exactly ``rows`` (the file is
          replaced by rename, stray data files are removed) plus a
          ``_SUCCESS`` marker, so a replayed batch converges.

        Types outside :data:`_ARROW_TYPES` raise ``TypeError``."""
        if self.partition_by:
            raise ValueError("write_rows requires a non-partitioned table")
        schema = _arrow_schema(self.schema)
        data = pa.Table.from_arrays(
            [pa.array([r[i] for r in rows], type=f.type)
             for i, f in enumerate(schema)],
            schema=schema,
        )
        fs, root = pafs.FileSystem.from_uri(self._norm_path)
        tag = uuid.uuid4().hex
        if subdir is not None:
            root = f"{root}/{subdir}"
        fs.create_dir(root, recursive=True)
        final = f"{root}/part-{'00000' if subdir is not None else tag}.parquet"
        tmp = f"{root}/_{tag}.parquet"
        pq.write_table(data, tmp, filesystem=fs)
        fs.move(tmp, final)
        if subdir is not None:
            for info in fs.get_file_info(pafs.FileSelector(root)):
                if info.path != final and not info.base_name.startswith(("_", ".")):
                    fs.delete_file(info.path)
            fs.open_output_stream(f"{root}/_SUCCESS").close()

    def overwrite(self, df: DataFrame) -> None:
        cols = [f.name for f in self.schema.fields]
        w = df.select(*cols).write.mode("overwrite")
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(self.path)

    def truncate(self) -> None:
        """TRUNCATE TABLE IF EXISTS (dp_demo.sql:16-19)."""
        jvm = self.spark.sparkContext._jvm
        p = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = p.getFileSystem(self.spark.sparkContext._jsc.hadoopConfiguration())
        if fs.exists(p):
            fs.delete(p, True)
        fs.mkdirs(p)

    def count(self) -> int:
        return self.read().count()

    def data_files(self) -> list[tuple[str, int]]:
        """(path, bytes) of every data file under the table dir."""
        jvm = self.spark.sparkContext._jvm
        p = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = p.getFileSystem(self.spark.sparkContext._jsc.hadoopConfiguration())
        out = []
        it = fs.listFiles(p, True)
        while it.hasNext():
            f = it.next()
            name = f.getPath().getName()
            if not name.startswith(("_", ".")):
                out.append((f.getPath().toString(), f.getLen()))
        return out

    def compact(self, target_file_bytes: int = 128 * 1024 * 1024) -> dict:
        """Small-file compaction: rewrite the table as
        ``ceil(total_bytes / target_file_bytes)`` files. Continuous
        micro-batch ingest accretes KB-scale files whose per-file
        scan/open overhead dominates at scale; compaction restores
        scan-sized files.

        Maintenance-window operation on a quiesced table: the rewrite
        stages to a sibling temp dir, renames the original ASIDE, renames
        the staged dir into place, then deletes the backup — the
        non-atomic window is a single rename, and a crash at any point
        leaves the full table recoverable in either ``.__compact_tmp``
        (pre-swap) or ``.__compact_old`` (mid-swap). Plain parquet dirs
        can't do better; a table format with a commit log makes this
        atomic. Flattens any ``overwrite_subdir`` batch layout, so
        replay markers (``subdir_committed``) are consumed before
        compacting. Returns {files_before, files_after, bytes}."""
        files = self.data_files()
        if not files:
            return {"files_before": 0, "files_after": 0, "bytes": 0}
        total = sum(sz for _, sz in files)
        n_out = max(1, -(-total // target_file_bytes))
        # partitioned tables must repartition BY the partition columns:
        # a plain round-robin repartition(n) followed by partitionBy
        # writes up to n files per partition value (fan-out, the
        # opposite of compaction); hashing on the partition keys keeps
        # each value's rows in one task -> one file per value (the
        # per-directory floor), n_out bounding the unpartitioned case.
        if self.partition_by:
            df = self.read().repartition(n_out, *[
                F.col(c) for c in self.partition_by
            ])
        else:
            df = self.read().repartition(n_out)
        jvm = self.spark.sparkContext._jvm
        p = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = p.getFileSystem(self.spark.sparkContext._jsc.hadoopConfiguration())
        tmp = jvm.org.apache.hadoop.fs.Path(self.path.rstrip("/") + ".__compact_tmp")
        cols = [f.name for f in self.schema.fields]
        w = df.select(*cols).write.mode("overwrite")
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(tmp.toString())
        old = jvm.org.apache.hadoop.fs.Path(
            self.path.rstrip("/") + ".__compact_old"
        )
        if fs.exists(old):  # leftover from an earlier crashed swap
            fs.delete(old, True)
        fs.rename(p, old)
        fs.rename(tmp, p)
        fs.delete(old, True)
        return {
            "files_before": len(files),
            "files_after": len(self.data_files()),
            "bytes": int(total),
        }


class Catalog:
    """db.schema.table namespace over a warehouse root directory."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self._tables: dict[str, Table] = {}

    def table_path(self, qualified: str) -> str:
        return f"{self.root}/" + "/".join(qualified.split("."))

    def create_table(self, qualified: str, schema: T.StructType,
                     partition_by: list[str] | None = None) -> Table:
        """CREATE TABLE IF NOT EXISTS (dp_setup.sql:140-175)."""
        if qualified not in self._tables:
            self._tables[qualified] = Table(
                self.spark, self.table_path(qualified), schema, partition_by
            )
        return self._tables[qualified]

    def create_table_as(self, qualified: str, df: DataFrame) -> Table:
        """CTAS (dp_demo.sql:250: ``create table security as select ...``)."""
        t = self.create_table(qualified, df.schema)
        t.overwrite(df)
        return t

    def table(self, qualified: str) -> Table:
        return self._tables[qualified]

    def tables(self) -> list[str]:
        """SHOW TABLES analog (dp_demo.sql:74-75)."""
        return sorted(self._tables)

    def describe(self, qualified: str) -> list[dict]:
        """``DESCRIBE TABLE`` (dp_demo.sql:80-83): one row per column
        with its declared type, like Snowflake's name/type/kind shape."""
        t = self._tables[qualified]
        return [
            {
                "name": f.name,
                "type": f.dataType.simpleString(),
                "kind": "COLUMN",
                "null?": "Y" if f.nullable else "N",
            }
            for f in t.schema.fields
        ]
