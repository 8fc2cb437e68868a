"""CDC streams (SURVEY §2.9 T2/T3).

Reference: ``CREATE STREAM new_trips ON TABLE raw.trips_raw`` x3
(dp_demo.sql:57-59) — each stream is an independent CDC bookmark on the
same table; inserts are delivered to every stream; a DML that selects
from the stream advances its offset transactionally
(dp_setup.sql:179-182).

Spark-native: one ``readStream`` per consumer over the raw table's
directory (parquet file source), each with its **own checkpoint dir**
— the checkpoint IS the stream offset. Offsets commit only when the
micro-batch (the consumer's foreachBatch DML) succeeds: exactly the
reference's consumed-by-DML semantics (T3). The workload is
insert-only (§1.5), so file-arrival CDC is complete CDC.

SURVEY §7.3 hard part: sharing one checkpoint between consumers would
silently drop data for all but one — the Stream class binds checkpoint
to consumer name so it cannot happen.
"""

from __future__ import annotations

import json
import os
import re
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import Table


def last_committed_batch(checkpoint_dir: str) -> int | None:
    """Highest batch id present in a streaming checkpoint's ``commits/``
    log — the transactional consumption frontier. Offsets under
    ``sources/0`` are written at micro-batch START, so a batch that is
    in flight (or failed and will retry) appears there but NOT in
    commits; anything trusting the offset log alone over-counts."""
    commits = os.path.join(checkpoint_dir, "commits")
    if not os.path.isdir(commits):
        return None
    ids = [int(fn) for fn in os.listdir(commits) if fn.isdigit()]
    return max(ids) if ids else None


#: the forms a local path takes: ``/x``, ``file:/x`` (Hadoop's
#: ``Path.toString``, ``_metadata.file_path``), ``file:///x`` (the
#: file-source log)
_LOCAL_PREFIX = "^(file:)?/+"


def staged_path(name: str) -> str:
    """A staged file's path in the one form that ``Stage.list`` paths and
    copy_history ``file_name``s are compared in, and that ``Stage.rm``
    takes: URL-decoded, a local path without its ``file:`` scheme. The
    ledger holds Spark's URL-encoded form (``day%201``), ``Stage.list``
    Hadoop's decoded ``Path.toString`` (``day 1``)."""
    return re.sub(_LOCAL_PREFIX, "/", unquote(name))


def file_log(checkpoint_dir: str, batch_id: int | None = None) -> list[tuple[str, int]]:
    """``(path, batchId)`` of each entry in a file-source checkpoint's
    ``sources/0`` log, local paths in the ``file:/x`` form. Every
    ``N.compact`` file lists each entry through N again, so an entry may
    come more than once. With ``batch_id``, only that batch's entries,
    read from the one log file that holds them (``N`` or ``N.compact``).
    """
    src = os.path.join(checkpoint_dir, "sources", "0")
    if not os.path.isdir(src):
        return []
    names = sorted(os.listdir(src)) if batch_id is None else [
        str(batch_id), f"{batch_id}.compact"]
    out = []
    for fn in names:
        p = os.path.join(src, fn)
        if fn.startswith(".") or not os.path.isfile(p):
            continue
        with open(p) as fh:
            for line in fh:
                line = line.strip()
                if not line or line.startswith("v"):
                    continue
                try:
                    entry = json.loads(line)
                except json.JSONDecodeError:
                    continue
                path = entry.get("path", "")
                if path and (batch_id is None or entry["batchId"] == batch_id):
                    out.append((re.sub(_LOCAL_PREFIX, "file:/", path), entry["batchId"]))
    return out


class TableStream:
    """A named, independently-bookmarked change stream on a table."""

    def __init__(self, spark: SparkSession, name: str, table: Table,
                 checkpoint_root: str):
        self.spark = spark
        self.name = name
        self.table = table
        # one checkpoint per consumer: the per-stream offset (T2)
        self.checkpoint_dir = f"{checkpoint_root.rstrip('/')}/{name}"

    def read(self) -> DataFrame:
        """The stream's un-consumed changes as a streaming DataFrame.
        All reference streams are insert-only, so every row is
        metadata$action='INSERT' (column provided for parity)."""
        return (
            self.spark.readStream.schema(self.table.schema)
            # raw-table rows land in idempotent batch_N subdirs
            # (catalog.Table.overwrite_subdir) — discover them too
            .option("recursiveFileLookup", "true")
            .parquet(self.table.path)
            .withColumn("metadata$action", F.lit("INSERT"))
        )

    def backlog_count(self) -> int:
        """``select count(*) from stream`` (dp_demo.sql:154-158): rows
        not yet consumed = table rows minus rows in files of COMMITTED
        batches. Only file-log entries whose own ``batchId`` is at or
        below the checkpoint's commits/ frontier count as consumed —
        the log is written at batch start, so an in-flight or
        failed-and-retrying batch must still show as backlog (T3
        consumed-by-DML). Filtering by entry, not by log file name,
        matters for ``N.compact``: it is written when batch N starts and
        lists every entry through N."""
        frontier = last_committed_batch(self.checkpoint_dir)
        seen = set() if frontier is None else {
            path for path, b in file_log(self.checkpoint_dir) if b <= frontier
        }
        total = self.table.read().count()
        if not seen:
            return total
        consumed = (
            self.table.read()
            .withColumn(
                "__f", F.regexp_replace(F.col("_metadata.file_path"), _LOCAL_PREFIX, "file:/")
            )
            .filter(F.col("__f").isin(list(seen)))
            .count()
        )
        return total - consumed
