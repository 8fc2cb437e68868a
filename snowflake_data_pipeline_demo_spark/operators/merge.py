"""Insert-only MERGE (SURVEY §2.3 J7/J8).

The reference's only MERGE shape is::

    MERGE INTO target t USING (SELECT DISTINCT ...) s ON t.k = s.k
    WHEN NOT MATCHED THEN INSERT ...

(dp_setup.sql:211-219 programs, 227-245 stations) — no WHEN MATCHED
branch, so the semantics are exactly ``source \\ target`` appended:
dedup source on key, anti-join against target, append. No Delta needed.

Scale notes: the anti-join is a standard Catalyst join — when the target
is a dim (programs: 61 rows, stations: 930), AQE plans a broadcast
anti-join, so a merge into a dimension costs one scan of the (small)
source batch. For a large target, the anti-join shuffles on the key —
the same cost any engine pays for a merge; pre-partitioning the target
by key (Table.partition_by / bucketing) keeps it co-located.

:func:`insert_only_merge` collects the new rows to the driver and
writes them with ``Table.write_rows`` (no Spark write job). That bounds
it to merges whose new rows fit the driver: today's callers merge one
micro-batch into a dimension, so the rows are at most the batch's new
distinct keys. A fact-sized merge would write :func:`merge_result` with
a Spark parquet append instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.catalog import Table


def merge_result(target: DataFrame, source: DataFrame,
                 keys: list[str]) -> DataFrame:
    """Pure-functional view of the insert-only merge: the rows that WOULD
    be appended (``source`` deduped on ``keys``, minus rows whose key
    already exists in ``target``)."""
    # dedupe source on the merge key, keeping a deterministic row per key
    # (min over remaining columns — Snowflake MERGE would error on dup
    # source keys; the reference pre-dedupes with SELECT DISTINCT).
    src = source.dropDuplicates(keys)
    cond: Column | None = None
    for k in keys:
        c = src[k] == target[k]
        cond = c if cond is None else (cond & c)
    return src.join(target.select(*keys), on=cond, how="left_anti")


def insert_only_merge(table: Table, source: DataFrame, keys: list[str]) -> int:
    """Execute the merge against a catalog table; returns rows inserted.
    The new rows are collected to the driver (see the module docstring
    for the size contract).

    Idempotent by construction: re-running with the same source inserts
    nothing (the reference's re-merge stability, SURVEY §5 test 2).
    """
    cols = [f.name for f in table.schema.fields]
    # collecting finishes the read of the target before the write lands
    rows = merge_result(table.read(), source, keys).select(*cols).collect()
    if rows:
        table.write_rows(rows)
    return len(rows)
