"""Insert-only MERGE (SURVEY §2.3 J7/J8).

The reference's only MERGE shape is::

    MERGE INTO target t USING (SELECT DISTINCT ...) s ON t.k = s.k
    WHEN NOT MATCHED THEN INSERT ...

(dp_setup.sql:211-219 programs, 227-245 stations) — no WHEN MATCHED
branch, so the semantics are exactly ``source \\ target`` appended:
dedup source on key, anti-join against target, append. No Delta needed.

Scale notes: :func:`insert_only_merge` runs ONE Spark job over the
source and none over the target, in two steps that a caller may also
run apart (the streaming tasks do, to tell an empty batch from one with
no new keys):

- :func:`distinct_rows` dedupes the source with an ``Observation``
  carrying ``collect_set(struct(cols))`` on a ``noop`` write: each task
  folds its partition into a set in parallel and the driver merges the
  sets, one job where ``dropDuplicates`` or a global ``collect_set`` is
  two under AQE (a shuffle stage plus the result stage).
- :func:`insert_rows` reads the target's keys on the driver with
  pyarrow (``Table.read_arrow``), anti-joins with a Python set lookup
  (a key with a NULL component never matches, as in the Spark join)
  and appends the new rows with ``Table.write_rows`` (no write job).

That bounds it to merges whose source's distinct rows and target's keys
fit the driver: today's callers merge one micro-batch into a dimension
(programs: 61 keys, stations: 930). A fact-sized merge would write
:func:`merge_result` with a Spark parquet append instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
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


#: every NaN is one key, as in Spark's grouping and join keys
_NAN = object()


def _key(values) -> tuple:
    return tuple(_NAN if isinstance(v, float) and v != v else v
                 for v in values)


def distinct_rows(source: DataFrame) -> list:
    """``source``'s distinct rows, collected to the driver in ONE Spark
    job (see the module docstring); empty when ``source`` has no rows."""
    seen = Observation()
    (source.observe(seen, F.collect_set(F.struct(*source.columns)).alias("rows"))
     .write.format("noop").mode("overwrite").save())
    return seen.get["rows"]


def insert_rows(table: Table, rows: list, keys: list[str]) -> int:
    """Append to ``table`` the ``rows`` (in its column order) whose key
    it does not hold, one row per key; returns the rows inserted. No
    Spark job: the anti-join runs on the driver."""
    cols = table.schema.names
    idx = [cols.index(k) for k in keys]
    target = table.read_arrow(keys)
    have = {_key(r) for r in zip(*(target.column(k).to_pylist()
                                   for k in keys))}
    new: dict[tuple, tuple] = {}
    for r in rows:
        k = _key(r[i] for i in idx)
        if k not in new and (None in k or k not in have):
            new[k] = r
    if new:
        table.write_rows(list(new.values()))
    return len(new)


def insert_only_merge(table: Table, source: DataFrame, keys: list[str]) -> int:
    """Execute the merge against a catalog table; returns the rows
    inserted (0 for an empty source). Appends the rows of
    :func:`merge_result`, one source row per key, in one Spark job (see
    the module docstring for the size contract).

    Idempotent by construction: re-running with the same source inserts
    nothing (the reference's re-merge stability, SURVEY §5 test 2),
    except that a NULL key never matches.
    """
    rows = distinct_rows(source.select(*table.schema.names))
    return insert_rows(table, rows, keys)
