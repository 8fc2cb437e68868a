"""History ledgers (SURVEY §2.9 T8/T9).

The reference exposes two built-in table functions:

- ``information_schema.copy_history(table_name=>, start_time=>)``
  (dp_setup.sql:108-114; dp_demo.sql:134-136, 178-188): per-file load
  ledger — file_name, stage_location, row_count, error_count,
  last_load_time.
- ``information_schema.task_history()`` (dp_demo.sql:127-130, 166-175):
  task-run ledger — name, state (SUCCEEDED/SKIPPED/SCHEDULED/FAILED),
  scheduled_time, completed_time.

We maintain both as first-class queryable tables (the SURVEY-preferred
mapping). Both are plain parquet tables -> they scale like any fact
table and can be queried with full pushdown, unlike Snowflake's 14-day
bounded functions. Neither is written by a Spark job; their rows are
few and known on the driver, so ``Table.write_rows`` writes them with
pyarrow:

- copy_history: the pipe counts rows per file from its cached
  micro-batch and writes them to ``batch_<id>/`` with the batch-keyed
  form (a replayed batch replaces its rows); ``last_load_time`` is the
  driver's UTC clock.
- task_history: each task trigger appends its one row with the append
  form (a uniquely named file, so concurrent tasks never collide).

copy_history is also read back on the driver with pyarrow
(``Table.read_arrow``), again with no Spark job: purge reads the
loaded files it may delete, and the pipe's ``status()`` its
loaded-file set.
"""

from __future__ import annotations

from pyspark.sql import types as T

#: copy_history row per (file, target table) load
COPY_HISTORY_SCHEMA = T.StructType([
    T.StructField("file_name", T.StringType()),
    T.StructField("stage_location", T.StringType()),
    T.StructField("table_name", T.StringType()),
    T.StructField("row_count", T.LongType()),
    T.StructField("error_count", T.LongType()),
    T.StructField("last_load_time", T.TimestampType()),
    T.StructField("batch_id", T.LongType()),
])

#: task_history row per task trigger
TASK_HISTORY_SCHEMA = T.StructType([
    T.StructField("name", T.StringType()),
    T.StructField("state", T.StringType()),        # SUCCEEDED | SKIPPED | FAILED
    T.StructField("scheduled_time", T.TimestampType()),
    T.StructField("completed_time", T.TimestampType()),
    T.StructField("batch_id", T.LongType()),
    T.StructField("rows_processed", T.LongType()),
    T.StructField("error", T.StringType()),
])
