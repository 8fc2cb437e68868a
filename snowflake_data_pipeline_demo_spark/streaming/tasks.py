"""Scheduled tasks (SURVEY §2.9 T4/T5/T6/T9).

Reference: ``CREATE TASK push_trips WAREHOUSE=task_wh SCHEDULE='1 minute'
WHEN system$stream_has_data('new_trips') AS <DML>`` (dp_setup.sql:188-203)
x3, plus ``CREATE TASK purge_files ... AFTER push_trips``
(dp_setup.sql:249-252). Task state surfaces through
``information_schema.task_history()`` (SUCCEEDED / SKIPPED / FAILED).

Spark-native: a Task wraps one stream consumer:
``stream.read() -> writeStream.trigger(processingTime).foreachBatch(fn)``.

- the 1-minute schedule -> ``trigger(processingTime='60 seconds')``
- the stream_has_data guard -> the body itself: each body runs ONE
  Spark job over the micro-batch and returns ``None`` when that job saw
  no rows, which records the trigger as SKIPPED exactly like the
  reference (dp_demo.sql:170 shows SKIPPED rows). A separate
  ``isEmpty()`` would be a second job, and a second scan unless the
  batch were cached.
- AFTER chaining (T5) -> ``after`` callbacks run at the end of the
  parent's foreachBatch, in-transaction-order like Snowflake's DAG.
- resume/suspend (T6) -> start()/stop() of the streaming query.
- every trigger appends a task_history row (T9) — via the batch
  function itself (not a listener) so state and timestamps are exact;
  the row is written from the driver (``Table.write_rows``), not by a
  Spark job.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..sources.catalog import Table
from .streams import TableStream


class Task:
    """One scheduled stream-consuming task (+ optional chained children)."""

    def __init__(
        self,
        name: str,
        stream: TableStream,
        body: Callable[[DataFrame, int], int | None],
        task_history: Table,
        schedule: str = "60 seconds",
    ):
        self.name = name
        self.stream = stream
        self.body = body
        self.task_history = task_history
        self.schedule = schedule
        self.after: list[Callable[[], None]] = []  # T5 child hooks
        self.query: StreamingQuery | None = None
        self._stopping = False

    def add_after(self, hook: Callable[[], None]) -> None:
        """``CREATE TASK child ... AFTER this`` (dp_setup.sql:249-252)."""
        self.after.append(hook)

    # -- one trigger --------------------------------------------------------
    def _on_batch(self, batch: DataFrame, batch_id: int) -> None:
        self._fired = True
        scheduled = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        try:
            processed = self.body(batch, batch_id)
        except Exception as e:  # noqa: BLE001 - ledger then re-raise
            # re-raise ALWAYS (a partial body must never let the
            # epoch commit), but skip the FAILED ledger row while
            # suspending: the interrupt that killed the body would
            # make it a spurious FAILED-for-a-benign-stop entry,
            # contradicted by the replay's SUCCEEDED row
            if not self._stopping:
                self._record("FAILED", scheduled, batch_id, 0, str(e)[:500])
            raise
        if processed is None:
            # the body's job saw no rows: stream_has_data was false
            self._record("SKIPPED", scheduled, batch_id, 0, None)
            return
        if not self._record("SUCCEEDED", scheduled, batch_id, processed,
                            None):
            # record dropped mid-suspension: do NOT run AFTER hooks
            # on a thread whose job group stop() just cancelled —
            # their Spark actions would raise across the
            # tearing-down callback connection (r11 review)
            return
        for hook in self.after:
            hook()

    def _record(self, state: str, scheduled, batch_id: int, rows: int,
                error: str | None) -> bool:
        """Append one task_history row, written from the driver
        (``Table.write_rows``: no Spark job). Returns False iff the
        append failed WHILE the task was being suspended — the one case
        the failure is dropped instead of raised."""
        completed = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        try:
            self.task_history.write_rows(
                [(self.name, state, scheduled, completed, batch_id, rows,
                  error)]
            )
            return True
        except Exception:
            # suspend() stops the query by interrupting the stream
            # thread while this callback runs. The row is a local file
            # write with no JVM call for the interrupt to land in (r11
            # captured it inside the old Spark append: Py4JJavaError <-
            # java.lang.InterruptedException in DataFrameWriter.parquet),
            # but a failure while stopping is still dropped, not raised:
            # raising would send the exception back across the
            # tearing-down py4j callback connection — the
            # protocol-error channel. Dropping the row costs at most ONE monitoring entry for
            # the interrupted tick: if the epoch never commits (the
            # usual stop path) the replay re-appends it; if stop()
            # landed after the sink returned and the epoch does commit,
            # the tick's DATA is intact (the body's writes are
            # batch-keyed) and only its history row is lost —
            # task_history is best-effort across suspension,
            # exactly-once for data is untouched. Any failure on a
            # RUNNING task is real and propagates.
            if self._stopping:
                return False
            raise

    # -- lifecycle ----------------------------------------------------------
    def resume(self) -> StreamingQuery:
        """ALTER TASK ... RESUME (dp_demo.sql:97-99)."""
        # a failed suspend() leaves _stopping True on purpose (see
        # suspend); a fresh start must record its ticks again
        self._stopping = False
        self.query = (
            self.stream.read().writeStream
            .queryName(f"task_{self.name}")
            .option("checkpointLocation", self.stream.checkpoint_dir)
            .trigger(processingTime=self.schedule)
            .foreachBatch(self._on_batch)
            .start()
        )
        return self.query

    def run_available(self) -> None:
        """One synchronous drain of the stream (availableNow) — the
        test/batch-mode equivalent of waiting a schedule tick."""
        self._fired = False
        self._stopping = False  # fresh synchronous run, same as resume()
        scheduled = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        q = (
            self.stream.read().writeStream
            .queryName(f"task_{self.name}_once")
            .option("checkpointLocation", self.stream.checkpoint_dir)
            .trigger(availableNow=True)
            .foreachBatch(self._on_batch)
            .start()
        )
        q.awaitTermination()
        if not self._fired:
            # no micro-batch ran: the reference's stream_has_data guard
            # records the tick as SKIPPED (dp_demo.sql:170)
            self._record("SKIPPED", scheduled, -1, 0, None)

    def suspend(self) -> None:
        """ALTER TASK ... SUSPEND (dp_demo.sql:191-193)."""
        if self.query is not None:
            # flag BEFORE stop(): stop interrupts the stream thread,
            # which may be mid-_record on the callback connection (see
            # _record's except) — the flag classifies that failure as
            # the benign suspension race
            self._stopping = True
            self.query.stop()
            # only a SUCCESSFUL stop clears BOTH the handle and the
            # flag: if stop() raised (e.g. stopTimeout), the query may
            # still be live and tearing down — show()/a retry must keep
            # seeing the handle (r11 review), and the stream thread's
            # interrupted ledger append must keep seeing _stopping so
            # it doesn't re-raise across the dying py4j callback
            # connection (r11 ADVICE: a finally-reset reopened that
            # protocol-error channel on the stop-timeout path). The
            # flag resets on the next resume().
            self.query = None
            self._stopping = False


class TaskRunner:
    """Registry + lifecycle for a set of tasks (SHOW TASKS analog)."""

    def __init__(self) -> None:
        self.tasks: dict[str, Task] = {}

    def register(self, task: Task) -> Task:
        self.tasks[task.name] = task
        return task

    def resume_all(self) -> None:
        for t in self.tasks.values():
            t.resume()

    def run_available_all(self) -> None:
        for t in self.tasks.values():
            t.run_available()

    def suspend_all(self) -> None:
        for t in self.tasks.values():
            t.suspend()

    def show(self) -> list[dict]:
        return [
            {
                "name": t.name,
                "schedule": t.schedule,
                "state": "started" if t.query and t.query.isActive else "suspended",
            }
            for t in self.tasks.values()
        ]

    def describe(self, name: str) -> dict:
        """``DESCRIBE TASK`` (dp_demo.sql:88-91 shape): schedule, state,
        the AFTER chain, and the stream the task consumes."""
        t = self.tasks[name]
        return {
            "name": t.name,
            "schedule": t.schedule,
            "state": "started" if t.query and t.query.isActive else "suspended",
            "stream": t.stream.name,
            "after_hooks": len(t.after),
        }
