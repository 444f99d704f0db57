"""Counters at the engine's boundaries, for traced runs only.

Three boundaries are observed from outside the program:

- **py4j**: every command the Python driver sends to the JVM.  Memory
  commands (``m``: the finalizer releasing Java objects) are left out,
  because when they are sent depends on the garbage collector; the
  remaining count repeats exactly for the same plan.
- **Spark jobs and stages**: the scheduler hands out job and stage ids
  in order, so the ids taken between two marks are exactly the jobs an
  operation launched, from any thread, without walking the job history.
- **Stage metrics**: read from Spark's status store once the listener
  bus has drained.

Each operation also gets its own job group, so every Spark job can be
traced to the operation that launched it.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


@dataclass(frozen=True)
class Mark:
    job: int
    stage: int
    py4j: int


@dataclass
class StageTotals:
    stages: int = 0  # stages that ran (skipped ones excluded)
    tasks: int = 0
    failed_tasks: int = 0
    busy_s: float = 0.0  # summed executor run time of all tasks
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_records: int = 0


class Tracer:
    """Counts py4j commands from creation until ``close()`` and marks
    operation boundaries."""

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        self._sc = sc
        jsc = sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._lock = threading.Lock()
        self._count = 0
        self._client = sc._gateway._gateway_client
        send = self._client.send_command

        def counting_send(command, *args, **kwargs):
            if not command.startswith("m\n"):
                with self._lock:
                    self._count += 1
            return send(command, *args, **kwargs)

        self._client.send_command = counting_send

    def close(self) -> None:
        """Stop counting: the client's own ``send_command`` is used again."""
        self._client.__dict__.pop("send_command", None)

    def begin(self, op_name: str) -> Mark:
        """Open an operation: give it its own job group, then mark."""
        self._sc.setJobGroup(op_name, op_name)
        return self.mark()

    def mark(self) -> Mark:
        """Next job id, next stage id, and the py4j count taken after the
        two id reads (which are py4j calls themselves)."""
        job = self._dag.nextJobId()
        stage = self._dag.nextStageId()
        with self._lock:
            n = self._count
        return Mark(job, stage, n)

    @staticmethod
    def calls(start: Mark, end: Mark) -> int:
        """py4j commands sent between two marks, without the end mark's
        own two id reads."""
        return end.py4j - start.py4j - 2

    def stage_totals(self, first: int, end: int) -> StageTotals:
        """Summed status-store metrics of stages ``first .. end-1``."""
        self._bus.waitUntilEmpty()
        t = StageTotals()
        for sid in range(first, end):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # stage never submitted
            status = sd.status().toString()
            t.output_records += sd.outputRecords()
            if status == "SKIPPED":
                continue
            t.stages += 1
            t.tasks += sd.numTasks()
            t.failed_tasks += sd.numFailedTasks()
            t.busy_s += sd.executorRunTime() / 1000.0
            t.input_bytes += sd.inputBytes()
            t.shuffle_write_bytes += sd.shuffleWriteBytes()
            t.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return t
