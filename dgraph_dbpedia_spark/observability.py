"""Execution metrics: named pipeline phases, per-phase counters, and
spill/memory totals.

Parity with the reference's SparkListener metrics (X5,
DbpediaDgraphSparkApp.scala:79-90,450): it accumulates
``memoryBytesSpilled`` / ``diskBytesSpilled`` and per-stage peak
execution memory, then prints them at the end of the run.

PySpark cannot subclass a JVM SparkListener without a py4j callback
server, so the readers here query the driver's ``AppStatusStore`` over
py4j — the store the UI and REST API serve from, populated by the
always-on AppStatusListener, so it works with ``spark.ui.enabled=false``
(the default session). The store is read only when a reader is called;
a pipeline run pays just :func:`phase`'s local-property calls.

Phases. The pipelines name every job they submit with :func:`phase`
(the Spark job group): ``ingest.<dataset>``; ``transform.head``,
``transform.<sink>.count`` / ``transform.<sink>.write`` for each of the
seven dataset sinks plus ``types`` and ``external_ids``,
``transform.schema``, ``transform.schema_indexed``, ``transform.stats``
and ``transform.tail``. Operators stay unlabelled, so a caller's own
job group holds for them. :func:`mark` and :func:`phase_counters`
attribute the work between two points to those names.

Compiles. :func:`codegen_compiles` counts the generated classes
(whole-stage code and expression projections) the JVM has compiled.
Its difference across a pass is a work counter that does not move with
machine state: a warm pass over plans already compiled adds ~nothing
(see ``session.CODEGEN_CACHE_ENTRIES``).
"""

from __future__ import annotations

import json
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import SparkSession

_JOB_PROPERTIES = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
_BATCH = 256  # status-store entries fetched per py4j round trip


@contextmanager
def phase(spark: SparkSession, name: str):
    """Run the block's Spark jobs under job group and description
    ``name``. Job groups are thread-local: every thread that submits
    jobs enters its own phase. The previous values are restored on exit,
    also when the block raises."""
    sc = spark.sparkContext
    saved = [(key, sc.getLocalProperty(key)) for key in _JOB_PROPERTIES]
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        for key, value in saved:
            sc.setLocalProperty(key, value)  # None removes the property


@dataclass(frozen=True)
class Mark:
    """The newest stage and job ids in the status store at one point."""

    stage: int
    job: int


@dataclass
class PhaseCounters:
    """Work of one job group in a window. ``wall_s`` runs from its first
    job's submission to its last job's completion."""

    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0  # executor CPU
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0  # disk bytes spilled
    wall_s: float = 0.0


class _StatusStore:
    """Reads of the session's status store as JSON (Spark's own Jackson
    mapper, as its REST API uses), a batch of entries per py4j round
    trip. The listener bus is drained first, so every job and stage that
    has ended is in the store."""

    KINDS = {"stage": ("StageDataWrapper", "stageId"), "job": ("JobDataWrapper", "jobId")}

    def __init__(self, spark: SparkSession) -> None:
        from py4j.java_gateway import get_java_class

        jvm = spark.sparkContext._jvm
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        self._kv = jsc.statusStore().store()
        self._cls = {k: get_java_class(getattr(jvm.org.apache.spark.status, w))
                     for k, (w, _) in self.KINDS.items()}
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._to_seq = jvm.org.apache.spark.status.KVUtils.viewToSeq

    def _read(self, kind: str, skip: int, n: int) -> list[dict]:
        view = self._kv.view(self._cls[kind]).reverse().skip(skip).max(n)
        return json.loads(self._mapper.writeValueAsString(self._to_seq(view)))

    def top(self, kind: str) -> int:
        """The newest id of ``kind``, -1 when there is none."""
        rows = self._read(kind, 0, 1)
        return rows[0]["info"][self.KINDS[kind][1]] if rows else -1

    def newest(self, kind: str, after: int = -1) -> list[dict]:
        """Entries of ``kind`` whose id is above ``after``, newest first
        (retried stage attempts share their stage's id)."""
        key = self.KINDS[kind][1]
        out: list[dict] = []
        while True:
            batch = self._read(kind, len(out), _BATCH)
            for entry in batch:
                if entry["info"][key] <= after:
                    return out
                out.append(entry)
            if len(batch) < _BATCH:
                return out


def mark(spark: SparkSession) -> Mark:
    """The point :func:`phase_counters` counts from."""
    store = _StatusStore(spark)
    return Mark(store.top("stage"), store.top("job"))


def phase_counters(spark: SparkSession, since: Mark) -> dict[str | None, PhaseCounters]:
    """Per job group, the jobs submitted after ``since`` and the work of
    their stages; jobs outside any group count under ``None``. A stage
    belongs to the first job that lists it, the one that ran it."""
    store = _StatusStore(spark)
    jobs = store.newest("job", since.job)
    group = {j["info"]["jobId"]: j["info"]["jobGroup"] for j in jobs}
    out: dict[str | None, PhaseCounters] = {}
    spans: dict[str | None, tuple[int, int]] = {}
    for j in jobs:
        info = j["info"]
        c = out.setdefault(info["jobGroup"], PhaseCounters())
        c.jobs += 1
        start, end = spans.get(info["jobGroup"], (info["submissionTime"], 0))
        spans[info["jobGroup"]] = (
            min(start, info["submissionTime"]),
            max(end, info["completionTime"] or 0),
        )
    for w in store.newest("stage", since.stage):
        s = w["info"]
        c = out.setdefault(group.get(min(w["jobIds"], default=-1)), PhaseCounters())
        c.tasks += s["numCompleteTasks"] + s["numFailedTasks"] + s["numKilledTasks"]
        c.cpu_s += s["executorCpuTime"] / 1e9
        c.shuffle_write_bytes += s["shuffleWriteBytes"]
        c.spill_bytes += s["diskBytesSpilled"]
    for name, (start, end) in spans.items():
        out[name].wall_s = max(end - start, 0) / 1e3
    return out


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes compiled so far (Janino compilations, Spark's
    ``CodegenMetrics``); a lookup that hits the generated-code cache does
    not count. The count is JVM-wide: it spans every session and thread
    of the process and is not attributed to phases or job groups — take
    the difference across a window that runs nothing else."""
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return codegen.METRIC_COMPILATION_TIME().getCount()


@dataclass
class SpillMetrics:
    memory_bytes_spilled: int = 0
    disk_bytes_spilled: int = 0
    peak_execution_memory: int = 0
    stages: int = 0

    def report(self) -> str:
        gb = 1024**3
        mb = 1024**2
        return (
            f"memory spill: {self.memory_bytes_spilled / gb:.2f} GB  "
            f"disk spill: {self.disk_bytes_spilled / gb:.2f} GB  "
            f"peak execution memory: {self.peak_execution_memory / mb:.1f} MB  "
            f"stages: {self.stages}"
        )


def collect_spill_metrics(spark: SparkSession) -> SpillMetrics:
    """Spill and peak execution memory summed over every stage of the
    application the status store retains."""
    m = SpillMetrics()
    for w in _StatusStore(spark).newest("stage"):
        s = w["info"]
        m.memory_bytes_spilled += s["memoryBytesSpilled"]
        m.disk_bytes_spilled += s["diskBytesSpilled"]
        m.peak_execution_memory = max(m.peak_execution_memory, s["peakExecutionMemory"])
        m.stages += 1
    return m
