"""What the benchmark reads at its boundaries: Spark's status store, the
process tree's CPU and memory from ``/proc``, and host steal time.

Spark counters come from the session's ``AppStatusStore`` — the store
``dgraph_dbpedia_spark.observability.collect_spill_metrics`` reads —
and the SQL executions kept in the same KV store. The benchmark is the
only client of its session, so every stage, job and SQL execution that
ends between two marks belongs to the interval between them, including
jobs the program submits from its own threads.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from dataclasses import dataclass

PY_TIME_METRIC = "time to run Python workers"
CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1024 * 1024


@dataclass
class Counters:
    """Spark work done in an interval (sums over its stages, jobs and
    SQL executions)."""

    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    cpu_s: float = 0.0  # executor CPU
    run_s: float = 0.0  # executor run time (task wall, summed)
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0  # disk bytes spilled
    gc_s: float = 0.0
    python_s: float = 0.0
    peak_exec_mem_mb: float = 0.0


@dataclass(frozen=True)
class Mark:
    stage: int
    job: int
    execution: int


_PY_TIME_ACC = re.compile(rf"SQLPlanMetric\({PY_TIME_METRIC},(\d+),")
_DURATION = re.compile(r"([\d.,]+)\s*(ms|s|m|min|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_duration_s(text: str) -> float:
    """Seconds from a Spark SQL timing metric string. A metric over
    several tasks reads ``total (min, med, max ...)\\n<total> (...)``;
    the first duration after the newline is the total."""
    m = _DURATION.search(text.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else 0.0


class StatusStore:
    """Windows over the session's status store. Stages and jobs newer than
    a mark come back in one batch as JSON (Spark's own Jackson mapper,
    as its REST API uses): a few py4j calls per read however many stages
    an interval ran."""

    def __init__(self, spark) -> None:
        from py4j.java_gateway import get_java_class

        jvm = spark.sparkContext._jvm
        self._kv = spark.sparkContext._jsc.sc().statusStore().store()
        self._to_seq = jvm.org.apache.spark.status.KVUtils.viewToSeq
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._stage = get_java_class(jvm.org.apache.spark.status.StageDataWrapper)
        self._job = get_java_class(jvm.org.apache.spark.status.JobDataWrapper)
        self._sql = get_java_class(jvm.org.apache.spark.sql.execution.ui.SQLExecutionUIData)

    def _read(self, cls, skip: int, n: int) -> list[dict]:
        view = self._kv.view(cls).reverse().skip(skip).max(n)
        return json.loads(self._mapper.writeValueAsString(self._to_seq(view)))

    def _newest(self, cls, key, after: int) -> list[dict]:
        """Entries of ``cls`` whose key is above ``after``, newest first.
        Ids are dense, so the first batch is sized from the newest id
        (plus slack for retried stage attempts, which share an id)."""
        top = self._read(cls, 0, 1)
        if not top or key(top[0]) <= after:
            return []
        out: list[dict] = []
        skip, n = 0, key(top[0]) - after + 4
        while True:
            batch = self._read(cls, skip, n)
            for entry in batch:
                if key(entry) <= after:
                    return out
                out.append(entry)
            if len(batch) < n:
                return out
            skip += n

    @staticmethod
    def _stage_id(w: dict) -> int:
        return w["info"]["stageId"]

    @staticmethod
    def _job_id(w: dict) -> int:
        return w["info"]["jobId"]

    def _top(self, cls, key) -> int:
        batch = self._read(cls, 0, 1)
        return key(batch[0]) if batch else -1

    def _executions(self, after: int):
        """SQL executions above ``after``, newest first, read field by
        field: their JSON carries the whole physical plan text."""
        it = self._kv.view(self._sql).reverse().closeableIterator()
        try:
            while it.hasNext():
                e = it.next()
                if e.executionId() <= after:
                    return
                yield e
        finally:
            it.close()

    def mark(self) -> Mark:
        return Mark(
            self._top(self._stage, self._stage_id),
            self._top(self._job, self._job_id),
            next((e.executionId() for e in self._executions(-1)), -1),
        )

    def shuffle_write_bytes(self, since: Mark) -> int:
        return sum(w["info"]["shuffleWriteBytes"] for w in self._newest(self._stage, self._stage_id, since.stage))

    def since(self, mark: Mark) -> Counters:
        c = Counters()
        for w in self._newest(self._stage, self._stage_id, mark.stage):
            s = w["info"]
            c.tasks += s["numCompleteTasks"] + s["numFailedTasks"] + s["numKilledTasks"]
            c.failed_tasks += s["numFailedTasks"]
            c.cpu_s += s["executorCpuTime"] / 1e9
            c.run_s += s["executorRunTime"] / 1e3
            c.shuffle_write_mb += s["shuffleWriteBytes"] / MB
            c.spill_mb += s["diskBytesSpilled"] / MB
            c.gc_s += s["jvmGcTime"] / 1e3
            c.peak_exec_mem_mb = max(c.peak_exec_mem_mb, s["peakExecutionMemory"] / MB)
        c.jobs = len(self._newest(self._job, self._job_id, mark.job))
        for e in self._executions(mark.execution):
            values = e.metricValues()
            if values is None:  # not finished: no aggregated values yet
                continue
            for acc in _PY_TIME_ACC.findall(e.metrics().toString()):
                v = values.get(int(acc))
                if v.isDefined():
                    c.python_s += parse_duration_s(v.get())
        return c


def _ppid_map() -> dict[int, int]:
    """Parent of every process. Some kernels list threads in ``/proc``
    too; those (``Tgid`` != pid) are skipped, or a thread would count
    its process's memory and CPU a second time."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/status") as f:
                fields_ = dict(line.split(":", 1) for line in f if line.startswith(("Tgid:", "PPid:")))
        except OSError:
            continue
        if int(fields_["Tgid"]) == int(name):
            out[int(name)] = int(fields_["PPid"])
    return out


def process_tree(parents: dict[int, int] | None = None) -> list[int]:
    """This process and all its descendants."""
    children: dict[int, list[int]] = {}
    for pid, ppid in (parents or _ppid_map()).items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s() -> float:
    """User plus system CPU of the process tree in seconds, reaped
    children included (a Python worker that exits is folded into its
    parent's ``cutime``/``cstime`` when the daemon reaps it)."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        total += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:15])
    return total / CLK_TCK


def _vm(pid: int) -> tuple[str, int, int]:
    """(executable, virtual size, resident size) in pages."""
    with open(f"/proc/{pid}/statm") as f:
        size, resident = (int(x) for x in f.read().split()[:2])
    return os.readlink(f"/proc/{pid}/exe"), size, resident


def tree_rss_mb() -> float:
    """Summed RSS of the process tree. A child still sharing its
    parent's address space — the JVM starts helpers such as ``chmod``
    through a vfork-style spawn, and until the exec the child reports
    the whole JVM's RSS — is counted once, with its parent."""
    parents = _ppid_map()
    vm = {}
    for pid in process_tree(parents):
        try:
            vm[pid] = _vm(pid)
        except OSError:
            continue
    total = 0
    for pid, (exe, size, resident) in vm.items():
        parent = vm.get(parents.get(pid))
        if parent is not None and parent[:2] == (exe, size):
            continue
        total += resident
    return total * PAGE / MB


def steal_s() -> float:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / CLK_TCK if len(cpu) > 8 else 0.0


class PeakRss:
    """Samples the process tree's summed RSS on a thread between
    ``start`` and ``stop``; ``peak_mb`` is the largest sample."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
        return self.peak_mb


@dataclass
class Span:
    name: str
    trace: str
    parent: str | None
    start: float
    end: float = 0.0
    counters: Counters | None = None

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around the benchmark's calls into the program, with the
    status-store counters read at the same boundaries. Spans stay in
    memory until :meth:`dump`. A disabled tracer records nothing and
    reads nothing, so untraced runs pay no tracing cost."""

    def __init__(self, store: StatusStore, enabled: bool) -> None:
        self.store = store
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent reading counters

    def span(self, name: str, trace: str, parent: str | None = None, counted: bool = True):
        """A span; ``counted=False`` for a root whose work its children
        already count."""
        return _SpanScope(self, name, trace, parent, counted)

    def dump(self) -> list[dict]:
        out = []
        for s in self.spans:
            d = {"name": s.name, "trace": s.trace, "parent": s.parent,
                 "start": s.start, "end": s.end, "wall_s": s.wall_s}
            if s.counters is not None:
                d.update(vars(s.counters))
            out.append(d)
        return out


class _SpanScope:
    def __init__(self, tracer: Tracer, name: str, trace: str, parent: str | None, counted: bool) -> None:
        self.tracer, self.name, self.trace, self.parent = tracer, name, trace, parent
        self.counted = counted
        self.span: Span | None = None
        self.mark: Mark | None = None

    def __enter__(self) -> _SpanScope:
        t = self.tracer
        if t.enabled and self.counted:
            t0 = time.perf_counter()
            self.mark = t.store.mark()
            t.overhead_s += time.perf_counter() - t0
        self.span = Span(self.name, self.trace, self.parent, time.perf_counter())
        return self

    def __exit__(self, *exc) -> None:
        self.span.end = time.perf_counter()
        t = self.tracer
        if not t.enabled:
            return
        if self.mark is not None:
            t0 = time.perf_counter()
            self.span.counters = t.store.since(self.mark)
            t.overhead_s += time.perf_counter() - t0
        t.spans.append(self.span)
