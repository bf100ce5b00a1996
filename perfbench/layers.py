"""Per-layer numbers for the traced rounds, read from outside the package.

- Spark jobs and stages come from the ``AppStatusStore`` (the
  SparkContext's ``statusStore``). Job ids are sequential and the client
  is closed-loop, so the jobs of one operation call are the ids that
  appeared since the previous call; that also catches the jobs of stream
  threads, which the call's ``setJobGroup`` tag does not reach.
- Plan shape and node metrics come from the SQL status store:
  ``planGraph(id)`` for the executed (AQE-final) nodes and
  ``executionMetrics(id)`` for their values. Execution ids are sequential
  too.
- Streaming triggers come from a ``StreamingQueryListener`` registered
  here: start-up to the first progress event, batches, and each
  trigger's ``durationMs`` phases.

Spans (name, start, end, parent, call tag) stay in memory and are written
once, by :meth:`Tracer.dump`. The span tree is run -> traced round ->
call -> {build, execute} -> Spark job -> stage.
"""

from __future__ import annotations

import datetime as dt
import json
import re
import threading
import time
from dataclasses import dataclass, field

#: SQL plan nodes that run Python: pandas/Arrow UDF operators and
#: Python data source scans
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_STREAM_PHASES = (
    ("latestOffset", "streaming.latest_offset_ms"),
    ("addBatch", "streaming.add_batch_ms"),
    ("walCommit", "streaming.wal_commit_ms"),
    ("triggerExecution", "streaming.trigger_execution_ms"),
)
#: span names whose self time is reported (a call is exactly its build
#: plus its execute, so it has none)
SELF_SPANS = ("build", "execute", "spark.job", "spark.stage")

#: counters of one operation call; summed over a round's cold calls
CALL_KEYS = (
    "operators.build_s",
    "operators.build_jobs",
    "spark.exec_s",
    "spark.jobs",
    "spark.stages",
    "spark.stages_skipped",
    "spark.tasks",
    "spark.exchanges",
    "spark.reused_exchanges",
    "spark.broadcast_exchanges",
    "spark.broadcast_collect_s",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.jvm_gc_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "cache.scans",
    "cache.storage_bytes",
    "python.nodes",
    "python.bytes_to_worker",
    "python.bytes_from_worker",
    "python.scan_tasks",
    "sources.files_read",
    "streaming.startup_s",
    "streaming.batches",
    *(key for _, key in _STREAM_PHASES),
    *(f"self.{name}_s" for name in SELF_SPANS),
)
#: numbers measured once per traced run, outside the rounds
PROBE_KEYS = (
    "catalog.table_cold_s",
    "catalog.table_memo_s",
    "sources.deltalog.snapshot_s",
    "sources.iceberg.snapshot_s",
    "sources.excel.infer_s",
)


def unit(key: str) -> str:
    if "bytes" in key:
        return "bytes"
    if key.endswith("_ms"):
        return "ms"
    if key.endswith("_per_s"):
        return "rows/s"
    if key.endswith("_s"):
        return "s"
    return "count"


def _metric_value(text: str) -> float:
    """One formatted SQL metric (``"1,234"``, ``"12.0 KiB"``, ``"3 ms"``,
    or the ``total (min, med, max ...)`` form whose second line starts
    with the total) as a count, bytes or seconds."""
    line = text.strip().splitlines()[-1].strip()
    parts = line.split(" (")[0].replace(",", "").split()
    try:
        value = float(parts[0])
    except (IndexError, ValueError):
        return 0.0
    if len(parts) > 1:
        return value * _SIZE_UNITS.get(parts[1], _TIME_UNITS.get(parts[1], 1.0))
    return value


def _opt(o):
    """Scala ``Option`` -> value or None."""
    return o.get() if o.isDefined() else None


def _epoch(date) -> float | None:
    return None if date is None else date.getTime() / 1000.0


def _iso_epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    call: str | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Span recorder and status-store reader for one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._jsc = jsc
        self.store = jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[Span] = []
        self._next_job = self._next_exec = 0
        self.sync()
        self._events: list[dict] = []
        self._lock = threading.Lock()
        self._listener = None

    # -- spans -------------------------------------------------------------

    def add(self, name, start, end, parent, call, **attrs) -> int:
        self.spans.append(Span(name, start, end, parent, call, attrs))
        return len(self.spans) - 1

    def dump(self, path: str, report: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"report": report, "spans": [s.__dict__ for s in self.spans]},
                      fh, default=str)

    def self_times(self, root: int) -> dict[str, float]:
        """Self time of every span under ``root`` (itself included) by
        span name: its duration minus the part its children cover."""
        children: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                children.setdefault(s.parent, []).append(i)
        out: dict[str, float] = {}
        stack = [root]
        while stack:
            i = stack.pop()
            s = self.spans[i]
            kids = children.get(i, [])
            stack.extend(kids)
            covered, cur = 0.0, None
            for a, b in sorted(
                (max(self.spans[k].start, s.start), min(self.spans[k].end, s.end))
                for k in kids
            ):
                if b <= a:
                    continue
                if cur is None or a > cur[1]:
                    if cur is not None:
                        covered += cur[1] - cur[0]
                    cur = [a, b]
                else:
                    cur[1] = max(cur[1], b)
            if cur is not None:
                covered += cur[1] - cur[0]
            key = f"self.{s.name}_s"
            out[key] = out.get(key, 0.0) + max(0.0, s.end - s.start - covered)
        return out

    # -- status stores -----------------------------------------------------

    def sync(self) -> None:
        """Skip the jobs and executions of untraced work since the last
        traced call."""
        self._wait_for_listeners()
        self._next_job = self._first_missing(self._job, self._next_job)
        self._next_exec = self._first_missing(self._execution, self._next_exec)

    def _wait_for_listeners(self) -> None:
        """Let the listener bus deliver every event of the finished call,
        so the stores hold its jobs, stages and executions complete."""
        self._jsc.listenerBus().waitUntilEmpty(10000)

    def _job(self, jid: int):
        try:
            return self.store.job(jid)
        except Exception:  # py4j error carrying NoSuchElementException
            return None

    def _execution(self, eid: int):
        return _opt(self.sql_store.execution(eid))

    def _stage(self, sid: int):
        try:
            return self.store.lastStageAttempt(sid)
        except Exception:  # a stage that was never submitted
            return None

    @staticmethod
    def _first_missing(get, i: int) -> int:
        while get(i) is not None:
            i += 1
        return i

    def collect_call(self, call: int, build: int, execute: int) -> dict:
        """Spans and counters of one finished call: the jobs, stages, SQL
        executions and stream triggers that appeared since the previous
        call."""
        self._wait_for_listeners()
        span = self.spans[call]
        c: dict[str, float] = {
            "operators.build_s": self.spans[build].end - self.spans[build].start,
            "spark.exec_s": self.spans[execute].end - self.spans[execute].start,
        }

        def add(key, v):
            c[key] = c.get(key, 0.0) + v

        while (j := self._job(self._next_job)) is not None:
            self._next_job += 1
            start = _epoch(_opt(j.submissionTime())) or span.start
            end = _epoch(_opt(j.completionTime())) or start
            in_build = start < self.spans[build].end
            jspan = self.add("spark.job", start, end, build if in_build else execute,
                             span.call, job_id=j.jobId(), group=_opt(j.jobGroup()))
            add("spark.jobs", 1)
            add("operators.build_jobs", 1 if in_build else 0)
            add("spark.stages_skipped", j.numSkippedStages())
            add("spark.tasks", j.numCompletedTasks())
            ids = j.stageIds()
            for k in range(ids.size()):
                s = self._stage(ids.apply(k))
                if s is None or s.status().toString() == "SKIPPED":
                    continue
                s_start = _epoch(_opt(s.submissionTime())) or start
                self.add("spark.stage", s_start, _epoch(_opt(s.completionTime())) or s_start,
                         jspan, span.call, stage_id=s.stageId(), tasks=s.numCompleteTasks())
                add("spark.stages", 1)
                add("spark.executor_run_s", s.executorRunTime() / 1e3)
                add("spark.executor_cpu_s", s.executorCpuTime() / 1e9)
                add("spark.jvm_gc_s", s.jvmGcTime() / 1e3)
                add("spark.shuffle_read_bytes", s.shuffleReadBytes())
                add("spark.shuffle_write_bytes", s.shuffleWriteBytes())
                add("spark.spill_bytes", s.memoryBytesSpilled() + s.diskBytesSpilled())
        while (e := self._execution(self._next_exec)) is not None:
            if _opt(e.completionTime()) is None:
                break  # read it after the next call
            self._next_exec += 1
            self._plan(e, add)
        for key, v in self._stream_counters(span.start, span.end).items():
            add(key, v)
        add("cache.storage_bytes", sum(i.memSize() + i.diskSize()
                                       for i in self._jsc.getRDDStorageInfo()))
        c.update(self.self_times(call))
        return c

    def _plan(self, execution, add) -> None:
        eid = execution.executionId()
        values = {}
        it = self.sql_store.executionMetrics(eid).iterator()
        while it.hasNext():
            kv = it.next()
            values[kv._1()] = kv._2()
        nodes = self.sql_store.planGraph(eid).allNodes()
        python_scan = False
        for k in range(nodes.size()):
            node = nodes.apply(k)
            name = node.name()
            metrics = {}
            ms = node.metrics()
            for m in range(ms.size()):
                text = values.get(ms.apply(m).accumulatorId())
                if text is not None:
                    metrics[ms.apply(m).name()] = _metric_value(text)
            if name == "Exchange":
                add("spark.exchanges", 1)
            elif name == "ReusedExchange":
                add("spark.reused_exchanges", 1)
            elif name == "BroadcastExchange":
                add("spark.broadcast_exchanges", 1)
                add("spark.broadcast_collect_s", metrics.get("time to collect", 0.0))
            elif name == "InMemoryTableScan":
                add("cache.scans", 1)
            # a Python data source scan is "BatchScan <format>" with a
            # "(Python)" marker in its description
            scan = name.startswith("BatchScan") and "(Python)" in node.desc()
            if scan or _PYTHON_NODE.search(name):
                add("python.nodes", 1)
                python_scan |= scan
            add("python.bytes_to_worker", metrics.get("data sent to Python workers", 0.0))
            add("python.bytes_from_worker",
                metrics.get("data returned from Python workers", 0.0))
            add("sources.files_read", metrics.get("number of files read", 0.0))
        if python_scan:
            # the scan runs in the first stage of each of the plan's jobs
            jobs = execution.jobs().keys().iterator()
            while jobs.hasNext():
                j = self._job(jobs.next())
                ids = [j.stageIds().apply(k) for k in range(j.stageIds().size())] if j else []
                s = self._stage(min(ids)) if ids else None
                if s is not None and s.status().toString() != "SKIPPED":
                    add("python.scan_tasks", s.numTasks())

    # -- streaming ---------------------------------------------------------

    def listen(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events, lock = self._events, self._lock

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with lock:
                    events.append({"id": str(event.id), "started": _iso_epoch(event.timestamp)})

            def onQueryProgress(self, event):
                p = event.progress
                with lock:
                    events.append({"id": str(p.id), "trigger": _iso_epoch(p.timestamp),
                                   "durationMs": dict(p.durationMs), "rows": p.numInputRows})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with lock:
                    events.append({"id": str(event.id), "terminated": True})

        self._listener = _Listener()
        self.spark.streams.addListener(self._listener)

    def _stream_counters(self, start: float, end: float) -> dict:
        """Counters of the streams started between ``start`` and ``end``,
        after each one's termination event has arrived."""
        with self._lock:
            ids = {e["id"]: e["started"] for e in self._events
                   if "started" in e and start - 1.0 <= e["started"] <= end}
        deadline = time.time() + 10.0
        while ids and time.time() < deadline:
            with self._lock:
                done = {e["id"] for e in self._events if e.get("terminated")}
            if set(ids) <= done:
                break
            time.sleep(0.01)
        c: dict[str, float] = {}
        with self._lock:
            progress = [e for e in self._events if e["id"] in ids and "trigger" in e]
        for qid, started in ids.items():
            first = min((e["trigger"] for e in progress if e["id"] == qid), default=None)
            if first is not None:
                c["streaming.startup_s"] = c.get("streaming.startup_s", 0.0) + first - started
        for e in progress:
            if e["rows"] == 0:
                continue  # the availableNow end-of-input trigger
            c["streaming.batches"] = c.get("streaming.batches", 0.0) + 1
            for phase, key in _STREAM_PHASES:
                c[key] = c.get(key, 0.0) + e["durationMs"].get(phase, 0)
        return c

    def stop(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None


def table(report: dict) -> str:
    """The per-operation layer table of a traced run, as text."""
    cols = ("operators.build_s", "operators.build_jobs", "spark.exec_s", "spark.jobs",
            "spark.tasks", "spark.exchanges", "cache.scans", "python.nodes",
            "self.build_s", "self.execute_s")
    heads = [c if c.startswith("self.") else c.split(".", 1)[1] for c in cols]
    lines = [f"{'operation':28s} {'call':6s} " + " ".join(f"{h:>14s}" for h in heads)]
    for name, row in report["operations"].items():
        for kind in ("cold", "rerun"):
            layers = row.get(f"{kind}_layers")
            if layers:
                lines.append(f"{name:28s} {kind:6s} " + " ".join(
                    f"{layers.get(c, 0.0):14.3f}" for c in cols))
    return "\n".join(lines)
