"""Spans and Spark counters, recorded from outside the engine.

Every call the benchmark makes into the engine runs under a Spark job group
named after its span, so the status store can attribute jobs, stages and
tasks to it. Streaming micro-batches run under their stream's own job group
(the run id), which the streaming listener reports. Counters are read only
after the listener bus has drained: events are delivered asynchronously, and
reading early misses the last micro-batch or stage of a call.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

DRAIN_TIMEOUT_MS = 60_000


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None  # index of the parent span in Spans.spans
    item: str = ""

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Spans:
    """Spans kept in memory for the whole run; written out at the end."""

    spans: list[Span] = field(default_factory=list)

    def open(self, name: str, item: str = "", parent: int | None = None) -> int:
        self.spans.append(Span(name, time.perf_counter(), parent=parent, item=item))
        return len(self.spans) - 1

    def close(self, idx: int) -> float:
        s = self.spans[idx]
        s.end = time.perf_counter()
        return s.duration

    def add(self, name: str, start: float, end: float, item: str = "",
            parent: int | None = None) -> int:
        self.spans.append(Span(name, start, end, parent, item))
        return len(self.spans) - 1

    def add_triggers(self, progress: list[dict], parent: int, item: str) -> None:
        """One ``trigger`` child span per micro-batch, placed from the progress
        event's start timestamp (wall clock) and its triggerExecution time."""
        from datetime import datetime

        offset = time.time() - time.perf_counter()
        for p in progress:
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            dur = p.get("durationMs", {}).get("triggerExecution", 0) / 1000.0
            self.add("trigger", start - offset, start - offset + dur, item, parent)

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        return self_time(self.spans[idx], self.children(idx))

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "item": s.item, "start": s.start, "end": s.end, "parent": s.parent}
            for s in self.spans
        ]


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover
    (overlapping children are counted once)."""
    covered = 0.0
    cur_start = cur_end = None
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
        if hi <= lo:
            continue
        if cur_end is None or lo > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = lo, hi
        else:
            cur_end = max(cur_end, hi)
    if cur_end is not None:
        covered += cur_end - cur_start
    return span.duration - covered


@dataclass
class ExecCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    # the longest stage (by wall) of the jobs read: its task count and the
    # longest task's share of its wall
    top_stage_wall_s: float = 0.0
    top_stage_tasks: int = 0
    top_stage_max_task_share: float = 0.0


class SparkProbe:
    """Job groups, listener-bus drain and status-store reads for one session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(DRAIN_TIMEOUT_MS)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def counters(self, groups: list[str]) -> ExecCounters:
        """Executed stages of every job in ``groups``; call after drain()."""
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = ExecCounters()
        seen: set[int] = set()
        for g in groups:
            for job_id in self.job_ids(g):
                out.jobs += 1
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                for sid in info.stageIds:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    sd = store.lastStageAttempt(sid)
                    if not sd.completionTime().isDefined():
                        continue  # skipped: its output was reused
                    out.stages += 1
                    out.tasks += sd.numTasks()
                    out.cpu_s += sd.executorRunTime() / 1000.0
                    out.input_bytes += sd.inputBytes()
                    out.shuffle_read_bytes += sd.shuffleReadBytes()
                    out.shuffle_write_bytes += sd.shuffleWriteBytes()
                    out.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    wall = (sd.completionTime().get().getTime()
                            - sd.submissionTime().get().getTime()) / 1000.0
                    if wall > out.top_stage_wall_s:
                        tasks = store.taskList(sid, sd.attemptId(), sd.numTasks())
                        longest = max(
                            (tasks.apply(i).duration().get() for i in range(tasks.size())
                             if tasks.apply(i).duration().isDefined()),
                            default=0,
                        ) / 1000.0
                        out.top_stage_wall_s = wall
                        out.top_stage_tasks = sd.numTasks()
                        out.top_stage_max_task_share = min(1.0, longest / wall) if wall else 1.0
        return out

    def retained_bytes(self) -> int:
        """Block-manager bytes still held by persisted or checkpointed RDDs."""
        return sum(i.memSize() + i.diskSize() for i in self._jsc.getRDDStorageInfo())

    def plan_phases_s(self, df) -> float:
        """Force optimization and physical planning of ``df`` and return the
        analysis + optimization + planning time its query execution tracked."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        it = phases.iterator()
        total_ms = 0
        while it.hasNext():
            total_ms += it.next()._2().durationMs()
        return total_ms / 1000.0

    def jvm_peak_rss_mb(self) -> float:
        pid = self.sc._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, the fields after it) of a /proc stat file."""
    with open(path) as fh:
        s = fh.read()
    return s[s.index("(") + 1:s.rindex(")")], s[s.rindex(")") + 2:].split()


class CpuClock:
    """CPU seconds spent so far by this process and every process under it
    (the JVM, Spark's Python workers), read from /proc: user + system time,
    with that of reaped children. The JVM's JIT compiler threads are counted
    apart: they compile for many passes after the first, and how far they
    get depends on the machine, not on the work asked. The JVM must run with
    ``-XX:-UseDynamicNumberOfCompilerThreads``, so that no compiler thread
    exits and takes its time with it. Time the machine's hypervisor gives to
    other guests ("steal") is counted by neither, unlike wall time."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self.tick = os.sysconf("SC_CLK_TCK")
        self._jit_tids: dict[int, list[str]] = {}

    def __call__(self) -> tuple[float, float]:
        """(CPU seconds outside the JIT compiler threads, CPU seconds in them)."""
        children: dict[int, list[int]] = {}
        times: dict[int, tuple[str, int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                comm, f = _stat(f"/proc/{entry}/stat")
            except OSError:  # exited while listed
                continue
            pid = int(entry)
            children.setdefault(int(f[1]), []).append(pid)
            # utime stime cutime cstime
            times[pid] = (comm, sum(int(x) for x in f[11:15]))
        total = jit = 0
        todo = [self.root]
        while todo:
            pid = todo.pop()
            comm, ticks = times.get(pid, ("", 0))
            total += ticks
            todo += children.get(pid, [])
            if comm == "java":
                jit += self._jit_ticks(pid)
        return (total - jit) / self.tick, jit / self.tick

    def _jit_ticks(self, pid: int) -> int:
        """CPU ticks of the JVM's compiler threads; their ids are looked up
        once per JVM, as they live as long as it does."""
        tids = self._jit_tids.get(pid)
        if tids is None:
            tids = []
            for tid in os.listdir(f"/proc/{pid}/task"):
                try:
                    comm, _f = _stat(f"/proc/{pid}/task/{tid}/stat")
                except OSError:
                    continue
                if "CompilerThre" in comm:  # "C1 CompilerThre", "C2 CompilerThre"
                    tids.append(tid)
            self._jit_tids[pid] = tids
        ticks = 0
        for tid in tids:
            try:
                _comm, f = _stat(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            ticks += int(f[11]) + int(f[12])
        return ticks


def stream_listener_class():
    """A StreamingQueryListener that keeps every start and progress event.
    Built lazily so importing this module does not import pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Recorder(StreamingQueryListener):
        def __init__(self):
            self.run_ids: list[str] = []
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            self.run_ids.append(str(event.runId))

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def take(self) -> tuple[list[str], list[dict]]:
            """Events received since the last take(); call after a drain."""
            ids, prog = self.run_ids, self.progress
            self.run_ids, self.progress = [], []
            return ids, prog

    return Recorder


@dataclass
class StreamCounters:
    batches: int = 0
    input_rows: int = 0
    trigger_ms: int = 0
    add_batch_ms: int = 0
    query_planning_ms: int = 0
    commit_ms: int = 0
    offsets_ms: int = 0
    state_rows: int = 0


def stream_counters(progress: list[dict]) -> StreamCounters:
    """Fold micro-batch progress events. ``batches`` counts batches that read
    input (whether a trailing no-data batch runs before stop() is a race);
    ``state_rows`` is each stream's state size after its last batch."""
    out = StreamCounters()
    last_state: dict[str, int] = {}
    for p in progress:
        d = p.get("durationMs", {})
        rows = int(p.get("numInputRows", 0))
        out.batches += rows > 0
        out.input_rows += rows
        out.trigger_ms += d.get("triggerExecution", 0)
        out.add_batch_ms += d.get("addBatch", 0)
        out.query_planning_ms += d.get("queryPlanning", 0)
        out.commit_ms += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        out.offsets_ms += d.get("latestOffset", 0) + d.get("getBatch", 0)
        last_state[p["runId"]] = sum(
            int(op.get("numRowsTotal", 0)) for op in p.get("stateOperators", [])
        )
    out.state_rows = sum(last_state.values())
    return out
