"""Call timing, deadlines and layer spans for the benchmark client.

Every call the benchmark makes into the engine goes through
:meth:`Recorder.call`. An untraced run records only the call's wall time
and outcome. A traced run also opens a :class:`Span` per call, nested
under the span that was open when the call started, and attributes to it
the Spark jobs and stages that ran inside its window (job-id set
difference over the status store, the rule ``plans.metrics.
StageMetricsProbe`` uses for stages). Spans stay in memory until
:meth:`Recorder.write_spans`.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


class CallTimeout(RuntimeError):
    """A call outlived its deadline and was cancelled."""


@dataclass
class CallRecord:
    layer: str
    start: float
    end: float
    ok: bool
    cpu_s: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    failed: bool = False
    counts: dict = field(default_factory=dict)


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
_COMPILER_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> list[str] | None:
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:  # the process or thread exited meanwhile
        return None
    # the command name is parenthesised and may hold spaces
    return stat[stat.rindex(")") + 2:].split()


class AppCpu:
    """CPU seconds the application has used so far: user + system time of
    process ``root`` and every live descendant (the JVM a PySpark driver
    starts, and that JVM's Python workers), plus the reaped children each
    has waited for, minus the JVM's JIT compiler threads.

    Unlike wall time, it leaves out the time the host stole from the VM
    and the time a thread waited for a free core. The compiler threads are
    left out because their work is a one-off warm-up cost of the runtime
    whose timing depends on the host, not work a job asks for; a compiler
    thread that exits keeps the time it was last seen with."""

    def __init__(self, root: int):
        self.root = root
        self._is_compiler: dict[tuple[int, str], bool] = {}
        self._compile_ticks: dict[tuple[int, str], int] = {}

    def __call__(self) -> float:
        children: dict[int, list[int]] = {}
        ticks: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if name.isdigit() and (fields := _stat_fields(f"/proc/{name}/stat")):
                children.setdefault(int(fields[1]), []).append(int(name))
                ticks[int(name)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        total, todo = 0, [self.root]
        while todo:
            pid = todo.pop()
            total += ticks.get(pid, 0)
            todo += children.get(pid, [])
            self._sample_compilers(pid)
        return (total - sum(self._compile_ticks.values())) * _TICK_S

    def _sample_compilers(self, pid: int) -> None:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return
        for tid in tids:
            key = (pid, tid)
            if key not in self._is_compiler:
                try:
                    with open(f"/proc/{pid}/task/{tid}/comm") as f:
                        self._is_compiler[key] = f.read().startswith(_COMPILER_THREADS)
                except OSError:
                    continue
            if self._is_compiler[key] and (fields := _stat_fields(
                    f"/proc/{pid}/task/{tid}/stat")):
                self._compile_ticks[key] = int(fields[11]) + int(fields[12])


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of closed intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class SparkProbe:
    """Per-window Spark counts from the application status store.

    Job ids are assigned in submission order, so the jobs of a window are
    the ids past the mark taken when it opened (the id-set difference,
    found by walking forward from the mark instead of listing the store).
    ``counts(mark, t0, t1)`` sums over those jobs: job count, the job
    intervals (for the driver gap), and the executor run time, shuffle-
    write bytes and input records of the stages that ran inside
    ``[t0, t1]``; stages reused from an earlier job's shuffle are skipped,
    so nothing is counted twice. Times are epoch seconds on the host
    clock, which the JVM shares.
    """

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._bus.waitUntilEmpty(10_000)
        gw = spark.sparkContext._gateway
        known = self._store.jobsList(gw.jvm.java.util.Collections.emptyList())
        self._next = 1 + max((known.apply(i).jobId() for i in range(known.size())), default=-1)

    def _job(self, jid):
        try:
            return self._store.job(jid)
        except Exception:  # py4j error wrapping NoSuchElementException
            return None

    def _new_jobs(self) -> list:
        # the status store is fed asynchronously by the listener bus
        self._bus.waitUntilEmpty(10_000)
        jobs = []
        while (job := self._job(self._next)) is not None:
            jobs.append(job)
            self._next += 1
        return jobs

    def mark(self) -> int:
        self._new_jobs()
        return self._next

    @staticmethod
    def _epoch(opt) -> float | None:
        return opt.get().getTime() / 1000.0 if opt.isDefined() else None

    def counts(self, mark: int, t0: float, t1: float) -> dict:
        self._new_jobs()
        jobs = [self._store.job(jid) for jid in range(mark, self._next)]
        intervals, stage_ids = [], set()
        for job in jobs:
            lo = self._epoch(job.submissionTime()) or t0
            hi = self._epoch(job.completionTime()) or t1
            intervals.append((max(lo, t0), min(max(hi, lo), t1)))
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        busy_ms = shuffle_w = records_in = 0
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            start = self._epoch(st.submissionTime())
            if start is None or start < t0 - 0.001 or str(st.status()) == "SKIPPED":
                continue
            busy_ms += st.executorRunTime()
            shuffle_w += st.shuffleWriteBytes()
            records_in += st.inputRecords()
        return {
            "jobs": len(jobs),
            "task_busy_s": busy_ms / 1000.0,
            "driver_gap_s": max(0.0, (t1 - t0) - union_length(intervals)),
            "shuffle_write_bytes": shuffle_w,
            "input_records": records_in,
        }


class Recorder:
    """Times calls, enforces their deadlines, and (traced) records spans.

    ``cancel`` is invoked from a watchdog thread when a call passes its
    deadline; it must make the blocked call return or raise (the Spark
    client stops active streams and cancels all jobs).
    """

    def __init__(self, run_id: str, probe: SparkProbe | None = None,
                 cancel=None, clock=time.time, cpu=None):
        self.run_id = run_id
        self.probe = probe
        self.cancel = cancel
        self.clock = clock
        # CPU-seconds clock for each call's ``cpu_s`` (none: 0)
        self.cpu = cpu
        self.calls: list[CallRecord] = []
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0

    @property
    def traced(self) -> bool:
        return self.probe is not None

    @contextmanager
    def span(self, name: str):
        """A span with no deadline and no call record (a job or a phase)."""
        if not self.traced:
            yield
            return
        sp, mark = self._open(name)
        try:
            yield sp
        except BaseException:
            sp.failed = True
            raise
        finally:
            self._close(sp, mark)

    def call(self, layer: str, fn, *args, deadline_s: float = 120.0, **kwargs):
        """Run ``fn(*args, **kwargs)`` as one call into ``layer``.

        Returns ``(ok, result)``. A call that raises, or that outlives
        ``deadline_s`` (the watchdog cancels it), is recorded as failed
        and returns ``(False, exception)``."""
        sp, mark = self._open(layer) if self.traced else (None, None)
        timed_out = threading.Event()

        def expire():
            timed_out.set()
            if self.cancel is not None:
                self.cancel()

        watchdog = threading.Timer(deadline_s, expire)
        watchdog.daemon = True
        c0 = self.cpu() if self.cpu else 0.0
        t0 = self.clock()
        watchdog.start()
        try:
            result, ok = fn(*args, **kwargs), True
        except Exception as exc:  # a failed call is data, not a crash
            result, ok = exc, False
        finally:
            watchdog.cancel()
            watchdog.join()
        t1 = self.clock()
        c1 = self.cpu() if self.cpu else 0.0
        if timed_out.is_set():
            result, ok = CallTimeout(f"{layer}: no result within {deadline_s}s"), False
        self.calls.append(CallRecord(layer, t0, t1, ok, c1 - c0))
        if sp is not None:
            sp.failed = not ok
            self._close(sp, mark)
        return ok, result

    def _open(self, name: str):
        t = time.perf_counter()
        mark = self.probe.mark()
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(len(self.spans), name, parent, self.run_id, self.clock())
        self.spans.append(sp)
        self._stack.append(sp)
        self.overhead_s += time.perf_counter() - t
        return sp, mark

    def _close(self, sp: Span, mark) -> None:
        sp.end = self.clock()
        t = time.perf_counter()
        self._stack.pop()
        sp.counts = self.probe.counts(mark, sp.start, sp.end)
        self.overhead_s += time.perf_counter() - t

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp), sort_keys=True) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it covered by its child spans."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    return {
        sp.span_id: (sp.end - sp.start) - union_length(
            [(max(lo, sp.start), min(hi, sp.end)) for lo, hi in children.get(sp.span_id, [])]
        )
        for sp in spans
    }
