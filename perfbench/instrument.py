"""Instrumentation the benchmark wraps around the program from outside.

- ``Tracer``: in-memory spans (name, start, end, parent, run id) with a
  context manager for the benchmark's own calls and ``wrap`` to swap a
  module attribute for a spanned version of itself.
- ``spark_jobs``: every job and stage the status store kept
  (``sparkContext._jsc.sc().statusStore()``; it is populated with the UI
  off), with the task-duration skew of each stage.
- ``StreamProgress``: a ``StreamingQueryListener`` collecting each
  ``StreamingQueryProgress``.
- ``PssSampler``: peak memory (proportional set size) of this process
  and every descendant (the JVM and its Python workers), sampled from
  ``/proc``.
"""

from __future__ import annotations

import contextlib
import functools
import os
import threading
import time


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(module, attr, spanned)


def covered_s(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, last = 0.0, None
    for a, b in sorted(intervals):
        if last is not None:
            a = max(a, last)
        if b > a:
            total += b - a
            last = b
    return total


def self_time(spans: list[dict], span: dict) -> float:
    """Duration of ``span`` minus the part its direct children cover."""
    kids = [(s["start"], s["end"]) for s in spans if s["parent"] == span["id"]]
    return span["end"] - span["start"] - covered_s(kids)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def spark_jobs(spark, since: float) -> tuple[list[float], list[dict]]:
    """Submission times (epoch seconds) of the jobs submitted at or
    after ``since``, and their completed stages, each carrying its
    job's submission time for attribution."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = []
    stage_job: dict[int, float] = {}
    for j in _seq(store.jobsList(None)):
        sub = _opt_ms(j.submissionTime())
        if sub is None or sub < since:
            continue
        jobs.append(sub)
        for sid in _seq(j.stageIds()):
            stage_job[int(sid)] = sub
    out = []
    for sid, submitted in sorted(stage_job.items()):
        try:
            s = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - evicted from the store
            continue
        if str(s.status()) != "COMPLETE":
            continue
        durs = sorted(
            float(t.duration().get())
            for t in _seq(store.taskList(sid, s.attemptId(), 100_000))
            if t.duration().isDefined()
        )
        med = durs[len(durs) // 2] if durs else 0.0
        out.append({
            "stage": sid,
            "job_submitted": submitted,
            "start": _opt_ms(s.submissionTime()),
            "end": _opt_ms(s.completionTime()),
            "tasks": int(s.numTasks()),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "shuffle_read_bytes": int(s.shuffleReadBytes()),
            "shuffle_write_bytes": int(s.shuffleWriteBytes()),
            "spill_bytes": int(s.memoryBytesSpilled() + s.diskBytesSpilled()),
            "skew": durs[-1] / med if len(durs) > 1 and med > 0 else 1.0,
        })
    return jobs, out


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class StreamProgress:
    """Collects progress events of every streaming query in the session."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events.append({
                    "query": str(p.id),
                    "at": _iso_epoch(p.timestamp),
                    "duration_ms": dict(p.durationMs),
                    "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
                    "state_mem_bytes": sum(
                        o.memoryUsedBytes for o in p.stateOperators
                    ),
                    "dropped": sum(
                        o.numRowsDroppedByWatermark for o in p.stateOperators
                    ),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def drain(self, quiet_s: float = 0.5, limit_s: float = 5.0) -> None:
        """Wait until no event arrived for ``quiet_s`` (the listener bus
        is asynchronous)."""
        deadline = time.time() + limit_s
        n = -1
        while time.time() < deadline and n != len(self.events):
            n = len(self.events)
            time.sleep(quiet_s)

    def remove(self) -> None:
        self._spark.streams.removeListener(self._listener)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return total


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_pss_bytes(root: int | None = None) -> int:
    """Proportional set size of ``root`` and all its descendants. PSS
    splits shared pages among the processes mapping them, so forked
    Python workers are not counted once per fork as RSS would be."""
    total = 0
    for p in _descendants(root or os.getpid()):
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError):
            pass
    return total


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


class PssSampler:
    def __init__(self, every_s: float = 0.2) -> None:
        self.every_s = every_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_pss_bytes())
            if self._stop.wait(self.every_s):
                return

    def __enter__(self):
        self._ticks = cpu_ticks()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_pss_bytes())
        steal, total = (b - a for a, b in zip(self._ticks, cpu_ticks()))
        # share of CPU time the hypervisor gave to other guests
        self.steal_share = steal / total if total else 0.0
        return False
