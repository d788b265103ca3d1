"""Spans around calls into the engine's layers, recorded from outside.

``Tracer(spark, on=False)`` only times the workload's operations: that is
the run the end-to-end metrics come from. ``Tracer(spark, on=True)`` also

- replaces the public entry points in ``ENTRY_POINTS`` with wrappers that
  record a span per call (``install``), at every ``fastetl_spark`` module
  that holds the function by name;
- gives every span on the client thread its own Spark job group, and
  restores the enclosing span's group when it ends;
- reads Python-worker CPU time from ``/proc`` at each operation's ends.

Spans stay in memory. ``resolve`` reads the Spark figures of every span
from the status tracker and status store once the run is over, so the
reads cost nothing inside the timed interval.

Self time is a span's wall minus the union of its child spans' intervals.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

# (module, attribute path, span name). An attribute path with a dot is a
# method on a class in that module.
ENTRY_POINTS = (
    ("fastetl_spark.api", "Engine.full_copy", "api.full_copy"),
    ("fastetl_spark.api", "Engine.sync", "api.sync"),
    ("fastetl_spark.api", "Engine.bucketize", "api.bucketize"),
    ("fastetl_spark.io.bucketed", "partial_merge", "io.partial_merge"),
    ("fastetl_spark.io.bucketed", "read_bucketed", "io.read_bucketed"),
    ("fastetl_spark.operators.sync", "WatermarkStore.get", "operators.watermark_get"),
    ("fastetl_spark.operators.sync", "WatermarkStore.set", "operators.watermark_set"),
    ("fastetl_spark.meta.load_info", "LoadInfo.save", "meta.load_info_save"),
    ("fastetl_spark.checkpointing", "materialize", "checkpointing.materialize"),
)

_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    idx: int
    name: str
    start: float
    parent: int | None
    group: str | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    run_ids: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, on: bool):
        self.spark = spark
        self.on = on
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._restore: list = []
        self._jvm_pid = spark.sparkContext._gateway.proc.pid

    # --- recording -------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time a block; with tracing on, record it as a span."""
        if not self.on:
            rec = Span(-1, name, time.perf_counter(), None, None, attrs=attrs)
            try:
                yield rec
            finally:
                rec.end = time.perf_counter()
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        group = f"pb{idx}"
        sc = self.spark.sparkContext
        top = parent is None
        if top:
            attrs["py_cpu0"] = python_worker_cpu_s(self._jvm_pid)
        sc.setJobGroup(group, name)
        rec = Span(idx, name, time.perf_counter(), parent.idx if parent else None, group, attrs=attrs)
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                rec.attrs["py_cpu_s"] = python_worker_cpu_s(self._jvm_pid) - rec.attrs.pop("py_cpu0")

    def _wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            # A call from a Spark callback thread (foreachBatch) runs while
            # the client thread waits, so it nests under that operation.
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if isinstance(out, dict):  # partial_merge's counters
                    rec.attrs.update(
                        {k: v for k, v in out.items() if isinstance(v, int)}
                    )
                return out

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        """Wrap every entry point in ENTRY_POINTS (tracing on only)."""
        import importlib
        import sys

        if not self.on:
            return
        for mod_name, path, span_name in ENTRY_POINTS:
            mod = importlib.import_module(mod_name)
            if "." in path:
                cls_name, attr = path.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[attr]
                setattr(cls, attr, self._wrap(orig, span_name))
                self._restore.append((cls, attr, orig))
                continue
            orig = getattr(mod, path)
            wrapped = self._wrap(orig, span_name)
            for m in list(sys.modules.values()):
                name = getattr(m, "__name__", "") or ""
                if name.startswith("fastetl_spark") and getattr(m, path, None) is orig:
                    setattr(m, path, wrapped)
                    self._restore.append((m, path, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def wrap_callable(self, fn, name: str):
        """A registry or gate callable, wrapped when tracing is on."""
        return self._wrap(fn, name) if self.on else fn

    # --- resolution (after the run) ----------------------------------------

    def resolve(self) -> None:
        """Attach Spark job and stage figures to every span."""
        if not self.on:
            return
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        job_cache: dict[int, tuple] = {}
        stage_cache: dict[int, tuple | None] = {}

        def job(jid: int):
            if jid not in job_cache:
                j = store.job(jid)
                sub, done = j.submissionTime(), j.completionTime()
                seq = j.stageIds()
                job_cache[jid] = (
                    sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                    done.get().getTime() / 1000.0 if done.isDefined() else None,
                    [seq.apply(i) for i in range(seq.size())],
                )
            return job_cache[jid]

        def stage(sid: int):
            if sid not in stage_cache:
                s = store.lastStageAttempt(sid)
                if s.status().toString() != "COMPLETE":
                    stage_cache[sid] = None
                else:
                    stage_cache[sid] = (
                        s.numTasks(),
                        s.executorRunTime() / 1000.0,
                        s.executorCpuTime() / 1e9,
                        s.jvmGcTime() / 1000.0,
                        s.inputBytes(),
                        s.shuffleReadBytes(),
                        s.shuffleWriteBytes(),
                        s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    )
            return stage_cache[sid]

        for sp in self.spans:
            groups = [sp.group, *sp.run_ids]
            sp.attrs["job_ids"] = sorted(
                {int(j) for g in groups for j in tracker.getJobIdsForGroup(g)}
            )
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)

        def subtree_jobs(sp: Span) -> set[int]:
            out = set(sp.attrs["job_ids"])
            for c in children.get(sp.idx, []):
                out |= subtree_jobs(c)
            return out

        for sp in self.spans:
            jobs = sorted(subtree_jobs(sp))
            intervals, stages = [], set()
            for jid in jobs:
                sub, done, sids = job(jid)
                if sub is not None and done is not None:
                    intervals.append((sub, done))
                stages.update(sids)
            figs = [f for f in (stage(s) for s in stages) if f is not None]
            total = [sum(f[i] for f in figs) for i in range(8)]
            sp.attrs["spark"] = {
                "jobs": len(jobs),
                "stages": len(figs),
                "tasks": total[0],
                "jobs_union_s": _union(intervals),
                "executor_run_s": total[1],
                "executor_cpu_s": total[2],
                "gc_s": total[3],
                "input_bytes": total[4],
                "shuffle_read_bytes": total[5],
                "shuffle_write_bytes": total[6],
                "spill_bytes": total[7],
            }
            sp.attrs["self_s"] = sp.wall - _union(
                [(c.start, c.end) for c in children.get(sp.idx, [])]
            )

    def dump(self) -> list[dict]:
        return [
            {
                "idx": s.idx,
                "name": s.name,
                "parent": s.parent,
                "group": s.group,
                "start": s.start,
                "end": s.end,
                "wall_s": s.wall,
                **{k: v for k, v in s.attrs.items()},
            }
            for s in self.spans
        ]


def _union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:  # the process ended between listing and reading
        return None


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None and int(st[1]) == pid:
                out.append(int(entry))
    return out


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the Python worker daemon the JVM forked
    and by its workers, ended ones included (they are the daemon's
    reaped children)."""
    total = 0
    for daemon in _children(jvm_pid):
        st = _stat(daemon)
        if st is None:
            continue
        # utime stime cutime cstime are fields 14-17 of /proc/pid/stat
        total += sum(int(x) for x in st[11:15])
        for worker in _children(daemon):
            wst = _stat(worker)
            if wst is not None:
                total += int(wst[11]) + int(wst[12])
    return total / _CLK_TCK


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of the driver JVM, this process, and the Python
    worker processes alive now, each its own high-water mark, in MB."""
    pids = [os.getpid(), jvm_pid]
    for daemon in _children(jvm_pid):
        pids += [daemon, *_children(daemon)]
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
