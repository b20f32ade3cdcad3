"""Measurement plumbing shared by the workloads: order statistics,
process memory, the environment record and the span tracer.

Nothing here imports Spark at module load, so the arithmetic can be
self-tested without a JVM.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import platform
import subprocess
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

TAIL_BEYOND = 10


# --- order statistics ----------------------------------------------------

def tail(values: list[float], beyond: int = TAIL_BEYOND) -> dict:
    """The highest percentile that still has ``beyond`` samples above it.

    For ``n`` sorted samples that is the sample at index ``n - beyond -
    1``, reported as the percentile ``100 * (index + 1) / n``. When that
    sample would sit below the median (fewer than ``2 * beyond + 1``
    samples) the maximum stands in, and the record says so (``beyond``
    is then the count actually above it: 0).
    """
    s = sorted(values)
    n = len(s)
    if n > 2 * beyond:
        i = n - beyond - 1
        return {"value": s[i], "percentile": 100.0 * (i + 1) / n, "n": n, "beyond": beyond}
    return {"value": s[-1], "percentile": 100.0, "n": n, "beyond": 0}


# --- memory --------------------------------------------------------------

def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    """Live descendant pids of ``root`` (the JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Peak resident set of this process plus every live descendant,
    each process's own high-water mark (``VmHWM``) summed."""
    me = os.getpid()
    kb = sum(_status_kb(p, "VmHWM") for p in [me, *descendants(me)])
    return kb / 1024.0


# --- environment record --------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _version(module: str) -> str | None:
    try:
        return __import__(module).__version__
    except Exception:
        return None


def source_digest(root: str, package: str) -> str:
    """sha256 over the package's Python sources, path-ordered: names the
    code under test when the checkout carries no git metadata."""
    h = hashlib.sha256()
    base = os.path.join(root, package)
    for dirpath, dirnames, filenames in os.walk(base):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith((".py", ".json")):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def environment(root: str, package: str) -> dict:
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(),
        "pyspark": _version("pyspark"),
        "duckdb": _version("duckdb"),
        "pyarrow": _version("pyarrow"),
        "numpy": _version("numpy"),
        "git_commit": git_commit(root),
        "source_sha256": source_digest(root, package),
        "machine": platform.machine(),
    }


# --- spans ---------------------------------------------------------------

@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span: its duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - covered(kids.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    """In-memory spans around calls into the engine's public functions.

    Each span runs its Spark work under a job group of its own. A child
    span takes over the group while it runs, so a span's counts are its
    own (self) work; ``totals`` adds the children back. The status
    tracker is fed asynchronously by the listener bus, so the counts are
    read once, after the traced window, when the bus has drained. A span
    opened with ``op=i`` marks operation ``i`` of the workload; spans
    opened inside it inherit that tag.
    """

    enabled = True

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self.op_counts: dict[str, list] = {}  # per-op counts workloads add
        self._op = None
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []
        self._counted = False

    def _group(self, span: Span) -> str:
        return f"{self.run_id}-span-{span.span_id}"

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self._group(span), span.name)

    def _count_all(self) -> None:
        """Jobs, stages and tasks of every span's group, read once the
        listener bus has delivered every event to the status store."""
        if self._counted or self.sc is None:
            return
        self._counted = True
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for span in self.spans:
            for job_id in tracker.getJobIdsForGroup(self._group(span)):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                span.jobs += 1
                for stage_id in info.stageIds:
                    st = tracker.getStageInfo(stage_id)
                    if st is not None and st.numCompletedTasks + st.numFailedTasks:
                        span.stages += 1
                        span.tasks += st.numCompletedTasks + st.numFailedTasks

    @contextmanager
    def span(self, name: str, **attrs):
        if "op" in attrs:
            self._op = attrs["op"]
        attrs.setdefault("op", self._op)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, next(self._ids), parent.span_id if parent else None,
                 self.run_id, time.perf_counter(), attrs=dict(attrs))
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(s)

    def wrap(self, module, attr: str, name: str, attrs=None) -> None:
        """Replace ``module.attr`` with a spanned twin, this process only;
        ``attrs(result)`` may add attributes to each span."""
        fn = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as s:
                result = fn(*args, **kwargs)
                if attrs is not None:
                    s.attrs.update(attrs(result))
                return result

        traced.__wrapped__ = fn
        setattr(module, attr, traced)
        self._patched.append((module, attr, fn))

    def unwrap_all(self) -> None:
        while self._patched:
            module, attr, fn = self._patched.pop()
            setattr(module, attr, fn)

    def totals(self) -> dict[int, dict]:
        """Per span: jobs/stages/tasks of the span and all its descendants."""
        self._count_all()
        by_id = {s.span_id: s for s in self.spans}
        acc = {s.span_id: {"jobs": s.jobs, "stages": s.stages, "tasks": s.tasks}
               for s in self.spans}
        # children finish (and are appended) before their parents
        for s in self.spans:
            if s.parent in by_id:
                for k in ("jobs", "stages", "tasks"):
                    acc[s.parent][k] += acc[s.span_id][k]
        return acc

    def records(self) -> list[dict]:
        selfs = self_times(self.spans)
        tot = self.totals()
        return [
            {
                "name": s.name, "span_id": s.span_id, "parent": s.parent,
                "run_id": s.run_id, "start": s.start, "end": s.end,
                "self_s": selfs[s.span_id], "jobs_self": s.jobs,
                "stages_self": s.stages, "tasks_self": s.tasks,
                **{f"{k}_total": v for k, v in tot[s.span_id].items()},
                **s.attrs,
            }
            for s in self.spans
        ]

    def summary(self) -> dict[str, dict]:
        """Per span name: calls, total and self seconds, Spark work."""
        out: dict[str, dict] = {}
        for r in self.records():
            e = out.setdefault(r["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0,
                                           "jobs": 0, "stages": 0, "tasks": 0})
            e["calls"] += 1
            e["total_s"] += r["end"] - r["start"]
            e["self_s"] += r["self_s"]
            e["jobs"] += r["jobs_self"]
            e["stages"] += r["stages_self"]
            e["tasks"] += r["tasks_self"]
        return out


class NullTracer(Tracer):
    """Tracing off: spans cost one generator step and record nothing."""

    enabled = False

    def __init__(self):
        super().__init__(None, "off")

    @contextmanager
    def span(self, name: str, **attrs):
        yield None

    def wrap(self, module, attr: str, name: str, attrs=None) -> None:
        pass


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)
