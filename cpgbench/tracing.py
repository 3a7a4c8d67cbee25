"""Tracing for the traced benchmark run: spans around layer entry points,
Spark job-group tagging, and per-stage/task figures from the event log.

Spans are recorded from the benchmark's side only: the layer functions that
``plans.pipeline.build_cpg`` calls are wrapped by replacing the module
attributes it looks them up through, and restored afterwards. Each span runs
its Spark jobs under its own job group, so ``statusTracker`` attributes jobs
to the span that issued them. Lazy work that executes in a later action is
attributed to the span of that action. Stage, task, shuffle, spill and GC
figures come from the Spark event log of the traced run.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# (module, attribute, layer) for every layer entry point build_cpg reaches.
# build_cpg imports parse_source/with_ids/derived_edges by name, so those are
# replaced in the pipeline module; the rest it resolves through their home
# modules at call time.
LAYER_ENTRY_POINTS = [
    ("joern_spark.plans.pipeline", "parse_source", "parse"),
    ("joern_spark.plans.pipeline", "with_ids", "parse"),
    ("joern_spark.plans.pipeline", "derived_edges", "edges"),
    ("joern_spark.operators.typerecovery", "js_mfn_rewrites", "typerecovery"),
    ("joern_spark.operators.typerecovery", "apply_rewrites", "typerecovery"),
    ("joern_spark.operators.base", "run_base", "base"),
    ("joern_spark.operators.callgraph", "method_dimension", "callgraph"),
    ("joern_spark.operators.callgraph", "run_callgraph", "callgraph"),
    ("joern_spark.operators.callgraph", "inheritance_closure", "linking"),
    ("joern_spark.operators.bindings", "binding_relation", "linking"),
    ("joern_spark.operators.bindings", "binding_nodes_and_edges", "linking"),
    ("joern_spark.operators.linking", "canonical_symbol_map", "linking"),
    ("joern_spark.operators.linking", "canonicalize_call_edges", "linking"),
]


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder. ``sc`` (a SparkContext) enables job-group
    tagging; without it spans only record time."""
    sc: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _patches: list[tuple[object, str, object]] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer or name,
                 parent.sid if parent else None, time.time())
        s.group = f"bench:{s.sid}:{name}"
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def instrument(self) -> None:
        for mod_name, attr, layer in LAYER_ENTRY_POINTS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._patches.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, attr, layer))

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)
        return wrapped

    def restore(self) -> None:
        for mod, attr, orig in reversed(self._patches):
            setattr(mod, attr, orig)
        self._patches.clear()

    def jobs_of(self, spans: list[Span]) -> int:
        """Spark jobs issued directly under these spans."""
        st = self.sc.statusTracker()
        return sum(len(st.getJobIdsForGroup(s.group)) for s in spans)

    def layer(self, layer: str) -> list[Span]:
        return [s for s in self.spans if s.layer == layer]

    def coverage(self, root: Span, busy: list[tuple[float, float]]) -> float:
        """Share of ``root``'s wall time during which a layer span nested in
        it is open or a Spark task runs (``busy``, from the event log). The
        rest is driver time outside every layer entry point with no task
        running."""
        inside = [(s.start, s.end) for s in self.spans
                  if s is not root and self._within(s, root)]
        return _covered(inside + busy, root.start, root.end) / max(root.duration, 1e-9)

    def _within(self, s: Span, root: Span) -> bool:
        while s.parent is not None:
            if s.parent == root.sid:
                return True
            s = self.spans[s.parent]
        return False

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.sid, "name": s.name, "layer": s.layer,
                                    "parent": s.parent, "start": s.start,
                                    "end": s.end}) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def event_log_figures(log_dir: str, lo: float, hi: float
                      ) -> tuple[dict[str, float], list[tuple[float, float]]]:
    """Jobs, stages, tasks, shuffle/spill bytes, task GC time and the time
    with no task running, for Spark work submitted within [lo, hi] (epoch
    seconds), and the tasks' (launch, finish) intervals. Read after the
    SparkContext stopped, so the log is complete."""
    lo_ms, hi_ms = lo * 1000, hi * 1000
    jobs = stages = tasks = 0
    shuffle = spill = gc_ms = 0
    busy: list[tuple[float, float]] = []
    paths = [os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if lo_ms <= ev["Submission Time"] <= hi_ms:
                        jobs += 1
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if lo_ms <= info.get("Submission Time", -1) <= hi_ms:
                        stages += 1
                elif kind == "SparkListenerTaskEnd":
                    ti = ev["Task Info"]
                    if not lo_ms <= ti["Launch Time"] <= hi_ms:
                        continue
                    tasks += 1
                    busy.append((ti["Launch Time"] / 1000, ti["Finish Time"] / 1000))
                    tm = ev.get("Task Metrics") or {}
                    gc_ms += tm.get("JVM GC Time", 0)
                    spill += tm.get("Disk Bytes Spilled", 0)
                    shuffle += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
    return {"jobs": jobs, "stages": stages, "tasks": tasks,
            "shuffle_bytes": shuffle, "spill_bytes": spill, "gc_s": gc_ms / 1000,
            "driver_gap_s": (hi - lo) - _covered(busy, lo, hi)}, busy


class RssSampler:
    """Peak resident set size of this process and all its descendants (the
    Spark driver JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss_sampler",
                                        daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(os.getpid()))
            self._stop.wait(self.interval)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def _proc_table() -> dict[int, int]:
    """pid -> parent pid for every live process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _proc_table().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds, user plus system, that ``root`` and every process under
    it have used so far, including exited children already reaped into a
    parent's account. Time a VM's host steals from the process is not in it."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def tree_rss_kb(root: int) -> int:
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total
