"""Spans around the benchmark's calls into the library, and the join of
those calls to Spark's stage and task metrics.

Every timed call runs inside ``Recorder.call``.  With tracing on it also
carries two Spark job tags: ``bench:<workload>:<op>`` and a tag unique to
the call, so that the jobs, stages and tasks a call caused can be found
again in the event log after the session stops.  Spans are kept in memory
and written out when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

CORES = 4

# Event-log accumulables of the Python-worker boundary (ms or bytes).
_PY_START = ("time to start Python workers", "time to initialize Python workers")
_PY_RUN = "time to run Python workers"
_PY_OUT = "data sent to Python workers"

# Operator metrics of the layer table, in report order.
OP_METRICS = ("wall_s", "tasks", "executor_run_s", "idle_core_share", "task_skew",
              "py_start_s", "py_run_s", "py_bytes_out", "shuffle_write_bytes",
              "result_bytes")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    id: int
    ok: bool = True
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Recorder:
    """Times calls, evaluates their correctness gates and, when tracing,
    tags their Spark jobs."""

    def __init__(self, sc, workload: str, run_id: str, trace: bool):
        self.sc = sc
        self.workload = workload
        self.run_id = run_id
        self.trace = trace
        self.spans: list[Span] = []
        self.attempted = 0
        self.failed = 0
        self._stack: list[int] = []

    def _span(self, name, start, end, ok=True, **attrs) -> Span:
        s = Span(name, start, end, self._stack[-1] if self._stack else None,
                 self.run_id, len(self.spans), ok, attrs)
        self.spans.append(s)
        return s

    @contextmanager
    def group(self, name: str, **attrs):
        """A parent span, e.g. one round of the workload."""
        sid = len(self.spans)
        s = self._span(name, time.perf_counter(), 0.0, **attrs)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def call(self, op: str, fn, gate=None, **attrs):
        """Run ``fn()`` as one timed operation.  ``gate(result)`` is
        evaluated afterwards, outside the timed region, and returns
        whether the result is correct.  A call that raises or fails its
        gate is counted as failed and never retried.  Returns
        (result or None, span)."""
        tags = (f"bench:{self.workload}:{op}", f"benchcall:{self.run_id}:{len(self.spans)}")
        if self.trace:
            for t in tags:
                self.sc.addJobTag(t)
        result, ok = None, True
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        t1 = time.perf_counter()
        if self.trace:
            for t in tags:
                self.sc.removeJobTag(t)
        if ok and gate is not None:
            try:
                ok = bool(gate(result))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
        if not ok:
            print(f"FAILED {self.workload}:{op} {attrs}", file=sys.stderr)
        self.attempted += 1
        self.failed += not ok
        span = self._span(op, t0, t1, ok, tag=tags[1], **attrs)
        return (result if ok else None), span

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "run_id": s.run_id, "ok": s.ok, **s.attrs,
                }) + "\n")


# ---- memory -----------------------------------------------------------------


def _children(pid: int) -> list[int]:
    # a child belongs to the thread that forked it: the JVM starts the
    # Python daemon from an executor thread, not from its main thread
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(x) for x in fh.read().split()]
        except OSError:
            continue
    return out


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_kib(root: int) -> tuple[int, int]:
    """(resident KiB, process count) of ``root`` and all its descendants."""
    total, n, todo = 0, 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_kib(pid)
        n += 1
        todo += _children(pid)
    return total, n


class RssSampler:
    """Samples the resident memory of the driver JVM and the Python
    workers it forked, every ``interval`` seconds, in a thread."""

    def __init__(self, jvm_pid: int, interval: float = 0.05):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_kib = 0
        self.procs_at_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            kib, n = tree_rss_kib(self.jvm_pid)
            if kib > self.peak_kib:
                self.peak_kib, self.procs_at_peak = kib, n
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ---- event log --------------------------------------------------------------


def _acc(stage_info: dict) -> dict:
    out = defaultdict(float)
    for a in stage_info.get("Accumulables", []):
        try:
            out[a["Name"]] += float(a.get("Value") or 0)
        except (TypeError, ValueError):
            continue
    return out


def read_event_log(log_dir: str, app_id: str) -> dict:
    """{call tag: {"stages": {stage id: stage record}}} for every job
    tagged ``benchcall:``."""
    path = os.path.join(log_dir, app_id)
    stage_tag: dict[int, str] = {}
    stages: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                tags = ev.get("Properties", {}).get("spark.job.tags", "")
                call = next((t for t in tags.split(",") if t.startswith("benchcall:")), None)
                if call:
                    for sid in ev["Stage IDs"]:
                        stage_tag[sid] = call
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                if sid not in stage_tag:
                    continue
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                st = stages.setdefault(sid, {"tasks": [], "acc": {}})
                st["tasks"].append({
                    "dur": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                    "run": m.get("Executor Run Time", 0) / 1000.0,
                    "result": m.get("Result Size", 0),
                    "shuffle": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0),
                })
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_tag:
                    stages.setdefault(sid, {"tasks": [], "acc": {}})["acc"] = _acc(ev["Stage Info"])
    calls: dict[str, dict] = defaultdict(lambda: {"stages": {}})
    for sid, st in stages.items():
        calls[stage_tag[sid]]["stages"][sid] = st
    return calls


def call_metrics(span: Span, stages: dict) -> dict:
    """Operator metrics of one call from its stages."""
    tasks = [t for st in stages.values() for t in st["tasks"]]
    busy = sum(t["dur"] for t in tasks)
    skew = 1.0
    if stages:
        slow = max(stages.values(), key=lambda st: max((t["dur"] for t in st["tasks"]), default=0))
        durs = [t["dur"] for t in slow["tasks"]]
        med = statistics.median(durs) if durs else 0.0
        skew = max(durs) / med if med > 0 else 1.0
    acc = defaultdict(float)
    for st in stages.values():
        for k, v in st["acc"].items():
            acc[k] += v
    wall = span.wall
    return {
        "wall_s": wall,
        "tasks": len(tasks),
        "executor_run_s": sum(t["run"] for t in tasks),
        "idle_core_share": max(0.0, (CORES * wall - busy) / (CORES * wall)) if wall > 0 else 0.0,
        "task_skew": skew,
        "py_start_s": sum(acc[k] for k in _PY_START) / 1000.0,
        "py_run_s": acc[_PY_RUN] / 1000.0,
        "py_bytes_out": acc[_PY_OUT],
        "shuffle_write_bytes": sum(t["shuffle"] for t in tasks),
        "result_bytes": sum(t["result"] for t in tasks),
    }


def layer_table(spans: list[Span], calls: dict, round_ids: set[int],
                skip_parent: int | None) -> dict:
    """{op: {metric: median over calls}} and ``operators``: the per-round
    sums over all calls of a measured round, as medians over the
    ``round_ids`` rounds.  Calls under ``skip_parent`` (the warm-up round)
    are left out of both."""
    per_op: dict[str, list[dict]] = defaultdict(list)
    per_round: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        tag = s.attrs.get("tag")
        if tag is None or s.parent == skip_parent:
            continue
        m = call_metrics(s, calls.get(tag, {"stages": {}})["stages"])
        # calls of one function that differ in kind or batch are kept apart
        extra = ",".join(f"{k}={v}" for k, v in sorted(s.attrs.items()) if k != "tag")
        per_op[f"{s.name}[{extra}]" if extra else s.name].append(m)
        if s.parent in round_ids:
            per_round[s.parent].append(m)
    table = {op: {k: statistics.median(m[k] for m in ms) for k in OP_METRICS}
             for op, ms in per_op.items()}
    sums = []
    for ms in per_round.values():
        wall = sum(m["wall_s"] for m in ms)
        idle = sum(m["idle_core_share"] * m["wall_s"] for m in ms)
        sums.append({
            **{k: sum(m[k] for m in ms) for k in OP_METRICS},
            "idle_core_share": idle / wall if wall else 0.0,
            "task_skew": max(m["task_skew"] for m in ms),
        })
    agg = {k: statistics.median(s[k] for s in sums) for k in OP_METRICS} if sums else {}
    return {"ops": table, "operators": agg}
