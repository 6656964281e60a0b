"""Measurement plumbing: spans, per-job-group Spark task metrics, process-tree
peak RSS and orderly shutdown of every process the benchmark started.

Nothing here imports the engine; ``workloads.py`` wraps the calls into each
layer with ``Tracer.span`` / ``Tracer.layer_call``.
"""

from __future__ import annotations

import json
import os
import signal
import time
import urllib.request
from dataclasses import dataclass, field

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants (from /proc)."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_kb() -> int:
    """This process's RSS high-water mark."""
    return _status_kb(os.getpid(), "VmHWM:")


class PeakRss:
    """Peak RSS of this process tree (the JVM and Python workers included)
    over a ``with`` block: each process's high-water mark is reset on entry
    (``/proc/<pid>/clear_refs``) and the marks of the processes alive on
    exit are summed. Each mark is exact, so no sampling can miss a peak; a
    process that exits inside the block is not counted."""

    def __enter__(self) -> "PeakRss":
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass
        return self

    def __exit__(self, *exc) -> None:
        self.peak_mb = sum(_status_kb(p, "VmHWM:") for p in process_tree()) / 1024.0


def stop_spark_processes(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, shut the JVM gateway down and wait until the JVM
    and every Python worker it forked have exited."""
    from pyspark import SparkContext

    descendants = [p for p in process_tree() if p != os.getpid()]
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        # the gateway server exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except Exception:  # noqa: BLE001 - escalate, then wait again
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + timeout_s
    while True:
        alive = [p for p in descendants if os.path.exists(f"/proc/{p}") and _is_running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)


def _is_running(pid: int) -> bool:
    """False for zombies (exited, waiting to be reaped by their parent)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2 :][:1] != b"Z"


@dataclass
class Span:
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans at the benchmark's layer boundaries plus Spark task metrics per
    job group (read from the UI REST API on loopback).

    A disabled tracer records no spans, so the untraced run pays only a
    no-op context manager per span.
    """

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.layers: dict[str, dict[str, float]] = {}

    class _SpanCtx:
        def __init__(self, tracer: "Tracer", name: str, attrs: dict) -> None:
            self.tracer, self.name, self.attrs = tracer, name, attrs
            self.idx: int | None = None

        def __enter__(self):
            t = self.tracer
            if t.enabled:
                parent = t._stack[-1] if t._stack else None
                t.spans.append(Span(self.name, time.time(), parent=parent, attrs=self.attrs))
                self.idx = len(t.spans) - 1
                t._stack.append(self.idx)
            return self

        def __exit__(self, *exc) -> None:
            t = self.tracer
            if self.idx is not None:
                t.spans[self.idx].end = time.time()
                t._stack.pop()

    def span(self, name: str, **attrs) -> "Tracer._SpanCtx":
        return Tracer._SpanCtx(self, name, attrs)

    def layer_call(self, spark, name: str, fn):
        """Run ``fn()`` (which must force its result and return its output
        row count) under a span and a Spark job group named ``name``;
        record wall time, rows out and the group's task metrics."""
        sc = spark.sparkContext if spark is not None else None
        if sc is not None:
            sc.setJobGroup(name, name)
        cpu0 = time.process_time()
        t0 = time.perf_counter()
        try:
            with self.span(name):
                rows = fn()
        finally:
            wall = time.perf_counter() - t0
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
        rec = self.layers.setdefault(name, {"wall_s": 0.0, "rows_out": 0})
        rec["wall_s"] += wall
        rec["rows_out"] += int(rows)
        rec["process_cpu_s"] = rec.get("process_cpu_s", 0.0) + time.process_time() - cpu0
        if sc is not None:
            # the group's totals so far, so repeated calls are not double-counted
            rec.update(group_task_metrics(sc, name))
        return rec

    def dump(self, path: str, **extra) -> None:
        """Write the spans, the per-layer records and ``extra`` as JSON."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [
                        {
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "run_id": self.run_id,
                            **({"attrs": s.attrs} if s.attrs else {}),
                        }
                        for s in self.spans
                    ],
                    "layers": self.layers,
                    **extra,
                },
                fh,
                indent=1,
            )


def _rest(sc, path: str):
    with urllib.request.urlopen(
        f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}", timeout=30
    ) as resp:
        return json.load(resp)


def group_task_metrics(sc, group: str, timeout_s: float = 20.0) -> dict[str, float]:
    """Sum the task metrics of every job tagged ``group``. The status store
    is fed asynchronously by the listener bus, so poll until every job of
    the group has finished and its stages are visible."""
    job_ids = set(sc.statusTracker().getJobIdsForGroup(group))
    deadline = time.monotonic() + timeout_s
    while True:
        jobs = [j for j in _rest(sc, "jobs") if j["jobId"] in job_ids]
        done = len(jobs) == len(job_ids) and all(j["status"] != "RUNNING" for j in jobs)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in _rest(sc, "stages?status=complete") if s["stageId"] in stage_ids]
        expected = sum(j["numCompletedStages"] for j in jobs)
        if (done and len(stages) >= expected) or time.monotonic() > deadline:
            break
        time.sleep(0.1)
    return {
        "jobs": float(len(jobs)),
        "tasks": float(sum(s["numCompleteTasks"] for s in stages)),
        "task_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "task_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "shuffle_bytes": float(
            sum(s["shuffleReadBytes"] + s["shuffleWriteBytes"] for s in stages)
        ),
        "spill_bytes": float(
            sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages)
        ),
    }
