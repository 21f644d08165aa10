"""Spans around layer calls, Spark event-log attribution and memory sampling.

A span is recorded in the benchmark's own code around each call into a layer
of the program (name, start, end, parent span, operation id).  Entering a
span also sets the Spark job group to the span's id, so every job, stage and
task the event log records can be attributed to the innermost layer call
that launched it.  Spans stay in memory and are written out once, at the
end of the run.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    """Records spans and tags the Spark jobs each span launches with its id."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent, "op": op,
               "start": time.time(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._tag(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, span_id: int | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None if span_id is None else str(span_id))


class _NullTracer:
    def span(self, *_args, **_kw):
        return contextlib.nullcontext({})


NULL_TRACER = _NullTracer()


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: total duration minus the time its child spans cover."""
    out: dict[str, float] = {}
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    for s in spans:
        covered = _union(((c["start"], c["end"]) for c in children.get(s["id"], [])))
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def _union(intervals) -> float:
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


# -- Spark event log -------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def read_event_log(log_dir: str) -> dict:
    """Tasks (with their job group) from the single application log in
    ``log_dir``, plus job and stage counts per group."""
    # Spark 4 writes a directory of numbered event files per application.
    apps = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one application log in {log_dir}, found {apps}")
    files = [apps[0]] if os.path.isfile(apps[0]) else sorted(
        (os.path.join(apps[0], f) for f in os.listdir(apps[0]) if f.startswith("events_")),
        key=lambda p: int(os.path.basename(p).split("_")[1]))
    stage_group: dict[int, str | None] = {}
    tasks: list[dict] = []
    jobs: list[dict] = []
    for ev in _events(files):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            jobs.append({"group": group, "stages": len(ev.get("Stage IDs", []))})
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            acc = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", [])}
            sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
            tasks.append({
                "group": stage_group.get(ev["Stage ID"]),
                "launch": info["Launch Time"] / 1000.0,
                "finish": info["Finish Time"] / 1000.0,
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                "records_read": m.get("Input Metrics", {}).get("Records Read", 0),
                "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                "shuffle_records": sw.get("Shuffle Records Written", 0),
                "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
                "py_sent": int(acc.get(_PY_SENT) or 0),
                "py_recv": int(acc.get(_PY_RECV) or 0),
            })
    return {"jobs": jobs, "tasks": tasks}


def _events(files: list[str]):
    for path in files:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def layer_metrics(spans: list[dict], log: dict, cores: int) -> dict:
    """Total the jobs and task metrics launched inside operations, and
    attribute task time to the layer whose span launched it
    (``<layer>.task_run_s``).  The caller divides totals by operations.

    ``plans.exec`` spans (a traced run's extra materialisation of each ETL
    plan) are left out: of the totals, and of the operation time in which
    ``exec.driver_gap_s`` and ``exec.core_busy_frac`` are measured."""
    by_id = {s["id"]: s for s in spans}

    def op_layer(group: str | None) -> str | None:
        span = by_id.get(int(group)) if group is not None else None
        layer = span["name"] if span else None
        while span is not None and span["name"] != "op":
            span = by_id.get(span["parent"])
        return None if span is None else layer

    out: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        out[key] = out.get(key, 0.0) + v

    for j in log["jobs"]:
        if op_layer(j["group"]) not in (None, "plans.exec"):
            add("exec.jobs", 1)
            add("exec.stages", j["stages"])
    for t in log["tasks"]:
        layer = op_layer(t["group"])
        if layer in (None, "plans.exec"):
            continue  # set-up, warm-up and check jobs are not operations
        if layer == "sinks.upsert":
            add("sinks.bytes_written", t["output_bytes"])
        add("exec.tasks", 1)
        add(layer.split(".")[0] + ".task_run_s", t["run_s"])
        add("exec.task_run_s", t["run_s"])
        add("exec.task_cpu_s", t["cpu_s"])
        add("exec.gc_s", t["gc_s"])
        add("io.input_bytes", t["input_bytes"])
        add("io.records_read", t["records_read"])
        add("shuffle.write_bytes", t["shuffle_write_bytes"])
        add("shuffle.read_bytes", t["shuffle_read_bytes"])
        add("shuffle.records", t["shuffle_records"])
        add("spill.bytes", t["spill_bytes"])
        add("python.bytes_sent", t["py_sent"])
        add("python.bytes_received", t["py_recv"])
    holes = sorted((s["start"], s["end"]) for s in spans if s["name"] == "plans.exec")
    windows = [w for s in spans if s["name"] == "op" for w in _minus((s["start"], s["end"]), holes)]
    busy = sum(
        _union((max(a, t["launch"]), min(b, t["finish"])) for t in log["tasks"]
               if t["launch"] < b and t["finish"] > a)
        for a, b in windows
    )
    wall = sum(b - a for a, b in windows)
    out["exec.driver_gap_s"] = wall - busy
    out["exec.core_busy_frac"] = out.get("exec.task_run_s", 0.0) / (cores * wall) if wall else 0.0
    return out


def _minus(window: tuple[float, float], holes: list[tuple[float, float]]):
    """The parts of ``window`` outside the sorted, disjoint ``holes``."""
    a, b = window
    for s, e in holes:
        if e <= a or s >= b:
            continue
        if s > a:
            yield a, s
        a = max(a, e)
    if a < b:
        yield a, b


class PeakRss:
    """Samples the summed resident memory of this process and all its
    descendants (the JVM and its Python workers) and keeps the peak."""

    def __init__(self, period_s: float = 0.2) -> None:
        self.period_s, self.peak_bytes = period_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def sample(self) -> None:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                with open(f"/proc/{name}/statm") as fh:
                    rss[int(name)] = int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
            parent[int(name)] = int(fields[1])
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            for child, ppid in parent.items():
                if ppid == p and child not in tree:
                    tree.add(child)
                    frontier.append(child)
        self.peak_bytes = max(self.peak_bytes, sum(rss.get(p, 0) for p in tree))
