"""Spans, Spark event-log attribution and peak-RSS sampling.

Spans are recorded from the benchmark's own files around each call into a
layer: name, start, end, parent span and run id, kept in memory and written
out as one JSON list when the run ends. While a span is open, Spark jobs run
under a job group named after it, so the event log attributes each task's
CPU, shuffle, spill and GC time to the innermost open span.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import uuid


class Tracer:
    """In-memory span recorder; ``spark`` gets one job group per span."""

    def __init__(self, spark):
        self.spark = spark
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "group": f"{name}#{len(self.spans)}",
            "start": time.perf_counter(),
            "end": None,
            "wall_start": time.time(),
            "wall_end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name, each span less the time its children cover.

    Children of one span never overlap (the benchmark is one closed-loop
    caller), so the covered time is the sum of the children's durations."""
    child_s: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def total_times(spans: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
    return out


ENGINE_KEYS = (
    "cpu_s", "gc_s", "spill_bytes", "shuffle_write_bytes", "input_bytes",
    "csv_input_bytes", "output_bytes", "output_records", "jobs",
    "files_written", "partitions_written",
)
# SQL metrics of a write command (InsertIntoHadoopFsRelationCommand), as the
# writer itself counted them
WRITE_METRICS = {"number of written files": "files_written",
                 "number of dynamic part": "partitions_written"}


def engine_metrics(event_log_dir: str, spans: list[dict]) -> dict[str, dict[str, float]]:
    """Task metrics from the Spark event log, summed per span name.

    A job belongs to the span whose job group it ran under. Jobs started by
    a thread that did not inherit the group (the streaming sink's batches)
    belong to the innermost span open at their submission time. A stage is
    a CSV scan when one of its RDD scopes names ``csv``. The files and
    partition directories a write produced come from the write command's
    own SQL metrics, owned like jobs through the SQL execution's job group
    or start time."""
    by_group = {s["group"]: s["name"] for s in spans if s.get("group")}
    ordered = sorted(spans, key=lambda s: s["wall_start"])

    def at(ms: float) -> str:
        t, name = ms / 1e3, "-"
        for s in ordered:  # the latest-opened span covering t is innermost
            if s["wall_start"] <= t <= s["wall_end"]:
                name = s["name"]
        return name

    stage_owner: dict[int, str] = {}
    csv_stages: set[int] = set()
    sql_owner: dict[int, str] = {}
    write_accums: dict[int, str] = {}  # accumulator id -> ENGINE_KEYS name
    accum_updates: list[tuple[int, int, float]] = []
    out: dict[str, dict[str, float]] = {}
    for f in os.listdir(event_log_dir):
        with open(os.path.join(event_log_dir, f)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    owner = by_group.get(group) or at(ev.get("Submission Time", 0))
                    for sid in ev.get("Stage IDs", []):
                        stage_owner[sid] = owner
                    _bucket(out, owner)["jobs"] += 1
                    for st in ev.get("Stage Infos", []):
                        for rdd in st.get("RDD Info", []):
                            if "csv" in (rdd.get("Scope") or "").lower():
                                csv_stages.add(st["Stage ID"])
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    if kind.endswith("Start"):
                        sql_owner[ev["executionId"]] = (
                            by_group.get(ev.get("jobGroupId")) or at(ev.get("time", 0)))
                    _write_accums(ev["sparkPlanInfo"], write_accums)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    accum_updates += [(ev["executionId"], a, v) for a, v in ev["accumUpdates"]]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sid = ev.get("Stage ID")
                    b = _bucket(out, stage_owner.get(sid, "-"))
                    b["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    b["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    read = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    b["input_bytes"] += read
                    if sid in csv_stages:
                        b["csv_input_bytes"] += read
                    om = m.get("Output Metrics") or {}
                    b["output_bytes"] += om.get("Bytes Written", 0)
                    b["output_records"] += om.get("Records Written", 0)
    for exec_id, accum, value in accum_updates:
        if accum in write_accums:
            _bucket(out, sql_owner.get(exec_id, "-"))[write_accums[accum]] += value
    return out


def _write_accums(plan: dict, found: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        if m["name"] in WRITE_METRICS:
            found[m["accumulatorId"]] = WRITE_METRICS[m["name"]]
    for child in plan.get("children", []):
        _write_accums(child, found)


def _bucket(out: dict, owner: str) -> dict[str, float]:
    if owner not in out:
        out[owner] = dict.fromkeys(ENGINE_KEYS, 0.0)
    return out[owner]


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(x) for x in fh.read().split()]
    except OSError:
        return []


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _mem_kb(path: str, field: str) -> int:
    try:
        with open(path) as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        return "python" in os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return False


def tree_kb(me: int) -> int:
    """Resident kB of this process, its direct children (the driver JVM)
    and its Python descendants (the workers). The workers are forks of one
    daemon and count their proportional set size, so shared pages count
    once. Other descendants are helpers the JVM spawns; until they exec
    they share the JVM's memory, so they are left out."""
    direct = set(_children(me)) | {me}
    kb = 0
    for p in tree_pids(me):
        if p in direct:
            kb += _mem_kb(f"/proc/{p}/status", "VmRSS:")
        elif _is_python(p):
            kb += _mem_kb(f"/proc/{p}/smaps_rollup", "Pss:")
    return kb


def cpu_steal_share() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


RSS_INTERVAL_S = 0.1


class RssSampler:
    """Peak resident memory of this process, the driver JVM and the Python
    workers, sampled from ``/proc`` while active. Each process counts its
    proportional set size, so pages that forked workers share count once."""

    def __init__(self):
        self.peak_kb = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            kb = tree_kb(me)
            self.peak_kb = max(self.peak_kb, kb)
            self.samples += 1
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
