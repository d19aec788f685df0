"""Measurement probes owned by the benchmark: process-tree RSS sampling
and a Spark event-log reader for task metrics and for every streaming
progress event (the full ``durationMs`` and state-operator breakdown).

Progress comes from the event log rather than a Python
``StreamingQueryListener``: PySpark converts every listener event field
by field over py4j, which slowed the traced pass by about 20%.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from datetime import datetime

_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_S = 0.2  # RSS sampling period
RELIST_S = 1.0  # how often the sampler re-reads the process list


def _ppid(pid: int | str) -> int:
    with open(f"/proc/{pid}/stat") as f:
        stat = f.read()
    # the command field may contain spaces; the parent pid follows its ')'
    return int(stat[stat.rindex(")") + 2:].split()[1])


def descendants(root: int) -> list[int]:
    """Every process below ``root`` in the process tree."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            parent[int(name)] = _ppid(name)
        except OSError:
            continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _engine_processes(root: int) -> list[tuple[int, bool]]:
    """(pid, is_python) for the engine's processes under ``root``: the
    JVM (a direct child of ``root``) and the PySpark daemon with its
    forked workers. Transient helpers the JVM spawns are excluded: a
    vfork child shares the JVM's address space until it execs, so
    counting it would double the JVM's memory."""
    out = []
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ")
            if b"pyspark" in cmd:
                out.append((pid, True))
            elif b"java" in cmd.split(b" ", 1)[0] and _ppid(pid) == root:
                out.append((pid, False))
        except OSError:
            continue
    return out


def _resident_bytes(pid: int, proportional: bool) -> int:
    """RSS from statm, or PSS (pages shared with other processes split
    among them) from smaps_rollup. Forked Python workers share pages
    with their daemon, so they are counted by PSS; the JVM shares
    nothing with them and its RSS is the cheap read."""
    if not proportional:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


class RssSampler:
    """Samples the engine's resident memory (MB) every ``SAMPLE_S`` on a
    background thread while ``active``; ``peak_mb`` is the highest
    sample taken while active."""

    def __init__(self):
        self.peak_mb = 0.0
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        root, procs, listed = os.getpid(), [], 0.0
        while not self._stop.wait(SAMPLE_S):
            if not self.active:
                continue
            if time.monotonic() - listed > RELIST_S:
                procs, listed = _engine_processes(root), time.monotonic()
            total = 0
            for pid, is_python in procs:
                try:
                    total += _resident_bytes(pid, is_python)
                except (OSError, ValueError):
                    continue
            self.peak_mb = max(self.peak_mb, total / 1e6)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def progress_layers(progress: list[dict], n_passes: int) -> dict:
    """Micro-batch and state-store layers from the progress events of
    ``n_passes`` passes: totals per pass; the median batch time and the
    peaks as they are."""
    dur = [p.get("durationMs", {}) for p in progress]
    ops = [s for p in progress for s in p.get("stateOperators", [])]
    batch_ms = [d.get("triggerExecution", 0) for d in dur]

    def per_pass(values):
        return sum(values) / n_passes

    return {
        "pipeline.batches": len(progress) / n_passes,
        "pipeline.batch_ms_p50": statistics.median(batch_ms)
        if batch_ms else 0.0,
        "pipeline.planning_ms": per_pass(d.get("queryPlanning", 0)
                                         for d in dur),
        "pipeline.offsets_ms": per_pass(d.get("latestOffset", 0)
                                        + d.get("getBatch", 0) for d in dur),
        "pipeline.wal_ms": per_pass(d.get("walCommit", 0)
                                    + d.get("commitOffsets", 0) for d in dur),
        "pipeline.add_batch_ms": per_pass(d.get("addBatch", 0) for d in dur),
        "state.update_ms": per_pass(s.get("allUpdatesTimeMs", 0) for s in ops),
        "state.commit_ms": per_pass(s.get("commitTimeMs", 0) for s in ops),
        "state.removal_ms": per_pass(s.get("allRemovalsTimeMs", 0)
                                     for s in ops),
        "state.rows_updated": per_pass(s.get("numRowsUpdated", 0)
                                       for s in ops),
        "state.rows_peak": max((sum(s.get("numRowsTotal", 0)
                                    for s in p.get("stateOperators", []))
                                for p in progress), default=0),
        "state.mem_mb_peak": max((sum(s.get("memoryUsedBytes", 0)
                                      for s in p.get("stateOperators", []))
                                  for p in progress), default=0) / 1e6,
        "state.late_rows": per_pass(s.get("numRowsDroppedByWatermark", 0)
                                    for s in ops),
    }


def _windows_contain(windows, t_ms: float) -> bool:
    return any(a <= t_ms <= b for a, b in windows)


def _iso_ms(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1e3


def event_log_layers(log_dir: str,
                     windows: list[tuple[float, float]]) -> dict[str, float]:
    """Task-level execution totals and streaming progress layers from the
    Spark event log, counting only tasks launched and micro-batches
    started inside ``windows`` (epoch-ms intervals: the timed passes)."""
    tasks = cpu_ns = gc_ms = shuffle_b = spill_b = 0
    per_stage: dict[tuple, list[tuple[float, float]]] = {}
    progress = []
    # Spark 4 writes rolling logs: one eventlog_v2_<app>/ directory per
    # application, holding events_<n>_<app> files
    paths = [os.path.join(d, n) for d, _, names in os.walk(log_dir)
             for n in names if not n.startswith(("appstatus", "."))]
    for path in paths:
        with open(path) as f:
            for line in f:
                if "QueryProgressEvent" in line:
                    p = json.loads(line)["progress"]
                    if _windows_contain(windows, _iso_ms(p["timestamp"])):
                        progress.append(p)
                    continue
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info = ev.get("Task Info", {})
                launch, finish = info.get("Launch Time", 0), info.get(
                    "Finish Time", 0)
                if not _windows_contain(windows, launch):
                    continue
                tasks += 1
                m = ev.get("Task Metrics") or {}
                cpu_ns += m.get("Executor CPU Time", 0)
                gc_ms += m.get("JVM GC Time", 0)
                shuffle_b += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                spill_b += (m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0))
                key = (ev.get("Stage ID"), ev.get("Stage Attempt ID"))
                per_stage.setdefault(key, []).append((launch, finish))
    skew = 0.0
    if per_stage:
        longest = max(per_stage.values(),
                      key=lambda ts: max(b for _, b in ts)
                      - min(a for a, _ in ts))
        durs = [b - a for a, b in longest]
        med = statistics.median(durs)
        skew = max(durs) / med if med > 0 else 1.0
    return {
        "exec.tasks": tasks,
        "exec.cpu_s": cpu_ns / 1e9,
        "exec.shuffle_mb": shuffle_b / 1e6,
        "exec.spill_mb": spill_b / 1e6,
        "exec.skew": skew,
        "exec.gc_s": gc_ms / 1e3,
        **progress_layers(progress, max(len(windows), 1)),
    }
