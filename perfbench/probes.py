"""Measurements taken from outside the engine: spans, CPU, heap, event log.

Spans are kept in memory and written once at the end of a run.  CPU time
is read from ``/proc`` for this Python process plus the driver JVM and
its descendants, with the JVM's JIT compiler threads counted apart.  Task time, shuffle and spill come from a Spark event
log parsed after the session stops.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024
# HotSpot's JIT compiler threads ("C2 CompilerThread0", ...), as the
# kernel's 15-character thread names start.
JIT_THREADS = ("C1 Compiler", "C2 Compiler")


class Spans:
    """In-memory spans: (name, start_s, end_s, parent), times relative to
    the process start."""

    def __init__(self, t0: float) -> None:
        self.t0 = t0
        self.items: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        start = time.perf_counter()
        self._stack.append(name)
        try:
            yield
        finally:
            self._stack.pop()
            self.add(name, start, time.perf_counter(), parent)

    def add(self, name: str, start: float, end: float, parent: str | None) -> None:
        self.items.append({
            "name": name,
            "start": round(start - self.t0, 6),
            "end": round(end - self.t0, 6),
            "parent": parent,
        })


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK_TCK


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _cpu_ticks(pid: int) -> int:
    """utime + stime + reaped children's time of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and its descendants."""
    kids = _children()
    todo, tree = [root_pid], []
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, []))
    return tree


def running(pid: int) -> bool:
    """Whether ``pid`` is a process that has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except OSError:
        return False


def jit_cpu_s(root_pid: int) -> float:
    """CPU seconds of the JIT compiler threads of ``root_pid`` and its
    descendants.  A thread that has exited drops out of this sum, so the
    JVM must keep its compiler threads (``-XX:-UseDynamicNumberOfCompilerThreads``)."""
    ticks = 0
    for pid in process_tree(root_pid):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            name, fields = stat[stat.index("(") + 1:].rsplit(")", 1)
            if name.startswith(JIT_THREADS):
                ticks += sum(int(x) for x in fields.split()[11:13])
    return ticks / CLK_TCK


def cpu_s(root_pid: int) -> float:
    """CPU seconds of this process plus ``root_pid`` and its descendants,
    not counting JIT compilation: it is warm-up that a long-lived session
    pays once, and it still runs at a varying pace after several warm-up
    passes (about a third of the JVM's CPU in the timed part of ``batch``),
    so it would dominate the run-to-run spread."""
    own = os.times()
    tree = sum(_cpu_ticks(p) for p in process_tree(root_pid)) / CLK_TCK
    return own.user + own.system + tree - jit_cpu_s(root_pid)


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def live_heap_mb(spark) -> float:
    """Driver JVM heap in use right after a garbage collection."""
    jvm = spark.sparkContext._jvm
    for _ in range(2):
        jvm.java.lang.System.gc()
    time.sleep(0.5)
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return usage.getHeapMemoryUsage().getUsed() / MB


def steal_s() -> float:
    """CPU time stolen from this virtual machine by its host, all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def event_log_totals(log_dir: str, groups: set[str]) -> dict[str, float]:
    """Stage, task, shuffle and spill totals of the jobs whose job group is
    in ``groups``, from the uncompressed event log files under ``log_dir``
    (a rolling log is a directory of parts)."""
    paths = sorted(
        os.path.join(d, name) for d, _, names in os.walk(log_dir) for name in names
        if not name.startswith(("appstatus_", "."))
    )

    def events():
        for path in paths:
            with open(path) as f:
                for line in f:
                    yield json.loads(line)

    stage_ids: set[int] = set()
    for ev in events():
        if ev.get("Event") == "SparkListenerJobStart":
            if (ev.get("Properties") or {}).get("spark.jobGroup.id") in groups:
                stage_ids.update(ev["Stage IDs"])
    stages = tasks = 0
    run_ms = read_b = write_b = spill_b = 0
    for ev in events():
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            stages += ev["Stage Info"]["Stage ID"] in stage_ids
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_ids:
            m = ev.get("Task Metrics") or {}
            tasks += 1
            run_ms += m.get("Executor Run Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            write_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {
        "stages": stages,
        "tasks": tasks,
        "task_s": run_ms / 1000.0,
        "shuffle_read_mb": read_b / MB,
        "shuffle_write_mb": write_b / MB,
        "spill_mb": spill_b / MB,
    }
