"""CPU time and peak RSS of a process tree, read from ``/proc``.

The benchmark's Python process is the root of the tree; in Spark local
mode its descendants are the JVM, the ``pyspark.daemon`` and the python
workers the daemon forks.  CPU is accounted as

    sum over live processes of (utime + stime + cutime + cstime)

taken at the start and at the end of a timed call.  A worker that exits
mid-call is reaped by its parent (the daemon, or the JVM for the daemon),
so its whole lifetime CPU moves into the parent's ``cutime``/``cstime``:
the end snapshot still contains it, and the start snapshot contained the
part it had used before the call, so the difference is exactly the CPU
spent during the call.  Hypervisor steal is not process CPU time, which
makes this the steal-robust companion of the wall-clock figures.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")


def parse_stat(text: str) -> tuple[int, float]:
    """``(ppid, cpu_seconds)`` from the text of ``/proc/<pid>/stat``.

    ``cpu_seconds`` is utime + stime + cutime + cstime.  The command
    name (field 2) may contain spaces and parentheses, so the fields are
    split after its last ``)``."""
    rest = text.rsplit(")", 1)[1].split()
    # rest[0] is field 3 (state); utime..cstime are fields 14..17
    ppid = int(rest[1])
    ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
    return ppid, ticks / CLK_TCK


def parse_hwm_kb(status_text: str) -> int | None:
    """VmHWM in kB from the text of ``/proc/<pid>/status``."""
    for line in status_text.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return None


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process exited between listing and reading
        return None


def snapshot(proc: str = "/proc") -> dict[int, tuple[int, float]]:
    """``{pid: (ppid, cpu_seconds)}`` for every readable process."""
    out = {}
    for d in os.listdir(proc):
        if not d.isdigit():
            continue
        text = _read(f"{proc}/{d}/stat")
        if text is None:
            continue
        try:
            out[int(d)] = parse_stat(text)
        except (IndexError, ValueError):
            continue
    return out


def host_ticks(proc: str = "/proc") -> tuple[int, int]:
    """``(steal, total)`` clock ticks of all CPUs since boot, from the
    first line of ``/proc/stat``; ``(0, 0)`` where it cannot be read."""
    text = _read(f"{proc}/stat")
    if not text:
        return 0, 0
    fields = [int(x) for x in text.split("\n", 1)[0].split()[1:]]
    # user nice system idle iowait irq softirq steal (guest* are in user)
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def tree_pids(snap: dict[int, tuple[int, float]], root: int) -> list[int]:
    """``root`` and all its descendants in ``snap``."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _cpu) in snap.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in snap:
            out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def tree_cpu_s(snap: dict[int, tuple[int, float]], root: int) -> float:
    """Total CPU seconds (own + reaped children) of the tree at ``root``."""
    return sum(snap[pid][1] for pid in tree_pids(snap, root))


class TreeSampler:
    """CPU delta and per-process VmHWM peaks of the tree at ``root``
    over one timed call.

    ``start()`` resets the high-water mark of every process in the tree
    (``/proc/<pid>/clear_refs`` value 5) and starts a thread that reads
    VmHWM at ``interval`` seconds, so a worker that exits mid-call still
    contributes its peak.  Where the reset is not permitted the lifetime
    peak is read instead, which can only overstate.  ``stop()`` returns
    the call's figures."""

    def __init__(self, root: int | None = None, interval: float = 0.25,
                 proc: str = "/proc"):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self.proc = proc
        self._peaks: dict[int, tuple[bool, int]] = {}
        self._workers: set[int] = set()
        self._cpu0 = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _tick(self) -> None:
        snap = snapshot(self.proc)
        for pid in tree_pids(snap, self.root):
            if pid == self.root:
                continue
            comm = _read(f"{self.proc}/{pid}/comm")
            status = _read(f"{self.proc}/{pid}/status")
            if comm is None or status is None:
                continue
            hwm = parse_hwm_kb(status)
            if hwm is None:
                continue
            prev = self._peaks.get(pid)
            if prev is None or hwm > prev[1]:
                self._peaks[pid] = ("java" in comm, hwm)
            # workers are forked by the pyspark daemon, whose parent is
            # the JVM; the daemon itself is not a worker
            if "java" not in comm and snap[pid][0] in self._peaks \
                    and not self._peaks[snap[pid][0]][0]:
                self._workers.add(pid)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._tick()

    def start(self) -> "TreeSampler":
        snap = snapshot(self.proc)
        for pid in tree_pids(snap, self.root):
            if pid == self.root:
                continue
            try:
                with open(f"{self.proc}/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass  # lifetime peak: an overstatement, never an undercount
        self._peaks = {}
        self._workers = set()
        self._cpu0 = tree_cpu_s(snap, self.root)
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> dict:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5.0)
        self._tick()
        cpu1 = tree_cpu_s(snapshot(self.proc), self.root)
        workers = [kb for java, kb in self._peaks.values() if not java]
        jvm = [kb for java, kb in self._peaks.values() if java]
        return {
            "cpu_s": cpu1 - self._cpu0,
            "peak_worker_rss_mb": max(workers) / 1024.0 if workers else 0.0,
            "peak_jvm_rss_mb": max(jvm) / 1024.0 if jvm else 0.0,
            "python_workers": len(self._workers),
        }

