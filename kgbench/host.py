"""Host facts, CPU steal and process-tree RSS, read from /proc."""

from __future__ import annotations

import contextlib
import os
import signal
import threading
import time


def cpu_times() -> list[int]:
    """Aggregate jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta)
    # field 8 of the cpu line is steal
    return 100.0 * delta[7] / total if total > 0 and len(delta) > 7 else 0.0


def ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    return 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait for the processes to exit; kill the ones still alive after
    ``timeout_s`` and wait for those too."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + timeout_s
        time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def proc_rss(pid: int) -> list[tuple[str, int]]:
    """Command name and resident bytes of one process, if it exists."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            rss = int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        with open(f"/proc/{pid}/comm") as f:
            return [(f.read().strip(), rss)]
    except OSError:
        return []


def tree_rss(roots: list[int]) -> dict[int, tuple[str, int]]:
    """Command name and resident bytes of ``roots`` and all their
    descendants, by pid."""
    kids = _children()
    out: dict[int, tuple[str, int]] = {}
    todo = list(roots)
    while todo:
        pid = todo.pop()
        if pid in out:
            continue
        for entry in proc_rss(pid):
            out[pid] = entry
            todo.extend(kids.get(pid, []))
    return out


class RssSampler:
    """Samples, on a background thread, the RSS of the Python driver, the
    JVM it launched and the JVM's Python worker processes, and keeps the
    peak of their sum since the last ``reset`` with its split."""

    def __init__(self, driver_pid: int, jvm_pid: int, interval_s: float = 0.1) -> None:
        self.driver_pid = driver_pid
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak = 0
        self.detail: dict = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self, reset: bool = False) -> None:
        procs = tree_rss([self.jvm_pid])
        java = procs.pop(self.jvm_pid, ("java", 0))[1]
        # Python processes only: a child the JVM forks to run a command
        # shares the JVM's pages until it execs, and counting it would add
        # the JVM's RSS a second time
        python = [rss for comm, rss in procs.values() if comm.startswith("python")]
        python += [rss for _c, rss in proc_rss(self.driver_pid)]
        total = java + sum(python)
        with self._lock:
            if reset or total > self.peak:
                self.peak = total
                self.detail = {
                    "java_mb": java / (1 << 20),
                    "python_procs": len(python),
                    "python_mb": sum(python) / (1 << 20),
                }

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def reset(self) -> None:
        self._sample(reset=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
