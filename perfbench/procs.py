"""Process-tree bookkeeping from /proc: peak RSS of this Python process, the
JVM and the Python workers, process age, and waiting for children to end."""

from __future__ import annotations

import os
import signal
import threading
import time


def process_age_s() -> float:
    """Seconds since this process started (from /proc/self/stat)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _ppids() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                out[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return out


def descendants(root: int) -> list[int]:
    ppids = _ppids()
    kids: dict[int, list[int]] = {}
    for pid, ppid in ppids.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_ticks() -> dict[int, int]:
    """pid -> user + system clock ticks of this process and every live
    descendant. Children's totals (cutime) are left out: they land on the
    parent in one lump whenever a worker exits and is reaped."""
    out = {}
    me = os.getpid()
    for pid in [me] + descendants(me):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[pid] = int(fields[11]) + int(fields[12])
    return out


def cpu_s_between(before: dict[int, int], after: dict[int, int]) -> float:
    """CPU seconds the processes alive at ``after`` used since ``before``
    (a process started in between counts from its start)."""
    ticks = sum(t - before.get(pid, 0) for pid, t in after.items())
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Seconds the hypervisor ran something else on the CPUs of the machine
    (summed over CPUs) since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of this process and every descendant (the
    JVM and the Python workers); ``peak_mb`` is the highest sum seen."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self._peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def start(self) -> None:
        self._thread.start()

    def sample(self) -> None:
        me = os.getpid()
        self._peak_kib = max(self._peak_kib,
                             sum(_rss_kib(pid) for pid in [me] + descendants(me)))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_mb()

    def peak_mb(self) -> float:
        return self._peak_kib / 1024.0


def wait_children(timeout_s: float = 20.0) -> None:
    """Wait until every descendant has exited; SIGKILL what is left after
    ``timeout_s`` and give it five more seconds to go."""
    deadline = time.monotonic() + timeout_s
    killed = False
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:  # reap our own children
                pass
        except ChildProcessError:
            pass
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            if killed:
                return
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            killed, deadline = True, time.monotonic() + 5.0
        time.sleep(0.1)
