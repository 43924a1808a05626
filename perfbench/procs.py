"""CPU time and memory of this process and all its descendants, read from
``/proc`` (the driver, the JVM it launches and the JVM's Python workers),
plus a shutdown helper that waits for every descendant to exit.

Memory is the proportional set size (PSS): resident pages, with each page
shared by k processes counted 1/k in each.  Summed RSS would count the
pages that forked Python workers share with their daemon once per worker,
so it would move with how many workers happen to be alive."""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_sample(root: int | None = None) -> tuple[float, float]:
    """(CPU seconds including reaped children, PSS bytes) over the tree."""
    cpu = pss = 0.0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is None:
            continue
        # after the name: state=0, ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
        cpu += sum(int(x) for x in f[11:15]) / _TICK
        pss += _pss_bytes(pid)
    return cpu, pss


class TreeMonitor:
    """``cpu_s`` and ``peak_pss`` cover only the intervals bracketed by
    :meth:`start` / :meth:`stop`; PSS is sampled by a background thread."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.cpu_s = 0.0
        self.peak_pss = 0.0
        self._cpu0: float | None = None
        self._active = False
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="tree-monitor", daemon=True)

    def _loop(self) -> None:
        while not self._halt.wait(self.interval):
            if self._active:
                self.peak_pss = max(self.peak_pss, tree_sample()[1])

    def __enter__(self) -> "TreeMonitor":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._halt.set()
        self._thread.join(timeout=5)

    def start(self) -> None:
        cpu, pss = tree_sample()
        self._cpu0 = cpu
        self.peak_pss = max(self.peak_pss, pss)
        self._active = True

    def stop(self) -> None:
        self._active = False
        cpu, pss = tree_sample()
        self.cpu_s += cpu - self._cpu0
        self.peak_pss = max(self.peak_pss, pss)


def reap_descendants(timeout: float = 30.0) -> None:
    """Wait for every descendant to exit; kill what is left at the timeout."""
    deadline = time.monotonic() + timeout
    while True:
        rest = [p for p in tree_pids() if p != os.getpid()]
        if not rest:
            return
        if time.monotonic() > deadline:
            for pid in rest:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 5.0
            timeout = 0.0
        for pid in rest:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)
