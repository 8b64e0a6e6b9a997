"""Process-tree helpers read from /proc: peak memory of the benchmark
(driver Python, JVM, Python workers) and the check that every process
it started has ended."""

from __future__ import annotations

import os
import signal
import threading
import time


def _parent_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _parent_map(), [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pss_bytes(pid: int) -> int:
    """Proportional set size of ``pid`` and its descendants: pages
    shared by forked Python workers count once in total. A JVM child
    between its spawn and its exec still carries the JVM's command line
    and address space; it is skipped, or the JVM would count twice."""
    kids = _parent_map()
    total, todo = _pss_bytes(pid), [pid]
    while todo:
        parent = todo.pop()
        parent_cmd = _cmdline(parent)
        for child in kids.get(parent, []):
            todo.append(child)
            cmd = _cmdline(child)
            if cmd == parent_cmd and b"java" in cmd.split(b"\0", 1)[0]:
                continue
            total += _pss_bytes(child)
    return total


class MemSampler:
    """Samples the memory of this process and all its descendants on a
    background thread; ``peak_mb`` is the largest sum seen. Use as a
    context manager."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def stop_all(pids: set[int], timeout_s: float = 30.0) -> list[int]:
    """Wait until ``pids`` and every current descendant of this process
    have ended; SIGTERM, then SIGKILL, whatever is still alive after
    ``timeout_s``. Pass the descendants listed BEFORE shutting the JVM
    down: Python workers it forked are re-parented when it exits and
    no longer show as ours. Returns the pids that had to be signalled."""
    me = os.getpid()

    def alive() -> list[int]:
        _reap_zombies()
        return [p for p in set(pids) | set(descendants(me)) if _alive(p)]

    deadline = time.monotonic() + timeout_s
    while alive() and time.monotonic() < deadline:
        time.sleep(0.2)
    signalled = alive()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in alive():
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + 5.0
        while alive() and time.monotonic() < end:
            time.sleep(0.1)
    return signalled


def _reap_zombies() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass
