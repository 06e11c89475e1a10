"""Host noise fingerprint, process-tree RSS sampling and process cleanup."""

from __future__ import annotations

import hashlib
import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def md5_probe_s() -> float:
    """Seconds to md5 a fixed 64 MiB buffer: a CPU-speed fingerprint
    that moves with steal and contention, not with the engine."""
    buf = b"\x5a" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.md5()
    for _ in range(64):
        h.update(buf)
    h.hexdigest()
    return time.perf_counter() - t0


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces/parens: fields resume after the last ')'.
        out[int(d)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    ppid = _ppid_map()
    kids: dict[int, list[int]] = {}
    for p, pp in ppid.items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Peak summed RSS of this process's descendants (the JVM and its
    Python workers), sampled every 0.25 s while active."""

    INTERVAL_S = 0.25

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(descendants(me)))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _reap_zombies() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def reap_descendants(timeout: float = 30.0) -> None:
    """Wait for every descendant process to end; TERM then KILL any that
    outlive ``timeout``."""
    me = os.getpid()
    for sig, wait in ((None, timeout), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if sig is not None:
            for p in descendants(me):
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
        deadline = time.monotonic() + wait
        while time.monotonic() < deadline:
            _reap_zombies()
            if not descendants(me):
                return
            time.sleep(0.2)
