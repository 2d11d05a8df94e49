"""Process-tree helpers over /proc: descendants, resident memory, and a
sampler thread that records the peak summed RSS of a tree."""

from __future__ import annotations

import os
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, str, int] | None:
    """(comm, state, ppid) of pid, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("utf-8", "replace")
    except OSError:
        return None
    lp, rp = raw.index("("), raw.rindex(")")
    rest = raw[rp + 2:].split()
    return raw[lp + 1:rp], rest[0], int(rest[1])


def descendants(root: int) -> list[int]:
    """Live (non-zombie) descendants of root, found through parent links."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None and st[1] != "Z":
            children.setdefault(st[2], []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[1] != "Z"


def describe(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        cmd = "?"
    return f"{pid} {cmd[:160]}"


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def is_jvm(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] == "java"


class RssSampler:
    """Samples the summed RSS of ``root`` and its descendants every
    ``interval`` seconds on a daemon thread, keeping the peaks of the
    total, the JVM processes and the Python processes."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.peak_total = self.peak_jvm = self.peak_python = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _sample(self) -> None:
        jvm = py = 0
        for pid in [self.root, *descendants(self.root)]:
            r = rss_bytes(pid)
            if is_jvm(pid):
                jvm += r
            else:
                py += r
        self.peak_total = max(self.peak_total, jvm + py)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_python = max(self.peak_python, py)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Poll until every pid has exited; return those still alive."""
    deadline = time.monotonic() + timeout
    left = [p for p in pids if alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [p for p in left if alive(p)]
    return left
