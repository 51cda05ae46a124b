"""The Kafka stand as a separate process, and /proc accounting that keeps
the stand out of the system-under-test's CPU and memory figures."""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
PR_SET_PDEATHSIG = 1
PR_SET_CHILD_SUBREAPER = 36


def _prctl():
    fn = ctypes.CDLL(None, use_errno=True).prctl
    fn.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    fn.restype = ctypes.c_int
    return fn


class Broker:
    """``tools/kafka_broker.py``, unchanged, on an ephemeral port."""

    def __init__(self, root: Path, partitions: int = 4):
        prctl = _prctl()  # resolved before fork; the child only calls it
        self.proc = subprocess.Popen(
            [sys.executable, "-u", str(root / "tools" / "kafka_broker.py"),
             "--port", "0", "--partitions", str(partitions)],
            stdout=subprocess.PIPE, text=True, cwd=root,
            preexec_fn=lambda: prctl(PR_SET_PDEATHSIG, signal.SIGTERM, 0, 0, 0),  # dies with the benchmark
        )
        line = self.proc.stdout.readline().strip()
        if not line.startswith("kafka stand broker on "):
            self.stop()
            raise RuntimeError(f"broker did not start: {line!r}")
        host, port = line.rsplit(" ", 1)[1].rsplit(":", 1)
        self.host, self.port = host, int(port)

    def cpu_s(self) -> float:
        return _cpu_ticks(self.proc.pid, children=True) / CLK_TCK

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses; fields resume after the last ')'
    return s[s.rindex(")") + 2:].split()


def _cpu_ticks(pid: int, children: bool) -> int:
    f = _stat_fields(pid)
    if f is None:
        return 0
    # fields[11..14] = utime stime cutime cstime (stat fields 14-17)
    n = int(f[11]) + int(f[12])
    return n + int(f[13]) + int(f[14]) if children else n


def process_tree(root_pid: int, exclude: set[int]) -> list[int]:
    """``root_pid`` and every descendant, minus ``exclude`` and theirs."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        if p in exclude:
            continue
        out.append(p)
        todo += kids.get(p, [])
    return out


def tree_cpu_s(root_pid: int, exclude: set[int]) -> float:
    """CPU seconds of the tree. Reaped children count through their live
    parent's cutime/cstime, except the root's own: the root reaps the
    stand, whose time must not count."""
    ticks = 0
    for p in process_tree(root_pid, exclude):
        ticks += _cpu_ticks(p, children=p != root_pid)
    return ticks / CLK_TCK


def steal_s() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK  # cpu user nice system idle iowait irq softirq steal


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except OSError:
        return 0


class RssPeak:
    """Samples the summed RSS of the tree every ``period`` seconds on a
    background thread; the tree is re-listed once a second to pick up
    new Python workers."""

    def __init__(self, root_pid: int, exclude: set[int], period: float = 0.05):
        self.root, self.exclude, self.period = root_pid, exclude, period
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssPeak":
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._t.join()

    def _run(self) -> None:
        pids, listed = [], 0.0
        while True:
            now = time.monotonic()
            if now - listed >= 1.0:
                pids, listed = process_tree(self.root, self.exclude), now
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))
            if self._stop.wait(self.period):
                return


def become_subreaper() -> None:
    """Adopt orphaned descendants (Spark's Python workers outlive the JVM
    by a moment) so that ``reap_descendants`` can wait for them."""
    if _prctl()(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def reap_descendants(timeout: float = 10.0) -> None:
    """Wait until every descendant has exited; kill what is left after
    ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            for p in process_tree(os.getpid(), set())[1:]:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
