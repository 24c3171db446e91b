"""Process-tree bookkeeping from /proc: peak resident memory of the benchmark's
tree (driver Python, the Spark JVM, Python workers) and an orderly stop that
waits for every process the run started."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict:
    out: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(d))
    return out


def descendants(pid: int) -> list[int]:
    kids, out, stack = _children_map(), [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except OSError:
        return 0


class PeakRss:
    """Samples the summed RSS of this process and its descendants."""

    def __init__(self, period_s: float = 0.2):
        self.period = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def stop(self) -> int:
        """End sampling; the peak in bytes."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak

    def __exit__(self, *exc):
        self.stop()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids, timeout_s: float = 20.0) -> None:
    """Wait for ``pids`` to exit; SIGTERM, then SIGKILL, the ones that do not."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in pids:
                if _alive(p):
                    try:
                        os.kill(p, sig)
                    except OSError:
                        pass
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline and any(_alive(p) for p in pids):
            time.sleep(0.05)
        if not any(_alive(p) for p in pids):
            return
        timeout_s = 5.0


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM (it exits on stdin EOF) and wait
    until it and every Python worker are gone."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        wait_gone(pids)
