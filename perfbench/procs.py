"""The benchmark's process tree: this process, the JVM it launched and
the JVM's Python workers."""

from __future__ import annotations

import os
import signal
import time


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live process below ``root`` (default: this one)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root or os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def peak_rss_mb() -> float:
    """Summed peak resident set (VmHWM) of the whole tree."""
    total_kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def stop_spark(spark=None, timeout: float = 30.0) -> None:
    """Stop ``spark`` (or else the active SparkContext), shut the JVM
    gateway down, wait for the JVM to exit, then end and wait for
    anything still below us. The next ``get_spark()`` launches a fresh
    JVM."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except Exception:
                proc.kill()
                proc.wait()
    reap(timeout)


def reap(timeout: float) -> None:
    """SIGTERM every descendant, wait for them to go, SIGKILL what is
    left once ``timeout`` has passed."""
    pids = descendants()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + timeout
        while time.monotonic() < end:
            for pid in pids:
                try:
                    os.waitpid(pid, os.WNOHANG)  # reap our own zombies
                except ChildProcessError:
                    pass
            pids = [p for p in pids if _alive(p)]
            if not pids:
                return
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
