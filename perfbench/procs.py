"""Process accounting for the benchmark: peak RSS of the Spark JVM's
process tree, and a shutdown that waits until that tree has exited."""

from __future__ import annotations

import os
import subprocess
import threading
import time


SAMPLE_PERIOD_S = 0.25


def _stat(pid: int | str) -> tuple[int, int] | None:
    """(ppid, start time in clock ticks since boot) of a live process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[1]), int(fields[19])
    except (OSError, IndexError, ValueError):
        return None


def process_tree(root: int) -> dict[int, int]:
    """pid -> start time of ``root`` and its descendants."""
    kids: dict[int, list[int]] = {}
    start: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(d)) is not None:
            kids.setdefault(st[0], []).append(int(d))
            start[int(d)] = st[1]
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in start:
            out[pid] = start[pid]
            todo.extend(kids.get(pid, ()))
    return out


def _same_process(pid: int, start: int) -> bool:
    """True while ``pid`` is still the process that started at ``start``,
    not a later one that reused its number."""
    st = _stat(pid)
    return st is not None and st[1] == start


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak summed RSS of a process and its descendants (the Spark JVM and
    its Python workers), sampled every ``SAMPLE_PERIOD_S`` seconds."""

    def __init__(self, root: int):
        super().__init__(daemon=True)
        self.root = root
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            tree = process_tree(self.root)
            self.peak_kb = max(self.peak_kb, sum(_status_kb(p, "VmRSS:") for p in tree))
            self._stop_evt.wait(SAMPLE_PERIOD_S)

    def stop(self) -> float:
        """Stop sampling; the peak in MB (at least the JVM's own high-water mark)."""
        self.peak_kb = max(self.peak_kb, _status_kb(self.root, "VmHWM:"))
        self._stop_evt.set()
        self.join()
        return self.peak_kb / 1024.0


def stop_spark(spark, jvm: int) -> None:
    """Stop the session, end its JVM (pid ``jvm``) and wait until the JVM
    and its Python workers have exited. The tree is read just before the
    stop; a process is killed only if it is still the one seen then."""
    from pyspark import SparkContext

    tree = process_tree(jvm)
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid, start in tree.items():
        while _same_process(pid, start) and time.time() < deadline:
            time.sleep(0.1)
        if _same_process(pid, start):
            try:
                os.kill(pid, 9)
            except OSError:
                pass
