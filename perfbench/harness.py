"""Measurement plumbing shared by the workloads: spans, Spark job ids,
Python-worker peak RSS, and digest helpers. Nothing here reaches into
the program; every probe sits around a public call."""

from __future__ import annotations

import contextlib
import json
import os
import signal
import statistics
import subprocess
import threading
import time


class Tracer:
    """In-memory spans (id, parent, name, start, end) around calls into
    the program's layers; written out once, when the run ends. Disabled,
    ``span`` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class JobIds:
    """Counts Spark jobs started between two points, from the status
    tracker's job ids (exact; includes AQE stage jobs)."""

    def __init__(self, spark):
        self._tracker = spark.sparkContext.statusTracker()

    def last(self) -> int:
        ids = self._tracker.getJobIdsForGroup()
        return max(ids) if ids else -1


def _ppid(pid: str) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            pp = _ppid(name)
            if pp is not None:
                children.setdefault(pp, []).append(int(name))
    return children


def descendants(root: int | None = None) -> list[int]:
    """Pids of every process below ``root`` (default: this process)."""
    children = _children()
    out, todo = [], [os.getpid() if root is None else root]
    while todo:
        for c in children.get(todo.pop(), []):
            todo.append(c)
            out.append(c)
    return out


def spark_python_workers(root: int | None = None) -> list[int]:
    """Pids of the Spark Python worker processes (daemon and forked
    workers) below this process."""
    out = []
    for c in descendants(root):
        argv = _cmdline(c).split(b"\0")
        if argv and b"python" in os.path.basename(argv[0]) and any(
            a.startswith((b"pyspark.", b"crawl4ai_spark.worker_daemon"))
            for a in argv[1:]
        ):
            out.append(c)
    return out


def _stat(pid: int) -> tuple[str, str] | None:
    """(state, start time) of a process, ``None`` once it is gone; the
    start time tells a reused pid from the original."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return fields[0], fields[19]
    except (OSError, IndexError):
        return None


def _wait_gone(procs: dict[int, str], deadline: float) -> dict[int, str]:
    """Poll until every (pid, start time) is gone, zombies reaped too, or
    the deadline passes; reap the ones that are this process's children.
    Returns the ones left."""
    while True:
        for pid in procs:
            with contextlib.suppress(ChildProcessError):
                os.waitpid(pid, os.WNOHANG)
        procs = {p: t for p, t in procs.items() if (st := _stat(p)) and st[1] == t}
        if not procs or time.monotonic() >= deadline:
            return procs
        time.sleep(0.05)


def _below_this_process() -> dict[int, str]:
    return {p: st[1] for p in descendants() if (st := _stat(p))}


def stop_spark(spark=None, timeout: float = 20.0) -> None:
    """Stop the session, then the JVM it runs in and every process below
    this one (the Python worker daemon and its workers), and wait until
    each has ended: no process of a run outlives it. Safe to call when the
    session or the JVM never started."""
    from pyspark import SparkContext

    procs = _below_this_process()
    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        jvm = getattr(gateway, "proc", None)
        SparkContext._gateway = SparkContext._jvm = None
        if gateway is not None:
            gateway.shutdown()
        if jvm is not None:
            # the gateway JVM exits when its stdin reaches end of file
            if jvm.stdin is not None:
                jvm.stdin.close()
            try:
                jvm.wait(timeout)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        procs.update(_below_this_process())
        deadline = time.monotonic() + 5.0
        for sig in (signal.SIGTERM, signal.SIGKILL):
            procs = _wait_gone(procs, deadline)
            for pid in procs:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
            deadline = time.monotonic() + timeout
        procs = _wait_gone(procs, deadline)
        # a zombie left to init is not running; init reaps it
        procs = [p for p in procs if (st := _stat(p)) and st[0] != "Z"]
        if procs:
            raise RuntimeError(f"processes still running after the run: {sorted(procs)}")


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


class WorkerRss:
    """Largest peak RSS (``VmHWM``) of any Spark Python worker during a
    phase. ``start`` resets every worker's high-water mark by writing 5 to
    ``clear_refs`` so warm-up peaks are excluded; a sampler thread keeps
    the maximum, so workers that exit mid-phase still count."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        for pid in spark_python_workers():
            self.peak_kb = max(self.peak_kb, _vm_hwm_kb(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> None:
        for pid in spark_python_workers():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass
        self.peak_kb = 0
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self._sample()
        return self.peak_kb / 1024.0


def median(xs) -> float:
    return float(statistics.median(xs))


def xor_digest(values) -> int:
    """Order-free digest of signed 64-bit hashes (the driver-side twin of
    Spark's ``bit_xor(xxhash64(...))``)."""
    out = 0
    for v in values:
        out ^= int(v) & 0xFFFFFFFFFFFFFFFF
    return out - (1 << 64) if out >= 1 << 63 else out
