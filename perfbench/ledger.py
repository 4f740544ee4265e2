"""Measurement helpers that observe the program from outside.

* :class:`RssSampler` -- per-build peak summed resident memory (PSS) of
  this process and every descendant (the Spark JVM and its Python
  workers), read from ``/proc``.
* :class:`Tracer` -- one Spark job group per layer call, plus the layer's
  wall time and output row count.
* :func:`fold_event_log` -- folds the stage accumulables of an
  uncompressed Spark event log into per-job-group totals.
* :func:`cache_state` -- persistent RDD count and cached MB.
* :func:`stop_spark` -- stops the session, the JVM and every process
  they started, and waits for them.
"""

from __future__ import annotations

import glob
import json
import os
import signal
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024 * 1024
RSS_PERIOD_S = 0.5


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields follow the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(pid: int) -> dict[str, int]:
    """Resident bytes of ``pid`` and its descendants, summed per command.

    Each process counts its proportional set size (PSS): a page shared by
    n processes counts 1/n in each. Plain RSS would count the JVM twice
    for every short-lived child it forks (Hadoop's local file system
    forks ``chmod``), and the Python workers' pages shared with their
    forking daemon once per worker."""
    by_comm: dict[str, int] = {}
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
            rss = _pss_bytes(p)
        except OSError:
            continue
        by_comm[comm] = by_comm.get(comm, 0) + rss
    return by_comm


class RssSampler:
    """Samples the process tree's summed resident memory every
    ``RSS_PERIOD_S`` while the ``with`` block runs. :meth:`mark` ends one
    build: ``peak_mb`` is the median over builds of each build's largest
    sum, so one build's outlier does not set the run's value;
    ``peak_parts_mb`` splits the largest sample of all per command
    (python, java)."""

    def __init__(self):
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self.build_peaks: list[int] = []
        self._build_peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        parts = tree_rss_bytes(os.getpid())
        total = sum(parts.values())
        with self._lock:
            self._build_peak = max(self._build_peak, total)
            if total > self.peak:
                self.peak, self.peak_parts = total, parts

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(RSS_PERIOD_S)

    def mark(self) -> None:
        """End the current build's sampling window."""
        self._sample()
        with self._lock:
            self.build_peaks.append(self._build_peak)
            self._build_peak = 0

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return statistics.median(self.build_peaks or [self.peak]) / MB

    @property
    def peak_parts_mb(self) -> dict[str, float]:
        return {k: v / MB for k, v in self.peak_parts.items()}


@dataclass
class Span:
    build: int
    layer: str
    wall_s: float
    rows: int | None


@dataclass
class Tracer:
    """Sets a Spark job group ``"<build>|<layer>"`` around each layer
    call so the event log can attribute every job to one layer."""

    sc: object
    build: int = 0
    spans: list[Span] = field(default_factory=list)

    @contextmanager
    def layer(self, name: str):
        self.sc.setJobGroup(f"{self.build}|{name}", name)
        out: dict = {"rows": None}
        t0 = time.perf_counter()
        try:
            yield out
        finally:
            self.spans.append(
                Span(self.build, name, time.perf_counter() - t0, out["rows"])
            )
            self.sc.setJobGroup(f"{self.build}|-", "between layers")


@dataclass
class GroupTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    python_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


_WANTED = ('{"Event":"SparkListenerJobStart"',
           '{"Event":"SparkListenerStageCompleted"')


def fold_event_log(log_dir: str) -> dict[str, GroupTotals]:
    """job group -> totals over the COMPLETED stages of its jobs
    (skipped stages did no work). Python-worker time is the
    "time to run Python workers" SQL metric (milliseconds)."""
    stage_group: dict[int, str] = {}
    totals: dict[str, GroupTotals] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        with open(path) as f:
            for line in f:
                if not line.startswith(_WANTED):
                    continue
                ev = json.loads(line)
                if ev["Event"] == "SparkListenerJobStart":
                    group = ev.get("Properties", {}).get(
                        "spark.jobGroup.id") or "-"
                    totals.setdefault(group, GroupTotals()).jobs += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                    continue
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"], "-")
                acc = {a["Name"]: a.get("Value")
                       for a in info.get("Accumulables", [])}
                t = totals.setdefault(group, GroupTotals())
                t.stages += 1
                t.tasks += info["Number of Tasks"]
                t.run_s += _num(acc, "internal.metrics.executorRunTime") / 1e3
                t.python_s += _num(acc, "time to run Python workers") / 1e3
                t.shuffle_write_mb += _num(
                    acc, "internal.metrics.shuffle.write.bytesWritten") / MB
                t.spill_mb += _num(
                    acc, "internal.metrics.diskBytesSpilled") / MB
    return totals


def _num(acc: dict, name: str) -> float:
    v = acc.get(name)
    return float(v) if v is not None else 0.0


def cache_state(spark) -> tuple[int, float]:
    """(persistent RDD count, cached MB in memory and on disk)."""
    jsc = spark.sparkContext._jsc
    n = jsc.getPersistentRDDs().size()
    cached = 0
    for info in jsc.sc().getRDDStorageInfo():
        cached += info.memSize() + info.diskSize()
    return n, cached / MB


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes),
    then any descendant still alive; wait for each."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)
