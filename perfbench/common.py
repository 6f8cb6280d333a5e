"""Measurement core shared by the workloads: statistics, the driver+JVM
RSS sampler, the calibration block, spans, the py4j call counter and
Spark's status REST API reader."""

from __future__ import annotations

import json
import math
import os
import platform
import re
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.request
from dataclasses import dataclass, field


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    if not values:
        raise ValueError("quantile of an empty sample")
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def hd_median(values: list[float]) -> float:
    """Harrell-Davis estimate of the median: a weighted mean of every
    order statistic, the i-th weighted by the Beta((n+1)/2, (n+1)/2)
    probability of ((i-1)/n, i/n]. On a few unlike samples (five
    catalogue queries, a few clusters of push times) the sample median is
    one sample's value and jumps with it; this estimate moves with all of
    them. The weights are integrated with Simpson's rule."""
    if not values:
        raise ValueError("median of an empty sample")
    s = sorted(values)
    n = len(s)
    a = (n + 1) / 2
    log_norm = math.lgamma(2 * a) - 2 * math.lgamma(a)

    def pdf(x: float) -> float:
        return math.exp(log_norm + (a - 1) * math.log(x * (1 - x))) if 0 < x < 1 else 0.0

    steps = 64
    weights = []
    for i in range(n):
        lo, h = i / n, 1 / (n * steps)
        inner = sum((4 if k % 2 else 2) * pdf(lo + k * h) for k in range(1, steps))
        weights.append((pdf(lo) + pdf(lo + steps * h) + inner) * h / 3)
    return sum(w * v for w, v in zip(weights, s)) / sum(weights)


def log(msg: str) -> None:
    """Progress line on stderr (stdout is kept for the result)."""
    print(f"perfbench: {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# Memory: peak RSS of this Python driver plus the JVM it launched.
# ---------------------------------------------------------------------------


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _proc_stat(pid: int) -> tuple[str, str, int] | None:
    """(command name, state, parent pid) of ``pid``; None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            head, tail = fh.read().rsplit(")", 1)
        fields = tail.split()
        return head.split("(", 1)[1], fields[0], int(fields[1])
    except (OSError, IndexError, ValueError):
        return None


def _processes() -> dict[int, tuple[str, str, int]]:
    """``_proc_stat`` of every process."""
    out = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (stat := _proc_stat(int(entry))) is not None:
            out[int(entry)] = stat
    return out


def _java_children(pid: int) -> list[int]:
    return [p for p, (name, _, ppid) in _processes().items() if ppid == pid and "java" in name]


class RssSampler:
    """Samples driver + JVM RSS every ``interval`` seconds in a thread."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        jvms: list[int] = []
        next_scan = 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now >= next_scan:
                jvms = _java_children(me)
                next_scan = now + 1.0
            self.peak = max(self.peak, _rss_bytes(me) + sum(_rss_bytes(p) for p in jvms))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for child, (_, _, parent) in _processes().items():
        children.setdefault(parent, []).append(child)
    out, frontier = [], [pid]
    while frontier:
        kids = children.get(frontier.pop(), [])
        out += kids
        frontier += kids
    return out


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    stat = _proc_stat(pid)
    return stat is not None and stat[1] != "Z"


def stop_processes(timeout: float = 20.0) -> None:
    """Ends the JVM this process launched and every process under it
    (the Python worker daemon and its workers), and waits for each.

    ``SparkSession.stop`` leaves the JVM running until it sees its stdin
    close, which happens only after this process has exited, so without
    this the JVM outlives the run. Closing the pipe lets the JVM run its
    shutdown hooks; whatever is still running at ``timeout`` is killed.
    """
    from pyspark import SparkContext

    pids = _descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        # marks the client disconnected, so no later finalizer of a
        # Python-side proxy tries to reach the ended JVM
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    left = _wait_ended(pids, timeout)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not left:
            return
        for p in left:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        left = _wait_ended(left, 10.0)


def _wait_ended(pids: list[int], seconds: float) -> list[int]:
    """Polls until every pid has ended or ``seconds`` pass; returns the
    ones still running."""
    deadline = time.monotonic() + seconds
    left = [p for p in pids if _running(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [p for p in left if _running(p)]
    return left


_GC_LINE = re.compile(r"GC\(\d+\) .* (\d+)([KMG])->(\d+)([KMG])\(\d+[KMG]\)")
_GC_UNIT = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


def heap_after_gc_peak_mb(gc_log: str) -> float:
    """Largest heap occupancy right after a collection, from the JVM's
    ``-Xlog:gc`` lines (``GC(7) Pause Young ... 612M->85M(2048M) 4.1ms``):
    the live data the driver keeps, which the fixed heap size hides from
    RSS. 0 when the JVM logged no collection."""
    peak = 0.0
    try:
        with open(gc_log) as fh:
            for line in fh:
                m = _GC_LINE.search(line)
                if m:
                    peak = max(peak, int(m.group(3)) * _GC_UNIT[m.group(4)])
    except OSError:
        pass
    return peak


# ---------------------------------------------------------------------------
# Calibration block: what a reader needs to judge the host the run saw.
# ---------------------------------------------------------------------------


def _java_version() -> str:
    try:
        proc = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
        return (proc.stderr or proc.stdout).splitlines()[0].strip()
    except (OSError, subprocess.SubprocessError, IndexError):
        return "unknown"


def cpu_times() -> list[int]:
    """The host's aggregate CPU times from /proc/stat (user … steal)."""
    try:
        with open("/proc/stat") as fh:
            return [int(v) for v in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def calibration(loadavg_start: tuple[float, ...], cpu_start: list[int], master: str) -> dict:
    import pyspark

    cpu_end = cpu_times()
    delta = [b - a for a, b in zip(cpu_start, cpu_end)]
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": master,
        "loadavg_start": list(loadavg_start),
        "loadavg_end": list(os.getloadavg()),
        # share of CPU time the hypervisor gave to other guests during
        # the run: the host noise the run's times carry
        "steal_pct": 100.0 * delta[7] / sum(delta) if len(delta) == 8 and sum(delta) else None,
        "pyspark": pyspark.__version__,
        "java": _java_version(),
        "python": platform.python_version(),
    }


# ---------------------------------------------------------------------------
# Spans: kept in memory, written once at the end of a traced run.
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans with a name, layer, start, end and parent. ``enabled=False``
    records nothing, so untraced runs pay one attribute test per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            span = Span(len(self.spans), name, layer, start, end, parent, attrs)
            self.spans.append(span)
            return span.id

    def self_times(self) -> dict[str, float]:
        """Per layer: span time not covered by the span's children."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = 0.0
            cursor = s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor, s.start), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.layer] = out.get(s.layer, 0.0) + max(0.0, (s.end - s.start) - covered)
        return out


# ---------------------------------------------------------------------------
# py4j round trips: every Python→JVM call goes through send_command.
# ---------------------------------------------------------------------------


class Py4jCounter:
    """Counts Python→JVM commands while installed (traced runs only)."""

    def __init__(self) -> None:
        self.calls = 0
        self._orig = None

    def install(self) -> None:
        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command
        counter = self

        def send_command(conn, command, *args, **kwargs):
            counter.calls += 1
            return orig(conn, command, *args, **kwargs)

        self._orig = orig
        ClientServerConnection.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            from py4j.clientserver import ClientServerConnection

            ClientServerConnection.send_command = self._orig
            self._orig = None


# ---------------------------------------------------------------------------
# Spark status REST API (spark.ui.enabled=true in traced runs only).
# ---------------------------------------------------------------------------


class StatusApi:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as resp:  # noqa: S310 — local UI
            return json.loads(resp.read())

    def jobs(self) -> list[dict]:
        return self.get("jobs")

    def stages(self) -> dict[int, dict]:
        """Latest attempt of every stage, keyed by stage id."""
        out: dict[int, dict] = {}
        for st in self.get("stages"):
            sid = st["stageId"]
            if sid not in out or st["attemptId"] > out[sid]["attemptId"]:
                out[sid] = st
        return out


def spark_time(text: str | None) -> float | None:
    """Status-API timestamp ('2026-01-01T00:00:00.123GMT') → epoch s."""
    if not text:
        return None
    import datetime as dt

    stamp = dt.datetime.strptime(text.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return stamp.replace(tzinfo=dt.timezone.utc).timestamp()


def operator_totals(jobs: list[dict], stages: dict[int, dict]) -> dict:
    """Job/stage/task counts, job wall and executor-side stage metrics."""
    stage_ids = {sid for j in jobs for sid in j.get("stageIds", []) if sid in stages}
    used = [stages[s] for s in stage_ids if stages[s].get("status") == "COMPLETE"]
    intervals = sorted(
        (spark_time(j.get("submissionTime")), spark_time(j.get("completionTime")))
        for j in jobs
        if j.get("submissionTime") and j.get("completionTime")
    )
    wall, cursor = 0.0, None
    for lo, hi in intervals:
        lo = lo if cursor is None else max(lo, cursor)
        if hi > lo:
            wall += hi - lo
            cursor = hi
    return {
        "jobs": len(jobs),
        "stages": len(used),
        "tasks": sum(s.get("numCompleteTasks", 0) for s in used),
        "exec_s": wall,
        "executor_run_s": sum(s.get("executorRunTime", 0) for s in used) / 1000.0,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in used) / 1000.0,
        "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in used),
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in used),
        "intervals": intervals,
    }
