"""Measurement plumbing: the Spark session, peak memory, spans and the
offline event-log parser. Nothing here knows about a workload."""

from __future__ import annotations

import collections
import contextlib
import glob
import json
import os
import re
import signal
import statistics
import threading
import time

MASTER = "local[4]"
PAGE = os.sysconf("SC_PAGE_SIZE")


# -- processes and memory ------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = collections.defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                # comm may hold spaces; the fields after ')' are fixed
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids[int(fields[1])].append(int(stat.split("/")[2]))
    return kids


def process_tree(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE
    except OSError:
        return 0


class RssSampler:
    """Peak RSS of a process (the driver JVM) and, separately, the peak
    summed RSS of all its descendants (the Python daemon and workers),
    sampled every `interval` s."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root = root_pid
        self.interval = interval
        self.root_peak = 0
        self.children_peak = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            pids = process_tree(self.root)
            self.seen.update(pids)
            self.root_peak = max(self.root_peak, _rss_bytes(self.root))
            self.children_peak = max(
                self.children_peak, sum(_rss_bytes(p) for p in pids if p != self.root)
            )
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


# `[12.345s][info][gc] GC(7) Pause Young (Normal) (G1 Evacuation Pause) 412M->96M(1024M) 8.1ms`;
# the Remark and Cleanup pauses of a marking cycle free nothing and are skipped
_GC_LINE = re.compile(r"Pause (?:Young|Full).*?(\d+)([KMG])->(\d+)([KMG])\(\d+[KMG]\)")
_UNIT = {"K": 2**10, "M": 2**20, "G": 2**30}


def gc_peak_held_bytes(gc_log: str) -> int:
    """Largest heap occupancy right after a young or full collection, from
    the JVM's own GC log (`-Xlog:gc`): the heap still held once the
    collector has run, old-generation garbage it has not reclaimed yet
    included. 0 if no collection ran."""
    peak = 0
    with open(gc_log) as fh:
        for line in fh:
            m = _GC_LINE.search(line)
            if m:
                peak = max(peak, int(m.group(3)) * _UNIT[m.group(4)])
    return peak


# -- time ------------------------------------------------------------------


def _cpu_jiffies() -> tuple[int, int]:
    """(CPU time that ran work, CPU time the hypervisor stole) since boot,
    summed over this machine's CPUs, in jiffies (/proc/stat)."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


class Timer:
    """Times a region: `wall` seconds, and `s`, the wall time the region
    would take had the CPUs run whenever it asked them to: wall x
    busy / (busy + stolen), with busy and stolen the CPU time that ran
    work and that the hypervisor stole meanwhile. Steal reached 25 % of
    all CPU time in minute-long episodes on the 4-core virtual machine
    this benchmark was built on, stretching whole runs by 30 %."""

    def __enter__(self) -> "Timer":
        self._t0 = time.perf_counter()
        self._cpu0 = _cpu_jiffies()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t0
        busy, steal = (b - a for a, b in zip(self._cpu0, _cpu_jiffies()))
        self.steal_share = steal / (busy + steal) if busy + steal > 0 else 0.0
        self.s = self.wall * (1.0 - self.steal_share)


# -- session ---------------------------------------------------------------


class Session:
    """The benchmark's own SparkSession at local[4], with the engine's
    own heap default. The driver JVM logs its collections to `work/gc.log`
    for `peak_mem_gb`. With `event_log` it records the Spark event log
    (uncompressed, one file) under `work/eventlog` for `parse_event_log`."""

    def __init__(self, work: str, event_log: bool):
        self.work = work
        self.event_dir = os.path.join(work, "eventlog") if event_log else None
        self.gc_log = os.path.join(work, "gc.log")
        self.spark = None
        self.start_s = 0.0
        self.rss: RssSampler | None = None

    def start(self):
        from audiopro_essentia_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xlog:gc:file={self.gc_log}"
            ),
        }
        if self.event_dir:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        with Timer() as t:
            self.spark = get_spark(app_name="perfbench", master=MASTER, extra_conf=conf)
        self.start_s = t.s
        self.spark.sparkContext.setLogLevel("ERROR")
        self.rss = RssSampler(self._gateway_proc().pid).start()
        return self.spark

    @staticmethod
    def _gateway_proc():
        from pyspark import SparkContext

        return SparkContext._gateway.proc  # noqa: SLF001

    def peak_rss_gb(self) -> float:
        """Peak RSS of the driver JVM plus that of its Python workers."""
        return (self.rss.root_peak + self.rss.children_peak) / 2**30

    def jvm_heap_gb(self) -> float:
        return gc_peak_held_bytes(self.gc_log) / 2**30

    def workers_rss_gb(self) -> float:
        return self.rss.children_peak / 2**30

    def peak_mem_gb(self) -> float:
        """Peak heap the driver JVM held after a collection plus the peak
        RSS of its Python workers. Read after `stop`, once the GC log is
        complete. Unlike the JVM's RSS, which follows the heap size the
        collector picks, both parts follow what the program holds."""
        return self.jvm_heap_gb() + self.workers_rss_gb()

    def stop(self) -> None:
        """Stop Spark, end the JVM (it exits when its stdin closes) and
        wait until every process it started has ended."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        proc = self._gateway_proc()
        self.rss.stop()
        self.spark.stop()
        SparkContext._gateway.shutdown()  # noqa: SLF001
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        _reap(self.rss.seen - {proc.pid})
        self.spark = None


def _reap(pids: set[int], timeout: float = 15.0) -> None:
    deadline = time.monotonic() + timeout
    live = set(pids)
    while live:
        for p in list(live):
            try:
                os.kill(p, 0)
            except ProcessLookupError:
                live.discard(p)
        if not live:
            return
        if time.monotonic() > deadline:
            for p in live:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


# -- spans -------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent). A span also sets the
    Spark job description, so every job it launches can be keyed back to
    it in the event log."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self._stack.append(name)
        self.sc.setJobDescription(name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self.spans.append(rec)
            self._stack.pop()
            self.sc.setJobDescription(self._stack[-1] if self._stack else None)

    def duration(self, name: str) -> float:
        return next(s["end"] - s["start"] for s in self.spans if s["name"] == name)


# -- event log -----------------------------------------------------------------

PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"


def parse_event_log(event_dir: str) -> dict:
    """Per job description: task count, per-stage executor run times,
    shuffle bytes written, spill bytes, failed tasks and the Python
    worker init/run SQL metrics (declared `timing`, i.e. milliseconds,
    summed over tasks). Key None collects jobs with no description."""
    stage_desc: dict[int, str | None] = {}
    out: dict = collections.defaultdict(
        lambda: {
            "tasks": 0,
            "failed_tasks": 0,
            "stage_run_ms": collections.defaultdict(list),
            "shuffle_bytes": 0,
            "spill_bytes": 0,
            "py_init_ms": 0.0,
            "py_run_ms": 0.0,
        }
    )
    for path in glob.glob(os.path.join(event_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    for sid in ev["Stage IDs"]:
                        stage_desc[sid] = desc
                elif kind == "SparkListenerTaskEnd":
                    rec = out[stage_desc.get(ev["Stage ID"])]
                    rec["tasks"] += 1
                    if ev["Task End Reason"]["Reason"] != "Success":
                        rec["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    rec["stage_run_ms"][ev["Stage ID"]].append(
                        m.get("Executor Run Time", 0)
                    )
                    rec["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    for acc in ev["Task Info"].get("Accumulables", ()):
                        if acc.get("Name") == PY_INIT:
                            rec["py_init_ms"] += float(acc.get("Update", 0))
                        elif acc.get("Name") == PY_RUN:
                            rec["py_run_ms"] += float(acc.get("Update", 0))
    return out


def task_skew(rec: dict) -> float:
    """Slowest task / median task of the description's busiest stage."""
    if not rec["stage_run_ms"]:
        return 0.0
    runs = max(rec["stage_run_ms"].values(), key=sum)
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else 1.0
