"""Measurement helpers shared by the workloads: percentiles, spans,
peak-RSS sampling from /proc, query-progress and Spark event-log
summaries. Nothing here imports the program under test."""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time

TAIL_PERCENTILES = (99.9, 99.0, 98.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty sequence."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(p / 100.0 * len(s) + 0.5)) - 1))
    return float(s[k])


def tail(values) -> tuple[float, float]:
    """(percentile, value) for the highest percentile that has at least
    ten samples beyond it; p50 when there are fewer than 20 samples."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n * (1.0 - p / 100.0) >= 10:
            return p, percentile(values, p)
    return 50.0, percentile(values, 50.0)


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


class Spans:
    """In-memory span recorder for the main thread: (id, name, start,
    end, parent). Written out once, when the benchmark ends. A disabled
    recorder still times each span (``.seconds``) but keeps nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, rec: Spans, name: str):
        self.rec, self.name = rec, name

    def __enter__(self):
        rec = self.rec
        self.parent = rec._stack[-1] if rec._stack else None
        self.id = len(rec.spans) + len(rec._stack)
        rec._stack.append(self.id)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        self.seconds = end - self.start
        rec = self.rec
        rec._stack.pop()
        if rec.enabled:
            rec.spans.append({"id": self.id, "name": self.name, "start": self.start,
                              "end": end, "parent": self.parent})
        return False


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                data = f.read()
        except OSError:
            continue
        # comm may hold spaces/parens: ppid is the 2nd field after ')'
        rest = data.rsplit(")", 1)[1].split()
        kids.setdefault(int(rest[1]), []).append(int(stat.split("/")[2]))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak of the summed RSS of this process, the JVM it launched and
    the Python workers under the JVM, sampled every `interval` s.

    Other descendants are left out: the JVM forks short-lived helpers
    (file-permission shell calls) whose RSS, until they exec, repeats
    the JVM's own and would double-count it in a sample that lands on
    one."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        me = os.getpid()
        kids = _children_map()
        pids = [me] + kids.get(me, [])
        todo = list(kids.get(me, []))
        while todo:
            for child in kids.get(todo.pop(), []):
                todo.append(child)
                if _comm(child).startswith("python"):
                    pids.append(child)
        self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / 2**20


# ---------------------------------------------------------------------------
# StreamingQueryProgress summaries
# ---------------------------------------------------------------------------

def progress_dicts(query) -> list[dict]:
    """The query's recentProgress as plain dicts (readable after stop)."""
    return [json.loads(p.json) for p in query.recentProgress]


def progress_end_s(p: dict) -> float:
    """Wall-clock end of a micro-batch: trigger start + triggerExecution."""
    from datetime import datetime

    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    epoch = (start - datetime(1970, 1, 1)).total_seconds()
    return epoch + p.get("durationMs", {}).get("triggerExecution", 0) / 1000.0


def engine_metrics(progress: list[dict]) -> dict[str, float]:
    """Per-batch engine costs over batches that read input."""
    busy = [p for p in progress if p.get("numInputRows", 0) > 0]

    def dur(key):
        return median([p["durationMs"].get(key, 0) for p in busy])

    return {
        "engine.batches": float(len(busy)),
        "engine.rows_per_batch_p50": median([p["numInputRows"] for p in busy]),
        "engine.addBatch_ms_p50": dur("addBatch"),
        "engine.queryPlanning_ms_p50": dur("queryPlanning"),
        "engine.latestOffset_ms_p50": dur("latestOffset"),
        "engine.walCommit_ms_p50": dur("walCommit"),
        "engine.commitOffsets_ms_p50": dur("commitOffsets"),
    }


def committed_source_files(checkpoint: str) -> dict[int, int]:
    """Input files per committed micro-batch of a single-file-source
    query, read from its checkpoint: the offset log maps a micro-batch
    to the file source's log offset, which has its own numbering (a
    micro-batch without new files does not advance it)."""
    commits = os.path.join(checkpoint, "commits")
    if not os.path.isdir(commits):
        return {}
    done = sorted(int(n) for n in os.listdir(commits) if n.isdigit())
    files_at: dict[int, set] = {}
    src = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(src) if os.path.isdir(src) else []:
        if name.startswith("."):
            continue
        with open(os.path.join(src, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    files_at.setdefault(e["batchId"], set()).add(e["path"])
    out, prev = {}, -1
    for m in done:
        with open(os.path.join(checkpoint, "offsets", str(m))) as f:
            log_offset = json.loads(f.read().splitlines()[2])["logOffset"]
        out[m] = sum(len(files_at.get(i, ())) for i in range(prev + 1, log_offset + 1))
        prev = max(prev, log_offset)
    return out


def state_ops(progress: list[dict]) -> list[dict]:
    return [op for p in progress for op in p.get("stateOperators", [])]


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def event_log_metrics(log_dir: str) -> dict[str, float]:
    """Task totals from a Spark event log directory (SparkListenerTaskEnd
    events); task_skew is max / median task run time in the stage with
    the largest total run time."""
    run_ms = cpu_ns = gc_ms = sw = sr = spill = 0
    tasks = 0
    by_stage: dict[tuple, list[int]] = {}
    paths = [os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names
             if not n.startswith(".")]
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                m = ev.get("Task Metrics") or {}
                tasks += 1
                r = m.get("Executor Run Time", 0)
                run_ms += r
                cpu_ns += m.get("Executor CPU Time", 0)
                gc_ms += m.get("JVM GC Time", 0)
                sw += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                rd = m.get("Shuffle Read Metrics") or {}
                sr += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                key = (ev.get("Stage ID"), ev.get("Stage Attempt ID"))
                by_stage.setdefault(key, []).append(r)
    skew = 0.0
    if by_stage:
        heavy = max(by_stage.values(), key=sum)
        med = median(heavy)
        skew = max(heavy) / med if med > 0 else 0.0
    return {
        "spark.executor_run_s": run_ms / 1e3,
        "spark.executor_cpu_s": cpu_ns / 1e9,
        "spark.jvm_gc_s": gc_ms / 1e3,
        "spark.shuffle_write_mb": sw / 2**20,
        "spark.shuffle_read_mb": sr / 2**20,
        "spark.spill_mb": spill / 2**20,
        "spark.tasks": float(tasks),
        "spark.task_skew": skew,
    }


def dir_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under a sink directory, skipping hidden and
    metadata entries."""
    n = size = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for name in names:
            if name.startswith(("_", ".")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, name))
    return n, size
