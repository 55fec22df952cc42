"""Spans, self time and the outside-in layer readers of a traced run.

Spans are kept in memory and written once, at exit.  The benchmark
records its own spans (a job, its construction, its action); the Spark
jobs and stages that each call started are added below them from the
REST API's submit and complete times.  Nothing here reaches into the
program: the layer numbers come from Spark's REST API and from a
benchmark-registered ``StreamingQueryListener``.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.request
from dataclasses import asdict, dataclass
from datetime import datetime, timezone


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float
    run: str


class Tracer:
    """In-memory span recorder.  ``enabled=False`` records nothing, so
    untraced runs pay one attribute test per span."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []

    def add(self, name: str, layer: str, start: float, end: float, parent: int | None = None) -> int:
        if not self.enabled:
            return -1
        span = Span(len(self.spans), parent, name, layer, start, end, self.run_id)
        self.spans.append(span)
        return span.id

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Attribute every instant of every root span to the deepest span
    covering it, and sum per layer.  Children are clipped to their
    parent, so overlapping siblings are counted once and the layer
    totals add up exactly to the summed root durations."""
    by_id = {s.id: s for s in spans}
    depth: dict[int, int] = {}

    def depth_of(s: Span) -> int:
        if s.id not in depth:
            depth[s.id] = 0 if s.parent is None else depth_of(by_id[s.parent]) + 1
        return depth[s.id]

    def root_of(s: Span) -> Span:
        while s.parent is not None:
            s = by_id[s.parent]
        return s

    def clipped(s: Span) -> tuple[float, float]:
        lo, hi = s.start, s.end
        p = s
        while p.parent is not None:
            p = by_id[p.parent]
            lo, hi = max(lo, p.start), min(hi, p.end)
        return lo, hi

    trees: dict[int, list[Span]] = {}
    for s in spans:
        trees.setdefault(root_of(s).id, []).append(s)
    totals: dict[str, float] = {}
    for members in trees.values():
        ivals = [(clipped(s), depth_of(s), s.layer) for s in members]
        points = sorted({p for (lo, hi), _, _ in ivals if hi > lo for p in (lo, hi)})
        for a, b in zip(points, points[1:]):
            mid = (a + b) / 2
            active = [(d, layer) for (lo, hi), d, layer in ivals if lo <= mid < hi]
            if active:
                layer = max(active)[1]
                totals[layer] = totals.get(layer, 0.0) + (b - a)
    return totals


# ---------------------------------------------------------------- REST


def rest_time(s: str | None) -> float | None:
    """'2026-01-02T03:04:05.678GMT' -> epoch seconds."""
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(tzinfo=timezone.utc).timestamp()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


class SparkRest:
    def __init__(self, ui_url: str, app_id: str):
        self.base = f"{ui_url.rstrip('/')}/api/v1/applications/{app_id}"

    def jobs(self) -> list[dict]:
        return _get(f"{self.base}/jobs")

    def stages(self) -> list[dict]:
        return _get(f"{self.base}/stages")

    def sql(self) -> list[dict]:
        return _get(f"{self.base}/sql?details=true&planDescription=false&offset=0&length=100000")

    def settle(self, timeout: float = 20.0) -> None:
        """Wait until the status store has seen every job end: the REST
        view is fed asynchronously by the listener bus."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            if all(j.get("status") != "RUNNING" for j in self.jobs()):
                return
            time.sleep(0.2)


_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def metric_value(text: str) -> float:
    """Parse one SQL-metric display string into bytes, seconds or a
    count.  Accumulated metrics read 'total (min, med, max ...)\\n<total>
    (<min>, ...)'; plain ones are a bare number."""
    line = text.strip().split("\n")[-1]
    m = re.match(r"\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


PY_NODE = re.compile(r"Python|Pandas|Arrow", re.I)


def sql_layer_metrics(executions: list[dict], job_ids: set[int]) -> dict[str, float]:
    """Fold per-node SQL metrics of the executions that ran any of
    ``job_ids`` into the functions/operators/sources layer numbers."""
    out = {
        "functions.py_start_s": 0.0,
        "functions.py_run_s": 0.0,
        "functions.py_bytes_sent": 0.0,
        "functions.py_bytes_returned": 0.0,
        "operators.codegen_s": 0.0,
        "sources.scan_s": 0.0,
        "sources.files_written": 0.0,
    }
    for ex in executions:
        ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", [])) | set(ex.get("runningJobIds", []))
        if not ran & job_ids:
            continue
        for node in ex.get("nodes", []):
            name = node.get("nodeName", "")
            for m in node.get("metrics", []):
                key, val = m.get("name", ""), m.get("value", "")
                if "Python worker" in key and PY_NODE.search(name):
                    if key.startswith(("time to start", "time to initialize")):
                        out["functions.py_start_s"] += metric_value(val)
                    elif key.startswith("time to run"):
                        out["functions.py_run_s"] += metric_value(val)
                    elif key.startswith("data sent"):
                        out["functions.py_bytes_sent"] += metric_value(val)
                    elif key.startswith("data returned"):
                        out["functions.py_bytes_returned"] += metric_value(val)
                elif key == "duration" and name.startswith("WholeStageCodegen"):
                    out["operators.codegen_s"] += metric_value(val)
                elif key == "scan time":
                    out["sources.scan_s"] += metric_value(val)
                elif key == "number of written files":
                    out["sources.files_written"] += metric_value(val)
    return out


def stage_layer_metrics(stages: list[dict], stage_ids: set[int]) -> dict[str, float]:
    """Executor counters summed over the stage attempts in ``stage_ids``."""
    s = [st for st in stages if st["stageId"] in stage_ids and st.get("status") != "SKIPPED"]
    done = sum(st.get("numCompleteTasks", 0) for st in s)
    failed = sum(st.get("numFailedTasks", 0) for st in s)
    killed = sum(st.get("numKilledTasks", 0) for st in s)
    writers = [st for st in s if st.get("outputBytes", 0) > 0]
    return {
        "spark.stages": float(len(s)),
        "spark.tasks": float(done + failed + killed),
        "spark.tasks_failed": float(failed),
        "spark.tasks_succeeded_ratio": done / (done + failed + killed) if done + failed + killed else 1.0,
        "spark.cpu_s": sum(st.get("executorCpuTime", 0) for st in s) / 1e9,
        "spark.run_s": sum(st.get("executorRunTime", 0) for st in s) / 1e3,
        "spark.gc_s": sum(st.get("jvmGcTime", 0) for st in s) / 1e3,
        "spark.spill_bytes": float(sum(st.get("diskBytesSpilled", 0) for st in s)),
        "spark.peak_exec_mem_bytes": float(max((st.get("peakExecutionMemory", 0) for st in s), default=0)),
        "operators.shuffle_write_bytes": float(sum(st.get("shuffleWriteBytes", 0) for st in s)),
        "operators.shuffle_write_s": sum(st.get("shuffleWriteTime", 0) for st in s) / 1e9,
        "operators.fetch_wait_s": sum(st.get("shuffleFetchWaitTime", 0) for st in s) / 1e3,
        "sources.scan_bytes": float(sum(st.get("inputBytes", 0) for st in s)),
        "sources.write_bytes": float(sum(st.get("outputBytes", 0) for st in s)),
        "sources.write_s": sum(st.get("executorRunTime", 0) for st in writers) / 1e3,
    }


def attach_spark_spans(tracer: Tracer, jobs: list[dict], stages: list[dict], call_spans: list[int]) -> set[int]:
    """Add each Spark job under the call span (construction or action)
    whose interval holds its submit time, and its stages under it.
    Returns the ids of the jobs attached."""
    calls = [tracer.spans[i] for i in call_spans]
    stage_by_id: dict[int, dict] = {}
    for st in stages:
        if st.get("status") != "SKIPPED":
            stage_by_id.setdefault(st["stageId"], st)
    attached: set[int] = set()
    seen_stages: set[int] = set()
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        sub, done = rest_time(job.get("submissionTime")), rest_time(job.get("completionTime"))
        if sub is None or done is None:
            continue
        owner = next((c for c in calls if c.start - 0.002 <= sub <= c.end + 0.002), None)
        if owner is None:
            continue
        jid = tracer.add(f"job {job['jobId']}", "spark.job", sub, done, owner.id)
        attached.add(job["jobId"])
        for sid in job.get("stageIds", []):
            st = stage_by_id.get(sid)
            if st is None or sid in seen_stages:
                continue
            s0, s1 = rest_time(st.get("submissionTime")), rest_time(st.get("completionTime"))
            if s0 is None or s1 is None:
                continue
            seen_stages.add(sid)
            tracer.add(f"stage {sid}", "spark.stage", s0, s1, jid)
    return attached


# ------------------------------------------------------------ streaming


def streaming_listener():
    """A ``StreamingQueryListener`` that keeps each query's progress
    reports; built lazily so importing this module needs no pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Recorder(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            row = {
                "id": str(p.id),
                "time": datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp(),
                "batch": p.batchId,
                "input_rows": p.numInputRows,
                "durations": dict(p.durationMs),
                "state": [
                    {
                        "rows": op.numRowsTotal,
                        "mem": op.memoryUsedBytes,
                        "stores": getattr(op, "numStateStoreInstances", 0),
                    }
                    for op in p.stateOperators
                ],
            }
            with self.lock:
                self.progress.append(row)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def settle(self, quiet: float = 1.0, timeout: float = 10.0) -> None:
            """Wait until no report has arrived for ``quiet`` seconds:
            reports reach Python asynchronously."""
            deadline = time.time() + timeout
            seen = -1
            while time.time() < deadline and seen != len(self.progress):
                seen = len(self.progress)
                time.sleep(quiet)

    return Recorder()


def streaming_metrics(progress: list[dict]) -> dict[str, float]:
    """Batch and input counts and commit/addBatch time summed over the
    progress reports; state sizes from each query's last report."""
    last: dict[str, dict] = {}
    for p in progress:
        if p["id"] not in last or p["batch"] >= last[p["id"]]["batch"]:
            last[p["id"]] = p
    state = [op for p in last.values() for op in p["state"]]
    return {
        "streaming.batches": float(len(progress)),
        "streaming.input_rows": float(sum(p["input_rows"] for p in progress)),
        "streaming.state_rows": float(sum(op["rows"] for op in state)),
        "streaming.state_mem_bytes": float(sum(op["mem"] for op in state)),
        "streaming.state_stores": float(sum(op["stores"] for op in state)),
        "streaming.commit_s": sum(
            p["durations"].get("commitOffsets", 0) + p["durations"].get("walCommit", 0) for p in progress
        )
        / 1e3,
        "streaming.add_batch_s": sum(p["durations"].get("addBatch", 0) for p in progress) / 1e3,
    }


# -------------------------------------------------------------- memory


def heap_range(log_path: str) -> tuple[int, int]:
    """Address range of the Java heap, from the JVM's
    ``-Xlog:gc+heap+coops=debug`` line 'Heap address: 0x..., size: N MB'."""
    with open(log_path) as f:
        m = re.search(r"Heap address: (0x[0-9a-f]+), size: (\d+) MB", f.read())
    if m is None:
        raise RuntimeError(f"no heap address in {log_path}")
    lo = int(m.group(1), 16)
    return lo, lo + int(m.group(2)) * 2**20


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


_SMAPS_LINE = re.compile(rb"^([0-9a-f]+)-[0-9a-f]+ |^Pss:\s+(\d+) kB", re.M)


def split_pss_bytes(smaps: bytes, heap: tuple[int, int]) -> tuple[int, int]:
    """(heap, total) proportional set size from the text of a
    ``/proc/<pid>/smaps``: a mapping belongs to the heap when it starts
    inside ``heap``'s address range."""
    lo, hi = heap
    in_heap, heap_kb, total_kb = False, 0, 0
    for m in _SMAPS_LINE.finditer(smaps):
        if m.group(1) is not None:
            in_heap = lo <= int(m.group(1), 16) < hi
        else:
            kb = int(m.group(2))
            total_kb += kb
            if in_heap:
                heap_kb += kb
    return heap_kb * 1024, total_kb * 1024


def tree_memory(root_pid: int, jvm_pid: int, heap: tuple[int, int]) -> tuple[int, int]:
    """Resident memory of ``root_pid`` and all its descendants, split
    into (the JVM's Java heap, everything else).  Each process counts
    its proportional set size, so pages shared between processes (the
    Python worker daemon and the workers it forks) count once instead
    of once per process."""
    kids = _children_map()
    heap_b, rest, todo = 0, 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            if pid == jvm_pid:
                with open(f"/proc/{pid}/smaps", "rb") as f:
                    h, total = split_pss_bytes(f.read(), heap)
                heap_b += h
                rest += total - h
            else:
                rest += _pss_bytes(pid)
        except OSError:
            pass
    return heap_b, rest


class MemorySampler:
    """Background thread tracking the peaks of ``tree_memory``: of the
    JVM's Java heap (``peak_heap``) and of everything else
    (``peak_rest``)."""

    def __init__(self, root_pid: int, jvm_pid: int, heap: tuple[int, int], interval: float = 0.2):
        self.args = (root_pid, jvm_pid, heap)
        self.interval = interval
        self.peak_heap = 0
        self.peak_rest = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        heap_b, rest = tree_memory(*self.args)
        self.peak_heap = max(self.peak_heap, heap_b)
        self.peak_rest = max(self.peak_rest, rest)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
