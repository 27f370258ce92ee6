"""Counters read from outside the program: Spark's status stores,
the streaming progress events, file listings and /proc.

Everything here observes; nothing changes how the engine runs. The
status stores are read with the UI disabled (the engine's session
sets ``spark.ui.enabled=false``; the stores are kept regardless).
"""

from __future__ import annotations

import json
import os
import re
import threading
import time

# ---------------------------------------------------------------------------
# AppStatusStore: executors, jobs, stages
# ---------------------------------------------------------------------------

_EXEC_FIELDS = {
    "tasks": "totalTasks", "failed_tasks": "failedTasks",
    "shuffle_write_bytes": "totalShuffleWrite",
    "shuffle_read_bytes": "totalShuffleRead", "input_bytes": "totalInputBytes",
}


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class SparkCounters:
    """Totals over all executors (``executorList(true)``) and the highest
    job and stage ids, snapshotted so a window can be diffed; task run
    time, GC time and spill are summed over the stages after a snapshot
    (an executor's ``totalDuration`` is its busy wall time, not task
    time). Jobs are counted by job id: lists of job ids per group are
    capped by ``spark.ui.retainedJobs``, ids are not."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()

    def max_job_id(self) -> int:
        jobs = _seq(self.store.jobsList(None))
        return max((j.jobId() for j in jobs), default=-1)

    def max_stage_id(self) -> int:
        return max((s.stageId() for s in self._stages()), default=-1)

    def _stages(self):
        jvm = self.spark._jvm
        empty = self.spark.sparkContext._gateway.new_array(jvm.double, 0)
        return _seq(self.store.stageList(None, False, False, empty, None))

    def snapshot(self) -> dict:
        out = dict.fromkeys(_EXEC_FIELDS, 0)
        for e in _seq(self.store.executorList(True)):
            for key, getter in _EXEC_FIELDS.items():
                out[key] += int(getattr(e, getter)())
        out["max_job_id"] = self.max_job_id()
        out["max_stage_id"] = self.max_stage_id()
        out["time"] = time.time()
        return out

    def stages_since(self, max_stage_id: int) -> dict:
        out = {"run_ms": 0, "gc_ms": 0, "spill": 0}
        for s in self._stages():
            if s.stageId() > max_stage_id:
                out["run_ms"] += int(s.executorRunTime())
                out["gc_ms"] += int(s.jvmGcTime())
                out["spill"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
        return out

    def jobs_by_group(self, since_job_id: int) -> dict[str, list[int]]:
        """Job group -> task counts of the jobs after ``since_job_id``."""
        out: dict[str, list[int]] = {}
        for j in _seq(self.store.jobsList(None)):
            if j.jobId() <= since_job_id:
                continue
            group = j.jobGroup()
            if group.isDefined():
                out.setdefault(group.get(), []).append(int(j.numTasks()))
        return out

    def storage(self) -> tuple[int, int]:
        """(persisted RDD count, cached bytes in memory and on disk)."""
        rdds = _seq(self.store.rddList(True))
        return len(rdds), sum(int(r.memoryUsed()) + int(r.diskUsed()) for r in rdds)


def spark_layer(before: dict, after: dict, stages: dict, cores: int) -> dict:
    wall = after["time"] - before["time"]
    d = {k: after[k] - before[k] for k in _EXEC_FIELDS}
    d.update(stages)
    return {
        "spark.jobs": after["max_job_id"] - before["max_job_id"],
        "spark.tasks": d["tasks"],
        "spark.failed_tasks": d["failed_tasks"],
        "spark.run_s": d["run_ms"] / 1000.0,
        "spark.gc_s": d["gc_ms"] / 1000.0,
        "spark.slot_util": d["run_ms"] / 1000.0 / (wall * cores) if wall > 0 else 0.0,
        "spark.shuffle_write_bytes": d["shuffle_write_bytes"],
        "spark.shuffle_read_bytes": d["shuffle_read_bytes"],
        "spark.input_bytes": d["input_bytes"],
        "spark.spill_bytes": d["spill"],
    }


# ---------------------------------------------------------------------------
# SQL status store: Python plan-node metrics
# ---------------------------------------------------------------------------

#: display name of each Python plan-node metric
PYTHON_METRICS = {
    "time to run Python workers": "python.total_s",
    "time to start Python workers": "python.boot_s",
    "number of output rows": "python.rows",
    "data sent to Python workers": "python.bytes_sent",
}
_PY_NODE = re.compile(r"Python|Pandas|Arrow", re.I)
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
          "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: a plain sum ("20") or the
    total line of an aggregate ("total (min, med, max ...)\\n8.7 s
    (...)"); times come back in seconds, sizes in bytes."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*(-?[\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


def sql_max_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    return max((e.executionId() for e in _seq(store.executionsList())), default=-1)


def python_layer(spark, since_execution_id: int) -> dict:
    """Sum of the Python plan-node metrics over the SQL executions
    after ``since_execution_id``."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
    for e in _seq(store.executionsList()):
        eid = e.executionId()
        if eid <= since_execution_id:
            continue
        values = store.executionMetrics(eid)
        for node in _seq(store.planGraph(eid).allNodes()):
            if not _PY_NODE.search(node.name()):
                continue
            for m in _seq(node.metrics()):
                key = PYTHON_METRICS.get(m.name())
                v = values.get(m.accumulatorId())
                if key and v.isDefined():
                    out[key] += parse_metric(v.get())
    return out


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------


def progress_listener(spark, sink: list):
    """Register a listener that appends every StreamingQueryProgress
    (as a dict, stamped with its arrival time) to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            p["_arrived"] = time.time()
            sink.append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener


# ---------------------------------------------------------------------------
# Files
# ---------------------------------------------------------------------------


def data_files(root: str, suffix: str = ".parquet") -> list[str]:
    """Visible data files under ``root`` (dot- and underscore-prefixed
    directories are skipped, as Spark's readers skip them)."""
    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        out += [os.path.join(d, f) for f in files
                if f.endswith(suffix) and not f.startswith((".", "_"))]
    return out


def listing(root: str) -> dict:
    files = data_files(root)
    parts = {os.path.dirname(os.path.relpath(f, root)) for f in files}
    return {"files": len(files), "bytes": sum(os.path.getsize(f) for f in files),
            "partitions": len(parts)}


def sink_log(table: str) -> list[tuple[int, float, set[str]]]:
    """The file sink's commit log: (batch id, commit time, files the
    batch added) in batch order. Each ``_spark_metadata/<n>`` entry is
    written when batch n commits, so its mtime is the time the batch's
    rows became readable; compacted entries (``<n>.compact``) repeat
    earlier batches, so only new paths belong to batch n."""
    meta = os.path.join(table, "_spark_metadata")
    entries = []
    for name in os.listdir(meta) if os.path.isdir(meta) else []:
        stem = name.split(".")[0]
        if stem.isdigit() and not name.startswith("."):
            entries.append((int(stem), os.path.join(meta, name)))
    seen: set[str] = set()
    out = []
    for batch, path in sorted(entries):
        with open(path) as f:
            lines = f.read().splitlines()[1:]  # first line is the log version
        paths = {os.path.basename(json.loads(x)["path"]) for x in lines if x.strip()}
        out.append((batch, os.path.getmtime(path), paths - seen))
        seen |= paths
    return out


def source_log_files(checkpoint: str) -> int:
    """Number of files the streaming file source has taken in so far."""
    src = os.path.join(checkpoint, "sources", "0")
    seen = set()
    for name in os.listdir(src) if os.path.isdir(src) else []:
        if name.startswith("."):
            continue
        try:
            with open(os.path.join(src, name)) as f:
                seen.update(json.loads(x)["path"]
                            for x in f.read().splitlines()[1:] if x.strip())
        except (FileNotFoundError, ValueError):  # compacted away, or mid-write
            continue
    return len(seen)


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
        except OSError:
            pass
    return out


def process_tree(root: int, exclude: set[int] = frozenset()) -> list[int]:
    todo, out = [root], []
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo += _children(pid)
    return out


def _comm(pid: int) -> str:
    with open(f"/proc/{pid}/comm") as f:
        return f.read().strip()


def _ppid(pid: int) -> int:
    with open(f"/proc/{pid}/stat") as f:
        return int(f.read().rsplit(")", 1)[1].split()[1])


def rss_bytes(pid: int) -> int:
    """Resident memory of ``pid``. Python processes are read as Pss, so
    forked workers do not count again the pages they share with their
    daemon; the JVM (never forked, and too large to walk cheaply) is
    read from statm. A process the JVM is spawning (Hadoop runs chmod,
    readlink and the like) shares the JVM's memory until it execs and
    still reads as ``java``; it counts 0, or a sample that caught one
    would count the JVM twice."""
    try:
        if _comm(pid) == "java":
            if _comm(_ppid(pid)) == "java":
                return 0
            with open(f"/proc/{pid}/statm") as g:
                return int(g.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed resident memory (Pss) of this process and its
    descendants (minus ``exclude``), sampled every ``period`` seconds on
    a daemon thread."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.exclude: set[int] = set()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        total = sum(rss_bytes(p) for p in process_tree(os.getpid(), self.exclude))
        self.peak = max(self.peak, total)
        return total

    def _run(self):
        while not self._stop.wait(self.period):
            self.sample()

    def start(self):
        self.sample()
        self._thread.start()
        return self

    def restart(self) -> int:
        """Return the peak so far and start a new one from now."""
        peak = max(self.peak, self.sample())
        self.peak = 0
        self.sample()
        return peak

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak
