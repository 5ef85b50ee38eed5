"""Measurement helpers, all from outside the program:

- ``Spans``: the benchmark's own wrapper spans (name, start, end, parent,
  run id), kept in memory and written out once at the end;
- ``WorkerRss``: peak resident memory of the Spark Python workers, read from
  ``/proc`` (VmHWM of every descendant process of the gateway JVM);
- ``EventLog``: Spark's own JSON event log, reduced to per-job-group sums;
- ``CallTimer``: wraps named functions in this process only, accumulating
  call time per function (the kernel loop) or recording spans (the Spark
  calls of a traced pass).
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import json
import os
import statistics
import threading
import time
from collections import defaultdict


class Spans:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.rows: list = []
        self._stack: list = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        row = {
            "run_id": self.run_id, "id": len(self.rows), "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(), "end": None, **attrs,
        }
        self.rows.append(row)
        self._stack.append(row)
        try:
            yield row
        finally:
            row["end"] = time.time()
            self._stack.pop()

    def named(self, name: str) -> list:
        return [r for r in self.rows if r["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.rows, f)


# --- /proc sampling ----------------------------------------------------------

def _ppid_map() -> dict:
    out = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                s = f.read()
        except OSError:  # process ended between glob and open
            continue
        pid = int(s[: s.index(" ")])
        out[pid] = int(s[s.rindex(")") + 2:].split()[1])
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python_worker(pid: int) -> bool:
    """A ``python -m pyspark.daemon`` process. argv[0] is checked too: a
    child the JVM forks (e.g. Hadoop's ``chmod``) briefly carries the JVM's
    command line, which mentions pyspark, and the JVM's VmHWM."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv = f.read().split(b"\0")
    except OSError:
        return False
    return os.path.basename(argv[0]).startswith(b"python") and b"pyspark.daemon" in argv


class WorkerRss:
    """Background sampler of the peak RSS (MB) of any Python worker below
    ``root_pid`` (the gateway JVM). VmHWM is each process's own high-water
    mark, so a sample period of 50 ms misses only workers that live < 50 ms."""

    def __init__(self, root_pid: int, period_s: float = 0.05):
        self.root_pid = root_pid
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        ppid = _ppid_map()
        children = defaultdict(list)
        for pid, parent in ppid.items():
            children[parent].append(pid)
        todo = list(children[self.root_pid])
        while todo:
            pid = todo.pop()
            todo.extend(children[pid])
            if _is_python_worker(pid):
                self.peak_kb = max(self.peak_kb, _vm_hwm_kb(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# --- Spark event log -----------------------------------------------------------

_PY_START = ("time to start Python workers", "time to initialize Python workers")
_PY_RUN = "time to run Python workers"
_TO_PY = "data sent to Python workers"
_FROM_PY = "data returned from Python workers"
_SQL_PREFIX = "org.apache.spark.sql.execution.ui."


class Group:
    """Event-log totals of one job group (one timed call)."""

    def __init__(self):
        self.jobs = 0
        self.stages = 0
        self.tasks = 0
        self.task_run_ms: list = []       # per task, stages with Python work
        self.all_task_run_ms: list = []   # per task, every stage
        self.executor_run_ms = 0
        self.gc_ms = 0
        self.spill_bytes = 0
        self.shuffle_write_bytes = 0
        self.py_start_ms = 0
        self.py_run_ms = 0
        self.to_py_bytes = 0
        self.from_py_bytes = 0
        self.executions: list = []  # (start_ms, first_job_ms, end_ms, is_write)

    @property
    def planning_s(self) -> float:
        return sum(max(0, j - s) for s, j, _, _ in self.executions if j) / 1e3

    def execution_s(self, write: bool) -> float:
        return sum(
            e - s for s, _, e, w in self.executions if e and w == write
        ) / 1e3

    def task_skew(self, python_only: bool = True) -> float:
        runs = self.task_run_ms if python_only else self.all_task_run_ms
        runs = [r for r in runs if r > 0]
        if not runs:
            return 0.0
        return max(runs) / statistics.median(runs)


class EventLog:
    """Per-job-group totals from ``<dir>/eventlog_v2_*/events_*`` (Spark 4
    rolling log; written uncompressed by the benchmark's session conf)."""

    def __init__(self, log_dir: str):
        self.groups: dict = defaultdict(Group)
        self.sql_spans: list = []  # (start_s, end_s) of every SQL execution
        files = sorted(
            glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
        if not files:
            raise FileNotFoundError(f"no Spark event log under {log_dir}")
        self._parse(files)

    def _parse(self, files: list) -> None:
        stage_group: dict = {}
        exec_group: dict = {}
        exec_rows: dict = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        g = props.get("spark.jobGroup.id") or ""
                        self.groups[g].jobs += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = g
                        eid = props.get("spark.sql.execution.id")
                        if eid is not None:
                            eid = int(eid)
                            exec_group.setdefault(eid, g)
                            row = exec_rows.get(eid)
                            if row is not None and not row[1]:
                                row[1] = ev["Submission Time"]
                    elif kind == "SparkListenerTaskEnd":
                        g = self.groups[stage_group.get(ev["Stage ID"], "")]
                        m = ev.get("Task Metrics") or {}
                        run = m.get("Executor Run Time", 0)
                        g.tasks += 1
                        g.executor_run_ms += run
                        g.gc_ms += m.get("JVM GC Time", 0)
                        g.spill_bytes += m.get("Disk Bytes Spilled", 0)
                        g.all_task_run_ms.append(run)
                        accs = ev["Task Info"].get("Accumulables", [])
                        if any(a.get("Name") == _PY_RUN for a in accs):
                            g.task_run_ms.append(run)
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        g = self.groups[stage_group.get(info["Stage ID"], "")]
                        g.stages += 1
                        for a in info.get("Accumulables", []):
                            name, val = a.get("Name"), a.get("Value")
                            try:
                                val = int(val)
                            except (TypeError, ValueError):
                                continue
                            if name in _PY_START:
                                g.py_start_ms += val
                            elif name == _PY_RUN:
                                g.py_run_ms += val
                            elif name == _TO_PY:
                                g.to_py_bytes += val
                            elif name == _FROM_PY:
                                g.from_py_bytes += val
                            elif name == "internal.metrics.shuffle.write.bytesWritten":
                                g.shuffle_write_bytes += val
                    elif kind == _SQL_PREFIX + "SparkListenerSQLExecutionStart":
                        plan = ev.get("physicalPlanDescription") or ""
                        is_write = "InsertIntoHadoopFsRelationCommand" in plan
                        exec_rows[ev["executionId"]] = [ev["time"], 0, 0, is_write]
                    elif kind == _SQL_PREFIX + "SparkListenerSQLExecutionEnd":
                        row = exec_rows.get(ev["executionId"])
                        if row is not None:
                            row[2] = ev["time"]
        for eid, row in exec_rows.items():
            g = exec_group.get(eid)
            if g is None or not row[2]:
                continue  # no job (e.g. a cached plan) or never finished
            self.groups[g].executions.append(tuple(row))
            self.sql_spans.append((row[0] / 1e3, row[2] / 1e3))

    def merged(self, gid: str) -> Group:
        """Totals of job group ``gid`` plus its sub-groups (``gid.*``)."""
        out = Group()
        for name, g in self.groups.items():
            if name != gid and not name.startswith(gid + "."):
                continue
            for k, v in vars(g).items():
                setattr(out, k, getattr(out, k) + v)
        return out


def covered_s(intervals, start: float, end: float) -> float:
    """Seconds of [start, end] covered by the union of ``intervals``."""
    iv = sorted((max(s, start), min(e, end)) for s, e in intervals if e > start and s < end)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- call wrappers ------------------------------------------------------------------

# the Spark calls that run or plan a query: actions, writes and the parquet
# reader (file listing and schema); each call becomes a "query" span, timed
# on the driver from the call until it returns, so planning is included
SPARK_CALLS = {
    f"query.{m}": f"pyspark.sql.classic.dataframe:DataFrame.{m}"
    for m in ("collect", "count", "toPandas", "localCheckpoint")
} | {
    f"query.write.{m}": f"pyspark.sql.readwriter:DataFrameWriter.{m}"
    for m in ("save", "parquet")
} | {"query.read.parquet": "pyspark.sql.readwriter:DataFrameReader.parquet"}


class CallTimer:
    """Replace functions named ``module:attr`` or ``module:Class.attr``
    with timing wrappers for the duration of a ``with`` block, in this
    process only (Spark's Python workers are separate processes and never
    see the wrappers). With ``spans``, every call is also a span."""

    def __init__(self, targets: dict, spans: Spans | None = None):
        self.targets = targets  # metric name -> target
        self.spans = spans
        self.seconds = defaultdict(float)
        self._saved: list = []

    def _wrap(self, name: str, fn):
        def timed(*args, **kwargs):
            with self.spans.span(name) if self.spans else contextlib.nullcontext():
                t0 = time.perf_counter()
                try:
                    return fn(*args, **kwargs)
                finally:
                    self.seconds[name] += time.perf_counter() - t0

        return timed

    def __enter__(self):
        for name, target in self.targets.items():
            mod_name, path = target.split(":")
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            fn = getattr(owner, attr)
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(name, fn))
        return self

    def __exit__(self, *exc):
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()
