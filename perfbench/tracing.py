"""Spans, per-layer self time, Spark event-log metrics and worker RSS.

Spans are recorded by the benchmark around its calls into each layer
(name, start, end, parent) and kept in memory until the run writes them
out.  Spark's own per-node and per-task metrics come from an uncompressed,
non-rolling event log attached only around traced passes and the ladder;
each of those runs under its own job group, so every job, stage, task and
SQL execution in the log is attributed to one pass or step.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import signal
import statistics
import time
from pathlib import Path

import pyarrow.parquet as pq

from ocr_spark.sources.icelite import IceliteTable

PYTHON_NODE_RE = re.compile(
    r"^(ArrowEvalPython|BatchEvalPython|MapInArrow|MapInPandas|PythonMapInArrow"
    r"|FlatMapGroupsIn|FlatMapCoGroupsIn|AggregateInPandas|WindowInPandas)"
)


class Tracer:
    """In-memory span recorder."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def children(self, span_id: int, name: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["parent"] == span_id and (name is None or s["name"] == name)
        ]

    def self_time_by_layer(self) -> dict[str, float]:
        """A span's self time is its duration minus what its children
        cover; the layer is the span name's first dotted component."""
        out: dict[str, float] = {}
        for s in self.spans:
            covered = sum(c["end"] - c["start"] for c in self.children(s["id"]))
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
        return out


class TimedTable(IceliteTable):
    """The pipeline's output table, with a span around every merge.

    The pipeline's transform is lazy, so the merge span of a bucket group
    covers the group's scan, operator, Python kernel and write."""

    def __init__(self, root: str, key_col: str, n_buckets: int, tracer: Tracer):
        super().__init__(root, key_col=key_col, n_buckets=n_buckets)
        self.tracer = tracer

    def merge(self, df, metadata=None, touched_buckets=None):
        with self.tracer.span("sources.merge", buckets=touched_buckets):
            return super().merge(df, metadata, touched_buckets)


def jvm_pid(spark) -> int:
    """The process id of the session's gateway JVM."""
    return spark.sparkContext._gateway.proc.pid


def _proc_status() -> dict[int, dict[str, str]]:
    """``/proc/<pid>/status`` fields of every process on the host."""
    out: dict[int, dict[str, str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/status") as f:
                out[int(name)] = dict(
                    line.rstrip("\n").split(":\t", 1) for line in f if ":\t" in line
                )
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue  # the process exited between listing and reading
    return out


def descendants(root_pid: int, status=None) -> list[int]:
    """The live processes descended from ``root_pid``."""
    status = _proc_status() if status is None else status
    parent = {pid: int(st.get("PPid", "0")) for pid, st in status.items()}
    out = []
    for pid, st in status.items():
        if st.get("State", "").startswith("Z"):
            continue
        p = parent.get(pid)
        while p is not None and p != root_pid:
            p = parent.get(p)
        if p == root_pid:
            out.append(pid)
    return out


def python_worker_peak_rss_mb(root_pid: int) -> float:
    """Highest VmHWM over the processes descended from ``root_pid`` (this
    run's JVM): its ``pyspark.daemon`` and the Python workers it forks.
    Other Spark sessions on the host are not counted."""
    status = _proc_status()
    peak_kb = 0
    for pid in descendants(root_pid, status):
        hwm = status[pid].get("VmHWM")
        if hwm:
            peak_kb = max(peak_kb, int(hwm.split()[0]))
    return peak_kb / 1024.0


def wait_ended(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended; kill those still
    running after ``timeout`` seconds and wait for them too."""
    def alive(pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except (FileNotFoundError, ProcessLookupError):
            return False

    deadline = time.monotonic() + timeout
    left = [p for p in pids if alive(p)]
    while left:
        if time.monotonic() > deadline:
            for p in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + timeout
        time.sleep(0.05)
        left = [p for p in left if alive(p)]


def column_bytes(paths: list[str], columns: set[str]) -> int:
    """On-disk (compressed) bytes of ``columns`` in the parquet files: what
    a scan of those columns must read."""
    total = 0
    for path in paths:
        meta = pq.ParquetFile(path).metadata
        for rg in range(meta.num_row_groups):
            group = meta.row_group(rg)
            for c in range(group.num_columns):
                col = group.column(c)
                if col.path_in_schema in columns:
                    total += col.total_compressed_size
    return total


# --------------------------------------------------------------- event log
@contextlib.contextmanager
def event_log(spark, log_dir: str):
    """Attach an uncompressed, non-rolling event-log listener to the running
    context, so traced and untraced passes can alternate in one session; on
    exit the listener bus is drained and the log closed."""
    os.makedirs(log_dir, exist_ok=True)
    sc = spark.sparkContext._jsc.sc()
    jvm = spark._jvm
    conf = sc.getConf()
    conf.set("spark.eventLog.compress", "false")
    conf.set("spark.eventLog.rolling.enabled", "false")
    listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
        sc.applicationId(),
        jvm.scala.Option.apply(None),
        jvm.java.net.URI(Path(log_dir).as_uri()),
        conf,
        sc.hadoopConfiguration(),
    )
    listener.start()
    sc.addSparkListener(listener)
    try:
        yield
    finally:
        sc.listenerBus().waitUntilEmpty()
        sc.removeSparkListener(listener)
        listener.stop()


def _acc_sum(accs: list[dict], name: str) -> float:
    return sum(float(a["Update"]) for a in accs if a.get("Name") == name and "Update" in a)


def _walk(plan: dict, out: list[str]) -> None:
    out.append(plan.get("nodeName", ""))
    for child in plan.get("children", []):
        _walk(child, out)


def read_event_log(log_dir: str) -> list[dict]:
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    with open(paths[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


def step_metrics(events: list[dict]) -> dict[str, dict]:
    """Per job group: Python-node count of the final physical plans,
    Python worker time and bytes, shuffle bytes written, JVM GC and
    executor CPU — summed over the group's SQL executions and tasks."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    plans: dict[int, dict] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                continue
            for sid in e["Stage IDs"]:
                stage_group[sid] = group
            if "spark.sql.execution.id" in props:
                exec_group[int(props["spark.sql.execution.id"])] = group
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            # the last plan reported for an execution is the one AQE ran
            plans[e["executionId"]] = e["sparkPlanInfo"]

    out: dict[str, dict] = {}

    def bucket(group: str) -> dict:
        return out.setdefault(
            group,
            {
                "python_evals": 0,
                "py_run_s": 0.0,
                "py_bytes_sent": 0.0,
                "py_bytes_returned": 0.0,
                "shuffle_bytes_written": 0.0,
                "gc_s": 0.0,
                "executor_cpu_s": 0.0,
                "tasks": 0,
            },
        )

    for eid, group in exec_group.items():
        names: list[str] = []
        if eid in plans:
            _walk(plans[eid], names)
        bucket(group)["python_evals"] += sum(1 for n in names if PYTHON_NODE_RE.match(n))
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or e["Stage ID"] not in stage_group:
            continue
        b = bucket(stage_group[e["Stage ID"]])
        accs = e["Task Info"].get("Accumulables", [])
        tm = e.get("Task Metrics") or {}
        b["tasks"] += 1
        b["py_run_s"] += _acc_sum(accs, "time to run Python workers") / 1e3
        b["py_bytes_sent"] += _acc_sum(accs, "data sent to Python workers")
        b["py_bytes_returned"] += _acc_sum(accs, "data returned from Python workers")
        b["shuffle_bytes_written"] += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        b["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        b["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    return out


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
