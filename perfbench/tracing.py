"""Traced-run plumbing, all from outside the program: Spark job groups
around each layer call, timing wrappers set on module attributes, and the
reduction of Spark's event log per job group."""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

PY_METRICS = {
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
    "time to run Python workers": "py_run_ms",
    # "time to initialize Python workers" is left out: Spark counts it
    # from the worker's creation, so a reused worker reports seconds of
    # idle time on a task that ran for milliseconds
    "time to start Python workers": "py_start_ms",
}


class Tracer:
    """Job groups (``sparkContext.setJobGroup``) with wall time per group,
    and wrappers that put a module function's calls under a group."""

    def __init__(self, spark, default: str = "op"):
        self.sc = spark.sparkContext
        self.stack = [default]
        self.walls: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.results: dict[str, list] = defaultdict(list)
        self._patched: list[tuple[object, str, object]] = []
        self.sc.setJobGroup(default, default)

    @contextmanager
    def group(self, name: str):
        self.stack.append(name)
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] += time.perf_counter() - t0
            self.calls[name] += 1
            self.stack.pop()
            self.sc.setJobGroup(self.stack[-1], self.stack[-1])

    def wrap(self, module, attr: str, name: str, keep=None) -> None:
        """Time every call of ``module.attr`` under job group ``name``;
        ``keep(result)`` stores what the traced run inspects afterwards."""
        fn = getattr(module, attr)

        def wrapped(*args, **kwargs):
            with self.group(name):
                result = fn(*args, **kwargs)
            if keep is not None:
                self.results[name].append(keep(result))
            return result

        self._patched.append((module, attr, fn))
        setattr(module, attr, wrapped)

    def restore(self) -> None:
        while self._patched:
            module, attr, fn = self._patched.pop()
            setattr(module, attr, fn)


def instrument_pipeline(tracer: Tracer) -> None:
    """Wrap the layer calls ``kg.pipeline.run_pipeline`` makes. The
    pipeline and ``kg.materialize`` look these names up on their modules
    at call time, so patching the module attribute reaches every call."""
    import kg.canonicalize
    import kg.manifest
    import kg.pipeline

    tracer.wrap(kg.manifest, "commit_partition", "manifest.commit")
    tracer.wrap(kg.manifest, "committed_partitions", "manifest.lookup", keep=len)
    tracer.wrap(kg.pipeline, "materialize_partitioned", "materialize.stages")
    tracer.wrap(kg.pipeline, "materialize_edges", "materialize.edges")
    tracer.wrap(kg.pipeline, "materialize_nodes", "materialize.nodes")
    tracer.wrap(kg.pipeline, "canonical_map_from_corpus", "canonicalize", keep=lambda df: df)
    tracer.wrap(kg.canonicalize, "surface_similarity_edges", "canonicalize.sim", keep=lambda df: df)


# --- event log --------------------------------------------------------------


def read_events(log_dir: str, app_id: str) -> list[dict]:
    """Events of one application from Spark's (uncompressed) event log."""
    files = sorted(glob.glob(os.path.join(log_dir, f"*{app_id}*", "events_*"))) or sorted(
        glob.glob(os.path.join(log_dir, f"*{app_id}*"))
    )
    events = []
    for path in files:
        if os.path.isfile(path):
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


class GroupStats:
    def __init__(self):
        self.jobs = 0
        self.tasks = 0
        self.failed_tasks = 0
        self.cpu_s = 0.0
        self.gc_s = 0.0
        self.shuffle_write_bytes = 0
        self.shuffle_read_bytes = 0
        self.spill_bytes = 0
        self.bytes_written = 0
        self.py = defaultdict(float)
        self.rows_out: dict[str, int] = defaultdict(int)
        self.task_ms: dict[int, list[int]] = defaultdict(list)  # per stage
        self.write_task_ms: list[int] = []

    def skew(self, durations: list[int]) -> float:
        return max(durations) / max(1, statistics.median(durations)) if durations else 0.0

    @property
    def task_skew(self) -> float:
        """max/median task time in the stage that ran longest in total."""
        if not self.task_ms:
            return 0.0
        return self.skew(max(self.task_ms.values(), key=sum))

    @property
    def write_tasks(self) -> int:
        return len(self.write_task_ms)


def reduce_events(events: list[dict]) -> dict[str, GroupStats]:
    """Task and SQL metrics summed per job group."""
    stage_group: dict[int, str] = {}
    acc_node: dict[int, str] = {}  # accumulator id -> plan node name
    out: dict[str, GroupStats] = defaultdict(GroupStats)

    def walk(plan: dict) -> None:
        for m in plan.get("metrics", []):
            acc_node[m["accumulatorId"]] = plan.get("nodeName", "")
        for child in plan.get("children", []):
            walk(child)

    for e in events:
        kind = e["Event"]
        if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            walk(e.get("sparkPlanInfo", {}))
        elif kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or "none"
            out[group].jobs += 1
            for sid in e["Stage IDs"]:
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            g = out[stage_group.get(e["Stage ID"], "none")]
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            g.tasks += 1
            if e["Task End Reason"]["Reason"] != "Success":
                g.failed_tasks += 1
            ms = info["Finish Time"] - info["Launch Time"]
            g.task_ms[e["Stage ID"]].append(ms)
            g.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            g.gc_s += tm.get("JVM GC Time", 0) / 1e3
            sw = tm.get("Shuffle Write Metrics", {})
            sr = tm.get("Shuffle Read Metrics", {})
            g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            g.shuffle_read_bytes += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
            g.spill_bytes += tm.get("Disk Bytes Spilled", 0)
            written = tm.get("Output Metrics", {}).get("Bytes Written", 0)
            g.bytes_written += written
            if written:
                g.write_task_ms.append(ms)
            for a in info.get("Accumulables", []):
                name = a.get("Name")
                if name in PY_METRICS:
                    g.py[PY_METRICS[name]] += float(a.get("Update") or 0)
                elif name == "number of output rows":
                    g.rows_out[acc_node.get(a["ID"], "")] += int(a.get("Update") or 0)
    return out


def merge(stats: dict[str, GroupStats], names) -> GroupStats:
    """Sum the groups whose name is in ``names`` (or passes it, if callable)."""
    keep = names if callable(names) else (lambda n: n in names)
    total = GroupStats()
    for name, g in stats.items():
        if not keep(name):
            continue
        for attr in (
            "jobs", "tasks", "failed_tasks", "cpu_s", "gc_s", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes", "bytes_written",
        ):
            setattr(total, attr, getattr(total, attr) + getattr(g, attr))
        for k, v in g.py.items():
            total.py[k] += v
        for k, v in g.rows_out.items():
            total.rows_out[k] += v
        for sid, ms in g.task_ms.items():
            total.task_ms[sid].extend(ms)
        total.write_task_ms.extend(g.write_task_ms)
    return total
