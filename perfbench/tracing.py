"""Tracing for the benchmark's per-layer run.

Two sources, both outside the engine:

- span recorders wrapped around layer entry points. A span keeps its
  name, start, end, parent span and the op it ran under; spans stay in
  memory and are written once at exit. Wrapping replaces the function
  in its home module and in every ``bigdatalab_spark`` module that bound
  it by name at import time, so ``from x import f`` call sites are
  caught as well as calls through the module attribute;
- the Spark event log (uncompressed), parsed after the session stops,
  with every job attributed to the op whose job group it ran under.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import threading
import time


class Spans:
    def __init__(self) -> None:
        # [name, start, end, parent index, op label]
        self.items: list[list] = []
        self.op: str | None = None
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._stack()
            rec = [name, time.perf_counter(), None, stack[-1] if stack else None, self.op]
            self.items.append(rec)
            stack.append(len(self.items) - 1)
            try:
                return fn(*args, **kwargs)
            finally:
                rec[2] = time.perf_counter()
                stack.pop()

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Wrap ``owner.attr`` (a module function or a class method) and
        every import-time binding of the same function object."""
        orig = getattr(owner, attr)
        traced = self.wrap(name, orig)
        setattr(owner, attr, traced)
        if isinstance(owner, type):
            return
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("bigdatalab_spark") or mod is owner:
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, traced)

    def self_times(self) -> list[float]:
        """Duration minus the time covered by direct children."""
        child = [0.0] * len(self.items)
        for rec in self.items:
            if rec[3] is not None:
                child[rec[3]] += rec[2] - rec[1]
        return [rec[2] - rec[1] - c for rec, c in zip(self.items, child)]

    def by_name(self, ops: set[str]) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for rec in self.items:
            if rec[4] in ops and rec[2] is not None:
                out.setdefault(rec[0], []).append(rec[2] - rec[1])
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for rec, s in zip(self.items, selfs):
                fh.write(json.dumps({
                    "name": rec[0], "start": rec[1], "end": rec[2],
                    "parent": rec[3], "op": rec[4], "self_s": s,
                }) + "\n")


def install(spans: Spans) -> None:
    """Wrap the layer entry points the per-layer metrics name."""
    from bigdatalab_spark.scale import dedup, similarity, textqa
    from bigdatalab_spark.sources.managed import ManagedTable
    from bigdatalab_spark.streaming import jobs

    spans.patch(dedup, "minhash_near_dups", "scale.dedup.minhash_near_dups")
    spans.patch(dedup, "connected_components", "scale.dedup.connected_components")
    spans.patch(textqa, "quality_features", "scale.textqa.quality_features")
    spans.patch(similarity, "brute_force_topk", "scale.similarity.brute_force_topk")
    spans.patch(jobs, "managed_merge_batch", "streaming.managed_merge_batch")
    for attr, name in (
        ("append", "append"),
        ("merge_into", "merge"),
        ("delete_range", "delete"),
        ("compact", "compact"),
        ("vacuum", "vacuum"),
        ("pruned_read", "pruned_read"),
    ):
        spans.patch(ManagedTable, attr, f"sources.managed.{name}")


# ---- event log ------------------------------------------------------------


def _eventlog_files(log_dir: str, app_id: str) -> list[str]:
    """The app's event log: a rolling ``eventlog_v2_<app>`` directory of
    ``events_<n>_<app>`` files, or one plain file."""
    out = []
    for entry in os.listdir(log_dir):
        if app_id not in entry:
            continue
        p = os.path.join(log_dir, entry)
        if os.path.isdir(p):
            parts = [f for f in os.listdir(p) if f.startswith("events_")]
            parts.sort(key=lambda f: int(f.split("_")[1]))
            out += [os.path.join(p, f) for f in parts]
        else:
            out.append(p)
    return out


def parse_eventlog(log_dir: str, app_id: str) -> dict[str, dict]:
    """Per job group: jobs, stages and tasks run, executor time
    (run, CPU, deserialize, GC), shuffle and spill bytes, and each
    stage's task durations."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}

    def g(name: str) -> dict:
        return groups.setdefault(name, {
            "jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0,
            "deser_ms": 0, "gc_ms": 0, "shuffle_read_b": 0,
            "shuffle_write_b": 0, "spill_b": 0, "stage_tasks_ms": {},
        })

    for path in _eventlog_files(log_dir, app_id):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                    g(grp)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, grp)
                elif kind == "SparkListenerStageSubmitted":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if grp:
                        stage_group[ev["Stage Info"]["Stage ID"]] = grp
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    g(stage_group.get(sid, "-"))["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    rec = g(stage_group.get(sid, "-"))
                    rec["tasks"] += 1
                    info = ev.get("Task Info") or {}
                    rec["stage_tasks_ms"].setdefault(sid, []).append(
                        info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    )
                    m = ev.get("Task Metrics") or {}
                    rec["run_ms"] += m.get("Executor Run Time", 0)
                    rec["cpu_ns"] += m.get("Executor CPU Time", 0)
                    rec["deser_ms"] += m.get("Executor Deserialize Time", 0)
                    rec["gc_ms"] += m.get("JVM GC Time", 0)
                    rec["spill_b"] += m.get("Disk Bytes Spilled", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    rec["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    rec["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
    return groups


def spark_layer(groups: dict[str, dict], ops: list[str], n_ops: int,
                window_s: float, cores: int) -> dict[str, float]:
    """Per-op Spark figures over the timed ops' job groups."""
    tot: dict[str, float] = {}
    skews = []
    for label in ops:
        rec = groups.get(label)
        if rec is None:
            continue
        for k, v in rec.items():
            if k != "stage_tasks_ms":
                tot[k] = tot.get(k, 0) + v
        for durs in rec["stage_tasks_ms"].values():
            if len(durs) >= 2:
                skews.append(max(durs) / max(statistics.median(durs), 1.0))
    n = max(n_ops, 1)
    run_s = tot.get("run_ms", 0) / 1e3
    cpu_s = tot.get("cpu_ns", 0) / 1e9
    return {
        "spark.jobs_per_op": tot.get("jobs", 0) / n,
        "spark.stages_per_op": tot.get("stages", 0) / n,
        "spark.tasks_per_op": tot.get("tasks", 0) / n,
        "spark.executor_run_s_per_op": run_s / n,
        "spark.executor_cpu_s_per_op": cpu_s / n,
        "spark.gc_s_per_op": tot.get("gc_ms", 0) / 1e3 / n,
        "spark.deser_s_per_op": tot.get("deser_ms", 0) / 1e3 / n,
        "spark.shuffle_read_mb_per_op": tot.get("shuffle_read_b", 0) / 1e6 / n,
        "spark.shuffle_write_mb_per_op": tot.get("shuffle_write_b", 0) / 1e6 / n,
        "spark.spill_mb_per_op": tot.get("spill_b", 0) / 1e6 / n,
        "spark.busy_frac": run_s / (cores * window_s),
        "spark.wait_frac": 1.0 - cpu_s / run_s if run_s > 0 else 0.0,
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
    }
