"""Set-up, warm rounds, the timed window and the metrics of one run."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time
import traceback

from perfbench import procfs

class Runner:
    """Runs ops one at a time and records each one's timings.

    An op's latency is ``build`` (the callable, up to its final action)
    plus ``action``. The cache is cleared after every op, outside its
    latency. In a traced run each op gets its own Spark job group and
    span label."""

    def __init__(self, spark, spans=None) -> None:
        self.spark = spark
        self.spans = spans
        self.records: list[dict] = []
        self.errors = 0

    def op(self, kind: str, build, action=None, warm: bool = False):
        label = f"{'w' if warm else 't'}{len(self.records)}:{kind}"
        if self.spans is not None:
            self.spark.sparkContext.setJobGroup(label, label)
            self.spans.op = label
        rec = {"kind": kind, "label": label, "warm": warm, "ok": False}
        self.records.append(rec)
        out = None
        t0 = time.perf_counter()
        try:
            out = build()
            t1 = time.perf_counter()
            if action is not None:
                out = action(out)
            t2 = time.perf_counter()
            rec.update(ok=True, build_s=t1 - t0, action_s=t2 - t1, latency_s=t2 - t0)
        except Exception:  # noqa: BLE001 — counted as a failed op, never dropped
            self.errors += 1
            if self.errors <= 3:
                print(f"op {label} failed:\n{traceback.format_exc()}", file=sys.stderr)
        finally:
            if self.spans is not None:
                # jobs after the op (checks, trace bookkeeping) are not its own
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                self.spans.op = None
            self.spark.catalog.clearCache()
        return rec["ok"], out


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _gm(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def start_session(extra_conf: dict[str, str]):
    from pyspark.sql import SparkSession

    from bigdatalab_spark.session import get_session

    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None
    spark = get_session(app_name="perfbench", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run(workload_name: str, seed: int, seconds: float, trace: bool,
        run_dir: str, extra_conf: dict[str, str], progress: dict) -> dict:
    """One run. ``progress["runner"]`` holds the op records so far, for
    a caller that has to report a run cut short."""
    from perfbench import tracing
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[workload_name](seed)
    spans = tracing.Spans() if trace else None
    if trace:
        import bigdatalab_spark.queries  # noqa: F401 — bind every import-time name first

        tracing.install(spans)

    # ---- set-up: session start, input generation, input load; the
    # first cycle also launches the JVM -------------------------------
    spark = None
    setup, starts, gens = [], [], []
    prev_dir = None
    for i in range(wl.setup_cycles):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(extra_conf)
        t1 = time.perf_counter()
        data_dir = os.path.join(run_dir, f"inputs{i}")
        os.makedirs(data_dir)
        wl.generate(data_dir)
        t2 = time.perf_counter()
        wl.load(spark, data_dir)
        t3 = time.perf_counter()
        setup.append(t3 - t0)
        starts.append(t1 - t0)
        gens.append(t2 - t1)
        if prev_dir is not None:
            shutil.rmtree(prev_dir, ignore_errors=True)
        prev_dir = data_dir

    runner = progress["runner"] = Runner(spark, spans)
    wl.traced = trace
    t0 = time.perf_counter()
    wl.warm(runner)
    warm_s = time.perf_counter() - t0

    # ---- timed window: whole rounds, at least the workload's minimum,
    # until ``seconds`` have passed ----
    host0, cpu0 = procfs.host_sample(), procfs.tree_cpu()
    first = len(runner.records)
    w0 = time.perf_counter()
    round_s = []
    while True:
        r0 = time.perf_counter()
        wl.round(runner, len(round_s))
        round_s.append(time.perf_counter() - r0)
        if len(round_s) >= wl.min_rounds and time.perf_counter() - w0 >= seconds:
            break
    window_s = time.perf_counter() - w0
    cpu1, host1 = procfs.tree_cpu(), procfs.host_sample()
    timed = runner.records[first:]

    # ---- correctness, after the window ----
    c0 = time.perf_counter()
    problems = wl.check(runner)
    check_s = time.perf_counter() - c0
    bad_checks = {k: v for k, v in problems.items() if v}

    ok = [r for r in timed if r["ok"]]
    n = max(len(ok), 1)
    by_kind: dict[str, list[float]] = {}
    for r in ok:
        by_kind.setdefault(r["kind"], []).append(r["latency_s"])
    kind_p50 = {k: _median(v) for k, v in by_kind.items()}
    cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
    failed_ops = sum(not r["ok"] for r in runner.records)
    attempted = len(runner.records)
    e2e = {
        "setup_s": _median(setup),
        "ops_per_s": len(ok) / window_s,
        "latency_gm_s": _gm(list(kind_p50.values())),
        "cpu_s_per_op": sum(cpu.values()) / n,
    }
    report = {
        **e2e,
        "failed_op_frac": (failed_ops + len(bad_checks)) / attempted,
        "setup_cycles_s": setup,
        "session_start_s": _median(starts),
        "gen_s": _median(gens),
        "warm_s": warm_s,
        "window_s": window_s,
        "round_s": round_s,
        "check_s": check_s,
        "kind_p50_s": kind_p50,
        "kind_n": {k: len(v) for k, v in by_kind.items()},
        "checks": {k: (v or "ok") for k, v in problems.items()},
        **procfs.host_drift(host0, host1),
    }
    commit = [kind_p50[k] for k in getattr(wl, "commit_kinds", ()) if k in kind_p50]
    if commit:
        report["commit_gm_s"] = _gm(commit)
        report["read_p50_s"] = kind_p50.get("pruned_read", float("nan"))

    layer = _layers(wl, spark, spans, ok, cpu, report, run_dir) if trace else {}
    return {
        "correct": not bad_checks and failed_ops == 0,
        "attempted": attempted + len(problems),
        "failed": failed_ops + len(bad_checks),
        "e2e": e2e,
        "report": report,
        "layer": layer,
        "spans": spans,
    }


#: per-layer metrics by unit; a workload that does not reach a layer
#: reports 0 for it
LAYER_UNITS = {
    "session.start_s": "s", "setup.gen_s": "s", "setup.warm_s": "s",
    "queries.build_s": "s", "spark.action_s": "s",
    "spark.busy_frac": "ratio", "spark.wait_frac": "ratio",
    "spark.shuffle_read_mb_per_op": "MB", "spark.shuffle_write_mb_per_op": "MB",
    "spark.spill_mb_per_op": "MB", "spark.task_skew": "ratio",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.executor_cpu_s_per_op": "s", "spark.executor_run_s_per_op": "s",
    "spark.gc_s_per_op": "s", "spark.deser_s_per_op": "s",
    "proc.driver_cpu_s_per_op": "s", "proc.jvm_cpu_s_per_op": "s",
    "proc.pyworker_cpu_s_per_op": "s",
    "scale.dedup.minhash_near_dups_s": "s", "scale.dedup.connected_components_s": "s",
    "scale.textqa.quality_features_s": "s", "scale.similarity.brute_force_topk_s": "s",
    "scale.dedup.verify_yield": "ratio",
    "sources.managed.append_s": "s", "sources.managed.merge_s": "s",
    "sources.managed.delete_s": "s", "sources.managed.compact_s": "s",
    "sources.managed.vacuum_s": "s", "sources.managed.write_amp": "ratio",
    "streaming.managed_merge_batch_s": "s",
    "sources.managed.pruned_read_s": "s",
    "sources.managed.files_live_start": "count", "sources.managed.files_live_end": "count",
    "sources.managed.candidate_frac": "ratio",
    "commit_gm_s": "s", "read_p50_s": "s", "ops.failed_frac": "ratio",
    "traced.ops_per_s": "1/s", "traced.latency_gm_s": "s", "traced.cpu_s_per_op": "s",
    "host.steal_s": "s", "host.idle_frac": "ratio", "host.loadavg_1m": "load",
}


def _layers(wl, spark, spans, ok, cpu, report, run_dir) -> dict:
    """Per-layer metrics of a traced run. Stops the session, so that the
    event log is complete before it is parsed."""
    from perfbench import tracing

    labels = [r["label"] for r in ok]
    n = max(len(ok), 1)
    layer = dict.fromkeys(LAYER_UNITS, 0.0)
    for name, durs in spans.by_name(set(labels)).items():
        if name + "_s" in layer:
            layer[name + "_s"] = _median(durs)
    layer.update({
        "session.start_s": report["session_start_s"],
        "setup.gen_s": report["gen_s"],
        "setup.warm_s": report["warm_s"],
        "queries.build_s": sum(r["build_s"] for r in ok) / n,
        "spark.action_s": sum(r["action_s"] for r in ok) / n,
        "proc.driver_cpu_s_per_op": cpu["driver"] / n,
        "proc.jvm_cpu_s_per_op": cpu["jvm"] / n,
        "proc.pyworker_cpu_s_per_op": cpu["pyworker"] / n,
        "ops.failed_frac": report["failed_op_frac"],
        "traced.ops_per_s": report["ops_per_s"],
        "traced.latency_gm_s": report["latency_gm_s"],
        "traced.cpu_s_per_op": report["cpu_s_per_op"],
        "commit_gm_s": report.get("commit_gm_s", 0.0),
        "read_p50_s": report.get("read_p50_s", 0.0),
    })
    layer.update({k: report[k] for k in ("host.steal_s", "host.idle_frac", "host.loadavg_1m")})
    layer.update(wl.layer())

    app_id = spark.sparkContext.applicationId
    cores = spark.sparkContext.defaultParallelism
    spark.stop()
    groups = tracing.parse_eventlog(os.path.join(run_dir, "eventlog"), app_id)
    layer.update(tracing.spark_layer(groups, labels, n, report["window_s"], cores))
    return layer
