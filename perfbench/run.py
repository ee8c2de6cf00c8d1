"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. Builds its inputs from
the seed under ``.perfbench_run/`` in the checkout, runs the workload's
set-up, warm rounds and timed window, checks the outputs, and prints as
its last stdout line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it is a fuller
report: per-kind medians, every check, and host drift fields.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

T_START = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "latency_gm_s": "s", "cpu_s_per_op": "s"}
#: a run still going ``--seconds`` plus this long after it started is
#: stopped, cleaned up and reported failed
DEADLINE_MARGIN_S = 150


class _Deadline(BaseException):
    """Not an ``Exception``, so an op's error handling cannot swallow it."""


def _on_alarm(signum, frame):
    raise _Deadline()


def _stop_jvm(graceful: bool) -> None:
    """Stop the Spark context and the JVM this process launched, and
    wait for the JVM to exit; its Python workers stop with the context.
    After a deadline the JVM may be mid-call, so it is killed instead."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    from perfbench import procfs

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if not graceful:
        procfs.kill_tree()
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is None:
        return
    gw.shutdown()
    if proc is not None:
        # the gateway server exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("bigdatalab_spark/__init__.py", "__spark_entry__.py", "tools/oracle_check.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    # everything the run writes stays inside the checkout; the engine is
    # importable on the Python workers too
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        # every JVM, the launcher's too: temp files in the run directory,
        # no hsperfdata file under the system temp directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    extra_conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Duser.timezone=UTC -Xlog:disable -Dderby.system.home={run_dir}"
        ),
        "spark.executorEnv.PYTHONPATH": ROOT,
    }
    if args.trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        extra_conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
        })

    deadline_s = int(args.seconds) + DEADLINE_MARGIN_S
    progress: dict = {}
    cut = False
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(deadline_s)
    try:
        from perfbench import harness

        out = harness.run(args.workload, args.seed, args.seconds, bool(args.trace),
                          run_dir, extra_conf, progress)
    except _Deadline:
        cut = True
    finally:
        signal.alarm(0)
        _stop_jvm(graceful=not cut)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    if cut:
        # the unfinished run counts as one more attempted and failed item
        records = progress["runner"].records if "runner" in progress else []
        print(f"perfbench: run exceeded {deadline_s} s; stopped", file=sys.stderr)
        print(json.dumps({
            "correct": False,
            "attempted": len(records) + 1,
            "failed": sum(not r["ok"] for r in records) + 1,
            "metrics": {},
        }))
        return 0

    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        out["spans"].dump(os.path.join(out_dir, f"spans-{os.path.basename(run_dir)}.jsonl"))
        metrics = {
            k: {"value": v, "unit": harness.LAYER_UNITS[k]} for k, v in out["layer"].items()
        }
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in out["e2e"].items()}
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "process_s": time.perf_counter() - T_START, **out["report"],
    }))
    print(json.dumps({
        "correct": out["correct"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
