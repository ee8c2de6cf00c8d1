"""Driver-side helpers for how plans COMPILE and how actions are
SUBMITTED: one helper per cross-cutting concern.

- :func:`conf_scope` sets session conf keys for the duration of a
  block and restores them after (a key that was unset is unset again).
  Every save/set/restore runs under one module-level re-entrant lock,
  held for the whole block, so two driver threads' scopes can never
  restore in the wrong order and leave a key changed for the session.
- :func:`flat_plan_scope` is the AQE-off scope for delta-sized plans
  (below).
- :func:`overlap_actions` runs independent Spark actions as
  concurrent jobs from a small pool whose threads inherit the caller's
  job group and description.

The lock imposes one condition: never WAIT inside a ``conf_scope`` on
another driver thread that may enter one — a foreachBatch callback of
a stream drained inside the scope, or an ``overlap_actions`` worker.
That thread would block on the lock this thread holds, and the wait
would never end. Same-thread nesting is fine.

Spark fixes two things at plan-compilation time that matter for fixed
per-commit/per-batch job counts:

- a persisted/cached frame's physical plan is compiled when
  ``persist()``/``cache()`` is CALLED (CacheManager.cacheQuery), so the
  session's AQE flag at that moment decides how the cache later
  materializes — with AQE captured, every Exchange inside the cached
  plan becomes its own stage-job on first use;
- an action planned while AQE is on executes stage-by-stage, one Spark
  job per materialized exchange.

For DELTA-sized frames (a merge batch, a micro-batch's shingle rows, a
metadata probe) those per-exchange jobs are pure scheduler overhead at
any scale: the data is bounded by the batch contract, the joins are
keyed on validated-unique keys (nothing for AQE's skew splitting to
do), and the static planner already broadcasts below the threshold
once cache statistics are exact. Compiling such plans inside
:func:`flat_plan_scope` removes one fixed scheduling round per
exchange per commit — it does not change a single result (AQE is a
physical-plan feature) and it does not touch data-sized query plans,
which keep the session's AQE.
"""

from __future__ import annotations

import contextlib
import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target

_CONF_LOCK = threading.RLock()


@contextlib.contextmanager
def conf_scope(spark, confs: dict[str, str]):
    """Set each of ``confs`` on the session for the block and restore
    the previous values on exit — unsetting keys that were unset.
    Holds the module lock for the whole block (see the module
    docstring for the one condition that imposes); safe to nest."""
    conf = spark.conf
    with _CONF_LOCK:
        saved = {k: conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                conf.set(k, v)
            yield
        finally:
            for k, old in saved.items():
                if old is None:
                    conf.unset(k)
                else:
                    conf.set(k, old)


def flat_plan_scope(spark):
    """Compile plans created inside the block without AQE, so cached
    frames materialize — and actions run — as ONE job instead of one
    job per exchange."""
    return conf_scope(spark, {"spark.sql.adaptive.enabled": "false"})


def overlap_actions(fns) -> list:
    """Run independent Spark actions as CONCURRENT jobs (guide §2.6):
    the scheduler runs several jobs at once inside one application —
    actions are only sequential because driver code calls them
    sequentially. Each callable runs on a pool of at most 4 threads,
    wrapped by ``inheritable_thread_target`` so its jobs carry the
    caller's job group and description. Returns the results in call
    order. Every callable runs to completion (a failed sibling cannot
    be cancelled mid-write any more than it could be un-run in a
    sequential order); the first failure is re-raised once all have
    finished."""
    # wrap on THIS thread, one wrapper per callable: each captures its
    # own copy of the caller's local properties, so a worker's
    # _job_label never writes into a sibling's
    targets = [inheritable_thread_target(fn) for fn in fns]
    with ThreadPoolExecutor(max_workers=min(len(targets), 4)) as pool:
        futures = [pool.submit(t) for t in targets]
    errs = [e for e in (f.exception() for f in futures) if e is not None]
    if errs:
        raise errs[0]
    return [f.result() for f in futures]
