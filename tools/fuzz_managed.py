"""Randomized state-machine fuzz for ManagedTable: per seed, a random
sequence of table operations is applied to BOTH the table and a plain
Python model; after EVERY op the table must equal the model, and at
the end a shadow state rebuilt ONLY from the change feed (cursor
consumption at random points) must equal the model too.

Ops drawn per step (seeded PRNG — deterministic, replayable):
  append        new keys (sometimes adding a brand-new column)
  delete_range  an indexed key stripe
  update_range  score bump over a stripe (pre-update semantics)
  merge         updates + inserts, sometimes with a stale-guard clause
  compact       physical-layout no-op
  rollback      pointer move to a random earlier live version (model
                restored from a snapshot journal)
  vacuum        keep_last=2 (feed consumption happens first)
  restart       re-instantiate the facade from the path (same
                concurrency mode)
  concurrent    TWO optimistic writers (threads) mutate disjoint key
                ranges at once — both must commit unless their
                touched FILES overlap, in which case exactly one may
                abort with CommitConflictError (file-level validation
                is coarser than key ranges); the model applies only
                the committed outcomes
  history       invariant probe: exactly one is_current row, the
                on_lineage flags equal lineage(), per-version file
                counts match the manifests
  replay        full-feed replay: changes_between(lineage[0]) applied
                to an empty dict (in commit-version order) must
                rebuild the model exactly; vacuumed ancestry raising
                loudly is the accepted alternative
  clone         zero-copy shallow clone reads back the model and
                bootstraps its own feed as all-inserts

This is the metamorphic complement of tests/test_managed.py's
scenario tests: those pin designed edges; the fuzzer searches the op
lattice for sequencing bugs (index staleness after rollback+DML,
feed/vacuum races, schema-evolution interactions) the designed
scenarios didn't think of.

Usage: python -m tools.fuzz_managed [--seeds=N] [--start=N] [--ops=N]
Output: one JSON line.
"""

from __future__ import annotations

import json
import random
import shutil
import sys
import tempfile


def run_seed(spark, seed: int, n_ops: int) -> None:
    from pyspark.sql import functions as F

    from bigdatalab_spark.sources.managed import ManagedTable

    rng = random.Random(seed)
    scratch = tempfile.mkdtemp(prefix=f"fuzz_managed_{seed}_")
    root = scratch + "/t"
    # odd seeds run the object-store data plane (manifest references,
    # zero per-commit link syscalls); even seeds the hardlink plane;
    # seeds ≡ 2,3 (mod 4) run a PARTITIONED layout (p = k mod 4, so
    # every DML crosses partition directories); seeds ≡ 4..7 (mod 8)
    # run the single writer in optimistic mode (writer lock held only
    # for the commit section) — every op, invariant, and feed check
    # below is plane-, layout- and lock-scope-agnostic
    link_mode = "reference" if seed % 2 else "hardlink"
    partitioned = seed % 4 >= 2
    pcols = ("p",) if partitioned else ()
    concurrency = "optimistic" if seed % 8 >= 4 else "exclusive"
    t = ManagedTable(
        spark, root, index_cols=("k",), link_mode=link_mode,
        concurrency=concurrency,
    )
    cursor = t.cursor(scratch + "/pos")

    has_extra = False

    def mk(rows):
        if has_extra:
            df = spark.createDataFrame(
                [(k, v, e) for k, v, e in rows],
                "k long, v double, extra long",
            )
        else:
            df = spark.createDataFrame(
                [(k, v) for k, v, _ in rows], "k long, v double"
            )
        if partitioned:
            df = df.withColumn("p", F.col("k") % 4)
        return df

    # model: key -> (v, extra); journal of model snapshots per version
    model: dict[int, tuple] = {}
    next_key = 0

    def fresh(n):
        nonlocal next_key
        out = [(next_key + i, float(seed + next_key + i), None) for i in range(n)]
        next_key += n
        return out

    rows = fresh(rng.randint(20, 60))
    v = t.write(
        mk(rows).repartitionByRange(2, "k").sortWithinPartitions("k"),
        partition_cols=pcols,
    )
    for k, val, e in rows:
        model[k] = (val, e)
    # journal: version -> (model snapshot, schema flag) — rollback
    # restores BOTH (the table's schema travels with the snapshot)
    journal = {v: (dict(model), has_extra)}
    shadow: dict[int, tuple] = {}

    def drain_feed():
        pending, upto = cursor.pending()
        if pending is None:
            return
        cols = pending.columns
        for r in pending.collect():  # delta-sized by construction
            ct = r["_change_type"]
            if ct == "delete":
                shadow.pop(r["k"], None)
            elif ct in ("insert", "update_postimage"):
                shadow[r["k"]] = (
                    r["v"],
                    r["extra"] if "extra" in cols else None,
                )
        cursor.ack(upto)

    def check(tag):
        df = t.read()
        with_extra = "extra" in df.columns
        got = {
            r["k"]: (r["v"], r["extra"] if with_extra else None)
            for r in df.collect()
        }
        want = {
            k: (val, e if with_extra else None)
            for k, (val, e) in model.items()
        }
        assert got == want, (
            f"seed {seed} after {tag}: table != model "
            f"(|got|={len(got)} |want|={len(want)})"
        )

    for step in range(n_ops):
        op = rng.choice(
            [
                "append", "append",
                "delete_range", "update_range",
                "merge", "merge",
                "compact", "rollback", "vacuum", "restart",
                "concurrent",
                "history", "replay", "clone",
            ]
        )
        if op == "append":
            if not has_extra and rng.random() < 0.25:
                has_extra = True  # schema evolution moment
            rows = [
                (k, val, rng.randint(0, 9) if has_extra else None)
                for k, val, _ in fresh(rng.randint(5, 25))
            ]
            v = t.append(mk(rows).repartition(1))
            for k, val, e in rows:
                model[k] = (val, e if has_extra else None)
            journal[v] = (dict(model), has_extra)
        elif op == "delete_range":
            if not model:
                continue
            lo = rng.randrange(max(next_key, 1))
            hi = lo + rng.randint(0, 40)
            v2 = t.delete_range("k", lo, hi)
            for k in [k for k in model if lo <= k <= hi]:
                del model[k]
            journal[v2] = (dict(model), has_extra)
        elif op == "update_range":
            if not model:
                continue
            lo = rng.randrange(max(next_key, 1))
            hi = lo + rng.randint(0, 30)
            v2 = t.update_range("k", lo, hi, {"v": "v + 1000"})
            for k in model:
                if lo <= k <= hi:
                    val, e = model[k]
                    model[k] = (val + 1000, e)
            journal[v2] = (dict(model), has_extra)
        elif op == "merge":
            live = sorted(model)
            upd = rng.sample(live, min(len(live), rng.randint(1, 8))) if live else []
            ins = fresh(rng.randint(1, 6))
            rows = [
                (k, model[k][0] * 2, model[k][1] if has_extra else None)
                for k in upd
            ] + ins
            guarded = rng.random() < 0.3
            v2 = t.merge_into(
                mk(rows),
                "k",
                when_matched="s.v >= t.v" if guarded else None,
            )
            for k, val, e in rows:
                if k in model and guarded and not (val >= model[k][0]):
                    continue  # stale update refused by the clause
                model[k] = (val, e if has_extra else None)
            journal[v2] = (dict(model), has_extra)
        elif op == "compact":
            v2 = t.compact(target_file_rows=10_000)
            journal[v2] = (dict(model), has_extra)
        elif op == "rollback":
            live = [x for x in t.versions() if x in journal]
            if len(live) < 2:
                continue
            target = rng.choice(live[:-1])
            # the feed beyond the rollback target describes undone
            # history; consume up to date FIRST, then resync shadow
            drain_feed()
            t.rollback(target)
            model, has_extra = dict(journal[target][0]), journal[target][1]
            shadow = dict(model)
            cursor.ack(target)
            # journal entries after target describe orphan versions;
            # keep them (time travel still works) but model follows
            # the pointer
        elif op == "vacuum":
            drain_feed()  # never let vacuum outrun the consumer
            if rng.random() < 0.5:
                # retention-policy arm: a FRESH (never-acked) cursor
                # must make vacuum refuse exactly when the window
                # would drop unconsumed lineage; the drained cursor
                # must never trigger the refusal; a refusal must
                # leave the table untouched
                probe = t.cursor(scratch + f"/probe_{step}")
                chain = t.lineage()
                retained = set(t.versions()[-2:]) | {t.latest()}
                lagging = [x for x in chain if x not in retained]
                try:
                    t.vacuum(keep_last=2, cursors=(probe, cursor))
                    assert not lagging, (
                        f"seed {seed}: vacuum should have refused for "
                        f"the fresh cursor (lagging {lagging})"
                    )
                except ValueError:
                    assert lagging, (
                        f"seed {seed}: spurious vacuum refusal"
                    )
                    check(f"vacuum-refusal@{step}")
            else:
                t.vacuum(keep_last=2)
        elif op == "restart":
            t = ManagedTable(
                spark, root, index_cols=("k",), link_mode=link_mode,
                concurrency=concurrency,
            )
            cursor = t.cursor(scratch + "/pos")
        elif op == "concurrent":
            from concurrent.futures import ThreadPoolExecutor

            from bigdatalab_spark.sources.managed import (
                CommitConflictError,
            )

            kinds = rng.choice(
                [
                    ("append", "append"),
                    ("append", "delete"),
                    ("delete", "delete"),
                ]
            )
            # half the arms run serializable isolation: delete stripes
            # are UNCONFINED (they may reach into concurrently appended
            # fresh keys) because the engine now aborts the anomaly
            # instead of committing it — committed outcomes replay in
            # version order, which serializable guarantees is a valid
            # serial history
            iso = rng.choice(["write_serializable", "serializable"])
            cap = next_key  # key space that exists BEFORE this arm
            plans = []
            used: list[tuple[int, int]] = []
            for kind in kinds:
                if kind == "append":
                    rows = [
                        (k, val, rng.randint(0, 9) if has_extra else None)
                        for k, val, _ in fresh(rng.randint(3, 10))
                    ]
                    plans.append(("append", rows))
                else:
                    if cap < 1:
                        continue
                    for _ in range(10):  # find a disjoint stripe
                        lo = rng.randrange(cap)
                        if iso == "serializable":
                            # unconfined: may overlap fresh appends —
                            # the engine aborts or serializes, both of
                            # which the version-ordered replay models
                            hi = lo + rng.randint(0, 20)
                        else:
                            # hi capped INSIDE the pre-arm key space: a
                            # stripe reaching into the concurrently
                            # appended fresh keys is exactly the
                            # WriteSerializable anomaly (the delete's
                            # base predates the append, so the engine
                            # correctly keeps those rows) — the
                            # sequential model can't express it, so
                            # this mode avoids it
                            hi = min(lo + rng.randint(0, 20), cap - 1)
                        if all(hi < a or lo > b for a, b in used):
                            used.append((lo, hi))
                            plans.append(("delete", (lo, hi)))
                            break
            if not plans:
                continue

            def run_one(plan):
                kind, payload = plan
                h = ManagedTable(
                    spark,
                    root,
                    index_cols=("k",),
                    concurrency="optimistic",
                    link_mode=link_mode,
                    isolation=iso,
                )
                try:
                    if kind == "append":
                        return h.append(mk(payload).repartition(1)), None
                    lo, hi = payload
                    return h.delete_range("k", lo, hi), None
                except CommitConflictError:
                    return None, "conflict"

            with ThreadPoolExecutor(max_workers=len(plans)) as pool:
                outcomes = list(pool.map(run_one, plans))
            committed = []
            for plan, (ver, err) in zip(plans, outcomes):
                kind, payload = plan
                if err == "conflict":
                    # legal only for deletes: file-overlap despite
                    # disjoint key ranges, or (serializable) an added
                    # file overlapping the predicate range
                    assert kind == "delete", (
                        f"seed {seed}: optimistic append conflicted"
                    )
                    continue
                committed.append((ver, kind, payload))
            # replay committed outcomes in COMMIT (version) order —
            # exact for serializable; for write_serializable the arm's
            # stripe confinement makes order irrelevant
            for _ver, kind, payload in sorted(committed):
                if kind == "append":
                    for k, val, e in payload:
                        model[k] = (val, e if has_extra else None)
                else:
                    lo, hi = payload
                    for k in [k for k in model if lo <= k <= hi]:
                        del model[k]
            journal[t.latest()] = (dict(model), has_extra)
        elif op == "history":
            hrows = t.history().collect()
            current = [r for r in hrows if r["is_current"]]
            assert len(current) == 1 and current[0]["version"] == t.latest()
            on_lineage = {r["version"] for r in hrows if r["on_lineage"]}
            assert on_lineage == set(t.lineage()), (
                f"seed {seed}: history on_lineage != lineage()"
            )
            from bigdatalab_spark.sources.managed import _data_files
            from bigdatalab_spark.sources.versioned import _version_dir

            for r in hrows:
                assert r["n_files"] == len(
                    _data_files(_version_dir(root, r["version"]))
                )
        elif op == "replay":
            first = t.lineage()[0]
            parent = t._parent_of(first)
            if parent is None:
                # true initial snapshot on-lineage: the feed alone
                # rebuilds the table from empty
                start: dict[int, tuple] = {}
            elif parent in journal:
                # bootstrap vacuumed: the feed is a SUFFIX — replay it
                # on top of the journaled state at the recorded parent
                # (a real consumer re-bootstraps from a snapshot read,
                # which is exactly what the journal models)
                start = dict(journal[parent][0])
            else:
                continue
            try:
                feed = t.changes_between(first)
            except (FileNotFoundError, ValueError):
                continue  # vacuumed mid-lineage: the designed refusal
            cols = feed.columns
            replayed: dict[int, tuple] = start
            rows_sorted = sorted(
                feed.collect(), key=lambda r: r["_commit_version"]
            )
            for r in rows_sorted:
                ct = r["_change_type"]
                if ct == "delete":
                    replayed.pop(r["k"], None)
                elif ct in ("insert", "update_postimage"):
                    replayed[r["k"]] = (
                        r["v"], r["extra"] if "extra" in cols else None
                    )
            want = {
                k: (val, e) for k, (val, e) in model.items()
            }
            assert replayed == want, (
                f"seed {seed}: full-feed replay != model"
            )
        elif op == "clone":
            import shutil as _sh

            cdir = scratch + f"/clone_{step}"
            c = t.clone(cdir)
            got_c = {
                r["k"]: (
                    r["v"],
                    r["extra"] if "extra" in c.read().columns else None,
                )
                for r in c.read().collect()
            }
            assert got_c == {
                k: (val, e) for k, (val, e) in model.items()
            }, f"seed {seed}: clone != model"
            assert c.changes(1).count() == len(model)
            _sh.rmtree(cdir, ignore_errors=True)
            _sh.rmtree(cdir + "__writer.lock", ignore_errors=True)
        check(f"{step}:{op}")

    drain_feed()
    want = {k: (val, e if has_extra else None) for k, (val, e) in model.items()}
    assert shadow == want, f"seed {seed}: feed replay diverged"
    # index coherence at the end: pruned read == filter
    if model:
        lo = min(model)
        hi = lo + 50
        got = sorted(r["k"] for r in t.pruned_read("k", lo, hi).collect())
        ref = sorted(
            r["k"]
            for r in t.read().filter(F.col("k").between(lo, hi)).collect()
        )
        assert got == ref, f"seed {seed}: pruned read diverged"
    shutil.rmtree(scratch, ignore_errors=True)


def main() -> int:
    from bigdatalab_spark.session import get_session

    seeds, start, n_ops = 10, 0, 12
    for arg in sys.argv[1:]:
        if arg.startswith("--seeds="):
            seeds = int(arg.split("=", 1)[1])
        elif arg.startswith("--start="):
            start = int(arg.split("=", 1)[1])
        elif arg.startswith("--ops="):
            n_ops = int(arg.split("=", 1)[1])

    spark = get_session(app_name="fuzz-managed")
    spark.sparkContext.setLogLevel("ERROR")
    failed = []
    for seed in range(start, start + seeds):
        try:
            run_seed(spark, seed, n_ops)
        except AssertionError as exc:
            failed.append({"seed": seed, "err": str(exc)[:300]})
        print(
            f"[{'FAIL' if failed and failed[-1]['seed'] == seed else 'OK '}] seed {seed}",
            flush=True,
        )
    print(
        json.dumps(
            {
                "metric": "fuzz_managed",
                "seeds": list(range(start, start + seeds)),
                "ops_per_seed": n_ops,
                "n_pass": seeds - len(failed),
                "n_fail": len(failed),
                "failures": failed,
            }
        )
    )
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
