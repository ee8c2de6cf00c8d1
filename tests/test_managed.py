"""ManagedTable facade: versioned snapshots + skipping index +
compaction behind one API, with the index committed ATOMICALLY with
each snapshot (data -> index -> marker -> pointer flip).

The invariant every test circles: for any committed version V,
``index(V)`` describes exactly ``V``'s data files, so
``pruned_read(..., version=V)`` equals the full scan's filter at V —
across appends, compactions, rollbacks, crashes, and concurrent
writers.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bigdatalab_spark.sources.locks import (
    ConcurrentWriteError,
    lockfile_path,
)
from bigdatalab_spark.sources.managed import ManagedTable, _data_files


def _mk(spark, lo: int, hi: int, parts: int = 2):
    return (
        spark.range(lo, hi)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 2.0).alias("score"),
            (F.col("id") % 7).cast("string").alias("tag"),
        )
        .repartition(parts)
    )


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def test_managed_write_read_prune_roundtrip(spark, tmp_path):
    """First snapshot: index exists, candidate list prunes on a
    range-clustered column, pruned read == full filter."""
    t = ManagedTable(spark, str(tmp_path / "t"), index_cols=("k",))
    df = _mk(spark, 0, 1000).repartitionByRange(8, "k").sortWithinPartitions("k")
    v = t.write(df)
    assert v == 1 and t.latest() == 1 and t.versions() == [1]

    n_files = len(_data_files(str(tmp_path / "t" / "v=1")))
    assert n_files == 8
    cand = t.candidate_files("k", 100, 200)
    assert 0 < len(cand) < n_files
    got = _rows(t.pruned_read("k", 100, 200))
    want = _rows(t.read().filter(F.col("k").between(100, 200)))
    assert got == want and got
    # the pruned plan really scans fewer files
    assert len(t.pruned_read("k", 100, 200).inputFiles()) == len(cand)
    # index rows use RELATIVE names, no version-dir leakage
    assert all("/" not in r["file"] for r in t.index().collect())


def test_managed_append_links_files_and_reuses_index(spark, tmp_path):
    """Append: new version = hard-linked old files + new files; only
    the new files were footer-probed (old index rows reused verbatim);
    pruning at the new version is exact, and the OLD version still
    reads/prunes its own snapshot (time travel)."""
    t = ManagedTable(spark, str(tmp_path / "t"), index_cols=("k",))
    t.write(_mk(spark, 0, 500, parts=2))
    v2 = t.append(_mk(spark, 500, 1000, parts=2))
    assert v2 == 2 and t.versions() == [1, 2]

    v1dir, v2dir = str(tmp_path / "t" / "v=1"), str(tmp_path / "t" / "v=2")
    f1, f2 = _data_files(v1dir), _data_files(v2dir)
    assert set(f1) < set(f2) and len(f2) == len(f1) + 2
    # linked, not copied: same inode
    for rel in f1:
        assert os.stat(os.path.join(v1dir, rel)).st_ino == os.stat(
            os.path.join(v2dir, rel)
        ).st_ino
    # reused index rows: v2's index covers every v2 file, incl. linked
    assert {r["file"] for r in t.index(2).collect()} == set(f2)

    got = _rows(t.pruned_read("k", 400, 600))
    want = _rows(t.read().filter(F.col("k").between(400, 600)))
    assert got == want and got
    # time travel: v1 sees only its own rows, pruned identically
    got1 = _rows(t.pruned_read("k", 400, 600, version=1))
    want1 = _rows(t.read(1).filter(F.col("k").between(400, 600)))
    assert got1 == want1
    assert max(r[0] for r in got1) < 500

    # appending onto a partitioned snapshot preserves the layout
    # (the delta lands under the same col=val/ directories)
    tp = ManagedTable(spark, str(tmp_path / "tp"), index_cols=("k",))
    tp.write(_mk(spark, 0, 50), partition_cols=("tag",))
    tp.append(_mk(spark, 50, 60))
    assert tp.read().count() == 60
    assert all(
        rel.startswith("tag=")
        for rel in _data_files(str(tmp_path / "tp" / "v=2"))
    )


def test_managed_compact_preserves_content_and_reindexes(spark, tmp_path):
    """Compaction is a new version: fewer files, identical rows, FRESH
    index that prunes on the recluster — and the pre-compaction
    version remains time-travelable with ITS index."""
    t = ManagedTable(spark, str(tmp_path / "t"), index_cols=("k",))
    t.write(_mk(spark, 0, 300, parts=3))
    for lo in range(300, 1200, 300):
        t.append(_mk(spark, lo, lo + 300, parts=3))
    pre = t.latest()
    files_pre = len(_data_files(str(tmp_path / "t" / f"v={pre}")))
    assert files_pre == 12

    v = t.compact(target_file_rows=300)
    files_post = len(_data_files(str(tmp_path / "t" / f"v={v}")))
    assert files_post < files_pre
    assert _rows(t.read(v)) == _rows(t.read(pre))

    # fresh index prunes: compaction range-clusters on index_cols
    cand = t.candidate_files("k", 0, 100)
    assert 0 < len(cand) < files_post
    got = _rows(t.pruned_read("k", 0, 100))
    want = _rows(t.read().filter(F.col("k").between(0, 100)))
    assert got == want
    # pre-compaction version still prunes through its own index
    got_pre = _rows(t.pruned_read("k", 0, 100, version=pre))
    assert got_pre == want


def test_managed_rollback_and_vacuum_keep_index_coherent(spark, tmp_path):
    """Rollback is a pointer move — reads AND pruning follow it with
    zero index work; vacuum drops old snapshots but never the pointer
    target, and hard-link-shared files survive their source's vacuum."""
    t = ManagedTable(spark, str(tmp_path / "t"), index_cols=("k",))
    t.write(_mk(spark, 0, 200))
    t.append(_mk(spark, 200, 400))
    t.append(_mk(spark, 400, 600))

    t.rollback(2)
    assert t.latest() == 2
    got = _rows(t.pruned_read("k", 150, 250))
    want = _rows(t.read().filter(F.col("k").between(150, 250)))
    assert got == want and max(r[0] for r in got) < 400

    removed = t.vacuum(keep_last=1)
    # v=2 is the pointer target: kept even though keep_last=1 would
    # prefer the newest (v=3)
    assert 2 in t.versions()
    assert 1 in removed
    # v=2's files were hard-linked from v=1; the data must survive
    # v=1's deletion
    assert t.read(2).count() == 400
    assert _rows(t.pruned_read("k", 150, 250)) == got


def test_managed_crash_leaves_no_visible_damage(spark, tmp_path):
    """Crash drills on the commit protocol: (a) a version dir without a
    marker (crash before commit) is invisible to reads and version
    lists, never reused, and vacuumable; (b) a marker without a pointer
    flip (crash between) leaves the pointer on the old version — reads
    and pruning stay on the old snapshot."""
    t = ManagedTable(spark, str(tmp_path / "t"), index_cols=("k",))
    t.write(_mk(spark, 0, 100))

    # (a) crash BEFORE marker: fabricate debris the way a killed write
    # leaves it — data files but no _COMMITTED
    debris = str(tmp_path / "t" / "v=2")
    _mk(spark, 100, 200).write.parquet(debris)
    assert t.versions() == [1] and t.latest() == 1
    assert t.read().count() == 100
    v = t.append(_mk(spark, 100, 150))  # allocator skips past debris
    assert v == 3
    assert t.read().count() == 150
    t.vacuum(keep_last=5)
    assert not os.path.exists(debris)  # debris reclaimed, versions kept
    assert t.versions() == [1, 3]

    # (b) crash AFTER marker, BEFORE flip: committed but unreferenced —
    # pointer (and reads) stay on v=3; the orphan is time-travelable
    orphan = str(tmp_path / "t" / "v=4")
    _mk(spark, 150, 160).coalesce(1).write.parquet(orphan)
    open(os.path.join(orphan, "_COMMITTED"), "w").close()
    assert t.latest() == 3
    assert t.read().count() == 150
    assert 4 in t.versions() and t.read(4).count() == 10


def test_managed_single_writer_and_snapshot_isolated_reader(spark, tmp_path):
    """Concurrency contract: a held writer lock makes every mutator
    raise ConcurrentWriteError (write/append/compact/vacuum/rollback);
    a reader's DataFrame bound to version N keeps returning N's rows
    after the pointer moves (snapshot isolation on immutable dirs)."""
    path = str(tmp_path / "t")
    t = ManagedTable(spark, path, index_cols=("k",))
    t.write(_mk(spark, 0, 100))

    reader = t.read()  # bound to v=1's directory
    before = _rows(reader)

    lock = lockfile_path(path)
    with open(lock, "w", encoding="utf-8") as fh:
        fh.write(f"{os.getpid() + 1} otherhost")  # live foreign holder
    try:
        for op in (
            lambda: t.write(_mk(spark, 0, 10)),
            lambda: t.append(_mk(spark, 0, 10)),
            lambda: t.compact(),
            lambda: t.vacuum(),
            lambda: t.rollback(1),
        ):
            with pytest.raises(ConcurrentWriteError):
                op()
    finally:
        os.remove(lock)
    assert t.versions() == [1]  # nothing half-committed

    t.append(_mk(spark, 100, 200))
    assert t.latest() == 2 and t.read().count() == 200
    # the pre-append reader still sees exactly v=1
    assert _rows(reader) == before


def test_managed_commit_cas_detects_lock_bypass(spark, tmp_path):
    """Belt and braces: if the pointer moves mid-write (a writer that
    bypassed the lock), the commit aborts BEFORE its marker lands, so
    the half-built snapshot stays invisible debris."""
    path = str(tmp_path / "t")
    t = ManagedTable(spark, path, index_cols=("k",))
    t.write(_mk(spark, 0, 100))

    moved = {"done": False}
    orig = t._write_index

    def sabotage(vdir, new_files, reuse_from=None):
        orig(vdir, new_files=new_files, reuse_from=reuse_from)
        if not moved["done"]:
            moved["done"] = True
            # simulate a rogue writer flipping the pointer mid-commit
            with open(os.path.join(path, "_latest"), "w") as fh:
                fh.write("1\n")
            with open(os.path.join(path, "_latest"), "w") as fh:
                fh.write("99")

    t._write_index = sabotage
    try:
        with pytest.raises(ConcurrentWriteError, match="pointer moved"):
            t.write(_mk(spark, 100, 200))
    finally:
        t._write_index = orig
    # restore a sane pointer and confirm the aborted snapshot never
    # became a version
    with open(os.path.join(path, "_latest"), "w") as fh:
        fh.write("1")
    assert t.versions() == [1]
    assert t.read().count() == 100


# ---- row-level DML (copy-on-write) ---------------------------------------


def test_managed_delete_range_touches_only_matching_files(spark, tmp_path):
    """delete_range: matching rows gone (NULL-condition rows kept by
    SQL semantics), only files containing matches were rewritten —
    every other file is the SAME INODE as the previous version — and
    the new version's index stays exact. Time travel still sees the
    pre-delete rows; the change feed records exactly the deleted
    rows."""
    t = ManagedTable(spark, str(tmp_path / "t"), index_cols=("k",))
    df = _mk(spark, 0, 1000).repartitionByRange(8, "k").sortWithinPartitions("k")
    t.write(df)
    f1 = _data_files(str(tmp_path / "t" / "v=1"))

    v = t.delete_range("k", 100, 199)
    assert v == 2 and t.latest() == 2
    f2 = _data_files(str(tmp_path / "t" / "v=2"))

    # rows: exactly the matches disappeared
    assert _rows(t.read()) == _rows(
        t.read(1).filter(~F.col("k").between(100, 199))
    )
    # copy-on-write: the untouched files are hard links (same inode)
    shared = set(f1) & set(f2)
    assert shared  # clustered layout => most files untouched
    for rel in shared:
        assert os.stat(os.path.join(str(tmp_path / "t" / "v=1"), rel)).st_ino == os.stat(
            os.path.join(str(tmp_path / "t" / "v=2"), rel)
        ).st_ino
    # only candidate files were rewritten: rewritten count == touched
    rewritten = set(f2) - set(f1)
    assert len(rewritten) <= len(t.candidate_files("k", 100, 199, version=1))

    # index coherence at the new version
    assert {r["file"] for r in t.index(2).collect()} == set(f2)
    got = _rows(t.pruned_read("k", 150, 250))
    want = _rows(t.read().filter(F.col("k").between(150, 250)))
    assert got == want and min(r[0] for r in got) == 200

    # time travel: v1 unchanged
    assert len(_rows(t.read(1))) == 1000

    # change feed: exactly the deleted rows
    cdf = t.changes(2)
    assert set(cdf.columns) == {"k", "score", "tag", "_change_type", "_commit_version"}
    rows = cdf.collect()
    assert all(r["_change_type"] == "delete" and r["_commit_version"] == 2 for r in rows)
    assert sorted(r["k"] for r in rows) == list(range(100, 200))

    # no-match delete: no new version
    assert t.delete_range("k", 5000, 6000) == 2


def test_managed_delete_where_null_semantics_and_full_scan(spark, tmp_path):
    """delete_where with an arbitrary predicate: NULL never matches
    (rows with NULL condition survive), matches across any file are
    found without an index hint."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id") % 3).alias("m"),
    ).repartition(4)
    t.write(df)
    v = t.delete_where(F.col("m") == 0)
    # kept: m NULL (ids %10==0) and m in (1,2)
    kept = {r["k"] for r in t.read(v).collect()}
    expect = {i for i in range(100) if i % 10 == 0 or i % 3 != 0}
    assert kept == expect


def test_managed_update_range_assignments_and_cdf(spark, tmp_path):
    """update_range: assignments evaluate against the PRE-update row,
    non-matching rows in touched files survive byte-identical, the
    feed carries pre/post image pairs. Both concurrency modes run the
    same commit protocol, so they give equal rows and an equal
    changes() frame, and the stored feed is unstamped in both."""
    import pyarrow.parquet as pq

    results = {}
    for mode in ("exclusive", "optimistic"):
        root = str(tmp_path / mode)
        t = ManagedTable(spark, root, index_cols=("k",), concurrency=mode)
        t.write(
            _mk(spark, 0, 400)
            .repartitionByRange(4, "k")
            .sortWithinPartitions("k")
        )
        v = t.update_range(
            "k", 100, 149,
            {"score": "score * 10", "tag": F.lit("boosted")},
        )
        assert v == 2
        got = {r["k"]: (r["score"], r["tag"]) for r in t.read().collect()}
        for k in range(400):
            if 100 <= k <= 149:
                assert got[k] == (k * 2.0 * 10, "boosted")
            else:
                assert got[k] == (k * 2.0, str(k % 7))
        cdf = t.changes(2)
        pre = {r["k"]: r["score"] for r in cdf.filter("_change_type = 'update_preimage'").collect()}
        post = {r["k"]: r["score"] for r in cdf.filter("_change_type = 'update_postimage'").collect()}
        assert set(pre) == set(post) == set(range(100, 150))
        assert all(post[k] == pre[k] * 10 for k in pre)
        # the version number lives in the directory, not the stored feed
        cdf_dir = os.path.join(root, "v=2", "_cdf")
        for part in os.listdir(cdf_dir):
            if part.endswith(".parquet"):
                stored = pq.read_schema(os.path.join(cdf_dir, part)).names
                assert "_commit_version" not in stored
        assert cdf.columns[-2:] == ["_change_type", "_commit_version"]
        # unknown column is refused loudly
        with pytest.raises(ValueError, match="unknown columns"):
            t.update_where("k = 1", {"nope": F.lit(1)})
        results[mode] = (_rows(t.read()), cdf.columns, _rows(cdf))
    assert results["exclusive"] == results["optimistic"]


def test_managed_merge_upserts_and_inserts(spark, tmp_path):
    """merge_into: matched keys replaced, new keys inserted, untouched
    files hard-linked, feed records pre/post/insert; duplicate source
    keys and schema mismatches are refused loudly."""
    t = ManagedTable(spark, str(tmp_path / "t"), index_cols=("k",))
    t.write(_mk(spark, 0, 600).repartitionByRange(6, "k").sortWithinPartitions("k"))
    f1 = _data_files(str(tmp_path / "t" / "v=1"))

    src = spark.createDataFrame(
        [(10, -1.0, "upd"), (20, -2.0, "upd"), (900, -9.0, "new")],
        "k long, score double, tag string",
    )
    v = t.merge_into(src, "k")
    assert v == 2
    got = {r["k"]: (r["score"], r["tag"]) for r in t.read().collect()}
    assert len(got) == 601
    assert got[10] == (-1.0, "upd") and got[20] == (-2.0, "upd")
    assert got[900] == (-9.0, "new")
    assert got[11] == (22.0, str(11 % 7))

    # index pruning bounded the rewrite: keys 10..20 live in one range
    # file, so all other original files hard-link
    f2 = _data_files(str(tmp_path / "t" / "v=2"))
    shared = set(f1) & set(f2)
    assert len(shared) >= len(f1) - len(t.candidate_files("k", 10, 900, version=1))
    for rel in shared:
        assert os.stat(os.path.join(str(tmp_path / "t" / "v=1"), rel)).st_ino == os.stat(
            os.path.join(str(tmp_path / "t" / "v=2"), rel)
        ).st_ino

    cdf = t.changes(2)
    by_type = {
        ct: sorted(r["k"] for r in rows)
        for ct, rows in (
            (ct, [r for r in cdf.collect() if r["_change_type"] == ct])
            for ct in ("update_preimage", "update_postimage", "insert")
        )
    }
    assert by_type["update_preimage"] == [10, 20]
    assert by_type["update_postimage"] == [10, 20]
    assert by_type["insert"] == [900]

    with pytest.raises(ValueError, match="duplicate keys"):
        t.merge_into(src.unionAll(src), "k")
    with pytest.raises(ValueError, match="schema mismatch"):
        t.merge_into(src.withColumnRenamed("tag", "t2"), "k")

    # pruned read stays exact after the merge
    got = _rows(t.pruned_read("k", 0, 30))
    want = _rows(t.read().filter(F.col("k").between(0, 30)))
    assert got == want

    # an empty source is a no-op: the current version comes back and
    # no version directory is written
    before = sorted(os.listdir(str(tmp_path / "t")))
    assert t.merge_into(src.filter("k < 0"), "k") == v
    assert sorted(os.listdir(str(tmp_path / "t"))) == before

    # a NULL source key never matches, not even a stored NULL key: it
    # is inserted each time
    nul = spark.createDataFrame(
        [(None, 0.5, "null"), (30, -3.0, "upd")],
        "k long, score double, tag string",
    )
    v3 = t.merge_into(nul, "k")
    assert {
        (r["_change_type"], r["k"]) for r in t.changes(v3).collect()
    } == {
        ("insert", None), ("update_preimage", 30), ("update_postimage", 30)
    }
    v4 = t.merge_into(nul.filter("k IS NULL"), "k")
    assert v4 == v3 + 1
    assert [r["tag"] for r in t.read(v4).filter("k IS NULL").collect()] == [
        "null", "null",
    ]
    assert [
        (r["_change_type"], r["k"]) for r in t.changes(v4).collect()
    ] == [("insert", None)]
    # two NULL-key source rows group together: a duplicate key
    with pytest.raises(ValueError, match="duplicate keys"):
        t.merge_into(
            nul.filter("k IS NULL").unionAll(nul.filter("k IS NULL")), "k"
        )

    # duplicate TARGET keys all collapse to the one source row
    t.append(
        spark.createDataFrame(
            [(40, 1.0, "dup")], "k long, score double, tag string"
        )
    )
    assert t.read().filter("k = 40").count() == 2
    v6 = t.merge_into(
        spark.createDataFrame(
            [(40, -4.0, "one")], "k long, score double, tag string"
        ),
        "k",
    )
    assert _rows(t.read(v6).filter("k = 40")) == [(40, -4.0, "one")]
    assert sorted(
        (r["_change_type"], r["tag"]) for r in t.changes(v6).collect()
    ) == [
        ("update_postimage", "one"),
        ("update_preimage", "5"),
        ("update_preimage", "dup"),
    ]
    assert t.read(v6).count() == 603


def test_managed_merge_composite_keys(spark, tmp_path):
    """MERGE on a composite key (user_id, day): a row matches only when
    every key column is equal, a NULL in any key column never matches,
    the change feed pairs images per composite key, and a duplicate
    composite key (NULL components included) is refused. The timestamp
    and array columns ride along: the all-matched merge splits off an
    EMPTY insert set, which must still convert, and nested columns
    must not reach a key join."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)

    def df(rows):
        return spark.createDataFrame(
            [
                (*r, t0 + datetime.timedelta(seconds=r[2]), [str(r[2])])
                for r in rows
            ],
            "user_id long, day string, clicks long, seen timestamp, "
            "tags array<string>",
        )

    def triples(frame):
        return sorted(
            ((r["user_id"], r["day"], r["clicks"]) for r in frame.collect()),
            key=repr,
        )

    t = ManagedTable(spark, str(tmp_path / "t"), index_cols=("user_id",))
    t.write(
        df(
            [(1, "d1", 10), (1, "d2", 20), (2, "d1", 30), (3, None, 40)]
        ).repartition(2)
    )
    src = df([(1, "d2", 21), (2, "d2", 31), (3, None, 41), (4, "d1", 50)])
    v = t.merge_into(src, ("user_id", "day"))
    assert triples(t.read(v)) == sorted(
        [
            (1, "d1", 10), (1, "d2", 21), (2, "d1", 30), (2, "d2", 31),
            (3, None, 40), (3, None, 41), (4, "d1", 50),
        ],
        key=repr,
    )
    assert sorted(
        (r["_change_type"], r["user_id"], r["day"], r["clicks"])
        for r in t.changes(v).collect()
    ) == [
        ("insert", 2, "d2", 31),
        ("insert", 3, None, 41),
        ("insert", 4, "d1", 50),
        ("update_postimage", 1, "d2", 21),
        ("update_preimage", 1, "d2", 20),
    ]

    # under a MATCHED condition each composite key is decided alone
    v2 = t.merge_into(
        df([(1, "d1", 5), (2, "d2", 99)]),
        ("user_id", "day"),
        when_matched="s.clicks >= t.clicks",
    )
    got = {(r["user_id"], r["day"]): r for r in t.read(v2).collect()}
    assert got[(1, "d1")]["clicks"] == 10
    assert got[(2, "d2")]["clicks"] == 99
    assert got[(2, "d2")]["seen"] == t0 + datetime.timedelta(seconds=99)
    assert got[(2, "d2")]["tags"] == ["99"]
    assert {
        (r["_change_type"], r["clicks"]) for r in t.changes(v2).collect()
    } == {("update_preimage", 31), ("update_postimage", 99)}

    with pytest.raises(ValueError, match="duplicate keys"):
        t.merge_into(df([(5, None, 1), (5, None, 2)]), ("user_id", "day"))


def _jobs_in_group(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the
    number of Spark jobs it submitted."""
    import uuid

    sc = spark.sparkContext
    group = f"managed-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "managed job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_managed_merge_releases_cache_and_bounds_jobs(
    spark, tmp_path, monkeypatch
):
    """MERGE leaves no persisted RDD behind, whether it commits or
    refuses duplicate keys, and a fixed small merge runs a bounded
    number of Spark jobs on each plan, so per-commit cache-fill passes
    and write jobs cannot creep back in."""
    import bigdatalab_spark.sources.managed as managed_mod

    sc = spark.sparkContext
    src = spark.createDataFrame(
        [(10, -1.0, "upd"), (20, -2.0, "upd"), (900, -9.0, "new")],
        "k long, score double, tag string",
    )
    n_cached = sc._jsc.getPersistentRDDs().size()
    # driver path, measured: 1 source collect, 1 broadcast of the
    # source LocalRelation and 1 scan; the rewrite and change feed are
    # written by pyarrow. Spark path (bound forced to 0), measured: 1
    # source collect, 3 for attribution (two LocalRelation broadcasts
    # and the scan), 4 for the rewrite write (a broadcast, the range
    # sample, the shuffle map stage and the write) and 2 for the
    # change-feed write (a broadcast and the write); the
    # persist-and-fill plan ran 12
    for bound, most in ((managed_mod.COW_DRIVER_MAX_BYTES, 3), (0, 10)):
        monkeypatch.setattr(managed_mod, "COW_DRIVER_MAX_BYTES", bound)
        t = ManagedTable(
            spark, str(tmp_path / f"t{bound}"), index_cols=("k",)
        )
        t.write(
            _mk(spark, 0, 600)
            .repartitionByRange(6, "k")
            .sortWithinPartitions("k")
        )
        v, n_jobs = _jobs_in_group(spark, lambda: t.merge_into(src, "k"))
        assert v == 2 and t.read().count() == 601
        assert 0 < n_jobs <= most, (bound, n_jobs)
        assert sc._jsc.getPersistentRDDs().size() <= n_cached

        with pytest.raises(ValueError, match="duplicate keys"):
            t.merge_into(src.unionAll(src), "k")
        assert sc._jsc.getPersistentRDDs().size() <= n_cached
        assert t.latest() == 2


def test_managed_delete_releases_cache_and_bounds_jobs(
    spark, tmp_path, monkeypatch
):
    """DELETE plans without a cache, as MERGE does: a range delete
    leaves no persisted RDD behind and runs a bounded number of Spark
    jobs on each plan, so the touched-file cache and its fill job
    cannot creep back in."""
    import bigdatalab_spark.sources.managed as managed_mod

    sc = spark.sparkContext
    n_cached = sc._jsc.getPersistentRDDs().size()
    # driver path, measured: the one scan that collects the candidate
    # rows. Spark path (bound forced to 0), measured: 2 for
    # attribution, 1 for the rewrite write and 1 for the change-feed
    # write; the persist-and-fill plan ran 5 (one more for the cache
    # fill)
    for bound, most in ((managed_mod.COW_DRIVER_MAX_BYTES, 1), (0, 4)):
        monkeypatch.setattr(managed_mod, "COW_DRIVER_MAX_BYTES", bound)
        t = ManagedTable(
            spark, str(tmp_path / f"t{bound}"), index_cols=("k",)
        )
        t.write(
            _mk(spark, 0, 600)
            .repartitionByRange(6, "k")
            .sortWithinPartitions("k")
        )
        v, n_jobs = _jobs_in_group(
            spark, lambda: t.delete_range("k", 10, 19)
        )
        assert v == 2 and t.read().count() == 590
        assert t.changes(2).count() == 10
        assert 0 < n_jobs <= most, (bound, n_jobs)
        assert sc._jsc.getPersistentRDDs().size() <= n_cached


def test_managed_compact_sizes_from_index(spark, tmp_path, monkeypatch):
    """compact() sizes its output from the stored index's per-file row
    counts instead of counting the rows in Spark: the compacted layout
    (file count and rows) is the one the count gives, in fewer jobs. A
    table without index columns still counts."""

    def compact(name, cols):
        t = ManagedTable(spark, str(tmp_path / name), index_cols=cols)
        t.write(_mk(spark, 0, 1000, parts=8))
        t.append(_mk(spark, 1000, 1050, parts=3))
        t.delete_range("k", 100, 199)
        v, n_jobs = _jobs_in_group(
            spark, lambda: t.compact(target_file_rows=300)
        )
        files = _data_files(str(tmp_path / name / f"v={v}"))
        return t, len(files), _rows(t.read()), n_jobs

    t, n_files, rows, n_jobs = compact("indexed", ("k",))
    assert t._indexed_row_count(t.latest() - 1) == 950
    with monkeypatch.context() as m:
        m.setattr(ManagedTable, "_indexed_row_count", lambda self, v: None)
        _, n_files_c, rows_c, n_jobs_c = compact("counted", ("k",))
    # ceil(950 / 300) files either way; the count cost 2 jobs
    assert (n_files, rows) == (n_files_c, rows_c) and n_files == 4
    assert n_jobs == n_jobs_c - 2, (n_jobs, n_jobs_c)
    t, _, rows, _ = compact("plain", ())
    assert t._indexed_row_count(t.latest()) is None
    assert len(rows) == 950


_COW_TYPES_DDL = (
    "k long, k2 string, seq int, d date, ts timestamp, tn timestamp_ntz, "
    "dec decimal(12,3), arr array<int>, m map<string,int>, "
    "st struct<a:int,b:string>, bin binary, b boolean, f float"
)


def _cow_row(k, k2, seq):
    """One row of the many-typed table; every column derives from the
    key and ``seq`` so a change shows in every type."""
    import datetime
    from decimal import Decimal

    i = (k or 0) + seq
    return (
        k, k2, seq,
        datetime.date(2024, 1, 1) + datetime.timedelta(days=i % 300),
        datetime.datetime(2024, 1, 1, 8) + datetime.timedelta(seconds=i),
        datetime.datetime(2024, 2, 1) + datetime.timedelta(minutes=i),
        Decimal(i) / 8, [i, None], {"n": i}, (i, str(i)),
        bytes([i % 256]), i % 2 == 0, i / 4.0,
    )


def _canon_rows(df) -> list[str]:
    """Order-free, hashable view of a frame's rows (maps as sorted
    items, so nested types compare)."""

    def canon(v):
        if isinstance(v, dict):
            return tuple(sorted((k, canon(x)) for k, x in v.items()))
        if isinstance(v, (list, tuple)):
            return tuple(canon(x) for x in v)
        return v

    return sorted(repr(canon(tuple(r))) for r in df.collect())


def test_managed_cow_paths_agree(spark, tmp_path, monkeypatch):
    """The driver copy-on-write path and the Spark plan (forced by
    setting the bound to 0) give equal tables and equal change feeds,
    schema and column order included, on a table of every common
    type: MERGE unconditional and under ``when_matched``, on one and
    on composite keys, with NULL keys, duplicate target keys, an
    all-matched and an all-insert source; DELETE by predicate and by
    range; UPDATE. The table path needs URI escaping."""
    import bigdatalab_spark.sources.managed as managed_mod

    table = [_cow_row(k, "ab"[k % 2], 5) for k in range(200)]
    table += [_cow_row(7, "b", 9), _cow_row(None, "a", 1), _cow_row(None, "b", 2)]

    def src(rows):
        return spark.createDataFrame(
            [_cow_row(k, k2, seq) for k, k2, seq in rows], _COW_TYPES_DDL
        )

    ops = [
        # duplicate target key 7, a NULL key, a new key
        lambda t: t.merge_into(
            src([(10, "a", 6), (7, "x", 6), (None, "a", 6), (900, "a", 6)]), "k"
        ),
        # key 7's two rows are decided one by one (seq 5 loses, 9 wins)
        lambda t: t.merge_into(
            src([(7, "y", 8), (20, "a", 1), (21, "b", 7), (901, "a", 1)]),
            "k",
            when_matched="s.seq >= t.seq",
        ),
        # composite keys: (30, "a") does not exist, (None, "b") never matches
        lambda t: t.merge_into(
            src([(30, "b", 8), (30, "a", 8), (31, "b", 8), (None, "b", 8)]),
            ("k", "k2"),
        ),
        # every source key matches
        lambda t: t.merge_into(
            src([(40, "a", 9), (41, "b", 9)]), "k", when_matched="s.seq > t.seq"
        ),
        # every source key is new, but the key range reaches a file
        lambda t: t.merge_into(src([(500, "a", 1), (5001, "b", 1)]), "k"),
        # the key range reaches no file: nothing is scanned, and an
        # empty candidate set fits any bound, so both runs take the
        # driver path here
        lambda t: t.merge_into(src([(6000, "a", 1), (6001, "b", 2)]), "k"),
        lambda t: t.delete_where("b AND k < 60"),
        lambda t: t.delete_range("k", 100, 119),
        lambda t: t.update_where(
            "k BETWEEN 150 AND 160 OR k IS NULL",
            {"f": "f * 2", "arr": F.array(F.lit(7)), "m": "map('u', seq)"},
        ),
        lambda t: t.update_range("k", 170, 179, {"dec": "dec + 1"}),
    ]
    results = {}
    local_writes = []
    write_local = ManagedTable._write_delta_local
    monkeypatch.setattr(
        ManagedTable,
        "_write_delta_local",
        lambda self, *a: local_writes.append(1) or write_local(self, *a),
    )
    for driver in (True, False):
        if not driver:
            monkeypatch.setattr(managed_mod, "COW_DRIVER_MAX_BYTES", 0)
        local_writes.clear()
        # a space, a "+" and a "%" in the table path: scanned file
        # paths are URIs, percent-encoded, on both plans
        t = ManagedTable(
            spark, str(tmp_path / f"{driver} a+b%20c"), index_cols=("k",)
        )
        t.write(
            spark.createDataFrame(table, _COW_TYPES_DDL)
            .repartitionByRange(4, "k")
            .sortWithinPartitions("k")
        )
        out = []
        for op in ops:
            v = op(t)
            feed = t.changes(v)
            out.append(
                (v, _canon_rows(t.read()), feed.schema, _canon_rows(feed))
            )
        # the Spark run's one driver write is the no-file merge above
        assert len(local_writes) == (len(ops) if driver else 1)
        results[driver] = out
    for i, (got, want) in enumerate(zip(results[True], results[False])):
        assert got == want, f"op {i}: driver path != Spark path"
    # the ops really exercised what they name
    feeds = [r[3] for r in results[True]]
    assert sum("update_preimage" in r for r in feeds[1]) == 2  # 7@5 stays
    assert all("'insert'" in r for r in feeds[4])
    assert not any("'insert'" in r for r in feeds[3])
    # a type pyarrow cannot hand back to Spark unchanged keeps the
    # Spark plan
    from pyspark.sql import types as T

    assert managed_mod._arrow_native(T.StructType.fromDDL(_COW_TYPES_DDL))
    assert not managed_mod._arrow_native(
        T.ArrayType(T.DayTimeIntervalType())
    )


def test_managed_changes_derivations(spark, tmp_path):
    """changes(): v1 = all inserts, append = the appended rows (derived
    from new files, no CDF write), compaction = empty feed, full
    write() later = loud refusal."""
    t = ManagedTable(spark, str(tmp_path / "t"), index_cols=("k",))
    t.write(_mk(spark, 0, 100))
    assert t.changes(1).count() == 100
    assert t.changes(1).filter("_change_type <> 'insert'").count() == 0

    t.append(_mk(spark, 100, 130))
    ins = t.changes(2)
    assert sorted(r["k"] for r in ins.collect()) == list(range(100, 130))
    assert ins.filter("_change_type <> 'insert'").count() == 0
    # derived, not recorded: no _cdf directory for an append
    assert not os.path.isdir(str(tmp_path / "t" / "v=2" / "_cdf"))

    t.compact(target_file_rows=200)
    assert t.changes(3).count() == 0

    t.write(_mk(spark, 0, 10))
    with pytest.raises(ValueError, match="no change feed"):
        t.changes(4)


def test_managed_dml_crash_and_lock_discipline(spark, tmp_path):
    """A DML crash after data/CDF writes but before the marker leaves
    the table serving the old version, and the failed commit removes
    its own directory (no version dir, no staging dir is left); DML
    under a held writer lock is refused."""
    t = ManagedTable(spark, str(tmp_path / "t"), index_cols=("k",))
    t.write(_mk(spark, 0, 200).repartitionByRange(2, "k").sortWithinPartitions("k"))

    # simulate the crash: do the rewrite by hand, never commit
    real_commit = t._commit
    try:
        def boom(*a, **kw):
            raise RuntimeError("crash before marker")
        t._commit = boom
        with pytest.raises(RuntimeError, match="crash before marker"):
            t.delete_range("k", 0, 50)
    finally:
        t._commit = real_commit
    assert t.latest() == 1 and t.versions() == [1]
    assert len(_rows(t.read())) == 200  # old version fully intact
    # the failed commit cleaned up after itself: no v=2, no staging
    left = os.listdir(str(tmp_path / "t"))
    assert "v=2" not in left
    assert not [e for e in left if e.startswith(("_txn_", ".txn_setup_"))]

    # held lock => loud refusal, no version change
    lock = lockfile_path(str(tmp_path / "t"))
    os.makedirs(lock)
    try:
        with pytest.raises(ConcurrentWriteError):
            t.delete_range("k", 0, 10)
    finally:
        os.rmdir(lock)
    assert t.latest() == 1


def test_managed_compact_zorder_prunes_both_dimensions(spark, tmp_path):
    """compact(zorder_by=(x, y)): after the z-clustered rewrite the
    per-version index prunes range predicates on EITHER column; a
    linear-sort compaction only prunes its leading column."""
    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / F.lit(64)).cast("long").alias("y"),
        F.col("id").alias("payload"),
    ).repartition(8)
    lin = ManagedTable(spark, str(tmp_path / "lin"), index_cols=("x", "y"))
    lin.write(df)
    lin.compact(target_file_rows=256)
    zed = ManagedTable(spark, str(tmp_path / "zed"), index_cols=("x", "y"))
    zed.write(df)
    zed.compact(target_file_rows=256, zorder_by=("x", "y"))

    n_files = len(_data_files(str(tmp_path / "zed" / "v=2")))
    assert n_files >= 8
    # z-layout prunes BOTH dims; linear layout cannot prune its trailing dim
    zx = len(zed.candidate_files("x", 0, 7))
    zy = len(zed.candidate_files("y", 0, 7))
    ly = len(lin.candidate_files("y", 0, 7))
    assert zx < n_files and zy < n_files
    assert zy < ly  # strictly better than the linear layout on dim 2
    # and the pruned reads stay exact
    for tbl in (lin, zed):
        got = _rows(tbl.pruned_read("y", 0, 7))
        want = _rows(tbl.read().filter(F.col("y").between(0, 7)))
        assert got == want and got


def test_managed_merge_when_matched_condition(spark, tmp_path):
    """Conditional MERGE (WHEN MATCHED AND s.seq >= t.seq): newer
    source rows replace, older ones leave the stored row untouched,
    and the change feed records only the APPLIED updates."""
    t = ManagedTable(spark, str(tmp_path / "t"), index_cols=("k",))
    t.write(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
            "k long, seq long, val string",
        ).repartition(2)
    )
    src = spark.createDataFrame(
        [(1, 11, "newer"), (2, 5, "older"), (9, 1, "fresh")],
        "k long, seq long, val string",
    )
    v = t.merge_into(src, "k", when_matched="s.seq >= t.seq")
    got = {r["k"]: (r["seq"], r["val"]) for r in t.read(v).collect()}
    assert got[1] == (11, "newer")   # applied: source seq newer
    assert got[2] == (20, "b")       # skipped: source seq older
    assert got[3] == (30, "c")       # untouched key
    assert got[9] == (1, "fresh")    # inserted
    cdf = {
        (r["_change_type"], r["k"]) for r in t.changes(v).collect()
    }
    assert cdf == {
        ("update_preimage", 1),
        ("update_postimage", 1),
        ("insert", 9),
    }

    # duplicate TARGET keys are decided row by row under a condition:
    # only the stored row the source is newer than is replaced
    t.append(
        spark.createDataFrame([(3, 40, "c2")], "k long, seq long, val string")
    )
    v2 = t.merge_into(
        spark.createDataFrame([(3, 35, "mid")], "k long, seq long, val string"),
        "k",
        when_matched="s.seq >= t.seq",
    )
    assert sorted(
        (r["seq"], r["val"]) for r in t.read(v2).filter("k = 3").collect()
    ) == [(35, "mid"), (40, "c2")]
    assert sorted(
        (r["_change_type"], r["seq"]) for r in t.changes(v2).collect()
    ) == [("update_postimage", 35), ("update_preimage", 30)]


def test_managed_merge_stream_exactly_once(spark, tmp_path):
    """Streaming MERGE into the facade: first batch creates the table,
    the second merges incrementally (regress-guarded by order_col);
    a forced REPLAY of the last batch (crash between table commit and
    checkpoint commit, simulated by deleting the checkpoint's commit
    marker) is skipped — versions and the change feed do not grow."""
    from bigdatalab_spark.streaming.jobs import (
        managed_merge_batch,
        managed_merge_stream,
    )

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    ckpt = str(tmp_path / "ckpt")
    t = ManagedTable(spark, str(tmp_path / "t"), index_cols=("k",))

    schema = "k long, seq long, val string"
    spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b"), (3, 10, "c")], schema
    ).coalesce(1).write.mode("append").parquet(src_dir)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    q = managed_merge_stream(stream, t, ("k",), ckpt, order_col="seq")
    q.awaitTermination()
    assert t.latest() == 1 and t.last_stream_batch() == 0
    assert {r["k"] for r in t.read().collect()} == {1, 2, 3}

    # batch 2: one newer update, one stale update, one insert — plus a
    # within-batch duplicate that must collapse to the max-seq row
    spark.createDataFrame(
        [(1, 20, "new"), (1, 15, "mid"), (2, 5, "stale"), (4, 1, "ins")],
        schema,
    ).coalesce(1).write.mode("append").parquet(src_dir)
    q = managed_merge_stream(
        spark.readStream.schema(schema).parquet(src_dir),
        t, ("k",), ckpt, order_col="seq",
    )
    q.awaitTermination()
    assert t.last_stream_batch() == 1
    got = {r["k"]: (r["seq"], r["val"]) for r in t.read().collect()}
    assert got[1] == (20, "new")   # newest within-batch row won
    assert got[2] == (10, "b")     # stale update refused
    assert got[4] == (1, "ins")
    v_after = t.latest()
    feed_rows = t.changes(v_after).count()

    # crash-replay: the checkpoint forgot the last commit (crash landed
    # between the TABLE commit and the CHECKPOINT commit), the table
    # kept it. A FRESH process restarts from the checkpoint — Spark's
    # own same-JVM safeguard (SparkConcurrentModificationException on a
    # rewritten commit file) makes the in-process simulation illegal,
    # which is exactly the real-world shape anyway: the replaying query
    # lives in a new driver. The replayed batch must be SKIPPED.
    import subprocess
    import sys
    import textwrap

    commits = os.path.join(ckpt, "commits")
    last_commit = sorted(os.listdir(commits))[-1]
    os.remove(os.path.join(commits, last_commit))
    # a real crash-before-commit wrote neither the entry NOR Hadoop's
    # checksum shadow; a stale .crc makes the replay's rename collide
    crc = os.path.join(commits, f".{last_commit}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    runner = tmp_path / "replay_runner.py"
    runner.write_text(
        textwrap.dedent(
            """
            import sys
            from bigdatalab_spark.session import get_session
            from bigdatalab_spark.sources.managed import ManagedTable
            from bigdatalab_spark.streaming.jobs import managed_merge_stream

            src, ckpt, troot = sys.argv[1:4]
            spark = get_session(app_name="managed-merge-replay")
            spark.sparkContext.setLogLevel("ERROR")
            t = ManagedTable(spark, troot, index_cols=("k",))
            schema = "k long, seq long, val string"
            q = managed_merge_stream(
                spark.readStream.schema(schema).parquet(src),
                t, ("k",), ckpt, order_col="seq",
            )
            q.awaitTermination()
            spark.stop()
            """
        )
    )
    env = dict(os.environ, PYTHONPATH="/root/repo")
    proc = subprocess.run(
        [sys.executable, str(runner), src_dir, ckpt, str(tmp_path / "t")],
        cwd="/root/repo", env=env, capture_output=True, text=True,
        timeout=300,
    )
    assert proc.returncode == 0, f"replay process failed:\n{proc.stderr[-2000:]}"
    assert t.latest() == v_after              # no duplicate version
    assert t.changes(v_after).count() == feed_rows  # feed not doubled
    assert t.last_stream_batch() == 1

    # the helper refuses an already-applied id outright
    assert managed_merge_batch(
        t,
        spark.createDataFrame([(9, 9, "x")], schema),
        1,
        ("k",),
        order_col="seq",
    ) is False


@pytest.mark.parametrize("order_col", [None, "seq"])
def test_managed_merge_batch_empty_commits_nothing(spark, tmp_path, order_col):
    """An empty micro-batch returns False and writes no version
    directory, before the first snapshot and on the merge path, with
    and without the order_col collapse; a non-empty one commits."""
    from bigdatalab_spark.streaming.jobs import managed_merge_batch

    schema = "k long, seq long, val string"
    root = str(tmp_path / "t")
    t = ManagedTable(spark, root, index_cols=("k",))
    empty = spark.createDataFrame([], schema)
    assert managed_merge_batch(t, empty, 0, ("k",), order_col=order_col) is False
    assert t.latest() is None
    one = spark.createDataFrame([(1, 1, "a")], schema)
    assert managed_merge_batch(t, one, 0, ("k",), order_col=order_col) is True
    before = sorted(os.listdir(root))
    assert managed_merge_batch(t, empty, 1, ("k",), order_col=order_col) is False
    assert sorted(os.listdir(root)) == before
    assert t.latest() == 1 and t.last_stream_batch() == 0
    two = spark.createDataFrame([(1, 2, "b"), (2, 1, "c")], schema)
    assert managed_merge_batch(t, two, 2, ("k",), order_col=order_col) is True
    assert t.latest() == 2 and t.last_stream_batch() == 2
    assert sorted((r["k"], r["val"]) for r in t.read().collect()) == [
        (1, "b"),
        (2, "c"),
    ]


def test_managed_rowgroup_index_prunes_inside_kept_files(spark, tmp_path):
    """rowgroup_index=True commits a per-(file, row group, col) index
    with each snapshot: a 2-D predicate keeps fewer row groups than
    the kept files contain (skipping INSIDE files), the executable
    row-group scan returns exactly the full scan's filter, and a
    copy-on-write DELETE keeps the finer index coherent (it covers
    exactly the new version's files)."""
    df = spark.range(0, 8192).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / F.lit(64)).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    t = ManagedTable(
        spark, str(tmp_path / "t"), index_cols=("x", "y"),
        rowgroup_index=True,
    )
    from bigdatalab_spark.operators.zorder import zorder_key

    zed = (
        df.withColumn("__z", zorder_key(F.col("x"), F.col("y")))
        .repartitionByRange(8, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    t.write(zed, writer_options={"parquet.block.size": 4096})

    idx = t.rowgroup_index_df()
    n_groups = idx.select("file", "rg").distinct().count()
    n_files = len(_data_files(str(tmp_path / "t" / "v=1")))
    assert n_groups > n_files  # several row groups per file

    preds = [("x", 0, 7), ("y", 0, 7)]
    # finer than file-level: kept row groups < all row groups of kept files
    kept_files = set(t.candidate_files("x", 0, 7)) & set(
        t.candidate_files("y", 0, 7)
    )
    from bigdatalab_spark.sources.skipping import candidate_rowgroups

    vdir = str(tmp_path / "t" / "v=1")
    cand = candidate_rowgroups(
        t.rowgroup_index_df().withColumn(
            "file", F.concat(F.lit(vdir + "/"), F.col("file"))
        ),
        preds,
    )
    kept_groups = sum(len(v) for v in cand.values())
    groups_in_kept_files = (
        idx.filter(F.col("file").isin([f for f in kept_files]))
        .select("file", "rg").distinct().count()
    )
    assert 0 < kept_groups < groups_in_kept_files

    got = _rows(
        t.rowgroup_pruned_read(preds).filter(
            F.col("x").between(0, 7) & F.col("y").between(0, 7)
        )
    )
    want = _rows(
        t.read().filter(F.col("x").between(0, 7) & F.col("y").between(0, 7))
    )
    assert got == want and got

    # DML keeps the finer index coherent: covers exactly the new files
    v = t.delete_range("x", 10, 12)
    files_v = set(_data_files(str(tmp_path / "t" / f"v={v}")))
    assert {
        r["file"] for r in t.rowgroup_index_df(v).select("file").distinct().collect()
    } == files_v
    got = _rows(
        t.rowgroup_pruned_read([("x", 8, 15)], version=v).filter(
            F.col("x").between(8, 15)
        )
    )
    want = _rows(t.read(v).filter(F.col("x").between(8, 15)))
    assert got == want and got
    assert not any(10 <= r[0] <= 12 for r in got)


def test_managed_rowgroup_index_upgrade_path(spark, tmp_path):
    """Enabling rowgroup_index on an EXISTING table: the next commit
    probes the whole snapshot fresh (a committed version's index must
    cover every file), so reads through the finer index never drop
    rows written before the upgrade."""
    t0 = ManagedTable(spark, str(tmp_path / "t"), index_cols=("k",))
    t0.write(_mk(spark, 0, 400).repartitionByRange(4, "k").sortWithinPartitions("k"))
    with pytest.raises(FileNotFoundError, match="no row-group index"):
        ManagedTable(
            spark, str(tmp_path / "t"), index_cols=("k",),
            rowgroup_index=True,
        ).rowgroup_index_df()

    t = ManagedTable(
        spark, str(tmp_path / "t"), index_cols=("k",), rowgroup_index=True
    )
    v = t.append(_mk(spark, 400, 500, parts=1))
    files_v = set(_data_files(str(tmp_path / "t" / f"v={v}")))
    covered = {
        r["file"]
        for r in t.rowgroup_index_df(v).select("file").distinct().collect()
    }
    assert covered == files_v  # pre-upgrade files probed fresh, not lost
    got = _rows(t.rowgroup_pruned_read([("k", 100, 450)], version=v))
    want = _rows(t.read(v).filter(F.col("k").between(100, 450)))
    assert sorted(got) == sorted(want) and got


def test_managed_schema_evolution_append(spark, tmp_path):
    """Append with a brand-new column: the stored schema grows, linked
    pre-evolution files read back with NULLs for it, time travel keeps
    the old shape, pruned reads stay exact across the mixed-file
    candidate set, and an indexed evolved column leaves old files as
    always-candidates (NULL stats) instead of dropping them."""
    t = ManagedTable(
        spark, str(tmp_path / "t"), index_cols=("k", "extra")
    )
    t.write(_mk(spark, 0, 300).repartitionByRange(3, "k").sortWithinPartitions("k"))
    evolved = _mk(spark, 300, 400, parts=1).withColumn(
        "extra", (F.col("k") * 10).cast("long")
    )
    v2 = t.append(evolved)

    # shape: new column present, old rows NULL, new rows populated
    df2 = t.read(v2)
    assert df2.columns == ["k", "score", "tag", "extra"]
    assert df2.filter("k < 300 AND extra IS NOT NULL").count() == 0
    assert df2.filter("k >= 300").filter("extra <> k * 10").count() == 0
    assert df2.count() == 400
    # time travel: v1 keeps its own (pre-evolution) shape
    assert t.read(1).columns == ["k", "score", "tag"]

    # pruned read over the MIXED candidate set (old files lack extra)
    got = _rows(t.pruned_read("k", 250, 350, version=v2))
    want = _rows(t.read(v2).filter(F.col("k").between(250, 350)))
    assert got == want and got
    # indexed evolved column: old files are NULL-stats always-candidates
    cand = t.candidate_files("extra", 3000, 3500, version=v2)
    old_files = set(_data_files(str(tmp_path / "t" / "v=1")))
    assert old_files <= set(cand)
    got = _rows(t.pruned_read("extra", 3000, 3500, version=v2))
    want = _rows(t.read(v2).filter(F.col("extra").between(3000, 3500)))
    assert got == want and got

    # contract violations refuse loudly
    with pytest.raises(ValueError, match="missing existing columns"):
        t.append(spark.range(5).select(F.col("id").alias("k")))
    with pytest.raises(ValueError, match="changes the type"):
        t.append(
            _mk(spark, 400, 410, parts=1)
            .withColumn("score", F.col("score").cast("float"))
            .withColumn("extra", F.lit(1).cast("long"))
        )


def test_managed_dml_after_schema_evolution(spark, tmp_path):
    """Copy-on-write DML on an evolved table: the stored schema is the
    authority for the rewrite, so touched pre-evolution files rewrite
    with NULL-filled evolved columns and nothing depends on file
    order; the change feed carries the evolved shape; deleting EVERY
    row leaves a readable empty snapshot (stored schema, no files)."""
    t = ManagedTable(spark, str(tmp_path / "t"), index_cols=("k",))
    t.write(_mk(spark, 0, 200).repartitionByRange(2, "k").sortWithinPartitions("k"))
    t.append(
        _mk(spark, 200, 260, parts=1).withColumn(
            "extra", (F.col("k") + 1).cast("long")
        )
    )
    # delete spans an old file AND the new file
    v = t.delete_range("k", 150, 220)
    got = _rows(t.read(v))
    assert len(got) == 189 and not any(150 <= r[0] <= 220 for r in got)
    cdf = t.changes(v)
    assert "extra" in cdf.columns
    assert cdf.count() == 71
    # pre-evolution deleted rows carry NULL extra; evolved ones keep it
    assert cdf.filter("k < 200 AND extra IS NOT NULL").count() == 0
    assert cdf.filter("k >= 200 AND extra IS NULL").count() == 0

    # merge with the evolved schema updates both eras
    src = spark.createDataFrame(
        [(0, -1.0, "z", 99), (230, -2.0, "z", 98), (500, -3.0, "z", 97)],
        "k long, score double, tag string, extra long",
    )
    vm = t.merge_into(src, "k")
    got = {r["k"]: (r["score"], r["extra"]) for r in t.read(vm).collect()}
    assert got[0] == (-1.0, 99) and got[230] == (-2.0, 98)
    assert got[500] == (-3.0, 97)

    # delete everything: empty but READABLE snapshot with the schema
    v_empty = t.delete_where(F.lit(True))
    assert t.read(v_empty).count() == 0
    assert t.read(v_empty).columns == ["k", "score", "tag", "extra"]
    assert t.pruned_read("k", 0, 10, version=v_empty).count() == 0


def test_managed_change_feed_cursor(spark, tmp_path):
    """Incremental consumption: a fresh cursor bootstraps from the
    first snapshot (all-inserts), pending() returns exactly the
    unacknowledged versions' changes, ack() advances durably, a
    caught-up consumer sees nothing, and an un-acked crash replays the
    same changes (at-least-once)."""
    t = ManagedTable(spark, str(tmp_path / "t"), index_cols=("k",))
    cur = t.cursor(str(tmp_path / "cursor" / "pos"))
    assert cur.pending() == (None, None)  # no table yet

    t.write(_mk(spark, 0, 100).repartitionByRange(2, "k").sortWithinPartitions("k"))
    df, upto = cur.pending()
    assert upto == 1 and df.count() == 100
    assert df.filter("_change_type <> 'insert'").count() == 0
    # crash before ack: same changes again (at-least-once)
    df2, upto2 = cur.pending()
    assert upto2 == 1 and df2.count() == 100
    cur.ack(upto2)
    assert cur.pending() == (None, None)

    t.append(_mk(spark, 100, 120, parts=1))
    t.delete_range("k", 0, 9)
    df, upto = cur.pending()
    assert upto == 3
    by_type = {
        r["_change_type"]: r["n"]
        for r in df.groupBy("_change_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_type == {"insert": 20, "delete": 10}
    # per-version attribution travels with the rows
    assert df.filter("_commit_version = 2 AND _change_type = 'insert'").count() == 20
    cur.ack(upto)

    # compaction: a physical no-op contributes an empty feed
    t.compact(target_file_rows=500)
    df, upto = cur.pending()
    assert upto == 4 and df.count() == 0
    cur.ack(upto)

    # changes_between bounds are loud when history is gone
    t.append(_mk(spark, 120, 130, parts=1))
    t.vacuum(keep_last=1)
    with pytest.raises(FileNotFoundError, match="re-bootstrap"):
        t.changes_between(2)


def test_managed_changes_data_source(spark, tmp_path):
    """The change feed as a registered Spark data source
    (format 'managed_changes', batch + streaming): the batch read of a
    version range equals changes_between row-for-row; the stream
    bootstraps from the initial snapshot and a checkpointed restart
    delivers ONLY new versions (exactly-once); pre-evolution rows are
    NULL-padded to the stream schema; vacuumed history and full
    replaces fail loudly."""
    from bigdatalab_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    root = str(tmp_path / "t")
    t = ManagedTable(spark, root, index_cols=("k",))
    t.write(_mk(spark, 0, 100).repartitionByRange(2, "k").sortWithinPartitions("k"))
    t.delete_range("k", 10, 19)
    t.append(
        _mk(spark, 100, 120, parts=1).withColumn(
            "extra", (F.col("k") * 3).cast("long")
        )
    )

    # batch: whole feed == changes_between(first, latest)
    got = spark.read.format("managed_changes").load(root)
    want = t.changes_between(1).select(*got.columns)
    assert _rows(got) == _rows(want)
    # evolved column: NULL for pre-evolution feed rows, real after
    assert got.filter("_commit_version < 3 AND extra IS NOT NULL").count() == 0
    assert got.filter("_commit_version = 3 AND extra IS NULL").count() == 0
    # startingVersion narrows the range
    part = spark.read.format("managed_changes").option(
        "startingVersion", 2
    ).load(root)
    assert part.count() == 30 and part.filter("_commit_version = 1").count() == 0

    # streaming: bootstrap then incremental restart
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("managed_changes").load(root)
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    drain()
    assert spark.read.parquet(out).count() == 130  # 100 ins + 10 del + 20 ins
    t.update_range("k", 30, 34, {"score": "score + 1000"})
    t.compact(target_file_rows=500)  # contributes nothing to the feed
    drain()
    after = spark.read.parquet(out)
    assert after.count() == 140  # exactly the 5 pre + 5 post images more
    assert after.filter("_commit_version = 4").count() == 10
    assert after.filter("_commit_version = 5").count() == 0
    # no duplicates across the restart
    assert after.filter("_change_type = 'insert'").count() == 120

    # full replace: the feed is underivable and must fail loudly
    t.write(_mk(spark, 0, 10))
    with pytest.raises(Exception, match="no change feed"):
        spark.read.format("managed_changes").option(
            "startingVersion", 6
        ).load(root).collect()

    # vacuumed history fails loudly rather than skipping
    t.vacuum(keep_last=1)
    with pytest.raises(Exception, match="vacuumed|gone"):
        spark.read.format("managed_changes").option(
            "startingVersion", 2
        ).option("endingVersion", 4).load(root).collect()


def test_managed_history_and_clone(spark, tmp_path):
    """history(): one metadata row per version with op kind, file/byte
    counts, stream batch, CDF presence, pointer flag. clone(): a
    zero-copy shallow clone is an independent table over hard-linked
    files; mutating the clone never touches the source, and the
    source's vacuum never breaks the clone."""
    t = ManagedTable(spark, str(tmp_path / "t"), index_cols=("k",))
    t.write(_mk(spark, 0, 200).repartitionByRange(2, "k").sortWithinPartitions("k"))
    t.append(_mk(spark, 200, 240, parts=1))
    t.delete_range("k", 0, 9)

    h = {r["version"]: r for r in t.history().collect()}
    assert set(h) == {1, 2, 3}
    assert h[1]["op"] == "write" and h[2]["op"] == "append"
    assert h[3]["op"] == "delete" and h[3]["has_cdf"]
    assert not h[1]["has_cdf"] and not h[2]["has_cdf"]
    assert h[3]["is_current"] and not h[1]["is_current"]
    assert all(r["n_files"] > 0 and r["n_bytes"] > 0 for r in h.values())

    # clone at the current version
    c = t.clone(str(tmp_path / "c"))
    assert c.versions() == [1]
    assert _rows(c.read()) == _rows(t.read())
    # linked, not copied
    src_files = _data_files(str(tmp_path / "t" / "v=3"))
    for rel in _data_files(str(tmp_path / "c" / "v=1")):
        assert rel in src_files
        assert os.stat(os.path.join(str(tmp_path / "t" / "v=3"), rel)).st_ino == os.stat(
            os.path.join(str(tmp_path / "c" / "v=1"), rel)
        ).st_ino
    # index travels: pruning works immediately on the clone
    got = _rows(c.pruned_read("k", 50, 80))
    assert got == _rows(c.read().filter(F.col("k").between(50, 80)))
    # clone's v=1 is a fresh initial snapshot: all-inserts feed
    assert c.changes(1).filter("_change_type <> 'insert'").count() == 0

    # independence: DML on the clone leaves the source untouched
    c.delete_range("k", 100, 239)
    assert c.read().count() == 90 and t.read().count() == 230
    # and the source's vacuum never breaks the clone (shared inodes)
    t.compact(target_file_rows=1000)
    t.vacuum(keep_last=1)
    assert c.read(1).count() == 230

    # time-travel clone + refusal to clone onto an existing table
    c2 = t.clone(str(tmp_path / "c2"))
    with pytest.raises(ValueError, match="brand-new"):
        t.clone(str(tmp_path / "c2"))
    assert c2.read().count() == 230


def test_managed_dml_on_partitioned_layouts(spark, tmp_path):
    """Copy-on-write DML on a PARTITIONED snapshot: attribution reads
    partition values from the directory names, only touched files are
    rewritten (under the same col=val/ layout), and the change feed
    carries the partition columns — plus clone carries the row-group
    index when present."""
    t = ManagedTable(spark, str(tmp_path / "t"), index_cols=("k",))
    t.write(_mk(spark, 0, 50), partition_cols=("tag",))
    assert t.partition_cols_of() == ("tag",)
    v2 = t.delete_range("k", 0, 5)
    assert v2 == 2
    assert _rows(t.read()) == sorted(
        [(k, k * 2.0, str(k % 7)) for k in range(6, 50)]
    )
    # rewritten files landed under the preserved layout
    assert all(
        rel.startswith("tag=")
        for rel in _data_files(str(tmp_path / "t" / "v=2"))
    )
    # merge upserts + the feed keeps partition values
    v3 = t.merge_into(_mk(spark, 48, 55, parts=1), "k")
    got = t.read()
    assert got.count() == 44 + 5  # 6..49 plus inserted 50..54
    feed = t.changes_between(2)
    assert feed.filter("_change_type = 'delete'").count() == 6
    assert feed.filter("tag is null").count() == 0
    # partition pruning on the partition column itself
    cands = t.candidate_files("tag", "3", "3", version=v3)
    assert cands and all(r.startswith("tag=3/") for r in cands)

    # clone with a row-group index: the finer index travels too
    tz = ManagedTable(
        spark, str(tmp_path / "tz"), index_cols=("k",), rowgroup_index=True
    )
    tz.write(_mk(spark, 0, 100).repartitionByRange(2, "k").sortWithinPartitions("k"))
    cz = tz.clone(str(tmp_path / "cz"))
    assert cz.rowgroup_index_df().count() > 0
    got = _rows(cz.rowgroup_pruned_read([("k", 10, 20)]))
    want = _rows(cz.read().filter(F.col("k").between(10, 20)))
    assert sorted(got) == sorted(want) and got


def test_managed_change_feed_follows_pointer_lineage(spark, tmp_path):
    """A rollback forks history: versions committed after the rollback
    target become ORPHANS — still committed and time-travelable, but
    NOT this history's changes. The feed (changes_between, the cursor,
    the managed_changes source) must follow the recorded parent chain,
    and an append AFTER the rollback must derive its inserts against
    its recorded parent, never the numerically previous (orphan)
    version — the two bugs a version-number walk would have."""
    from bigdatalab_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    root = str(tmp_path / "t")
    t = ManagedTable(spark, root, index_cols=("k",))
    t.write(_mk(spark, 0, 100, parts=1))            # v1
    t.append(_mk(spark, 100, 130, parts=1))          # v2 (orphaned soon)
    t.delete_range("k", 0, 4)                        # v3 (orphaned soon)
    t.rollback(1)
    v4 = t.append(_mk(spark, 500, 520, parts=1))     # v4, parent = v1

    # lineage: v1 -> v4; orphans recorded but off-lineage
    assert t.lineage() == [1, 4]
    h = {r["version"]: r for r in t.history().collect()}
    assert h[4]["parent"] == 1 and h[2]["parent"] == 1 and h[3]["parent"] == 2
    assert h[1]["on_lineage"] and h[4]["on_lineage"]
    assert not h[2]["on_lineage"] and not h[3]["on_lineage"]

    # append-after-rollback derives against v1, not orphan v3: the
    # inserts are EXACTLY the 20 new rows (a v3-diff would also claim
    # v1 files v3 rewrote)
    ins = t.changes(v4)
    assert sorted(r["k"] for r in ins.collect()) == list(range(500, 520))

    # changes_between walks the chain: orphan deletes never appear
    feed = t.changes_between(1)
    assert feed.filter("_change_type = 'delete'").count() == 0
    assert feed.count() == 120  # 100 bootstrap + 20 post-rollback

    # cursor: same story end to end
    cur = t.cursor(str(tmp_path / "pos"))
    df, upto = cur.pending()
    assert upto == 4 and df.count() == 120
    cur.ack(upto)

    # the registered source excludes orphans too
    src = spark.read.format("managed_changes").load(root)
    assert src.count() == 120
    assert src.filter("_commit_version IN (2, 3)").count() == 0

    # an offset stranded on the orphan branch refuses loudly
    with pytest.raises(Exception, match="orphan|re-bootstrap"):
        spark.read.format("managed_changes").option(
            "startingVersion", 3
        ).load(root).collect()


def test_managed_replace_after_vacuum_is_not_a_bootstrap(spark, tmp_path):
    """A full write() replace whose ancestors were vacuumed becomes the
    first REMAINING committed version — it must still refuse row-level
    change derivation (it carries implicit deletes no file diff can
    reconstruct), not masquerade as an all-inserts bootstrap.
    (ADVICE r9: changes() gated on v == first instead of parent-of.)"""
    from bigdatalab_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    root = str(tmp_path / "t")
    t = ManagedTable(spark, root, index_cols=("k",))
    t.write(_mk(spark, 0, 100, parts=1))     # v1
    t.write(_mk(spark, 50, 80, parts=1))     # v2: REPLACE (implicit deletes)
    assert t.vacuum(keep_last=1) == [1]
    assert t.versions() == [2]

    with pytest.raises(ValueError, match="full snapshot replace"):
        t.changes(2)
    with pytest.raises(Exception, match="replace|re-bootstrap"):
        t.changes_between(2)
    with pytest.raises(Exception, match="replace|re-bootstrap"):
        spark.read.format("managed_changes").load(root).collect()
    # a TRUE initial snapshot still bootstraps as all-inserts
    t2 = ManagedTable(spark, str(tmp_path / "t2"))
    t2.write(_mk(spark, 0, 10, parts=1))
    assert t2.changes(1).count() == 10


def test_managed_changes_source_on_partitioned_snapshots(spark, tmp_path):
    """The managed_changes source stamps derived inserts' partition
    values from the directory names (cast to the stored types), so a
    partitioned bootstrap/append streams the SAME rows the facade's
    changes() serves."""
    from bigdatalab_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    root = str(tmp_path / "t")
    t = ManagedTable(spark, root)
    t.write(_mk(spark, 0, 40, parts=1), partition_cols=("tag",))
    t.append(_mk(spark, 40, 50, parts=1))
    feed = spark.read.format("managed_changes").load(root)
    rows = feed.collect()
    assert len(rows) == 50
    assert all(r["_change_type"] == "insert" for r in rows)
    got = sorted((r["k"], r["score"], r["tag"]) for r in rows)
    assert got == sorted(
        [(k, k * 2.0, str(k % 7)) for k in range(50)]
    )
    # the facade's own changes() agrees
    assert t.changes(1).count() == 40 and t.changes(2).count() == 10


def test_managed_cursor_refuses_orphaned_position(spark, tmp_path):
    """A cursor acked on a version a later rollback orphaned has
    applied changes this history never had — pending() must force a
    re-bootstrap, not silently resume on the new branch. A position
    equal to a VACUUMED lineage ancestor stays valid (continuity is
    provable from the recorded parent). (ADVICE r9.)"""
    root = str(tmp_path / "t")
    t = ManagedTable(spark, root, index_cols=("k",))
    t.write(_mk(spark, 0, 100, parts=1))           # v1
    t.append(_mk(spark, 100, 130, parts=1))        # v2 (orphaned below)
    cur = t.cursor(str(tmp_path / "pos"))
    df, upto = cur.pending()
    assert upto == 2 and df.count() == 130
    cur.ack(upto)
    t.rollback(1)
    t.append(_mk(spark, 500, 520, parts=1))        # v3, parent = v1
    with pytest.raises(ValueError, match="not on the current pointer lineage"):
        cur.pending()

    # vacuumed-ancestor continuity: pos = recorded parent of the first
    # pending version is still a valid resume point
    root2 = str(tmp_path / "t2")
    t2 = ManagedTable(spark, root2, index_cols=("k",))
    t2.write(_mk(spark, 0, 100, parts=1))          # v1
    cur2 = t2.cursor(str(tmp_path / "pos2"))
    _, upto2 = cur2.pending()
    cur2.ack(upto2)                                # pos = 1
    t2.delete_range("k", 0, 9)                     # v2 (_cdf recorded)
    t2.delete_range("k", 10, 19)                   # v3 (_cdf recorded)
    assert t2.vacuum(keep_last=2) == [1]
    df2, upto3 = cur2.pending()
    assert upto3 == 3
    assert df2.filter("_change_type = 'delete'").count() == 20


def test_managed_changes_explicit_start_after_rollback_gap(spark, tmp_path):
    """startingVersion pointing AT an on-lineage version whose parent
    is not startingVersion-1 (a rollback skipped numbers) is a valid
    explicit range — ManagedTable.changes_between serves it, and the
    registered source must too. Orphaned starts still refuse (pinned
    by test_managed_change_feed_follows_pointer_lineage). (ADVICE r9.)"""
    from bigdatalab_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    root = str(tmp_path / "t")
    t = ManagedTable(spark, root, index_cols=("k",))
    t.write(_mk(spark, 0, 100, parts=1))           # v1
    t.append(_mk(spark, 100, 130, parts=1))        # v2 (orphaned below)
    t.append(_mk(spark, 130, 160, parts=1))        # v3 (orphaned below)
    t.rollback(1)
    v4 = t.append(_mk(spark, 500, 520, parts=1))   # v4, parent = v1
    assert v4 == 4

    got = (
        spark.read.format("managed_changes")
        .option("startingVersion", 4)
        .load(root)
    )
    assert sorted(r["k"] for r in got.collect()) == list(range(500, 520))
    # parity with the facade's own range read
    assert got.count() == t.changes_between(4).count()


def test_managed_last_stream_batch_follows_lineage(spark, tmp_path):
    """A rollback that orphans streaming commits must also roll the
    replay-skip watermark back: last_stream_batch() walks the pointer
    lineage, so the orphaned batches' ids no longer suppress their
    replay onto the restored branch. (ADVICE r9.)"""
    root = str(tmp_path / "t")
    t = ManagedTable(spark, root, index_cols=("k",))
    t.write(_mk(spark, 0, 50, parts=1), stream_batch_id=5)   # v1, batch 5
    t.merge_into(
        _mk(spark, 40, 60, parts=1), keys="k", stream_batch_id=7
    )                                                        # v2, batch 7
    assert t.last_stream_batch() == 7
    t.rollback(1)
    assert t.last_stream_batch() == 5  # batch 7 is orphaned history


def test_managed_manifest_metadata_plane(spark, tmp_path):
    """Every commit kind lands a ``_manifest`` (file + size) that
    matches the physical layout exactly; committed versions are
    PLANNED from it (file lists, history sizes), composed parent+delta
    — and a legacy version without one still works via the listing
    fallback, with the next commit writing a full manifest again."""
    import shutil

    from bigdatalab_spark.sources.managed import (
        _manifest_entries,
        _walk_data_files,
    )

    root = str(tmp_path / "t")
    t = ManagedTable(spark, root, index_cols=("k",))
    t.write(_mk(spark, 0, 400, parts=4))                    # v1 write
    t.append(_mk(spark, 400, 500, parts=1))                 # v2 append
    t.delete_range("k", 0, 49)                              # v3 delete
    t.merge_into(_mk(spark, 480, 520, parts=1), keys="k")   # v4 merge
    t.compact(target_file_rows=200)                         # v5 compact

    for v in t.versions():
        vdir = os.path.join(root, f"v={v}")
        m = _manifest_entries(vdir)
        assert m is not None, f"v={v} has no manifest"
        assert [f for f, _ in m] == _walk_data_files(vdir)
        for f, s in m:
            assert s == os.path.getsize(os.path.join(vdir, f))

    # history() bytes come straight from the manifest rows
    h = {r["version"]: r for r in t.history().collect()}
    for v in t.versions():
        m = _manifest_entries(os.path.join(root, f"v={v}"))
        assert h[v]["n_files"] == len(m)
        assert h[v]["n_bytes"] == sum(s for _, s in m)

    # clone carries the manifest verbatim (relative names preserved)
    c = t.clone(str(tmp_path / "c"))
    cm = _manifest_entries(str(tmp_path / "c" / "v=1"))
    assert cm == _manifest_entries(os.path.join(root, "v=5"))

    # legacy fallback: a pre-manifest version still reads, DMLs, and
    # the NEXT commit re-materializes a complete manifest
    before = _rows(t.read())
    shutil.rmtree(os.path.join(root, "v=5", "_manifest"))
    assert _rows(t.read()) == before
    v6 = t.delete_range("k", 100, 109)
    m6 = _manifest_entries(os.path.join(root, f"v={v6}"))
    assert m6 is not None
    assert [f for f, _ in m6] == _walk_data_files(
        os.path.join(root, f"v={v6}")
    )
    assert t.read(v6).filter("k between 100 and 109").count() == 0


def test_managed_optimistic_disjoint_dml_rebases(spark, tmp_path):
    """Optimistic concurrency, happy path: a DML computed against base
    v=1 commits AFTER another disjoint-file DML landed — validation
    (removed-files vs read-set, both derived from the manifests)
    passes and the transaction REBASES onto the current snapshot.
    Both effects survive; history is linear."""
    root = str(tmp_path / "t")
    t = ManagedTable(
        spark, root, index_cols=("k",), concurrency="optimistic"
    )
    df = _mk(spark, 0, 1000).repartitionByRange(8, "k").sortWithinPartitions("k")
    t.write(df)

    # T1 computes its plan against v=1 (index-pruned read-set)...
    from pyspark.sql import functions as SF

    cond1 = SF.col("k").between(SF.lit(0), SF.lit(9))
    plan1 = t._dml_plan(1, "delete", cond1, None, ("k", 0, 9))
    assert plan1 is not None
    scan1, touched1, new_df1, cdf1, _cached1 = plan1
    assert len(scan1) < 8  # really pruned

    # ...meanwhile T2 (disjoint key range -> disjoint files) lands v=2
    v2 = t.delete_range("k", 900, 909)
    assert v2 == 2

    # T1 commits: validates v=2's removals against its read-set, rebases
    v3 = t._commit_cow(1, scan1, touched1, new_df1, cdf1, "delete")
    assert v3 == 3
    assert t.lineage() == [1, 2, 3]
    got = t.read()
    assert got.filter("k between 0 and 9").count() == 0
    assert got.filter("k between 900 and 909").count() == 0
    assert got.count() == 980
    # both deletes are in the feed, attributed to their own commits
    feed = t.changes_between(1)
    assert feed.filter("_change_type = 'delete'").count() == 20


def test_managed_optimistic_overlapping_dml_aborts(spark, tmp_path):
    """Optimistic concurrency, conflict path: a DML whose read-set
    intersects a winner's removed files aborts loudly and leaves NO
    debris (the reserved version dir is rolled back); a MERGE aborts
    when a concurrent commit ADDED files overlapping its source key
    range (a hidden match would duplicate keys) and rebases when the
    addition is outside the range."""
    from bigdatalab_spark.sources.managed import CommitConflictError

    root = str(tmp_path / "t")
    t = ManagedTable(
        spark, root, index_cols=("k",), concurrency="optimistic"
    )
    df = _mk(spark, 0, 1000).repartitionByRange(8, "k").sortWithinPartitions("k")
    t.write(df)

    from pyspark.sql import functions as SF

    # T1 plans a delete of k 0..9 against v=1; T2 deletes the SAME range
    cond = SF.col("k").between(SF.lit(0), SF.lit(9))
    plan1 = t._dml_plan(1, "delete", cond, None, ("k", 0, 9))
    scan1, touched1, new_df1, cdf1, _cached1 = plan1
    assert t.delete_range("k", 0, 9) == 2
    with pytest.raises(CommitConflictError, match="removed"):
        t._commit_cow(1, scan1, touched1, new_df1, cdf1, "delete")
    # no half-committed version, no staging debris
    assert t.versions() == [1, 2]
    assert not [
        e for e in os.listdir(root)
        if e.startswith("_txn_") or (e.startswith("v=") and int(e[2:]) > 2)
    ]
    assert t.read().count() == 990

    # MERGE vs concurrent append: overlap in the source key range aborts
    src_overlap = _mk(spark, 1500, 1510, parts=1)
    plan_m = t._merge_plan(2, src_overlap, ("k",), None)
    scan_m, touched_m, new_dfm, cdfm, bounds = plan_m
    assert bounds == ("k", 1500, 1509)
    t.append(_mk(spark, 1505, 1520, parts=1))  # v3 adds keys IN range
    with pytest.raises(CommitConflictError, match="overlap"):
        t._commit_cow(
            2, scan_m, touched_m, new_dfm, cdfm, "merge",
            merge_bounds=bounds,
        )

    # MERGE vs concurrent append OUTSIDE the range: rebases and commits
    src_safe = _mk(spark, 5000, 5005, parts=1)
    plan_s = t._merge_plan(3, src_safe, ("k",), None)
    scan_s, touched_s, new_dfs, cdfs, bounds_s = plan_s
    t.append(_mk(spark, 9000, 9010, parts=1))  # v4, far away
    v5 = t._commit_cow(
        3, scan_s, touched_s, new_dfs, cdfs, "merge",
        merge_bounds=bounds_s,
    )
    got = t.read(v5)
    assert got.filter("k between 5000 and 5004").count() == 5
    assert got.filter("k between 9000 and 9009").count() == 10


def test_managed_optimistic_concurrent_appends(spark, tmp_path):
    """Two appends running CONCURRENTLY (threads sharing the session)
    both commit — the commit section waits instead of failing fast,
    and each rebase links whatever the other landed. No lost update."""
    from concurrent.futures import ThreadPoolExecutor

    root = str(tmp_path / "t")
    t = ManagedTable(
        spark, root, index_cols=("k",), concurrency="optimistic"
    )
    t.write(_mk(spark, 0, 100, parts=1))

    def appender(lo: int) -> int:
        h = ManagedTable(
            spark, root, index_cols=("k",), concurrency="optimistic"
        )
        return h.append(_mk(spark, lo, lo + 50, parts=1))

    with ThreadPoolExecutor(max_workers=2) as pool:
        va, vb = list(pool.map(appender, [1000, 2000]))
    assert sorted((va, vb)) == [2, 3]
    assert t.latest() == 3 and t.lineage() == [1, 2, 3]
    got = t.read()
    assert got.count() == 200
    assert got.filter("k between 1000 and 1049").count() == 50
    assert got.filter("k between 2000 and 2049").count() == 50
    # manifest/index cover every file of the rebased snapshot
    from bigdatalab_spark.sources.managed import (
        _manifest_entries,
        _walk_data_files,
    )

    vdir = os.path.join(root, "v=3")
    assert [f for f, _ in _manifest_entries(vdir)] == _walk_data_files(vdir)
    idx_files = {r["file"] for r in t.index(3).collect()}
    assert idx_files == set(_walk_data_files(vdir))


def test_managed_optimistic_cross_process_appends(spark, tmp_path):
    """A SECOND PROCESS (its own SparkSession) appends to the same
    optimistic table while this process appends — both land, nothing
    is lost. The cross-process twin of the threaded test."""
    import subprocess
    import sys
    import textwrap

    root = str(tmp_path / "t")
    t = ManagedTable(
        spark, root, index_cols=("k",), concurrency="optimistic"
    )
    t.write(_mk(spark, 0, 100, parts=1))

    runner = tmp_path / "appender.py"
    runner.write_text(
        textwrap.dedent(
            """
            import sys
            from pyspark.sql import functions as F
            from bigdatalab_spark.session import get_session
            from bigdatalab_spark.sources.managed import ManagedTable

            root = sys.argv[1]
            spark = get_session(app_name="optimistic-appender")
            spark.sparkContext.setLogLevel("ERROR")
            t = ManagedTable(
                spark, root, index_cols=("k",), concurrency="optimistic"
            )
            df = spark.range(5000, 5080).select(
                F.col("id").alias("k"),
                (F.col("id") * 2.0).alias("score"),
                (F.col("id") % 7).cast("string").alias("tag"),
            ).coalesce(1)
            t.append(df)
            spark.stop()
            """
        )
    )
    env = dict(os.environ, PYTHONPATH="/root/repo")
    proc = subprocess.Popen(
        [sys.executable, str(runner), root],
        cwd="/root/repo", env=env,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    # append from THIS process while the child starts up / appends;
    # keep appending until the child exits so the windows overlap
    import time

    lo = 10_000
    appended = 0
    while proc.poll() is None and appended < 40:
        t.append(_mk(spark, lo, lo + 10, parts=1))
        appended += 1
        lo += 10
        time.sleep(0.2)
    out, err = proc.communicate(timeout=300)
    assert proc.returncode == 0, f"child append failed:\n{err[-2000:]}"
    got = t.read()
    assert got.filter("k between 5000 and 5079").count() == 80
    assert got.filter("k >= 10000").count() == appended * 10
    assert got.count() == 100 + 80 + appended * 10
    # linear lineage: every version chains to its predecessor
    assert t.lineage() == t.versions()


def test_managed_snapshot_source_prunes_at_plan_time(spark, tmp_path):
    """format('managed'): a pinned snapshot reads through the
    registered batch source; predicates on indexed columns prune the
    FILE LIST at plan time (asserted against the facade's own
    candidate_files), every filter is still re-applied (results match
    the facade read exactly), versionAsOf time-travels, and plain
    spark.sql works through the temp-view helper. Evolved columns
    NULL-pad for pre-evolution files, and partitioned snapshots
    refuse."""
    from bigdatalab_spark.sources.managed_snapshot import (
        ManagedSnapshotReader,
    )
    from bigdatalab_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    root = str(tmp_path / "t")
    t = ManagedTable(spark, root, index_cols=("k",))
    df = _mk(spark, 0, 1000).repartitionByRange(8, "k").sortWithinPartitions("k")
    t.write(df)                                       # v1
    t.delete_range("k", 100, 199)                     # v2

    # plan-time pruning == the facade's own candidate list
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    rdr = ManagedSnapshotReader({"path": root}, t.stored_schema())
    kept_all = rdr.pruned_files()
    list(rdr.pushFilters([
        GreaterThanOrEqual(("k",), 300), LessThanOrEqual(("k",), 350),
    ]))
    kept = rdr.pruned_files()
    assert kept == t.candidate_files("k", 300, 350)
    assert 0 < len(kept) < len(kept_all)

    # end-to-end read parity (filter re-applied after the pruned scan)
    got = (
        spark.read.format("managed").load(root)
        .filter("k between 300 and 350")
    )
    want = t.read().filter("k between 300 and 350")
    assert _rows(got) == _rows(want)

    # versionAsOf pins time travel
    v1 = spark.read.format("managed").option("versionAsOf", 1).load(root)
    assert v1.count() == 1000
    assert spark.read.format("managed").load(root).count() == 900

    # plain SQL through the view helper (pinned even if pointer moves)
    t.create_view("snap_v2")
    n = spark.sql(
        "SELECT count(*) AS n FROM snap_v2 WHERE k BETWEEN 0 AND 250"
    ).first()["n"]
    assert n == 151  # 0..250 minus deleted 100..199

    # schema evolution: pre-evolution files NULL-pad through the source
    evolved = spark.createDataFrame(
        [(5000, 1.0, "x", 7)], "k long, score double, tag string, extra long"
    )
    t.append(evolved)
    src = spark.read.format("managed").load(root)
    assert src.filter("extra IS NOT NULL").count() == 1
    assert src.filter("k < 5000").filter("extra IS NULL").count() == 900

    # partitioned snapshots read through the connector with their
    # partition values stamped from the directory names
    t2 = ManagedTable(spark, str(tmp_path / "p"))
    t2.write(_mk(spark, 0, 40, parts=1), partition_cols=("tag",))
    psnap = spark.read.format("managed").load(str(tmp_path / "p"))
    assert psnap.count() == 40
    assert psnap.filter("tag IS NULL").count() == 0

    # uncommitted version refuses
    with pytest.raises(Exception, match="not\\s+committed|not .*committed"):
        spark.read.format("managed").option("versionAsOf", 99).load(root).collect()


def test_managed_zorder_compaction_rowgroup_rectangle(spark, tmp_path):
    """OPTIMIZE ZORDER through the facade in ONE call:
    ``compact(zorder_by=(x, y), writer_options=...)`` on a
    rowgroup-indexed table writes the Morton-ordered layout AND the
    per-row-group stats index in one committed version — a 2-D
    predicate then keeps a small RECTANGLE of row groups (inside kept
    files, on top of file-level pruning), and the executable
    row-group scan equals the full filter exactly."""
    df = spark.range(0, 16384).select(
        (F.col("id") % 128).alias("x"),
        (F.col("id") / F.lit(128)).cast("long").alias("y"),
        F.col("id").alias("payload"),
    ).repartition(8)  # deliberately unclustered base layout
    t = ManagedTable(
        spark, str(tmp_path / "t"), index_cols=("x", "y"),
        rowgroup_index=True,
    )
    t.write(df, writer_options={"parquet.block.size": 4096})
    v2 = t.compact(
        target_file_rows=2048,
        zorder_by=("x", "y"),
        writer_options={"parquet.block.size": 4096},
    )
    assert v2 == 2

    idx = t.rowgroup_index_df(v2)
    total_groups = idx.select("file", "rg").distinct().count()
    n_files = len(_data_files(str(tmp_path / "t" / "v=2")))
    assert total_groups > n_files  # several row groups per file

    from bigdatalab_spark.sources.skipping import candidate_rowgroups

    vdir = str(tmp_path / "t" / "v=2")
    preds = [("x", 0, 15), ("y", 0, 15)]
    kept = candidate_rowgroups(
        idx.withColumn(
            "file", F.concat(F.lit(vdir + "/"), F.col("file"))
        ),
        preds,
    )
    n_kept = sum(len(rgs) for rgs in kept.values())
    # the z-layout keeps a small rectangle: far fewer groups than the
    # unclustered base would (the 2-D predicate selects ~1.5% of rows)
    assert n_kept / total_groups < 0.25, (n_kept, total_groups)

    got = _rows(
        t.rowgroup_pruned_read(preds, columns=["x", "y", "payload"])
    )
    want = _rows(
        t.read(v2)
        .filter("x between 0 and 15 and y between 0 and 15")
        .select("x", "y", "payload")
    )
    assert got == want and got
    # the BASE layout (v1, unclustered) cannot isolate the rectangle
    base_idx = t.rowgroup_index_df(1)
    base_total = base_idx.select("file", "rg").distinct().count()
    base_vdir = str(tmp_path / "t" / "v=1")
    base_kept = sum(
        len(rgs)
        for rgs in candidate_rowgroups(
            base_idx.withColumn(
                "file", F.concat(F.lit(base_vdir + "/"), F.col("file"))
            ),
            preds,
        ).values()
    )
    assert n_kept / total_groups < base_kept / base_total


def test_managed_cursor_and_batch_range_refuse_stranded_positions(spark, tmp_path):
    """Self-review r10: (a) a cursor whose acked position is ABOVE the
    pointer (rollback, no new commits yet) must raise immediately, not
    report 'caught up' until the next commit trips the lineage check;
    (b) a managed_changes batch read whose startingVersion is beyond
    the range end refuses instead of planning an empty feed."""
    from bigdatalab_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    root = str(tmp_path / "t")
    t = ManagedTable(spark, root, index_cols=("k",))
    t.write(_mk(spark, 0, 50, parts=1))           # v1
    t.append(_mk(spark, 50, 80, parts=1))         # v2
    cur = t.cursor(str(tmp_path / "pos"))
    _, upto = cur.pending()
    cur.ack(upto)                                 # pos = 2
    t.rollback(1)                                 # pointer below pos
    with pytest.raises(ValueError, match="ahead of the pointer"):
        cur.pending()

    with pytest.raises(Exception, match="after|nothing to read"):
        spark.read.format("managed_changes").option(
            "startingVersion", 9
        ).load(root).collect()


# ---- reference data plane (link_mode="reference") -----------------------


def test_managed_reference_plane_matches_hardlink_twin(spark, tmp_path):
    """The object-store data plane: a ``link_mode='reference'`` table
    runs the same commit chain as a hardlink twin and every version
    reads identically — but its version directories physically hold
    ONLY each commit's delta, with the manifest homes pointing carried
    files at their original directories (zero per-file syscalls per
    commit, the O(delta) contract)."""
    from bigdatalab_spark.sources.managed import (
        _manifest_rows,
        _walk_data_files,
    )

    ref = ManagedTable(
        spark, str(tmp_path / "ref"), index_cols=("k",),
        link_mode="reference",
    )
    twin = ManagedTable(spark, str(tmp_path / "twin"), index_cols=("k",))
    for t in (ref, twin):
        t.write(_mk(spark, 0, 400, parts=4))                   # v1
        t.append(_mk(spark, 400, 500, parts=1))                # v2
        t.delete_range("k", 0, 49)                             # v3
        t.update_range("k", 100, 119, {"score": "score + 0.5"})  # v4
        t.merge_into(_mk(spark, 480, 520, parts=1), keys="k")  # v5

    assert ref.versions() == twin.versions()
    for v in ref.versions():
        assert _rows(ref.read(v)) == _rows(twin.read(v)), f"v={v}"
        # logical file COUNTS agree (same commit protocol; names are
        # independent write UUIDs)
        assert len(
            _data_files(os.path.join(str(tmp_path / "ref"), f"v={v}"))
        ) == len(
            _data_files(os.path.join(str(tmp_path / "twin"), f"v={v}"))
        )

    # physical: every non-initial reference version dir holds ONLY its
    # delta; carried files stay where they were born
    for v in ref.versions():
        vdir = os.path.join(str(tmp_path / "ref"), f"v={v}")
        physical = set(_walk_data_files(vdir))
        rows = _manifest_rows(vdir)
        assert {r["file"] for r in rows if r["home"] == v} == physical
        for r in rows:
            home_dir = os.path.join(
                str(tmp_path / "ref"), f"v={r['home']}"
            )
            p = os.path.join(home_dir, r["file"])
            assert os.path.exists(p)
            assert os.stat(p).st_nlink == 1, "reference mode never links"
            assert r["size_bytes"] == os.path.getsize(p)
        if v >= 2:
            carried = [r for r in rows if r["home"] != v]
            assert carried, f"v={v} carried nothing by reference"

    # the read surfaces resolve through the manifest
    assert _rows(ref.pruned_read("k", 120, 180)) == _rows(
        twin.pruned_read("k", 120, 180)
    )
    assert _rows(ref.changes_between(2)) == _rows(twin.changes_between(2))


def test_managed_reference_optimistic_and_connectors(spark, tmp_path):
    """Reference mode under the optimistic protocol (the commit
    critical section does zero per-file work) and through the two
    registered connectors + the cursor."""
    from bigdatalab_spark.sources.pyds import register_python_sources

    root = str(tmp_path / "t")
    t = ManagedTable(
        spark, root, index_cols=("k",),
        concurrency="optimistic", link_mode="reference",
    )
    t.append(_mk(spark, 0, 300, parts=3))     # v1 bootstrap
    t.append(_mk(spark, 300, 400, parts=1))   # v2 rebase-append
    t.delete_range("k", 0, 24)                # v3 optimistic COW
    t.merge_into(_mk(spark, 390, 420, parts=1), keys="k")  # v4

    expect = sorted(
        [(k, k * 2.0, str(k % 7)) for k in range(25, 420)]
    )
    assert _rows(t.read()) == expect

    register_python_sources(spark)
    via_snapshot = (
        spark.read.format("managed").load(root)
        .filter("k between 30 and 50")
    )
    assert via_snapshot.count() == 21
    feed = (
        spark.read.format("managed_changes")
        .option("startingVersion", 3).load(root)
    )
    by_type = {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert by_type["delete"] == 25
    assert by_type["insert"] == 20          # merge inserts 400..419
    assert by_type["update_postimage"] == 10  # keys 390..399

    cur = t.cursor(str(tmp_path / "cursor"))
    df, upto = cur.pending()
    assert upto == 4 and df.count() > 0
    cur.ack(upto)
    assert cur.pending() == (None, None)


def test_managed_reference_vacuum_protects_homes(spark, tmp_path):
    """Vacuum must NOT delete a version directory that still homes
    files referenced by surviving manifests — and must reclaim it once
    a compaction rewrites everything fresh."""
    root = str(tmp_path / "t")
    t = ManagedTable(
        spark, root, index_cols=("k",), link_mode="reference"
    )
    t.write(_mk(spark, 0, 300, parts=3))   # v1 — homes most files
    t.append(_mk(spark, 300, 320, parts=1))  # v2
    t.delete_range("k", 0, 9)              # v3
    t.delete_range("k", 10, 19)            # v4

    # keep_last=1 keeps v4; every version homing a file v4's manifest
    # references is DEMOTED (bytes survive, version gone), the rest is
    # deleted outright — all of v1..v3 count as vacuumed either way
    from bigdatalab_spark.sources.managed import _manifest_rows

    homes = {
        r["home"] for r in _manifest_rows(os.path.join(root, "v=4"))
    }
    assert homes - {4}, "test needs at least one carried-by-reference file"
    removed = t.vacuum(keep_last=1)
    assert set(removed) == {1, 2, 3}
    assert t.versions() == [4]
    for h in homes - {4}:  # demoted home dirs: bytes present, no marker
        hdir = os.path.join(root, f"v={h}")
        assert os.path.isdir(hdir)
        assert not os.path.exists(os.path.join(hdir, "_COMMITTED"))
        assert os.path.exists(os.path.join(hdir, "_HOMEONLY"))
    assert _rows(t.read()) == sorted(
        [(k, k * 2.0, str(k % 7)) for k in range(20, 320)]
    )

    # compaction rewrites everything fresh (self-homed) — now the old
    # homes are unreferenced and vacuum reclaims them
    t.compact(target_file_rows=1000)       # v5
    removed2 = t.vacuum(keep_last=1)
    assert removed2 == [4]
    assert t.versions() == [5]
    # demoted home dirs are unreferenced now → physically reclaimed
    assert {
        e for e in os.listdir(root) if e.startswith("v=")
    } == {"v=5"}
    assert _rows(t.read()) == sorted(
        [(k, k * 2.0, str(k % 7)) for k in range(20, 320)]
    )


def test_managed_reference_rowgroup_and_clone(spark, tmp_path):
    """Row-group pruned reads resolve referenced files through their
    homes; clone materializes a referenced snapshot into a self-homed
    hardlinked v=1."""
    from bigdatalab_spark.sources.managed import _manifest_rows

    root = str(tmp_path / "t")
    t = ManagedTable(
        spark, root, index_cols=("k",),
        rowgroup_index=True, link_mode="reference",
    )
    t.write(
        _mk(spark, 0, 2000, parts=2),
        writer_options={"parquet.block.size": 1 << 16},
    )
    t.delete_range("k", 500, 599)  # v2 carries by reference
    got = t.rowgroup_pruned_read([("k", 100, 149)])
    assert _rows(got) == sorted(
        [(k, k * 2.0, str(k % 7)) for k in range(100, 150)]
    )

    c = t.clone(str(tmp_path / "c"))
    assert _rows(c.read()) == _rows(t.read(2))
    crows = _manifest_rows(str(tmp_path / "c" / "v=1"))
    assert all(r["home"] == 1 for r in crows)
    for r in crows:
        assert os.path.exists(
            os.path.join(str(tmp_path / "c"), "v=1", r["file"])
        )


def test_managed_serializable_isolation(spark, tmp_path):
    """The write-serializable anomaly, and its serializable fix: a
    blind append lands INSIDE a concurrent delete's key range between
    the delete's plan and its commit.

    - write_serializable (default): the delete commits and the
      appended rows survive un-filtered — Delta-default semantics,
      documented anomaly.
    - serializable: the delete ABORTS (the added file's stats overlap
      its predicate read-set), leaving no debris; disjoint-range
      appends still commit; an UNBOUNDED predicate conflicts with any
      added file."""
    from bigdatalab_spark.sources.managed import CommitConflictError

    def seed_table(path, isolation):
        t = ManagedTable(
            spark, str(path), index_cols=("k",),
            concurrency="optimistic", isolation=isolation,
        )
        t.write(
            _mk(spark, 0, 1000)
            .repartitionByRange(8, "k")
            .sortWithinPartitions("k")
        )
        return t

    # --- write_serializable: anomaly commits -------------------------
    ws = seed_table(tmp_path / "ws", "write_serializable")
    cond = F.col("k").between(F.lit(500), F.lit(509))
    plan = ws._dml_plan(1, "delete", cond, None, ("k", 500, 509))
    v2 = ws.append(_mk(spark, 500, 505, parts=1))  # blind append, same range
    assert v2 == 2
    scan, touched, new_df, cdf, _cached = plan
    v3 = ws._commit_cow(
        1, scan, touched, new_df, cdf, "delete",
        pred_bounds=("k", 500, 509),
    )
    assert v3 == 3
    # the anomaly: the concurrently-appended duplicates SURVIVE
    assert ws.read().filter("k between 500 and 509").count() == 5

    # --- serializable: same interleave aborts -------------------------
    sz = seed_table(tmp_path / "sz", "serializable")
    plan = sz._dml_plan(1, "delete", cond, None, ("k", 500, 509))
    assert sz.append(_mk(spark, 500, 505, parts=1)) == 2
    scan, touched, new_df, cdf, _cached = plan
    with pytest.raises(CommitConflictError, match="serializable delete"):
        sz._commit_cow(
            1, scan, touched, new_df, cdf, "delete",
            pred_bounds=("k", 500, 509),
        )
    assert sz.latest() == 2  # no debris, nothing committed
    assert not [
        e for e in os.listdir(str(tmp_path / "sz"))
        if e.startswith("_txn_") or e == "v=3"
    ]
    # retry against the current version now sees the appended rows
    assert sz.delete_range("k", 500, 509) == 3
    assert sz.read().filter("k between 500 and 509").count() == 0

    # --- serializable: DISJOINT added range commits fine --------------
    plan = sz._dml_plan(3, "delete", F.col("k").between(0, 9), None, ("k", 0, 9))
    assert sz.append(_mk(spark, 2000, 2010, parts=1)) == 4
    scan, touched, new_df, cdf, _cached = plan
    v5 = sz._commit_cow(
        3, scan, touched, new_df, cdf, "delete", pred_bounds=("k", 0, 9)
    )
    assert v5 == 5 and sz.read().filter("k < 10").count() == 0

    # --- serializable: unbounded predicate vs any added file ----------
    plan = sz._dml_plan(
        5, "delete", F.col("tag") == F.lit("3"), None, None
    )
    assert sz.append(_mk(spark, 3000, 3010, parts=1)) == 6
    scan, touched, new_df, cdf, _cached = plan
    with pytest.raises(CommitConflictError, match="not an indexed range"):
        sz._commit_cow(
            5, scan, touched, new_df, cdf, "delete", pred_bounds=None
        )


def test_managed_partitioned_connectors_and_projection(spark, tmp_path):
    """Partitioned snapshots through both registered connectors, on
    the reference data plane: partition values stamped from directory
    names, plan-time partition∧index pruning, and the explicit
    ``columns`` projection decoding ONLY the requested parquet
    columns."""
    from bigdatalab_spark.sources.managed_snapshot import (
        ManagedSnapshotReader,
        _FilePartition,
    )
    from bigdatalab_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    root = str(tmp_path / "t")
    t = ManagedTable(
        spark, root, index_cols=("k",), link_mode="reference"
    )
    df = _mk(spark, 0, 300).withColumn("p", F.col("k") % 3)
    t.write(df.repartitionByRange(2, "k"), partition_cols=("p",))
    t.append(_mk(spark, 300, 330, parts=1).withColumn("p", F.col("k") % 3))
    t.delete_range("p", 1, 1)

    # one load() per query: pruning-on relations cache their last
    # pushed-down plan (the connector's documented scan-reuse edge),
    # so a fresh relation per query is the pruning-safe pattern
    load = lambda: spark.read.format("managed").load(root)  # noqa: E731
    assert load().count() == 220
    assert load().filter("p = 1").count() == 0
    want = sorted(
        (k, k * 2.0, str(k % 7), k % 3) for k in range(330) if k % 3 != 1
    )
    assert sorted(map(tuple, load().collect())) == want
    snap = load()

    # plan-time partition pruning composes with index pruning
    r = ManagedSnapshotReader({"path": root}, snap.schema)
    r.bounds = {"p": (2, 2), "k": (0, 50)}
    pf = r.pruned_files()
    assert pf and all(f.startswith("p=2/") for f in pf)
    all_p2 = [
        f for f in ManagedSnapshotReader(
            {"path": root}, snap.schema
        ).pruned_files() if f.startswith("p=2/")
    ]
    assert len(pf) < len(all_p2), "index pruning composed on top"

    # fully-pruned plan returns empty, not an error
    assert snap.filter("k > 10000000").count() == 0

    # explicit projection: the task decodes ONLY the requested columns
    narrow = (
        spark.read.format("managed")
        .option("columns", "k,p").load(root)
    )
    assert narrow.columns == ["k", "p"]
    assert sorted(map(tuple, narrow.collect())) == sorted(
        (k, k % 3) for k in range(330) if k % 3 != 1
    )
    nr = ManagedSnapshotReader({"path": root}, narrow.schema)
    parts = nr.partitions()
    batches = list(nr.read(parts[0]))
    assert batches and all(b.schema.names == ["k", "p"] for b in batches)

    # the changes connector streams partition values too
    feed = spark.read.format("managed_changes").load(root)
    dels = feed.filter("_change_type = 'delete'")
    assert dels.count() == 110
    assert dels.filter("p is null or p != 1").count() == 0


def test_managed_partitioned_optimistic_reference(spark, tmp_path):
    """Optimistic DML on a partitioned reference-plane table: disjoint
    partition deletes rebase, the layout survives, vacuum protects the
    homes."""
    root = str(tmp_path / "t")
    t = ManagedTable(
        spark, root, index_cols=("k",),
        concurrency="optimistic", link_mode="reference",
    )
    df = _mk(spark, 0, 300).withColumn("p", F.col("k") % 3)
    t.write(df.repartitionByRange(2, "k"), partition_cols=("p",))

    plan = t._dml_plan(
        1, "delete", F.col("p") == F.lit(0), None, ("p", 0, 0)
    )
    assert plan is not None
    scan, touched, new_df, cdf, _cached = plan
    assert all(f.startswith("p=0/") for f in scan)
    v2 = t.delete_range("p", 1, 1)  # lands first, disjoint partition
    assert v2 == 2
    v3 = t._commit_cow(
        1, scan, touched, new_df, cdf, "delete",
        pred_bounds=("p", 0, 0),
    )
    assert v3 == 3
    got = t.read()
    assert got.filter("p != 2").count() == 0
    assert got.count() == 100
    assert t.partition_cols_of(v3) == ("p",)
    before = _rows(got)
    t.vacuum(keep_last=1)  # referenced homes demote, bytes survive
    from bigdatalab_spark.sources.managed import _manifest_rows

    for r in _manifest_rows(os.path.join(root, "v=3")):
        assert os.path.exists(
            os.path.join(root, f"v={r['home']}", r["file"])
        )
    assert _rows(t.read()) == before


def test_managed_view_scan_reuse_is_not_poisoned(spark, tmp_path):
    """Regression: Spark 4.1 caches ONE partition list per Python
    DataSource relation, overwritten by every filtered query's
    pushdown and reused by later unfiltered queries — a filtered view
    query must NOT make a later ``SELECT *`` on the same view serve
    the pruned file list. Views register with pruning off; one-shot
    ``load()`` relations keep plan-time pruning (each query loads
    fresh)."""
    root = str(tmp_path / "t")
    t = ManagedTable(spark, root, index_cols=("k",))
    t.write(
        _mk(spark, 0, 900).repartitionByRange(6, "k").sortWithinPartitions("k")
    )
    t.create_view("reuse_v")
    filtered = spark.sql(
        "select count(*) from reuse_v where k between 0 and 99"
    ).first()[0]
    full = spark.sql("select count(*) from reuse_v").first()[0]
    again = len(spark.sql("select * from reuse_v").collect())
    assert (filtered, full, again) == (100, 900, 900)

    # one-shot loads still prune at plan time
    from bigdatalab_spark.sources.managed_snapshot import (
        ManagedSnapshotReader,
    )

    snap = spark.read.format("managed").load(root)
    r = ManagedSnapshotReader({"path": root}, snap.schema)
    r.bounds = {"k": (0, 99)}
    assert len(r.pruned_files()) < 6
    assert snap.filter("k between 0 and 99").count() == 100


def test_managed_zorder_three_columns(spark, tmp_path):
    """compact(zorder_by=) generalizes past two columns: a 3-D Morton
    layout must prune range predicates on EVERY listed dimension
    strictly better than the unclustered layout it replaced."""
    root = str(tmp_path / "t")
    t = ManagedTable(spark, root, index_cols=("x", "y", "w"))
    df = (
        spark.range(0, 64 * 64)
        .select(
            (F.col("id") % 64).alias("x"),
            ((F.col("id") * 7) % 64).alias("y"),
            ((F.col("id") * 13) % 64).alias("w"),
            F.col("id").alias("payload"),
        )
        .repartition(8)  # round-robin: every file spans all 3 ranges
    )
    t.write(df)
    v2 = t.compact(target_file_rows=512, zorder_by=("x", "y", "w"))

    for col in ("x", "y", "w"):
        before = len(t.candidate_files(col, 0, 7, version=1))
        after = len(t.candidate_files(col, 0, 7, version=v2))
        n_before = len(_data_files(os.path.join(root, "v=1")))
        n_after = len(_data_files(os.path.join(root, f"v={v2}")))
        # unclustered: nothing prunes; z-ordered: the 1/8 slab prunes
        assert before == n_before, f"{col}: unclustered should not prune"
        assert after < n_after, f"{col}: z-order must prune"
        got = _rows(t.pruned_read(col, 0, 7, version=v2))
        want = _rows(t.read(v2).filter(F.col(col).between(0, 7)))
        assert got == want

    with pytest.raises(ValueError, match="at least two"):
        t.compact(zorder_by=("x",))


def test_managed_rowgroup_pruned_read_on_partitioned_snapshot(spark, tmp_path):
    """Round-11 advice: rowgroup_pruned_read on a PARTITIONED snapshot
    must stamp partition-column values from the directory names (the
    physical files omit them) — never NULL-pad them — and a predicate
    on a partition column must prune the FILE list exactly instead of
    consulting the row-group index (which has no stats for partition
    columns and would return zero rows)."""
    t = ManagedTable(
        spark, str(tmp_path / "t"), index_cols=("k",), rowgroup_index=True
    )
    t.write(
        _mk(spark, 0, 100),
        partition_cols=("tag",),
        writer_options={"parquet.block.size": 1 << 16},
    )
    want_all = sorted([(k, k * 2.0, str(k % 7)) for k in range(100)])

    # no partition predicate: values stamped, never NULL
    got = _rows(t.rowgroup_pruned_read([("k", 10, 39)]))
    assert got == [r for r in want_all if 10 <= r[0] <= 39]
    assert all(r[2] is not None for r in got)

    # predicate ON the partition column: exact directory pruning
    got = _rows(t.rowgroup_pruned_read([("tag", "3", "3")]))
    assert got == [r for r in want_all if r[2] == "3"] and got

    # conjunction: row-group pruning on k ∧ partition pruning on tag
    got = _rows(t.rowgroup_pruned_read([("k", 0, 50), ("tag", "2", "2")]))
    assert got == [
        r for r in want_all if r[0] <= 50 and r[2] == "2"
    ] and got

    # projection EXCLUDING the partition predicate column stays correct
    got = _rows(t.rowgroup_pruned_read([("tag", "4", "4")], columns=["k"]))
    assert got == [(r[0],) for r in want_all if r[2] == "4"] and got


def test_bare_vacuum_protects_reference_homes(spark, tmp_path):
    """Round-11 advice: the MODULE-LEVEL vacuum() (no protect arg) on
    a reference-plane managed table must demote — never delete —
    version directories that still home files referenced by retained
    manifests; the protect set is computed inside _vacuum_locked."""
    from bigdatalab_spark.sources import versioned
    from bigdatalab_spark.sources.managed import _manifest_rows

    root = str(tmp_path / "t")
    t = ManagedTable(spark, root, index_cols=("k",), link_mode="reference")
    t.write(
        _mk(spark, 0, 300).repartitionByRange(3, "k").sortWithinPartitions("k")
    )
    t.delete_range("k", 0, 9)  # v2 carries the untouched files by reference
    homes = {r["home"] for r in _manifest_rows(os.path.join(root, "v=2"))}
    assert homes - {2}, "test needs carried-by-reference files"

    removed = versioned.vacuum(root, keep_last=1)
    assert removed == [1]
    # v=1 was DEMOTED (it homes live rows of v=2), not rmtree'd
    assert os.path.isdir(os.path.join(root, "v=1"))
    assert os.path.exists(os.path.join(root, "v=1", "_HOMEONLY"))
    assert not os.path.exists(os.path.join(root, "v=1", "_COMMITTED"))
    assert _rows(t.read()) == sorted(
        [(k, k * 2.0, str(k % 7)) for k in range(10, 300)]
    )


def test_vacuum_grace_for_stampless_setup_scratch(spark, tmp_path):
    """Round-11 advice: vacuum must NOT rmtree a stampless
    .txn_setup_ dir younger than the grace period (a live optimistic
    writer sits between mkdir and its _RESERVED stamp write); aged
    stampless debris is still swept."""
    import time

    from bigdatalab_spark.sources import versioned

    root = str(tmp_path / "t")
    t = ManagedTable(spark, root, index_cols=("k",))
    t.write(_mk(spark, 0, 10, parts=1))

    young = os.path.join(root, ".txn_setup_live")
    os.mkdir(young)
    assert versioned.vacuum(root, keep_last=1) == []
    assert os.path.isdir(young), "mid-setup writer must survive vacuum"

    old_ts = time.time() - 2 * versioned._SETUP_GRACE_S
    os.utime(young, (old_ts, old_ts))
    versioned.vacuum(root, keep_last=1)
    assert not os.path.exists(young), "aged stampless debris is debris"


def test_partition_pruning_sound_for_boolean_columns(spark, tmp_path):
    """Round-11 advice: bool("false") is True — partition-value casts
    must PARSE booleans, or candidate_files (which feeds DML
    attribution) and the snapshot connector's partition pruning would
    drop files that hold matching rows."""
    from bigdatalab_spark.sources.pyds import register_python_sources

    t = ManagedTable(spark, str(tmp_path / "t"), index_cols=("k",))
    df = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") % 2 == 0).alias("flag")
    )
    t.write(df, partition_cols=("flag",))

    cand_false = t.candidate_files("flag", False, False)
    assert cand_false and all(
        r.startswith("flag=false/") for r in cand_false
    )
    cand_true = t.candidate_files("flag", True, True)
    assert cand_true and all(r.startswith("flag=true/") for r in cand_true)

    # the snapshot connector's plan-time partition pruning, same rule
    register_python_sources(spark)
    got = (
        spark.read.format("managed")
        .load(str(tmp_path / "t"))
        .filter(F.col("flag") == False)  # noqa: E712 — pushed filter
    )
    assert sorted(r["k"] for r in got.collect()) == [
        i for i in range(20) if i % 2 == 1
    ]


def test_managed_view_native_scan_pushdown(spark, tmp_path):
    """Round-12: create_view registers a NATIVE parquet relation, so
    bare SQL on a managed view gets Catalyst column pruning (pruned
    ReadSchema) and parquet filter pushdown (PushedFilters) — neither
    of which the Python DataSource surface could provide — and stays
    pinned to the resolved version. Covers flat reference-plane and
    partitioned layouts."""
    root = str(tmp_path / "t")
    t = ManagedTable(spark, root, index_cols=("k",), link_mode="reference")
    t.write(
        _mk(spark, 0, 900).repartitionByRange(6, "k").sortWithinPartitions("k")
    )
    t.delete_range("k", 100, 199)  # v2 carries files by reference
    t.create_view("native_v")
    df = spark.sql("select k from native_v where k between 300 and 350")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(k,300)" in plan
    # column pruning reached the scan: score/tag are never decoded
    assert "ReadSchema: struct<k:bigint>" in plan
    assert df.count() == 51
    # pinned: a later commit must not move the registered view
    t.append(_mk(spark, 2000, 2100, parts=1))
    assert spark.sql("select count(*) from native_v").first()[0] == 800

    # partitioned layout: partition pruning reaches the scan
    p = ManagedTable(spark, str(tmp_path / "p"))
    p.write(_mk(spark, 0, 50), partition_cols=("tag",))
    p.create_view("native_pv")
    pdf = spark.sql("select k from native_pv where tag = '3'")
    pplan = pdf._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in pplan
    assert sorted(r["k"] for r in pdf.collect()) == [
        k for k in range(50) if k % 7 == 3
    ]


def test_managed_catalog_ddl_veneer(spark, tmp_path):
    """ManagedCatalog (sources/catalog.py): CREATE/DROP/SHOW and
    spark.table() resolution against managed roots — the reference's
    saveAsTable + spark.table idiom without path plumbing — with
    remembered table options, pinned binds, and loud error shapes."""
    from bigdatalab_spark.sources.catalog import (
        ManagedCatalog,
        TableExistsError,
    )

    cat = ManagedCatalog(spark, str(tmp_path / "wh"))
    cat.create_table("ev", df=_mk(spark, 0, 100), index_cols=("k",))
    assert cat.tables() == ["ev"]
    assert spark.table("ev").count() == 100
    # options are remembered across opens (fresh ManagedTable each time)
    assert cat.table("ev").index_cols == ("k",)

    # DML through the catalog; the bound view is pinned until re-bind
    cat.table("ev").delete_range("k", 0, 9)
    assert spark.table("ev").count() == 100
    cat.bind("ev")
    assert spark.table("ev").count() == 90

    # CREATE on an existing name is loud; if_not_exists resolves it
    with pytest.raises(TableExistsError):
        cat.create_table("ev")
    assert cat.create_table("ev", if_not_exists=True).latest() == 2

    # pinned bind = time travel through the catalog name
    cat.bind("ev", version=1)
    assert spark.table("ev").count() == 100

    # DROP without purge keeps the versioned data (external-table style)
    cat.drop_table("ev")
    assert cat.tables() == []
    kept = ManagedTable(spark, str(tmp_path / "wh" / "ev"))
    assert kept.read().count() == 90

    # re-register surviving data under a new name; purge deletes it
    cat.create_table(
        "ev2", path=str(tmp_path / "wh" / "ev"), index_cols=("k",)
    )
    assert cat.table("ev2").read().count() == 90
    cat.drop_table("ev2", purge=True)
    assert not os.path.exists(str(tmp_path / "wh" / "ev"))
    with pytest.raises(KeyError):
        cat.table("ev2")
    with pytest.raises(ValueError, match="identifier"):
        cat.create_table("bad-name")


@pytest.mark.slow
@pytest.mark.parametrize("iso", ["write_serializable", "serializable"])
def test_managed_cross_process_dml_grid(spark, tmp_path, iso):
    """Round-12: THREE OS processes (this one + two children, each
    with its own SparkSession) run overlapping optimistic DML on ONE
    partitioned reference-plane table, under both isolation levels.
    Validation is a version-ordered MODEL REPLAY of every committed
    op across all three logs: the final table state must equal the
    serial replay (no lost updates, no phantom rows), the lineage
    must be linear with each version owned by exactly one op, and
    any conflict must have aborted loudly (logged, uncommitted).
    Processes work disjoint key stripes so version order IS a serial
    order under both isolation levels; contention is at the commit
    plane (version allocation, pointer CAS, shared partition dirs,
    manifest carry)."""
    import json
    import subprocess
    import sys
    import textwrap
    import time

    root = str(tmp_path / "t")
    t = ManagedTable(
        spark, root, index_cols=("k",), concurrency="optimistic",
        link_mode="reference", isolation=iso,
    )
    t.write(_mk(spark, 0, 100, parts=2), partition_cols=("tag",))

    child_src = textwrap.dedent(
        """
        import json, sys
        from pyspark.sql import functions as F
        from bigdatalab_spark.session import get_session
        from bigdatalab_spark.sources.managed import (
            CommitConflictError, ManagedTable,
        )

        root, stripe, iso = sys.argv[1], int(sys.argv[2]), sys.argv[3]
        spark = get_session(app_name=f"dml-child-{stripe}")
        spark.sparkContext.setLogLevel("ERROR")
        t = ManagedTable(
            spark, root, index_cols=("k",), concurrency="optimistic",
            link_mode="reference", isolation=iso,
        )

        def mk(lo, hi):
            return spark.range(lo, hi).select(
                F.col("id").alias("k"),
                (F.col("id") * 2.0).alias("score"),
                (F.col("id") % 7).cast("string").alias("tag"),
            ).coalesce(1)

        lo = stripe * 10_000
        ops = [
            ("append", lo, lo + 30),
            ("delete", lo + 5, lo + 9),
            ("update", lo, lo + 2),
            ("append", lo + 30, lo + 40),
            ("delete", lo + 35, lo + 50),
        ]
        for kind, a, b in ops:
            try:
                if kind == "append":
                    v = t.append(mk(a, b))
                elif kind == "delete":
                    v = t.delete_range("k", a, b)
                else:
                    v = t.update_range(
                        "k", a, b, {"score": "score + 1000"}
                    )
                print(json.dumps(
                    {"op": kind, "a": a, "b": b, "version": v}
                ), flush=True)
            except CommitConflictError as exc:
                print(json.dumps(
                    {"op": kind, "a": a, "b": b, "conflict": str(exc)[:80]}
                ), flush=True)
        spark.stop()
        """
    )
    runner = tmp_path / "dml_child.py"
    runner.write_text(child_src)
    env = dict(os.environ, PYTHONPATH="/root/repo")
    children = [
        subprocess.Popen(
            [sys.executable, str(runner), root, str(i), iso],
            cwd="/root/repo", env=env,
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for i in (1, 2)
    ]

    # the parent is writer #3 on stripe 0 (the seeded 0..99 rows),
    # interleaving with the children's whole lifetime
    from bigdatalab_spark.sources.managed import CommitConflictError

    log: list[dict] = []
    parent_ops = [
        ("delete", 0, 9),
        ("update", 20, 29),
        ("append", 100, 120),
        ("delete", 110, 114),
    ]
    oi = 0
    while oi < len(parent_ops) or any(c.poll() is None for c in children):
        if oi < len(parent_ops):
            kind, a, b = parent_ops[oi]
            oi += 1
            try:
                if kind == "append":
                    v = t.append(_mk(spark, a, b, parts=1))
                elif kind == "delete":
                    v = t.delete_range("k", a, b)
                else:
                    v = t.update_range("k", a, b, {"score": "score + 1000"})
                log.append({"op": kind, "a": a, "b": b, "version": v})
            except CommitConflictError as exc:
                log.append(
                    {"op": kind, "a": a, "b": b, "conflict": str(exc)[:80]}
                )
        else:
            time.sleep(0.2)
    for c in children:
        out, err = c.communicate(timeout=300)
        assert c.returncode == 0, f"child died:\n{err[-2000:]}"
        log.extend(json.loads(line) for line in out.splitlines() if line)

    committed = sorted(
        (e for e in log if "version" in e), key=lambda e: e["version"]
    )
    # every committed version is owned by exactly one op, and the
    # lineage is linear: nothing was silently dropped or duplicated
    owned = [e["version"] for e in committed]
    assert len(owned) == len(set(owned))
    assert t.lineage() == t.versions()
    assert set(owned) == set(t.versions()) - {1}

    # version-ordered serial replay on a driver-side model
    model: dict[int, float] = {k: k * 2.0 for k in range(100)}
    for e in committed:
        a, b = e["a"], e["b"]
        if e["op"] == "append":
            for k in range(a, b):
                model[k] = k * 2.0
        elif e["op"] == "delete":
            for k in [k for k in model if a <= k <= b]:
                del model[k]
        else:
            for k in model:
                if a <= k <= b:
                    model[k] += 1000
    want = sorted((k, s, str(k % 7)) for k, s in model.items())
    assert _rows(t.read()) == want


def test_managed_vacuum_retention_policy(spark, tmp_path):
    """Round-12: vacuum(keep_days=) keeps versions committed inside
    the window even past keep_last (union semantics), and a LAGGING
    registered cursor makes vacuum refuse loudly instead of deleting
    unconsumed feed history (which would force a snapshot
    re-bootstrap). Reference plane: vacuumed-but-referenced homes
    demote, bytes survive."""
    import time

    root = str(tmp_path / "t")
    t = ManagedTable(spark, root, index_cols=("k",), link_mode="reference")
    t.write(_mk(spark, 0, 50, parts=1))    # v1
    t.append(_mk(spark, 50, 60, parts=1))  # v2
    t.append(_mk(spark, 60, 70, parts=1))  # v3
    t.append(_mk(spark, 70, 80, parts=1))  # v4

    # age v1/v2 past a 1-day window; v3/v4 stay young
    old = time.time() - 3 * 86400
    for v in (1, 2):
        os.utime(os.path.join(root, f"v={v}", "_COMMITTED"), (old, old))

    cur = t.cursor(str(tmp_path / "cursor"))
    with pytest.raises(ValueError, match="not yet acknowledged"):
        t.vacuum(keep_last=1, keep_days=1.0, cursors=(cur,))
    assert t.versions() == [1, 2, 3, 4], "refusal must leave everything"

    _df, upto = cur.pending()
    cur.ack(upto)  # consumer catches up
    removed = t.vacuum(keep_last=1, keep_days=1.0, cursors=(cur,))
    assert removed == [1, 2]  # keep_last keeps v4, keep_days keeps v3
    assert set(t.versions()) == {3, 4}
    # carried-by-reference homes were demoted, never deleted: the
    # current snapshot still reads every row
    assert _rows(t.read()) == sorted(
        (k, k * 2.0, str(k % 7)) for k in range(80)
    )


def test_index_driver_and_distributed_builds_agree(spark, tmp_path, monkeypatch):
    """Round-12 optimization: a commit whose index delta is
    metadata-sized builds the skipping index driver-side with pyarrow
    (zero Spark jobs) instead of the distributed mapInPandas probe.
    The two paths share one stat-extraction closure, and this test
    pins the contract: the same write -> DELETE -> MERGE history
    produces bit-equal index CONTENT (stats multisets; file names are
    fresh UUIDs per run) and identical candidate pruning either way."""
    import bigdatalab_spark.sources.managed as managed_mod

    def lifecycle(root):
        t = ManagedTable(
            spark, root, index_cols=("k",), rowgroup_index=True
        )
        df = (
            _mk(spark, 0, 1000)
            .repartitionByRange(6, "k")
            .sortWithinPartitions("k")
        )
        t.write(df)
        t.delete_range("k", 100, 199)
        src = _mk(spark, 950, 1050, parts=1)
        t.merge_into(src, "k")
        return t

    def stats_multiset(t):
        # index rows without the uuid file names, but keeping the
        # file GROUPING (rows of one file stay together via a rank of
        # the per-file stats tuple)
        rows = sorted(
            (
                r["col"], r["min_val"], r["max_val"], r["min_str"],
                r["max_str"], r["n_nulls"], r["n_rows"],
            )
            for r in t.index().collect()
        )
        rg = (
            sorted(
                (
                    r["rg"], r["col"], r["min_val"], r["max_val"],
                    r["n_nulls"], r["n_rows"],
                )
                for r in t.rowgroup_index_df().collect()
            )
            if t.rowgroup_index
            else None
        )
        return rows, rg

    t_driver = lifecycle(str(tmp_path / "drv"))  # default: driver path
    monkeypatch.setattr(managed_mod, "_INDEX_DRIVER_MAX_FILES", -1)
    t_dist = lifecycle(str(tmp_path / "dst"))  # forced distributed

    assert stats_multiset(t_driver) == stats_multiset(t_dist)
    assert len(t_driver.candidate_files("k", 950, 1049)) == len(
        t_dist.candidate_files("k", 950, 1049)
    )
    assert _rows(t_driver.read()) == _rows(t_dist.read())
    # and the committed parquet layouts are interchangeable: both read
    # back through the SQL surface with identical schemas
    assert (
        t_driver.index().schema == t_dist.index().schema
    )
