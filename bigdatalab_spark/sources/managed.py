"""ManagedTable — the storage capstone: versioned snapshots, the
file-skipping index, and compaction behind ONE facade.

The three primitives exist separately (sources/versioned.py —
snapshots/time-travel/rollback/vacuum; sources/skipping.py — per-file
min/max stats from parquet footers; sinks.py — small-file compaction),
but wiring them by hand leaves two gaps a real table format never has:
nothing guarantees the index tracks a version flip, and a compaction
rewrite silently orphans the index built over the pre-compaction file
names. This module closes both by making the index PART of the
snapshot:

    path/v=1/part-*.parquet          (immutable data files)
    path/v=1/_index/*.parquet        (skipping index FOR v=1 — relative
                                      file names, so hard-linked files
                                      keep their index rows)
    path/v=1/_manifest/*.parquet     (file manifest FOR v=1: relative
                                      name + size per data file — the
                                      planning source of truth)
    path/v=1/_COMMITTED              (marker: data AND index complete)
    path/v=2/...
    path/_latest                     (atomic pointer: "2")

Atomicity story (the reference's managed-table semantics,
303-spark-sql/README.md:66-73, rebuilt for 100 TB): a version is
visible iff its ``_COMMITTED`` marker exists, and the marker lands
only AFTER both the data files and the index files are fully on disk —
so the index can never be newer or older than the data it describes.
``_index`` and ``_COMMITTED`` start with ``_`` and are therefore
invisible to Spark's parquet reader; a plain
``spark.read.parquet(path/v=N)`` of a committed version is always
correct with or without the facade.

Scale design:
- WRITE cost is one footer probe per new file (distributed, metadata
  only — see skipping.py); APPEND hard-links the previous snapshot's
  files (zero copy, same inode) and probes only the NEW files, reusing
  the previous index rows verbatim because index file names are
  relative to the version directory.
- READ cost for a selective predicate is one metadata-sized index scan
  + only the candidate files — at 100 TB the difference between
  footer-probing a million files per query and reading a few-thousand-
  row index.
- COMPACTION is just another version: read vN, cluster, write vN+1
  with a fresh index. Crash-safety is free (a crash leaves a
  marker-less directory everyone ignores), time travel to the
  pre-compaction layout keeps working, and vacuum reclaims it later.
- Concurrency reuses the dataset writer lock (locks.py): one committer
  at a time, readers never block (they follow the pointer to immutable
  directories), and a pointer CAS before each flip turns any lock
  bypass into a loud ConcurrentWriteError instead of a lost update.
- ROW-LEVEL DML (delete_where/update_where/merge_into + the _range
  variants) is copy-on-write file surgery: one attribution scan —
  pruned through the stored index whenever the predicate/key bounds an
  indexed column, which is sound because a file whose stats miss the
  range cannot contain a match — finds the files containing matching
  rows; ONLY those files are rewritten, every untouched file is
  hard-linked and keeps its index rows verbatim. Cost is proportional
  to the touched files, not the table — at 100 TB, deleting one
  user's rows from a user-clustered table rewrites a handful of files.
  MERGE collects its delta-sized source to the driver once as Arrow:
  the duplicate-key check, the key bounds and the split into
  postimage and insert rows run in pyarrow, and the source re-enters
  Spark as a ``LocalRelation`` with exact statistics, so every join
  against it broadcasts without a shuffle and nothing is persisted.
- METADATA PLANE: every committed version carries a ``_manifest``
  (one row per data file: relative name + size, landed before the
  marker like the index). Reads, DML attribution, and history() plan
  from the manifest — one metadata-sized parquet read — and each
  commit COMPOSES its child manifest from the parent's rows plus its
  own delta, so no commit ever walks or re-stats the live file set:
  metadata cost is proportional to the files the commit touches, not
  the table (at ~10⁶ files/version, the difference between a million
  driver stat calls per commit and a few dozen).
  PORTABILITY: the manifest is the source of truth; the hard links
  that carry untouched files between version directories are a LOCAL
  FILESYSTEM data-plane optimization (zero-copy, shared inodes). An
  object-store port keeps the manifest/commit protocol unchanged and
  replaces the link loop with manifest rows pointing at the files'
  original version directories (absolute keys instead of relative
  names) — the planning surfaces already read the manifest, so only
  the link loop and ``_read_files``'s path join would change.
- CHANGE DATA FEED: DML versions record their changed rows under
  ``v=N/_cdf`` (invisible to plain readers) before the marker lands —
  the feed commits atomically with the data; ``changes(N)`` reads it,
  derives append versions' inserts from the files new to the snapshot
  (no write cost at append time), and is empty for compaction (a
  physical-layout no-op). The marker file records each version's
  operation kind so the derivation is explicit, never guessed.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatalab_spark.sources.locks import (
    ConcurrentWriteError,
    dataset_write_lock,
)
from bigdatalab_spark.sources.skipping import _index_paths
from bigdatalab_spark.sources.versioned import (
    _MARKER,
    _POINTER,
    _version_dir,
    latest_version,
    list_versions,
)
from bigdatalab_spark.sources.versioned import rollback as _rollback

_INDEX_DIR = "_index"
_INDEX_RG_DIR = "_index_rg"
_MANIFEST_DIR = "_manifest"
_CDF_DIR = "_cdf"
_CHANGE_TYPE = "_change_type"
_COMMIT_VERSION = "_commit_version"
_STREAM_BATCH = "_STREAM_BATCH"
_SCHEMA_FILE = "_SCHEMA"
_RESERVED = "_RESERVED"
_PARTCOLS_FILE = "_PARTITION_COLS"


def _partition_values(rel: str) -> dict[str, str | None]:
    """Partition-column values encoded in a relative file path's
    directory segments (``k=3/tag=a/part-....parquet`` →
    ``{"k": "3", "tag": "a"}``), URL-decoded the way Spark encodes
    them; Hive's NULL sentinel decodes to None. Flat paths → {}."""
    from urllib.parse import unquote

    out: dict[str, str | None] = {}
    for seg in rel.replace(os.sep, "/").split("/")[:-1]:
        k, _, v = seg.partition("=")
        v = unquote(v)
        out[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
    return out


def _cast_partition_value(raw: str, like):
    """A directory-segment partition value cast to the type of
    ``like`` (a predicate bound), SOUNDLY: ``bool`` is parsed rather
    than constructed (``bool("false")`` is True — the builtin is a
    truthiness test, not a parser), date/datetime go through
    ``fromisoformat``, numerics/strings through their constructors.
    Raises ``ValueError`` on any ambiguity so callers keep the file as
    a candidate — partition pruning feeds DML attribution
    (``delete_range``/``update_range``), where dropping a file that
    actually holds matching rows is a correctness bug, not a missed
    optimization."""
    import datetime

    t = type(like)
    if t is bool:
        low = raw.strip().lower()
        if low not in ("true", "false"):
            raise ValueError(f"ambiguous boolean partition value {raw!r}")
        return low == "true"
    if t is datetime.datetime:  # before date: datetime subclasses date
        return datetime.datetime.fromisoformat(raw)
    if t is datetime.date:
        return datetime.date.fromisoformat(raw)
    return t(raw)


def _typed_partition_value(raw: str | None, dtype):
    """A directory-segment partition value as a Python value of the
    STORED Spark type ``dtype`` (None = the Hive NULL sentinel, or an
    unknown type — callers stamp NULL). Used to materialize partition
    columns for scans over the physical files, which omit them."""
    if raw is None or dtype is None:
        return None
    import datetime

    from pyspark.sql import types as T

    if isinstance(dtype, T.BooleanType):
        return raw.strip().lower() == "true"
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(raw)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return float(raw)
    if isinstance(dtype, T.DecimalType):
        from decimal import Decimal

        return Decimal(raw)
    if isinstance(dtype, T.DateType):
        return datetime.date.fromisoformat(raw)
    if isinstance(dtype, T.TimestampType):
        return datetime.datetime.fromisoformat(raw)
    if isinstance(dtype, T.StringType):
        return raw
    return None


@contextlib.contextmanager
def _job_label(spark, desc: str):
    """Label the Spark jobs submitted inside the block (guide: 'label
    your jobs') and restore the caller's description after — job
    descriptions are thread-local, so this never bleeds into user
    queries issued after the DML returns."""
    sc = spark.sparkContext
    old = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try:
        yield
    finally:
        sc.setJobDescription(old)


@contextlib.contextmanager
def _delta_plan_scope(spark):
    """Compile a DELETE/UPDATE plan's PERSISTED frame without AQE.
    Spark compiles a cached plan's physical plan at ``persist()`` call
    time (CacheManager.cacheQuery), so the session's AQE flag AT THAT
    MOMENT decides how the cache later materializes: with AQE captured,
    every Exchange inside the cached plan becomes its own stage-job on
    first use. The frame persisted here is delta-sized by the DML
    contract (the touched files' rows), so AQE could only add fixed
    scheduling rounds to every commit. Actions and the commit writes
    keep their own AQE settings (the labeled metadata actions run
    AQE-off regardless; the writes compile AQE-on after this scope
    exits, so output coalescing is unchanged)."""
    old = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


@contextlib.contextmanager
def _metadata_action(spark, desc: str):
    """Label + run a METADATA-SIZED single-row action (a global
    aggregation to one row) with AQE off for just this action. A
    to-one-row aggregation has nothing AQE can re-plan at ANY input
    size — the final stage is a single partition by construction and
    there is no keyed reduce side to coalesce or skew-split — while
    AQE's stage-by-stage materialization turns the short chain into
    one Spark job per exchange (measured 3 jobs for the attribution
    agg, 1 without). Executing it as ONE job removes fixed scheduling
    rounds from every DML commit; results are identical (AQE is a
    physical-plan feature). Callers fetch their one-row result with
    ``collect()[0]``, not ``first()``: take(1) wraps the aggregation
    in a separate Limit plan that is re-planned and codegen-compiled
    on every commit for no benefit when the result is a single row by
    construction. Session-global setting: another thread
    planning a query in the same session during this action would
    also plan without AQE — a perf-only, correctness-free blip; DML
    runs under the table write lock, so the window is one metadata
    aggregation wide."""
    sc = spark.sparkContext
    old_desc = sc.getLocalProperty("spark.job.description")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    sc.setJobDescription(desc)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        sc.setJobDescription(old_desc)


def _walk_data_files(vdir: str) -> list[str]:
    """Relative paths of a directory's parquet data files by LISTING
    (walk, so partitioned layouts work); ``_index`` and other
    _-prefixed entries are excluded the same way Spark's reader
    excludes them. Used for the delta (freshly-written files, no
    manifest yet) and as the legacy fallback — committed versions are
    planned from their manifest instead."""
    out = []
    for dirpath, dirnames, filenames in os.walk(vdir):
        dirnames[:] = [
            d for d in dirnames if not d.startswith(("_", "."))
        ]
        for f in filenames:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.append(
                    os.path.relpath(os.path.join(dirpath, f), vdir)
                )
    return sorted(out)


def _own_version(vdir: str) -> int:
    return int(os.path.basename(vdir.rstrip("/"))[2:])


def _manifest_rows(vdir: str) -> list[dict] | None:
    """The version's committed ``_manifest`` as sorted dict rows
    ``{"file", "size_bytes", "home"}``, or None for versions committed
    before manifests existed (fall back to listing). ``home`` is the
    version whose DIRECTORY physically stores the file — the data
    plane's source of truth: hard-link commits self-home every row
    (the file was linked into this very directory), reference commits
    (``link_mode="reference"``) carry untouched files as rows pointing
    at the file's ORIGINAL version directory, the object-store data
    plane (no link syscall exists there). Manifests written before the
    column existed are self-homed by construction. Read driver-side
    with pyarrow — metadata-sized, no Spark job."""
    import pyarrow.parquet as pq

    d = os.path.join(vdir, _MANIFEST_DIR)
    if not os.path.isdir(d):
        return None
    own = _own_version(vdir)
    out: list[dict] = []
    for part in sorted(os.listdir(d)):
        if not part.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(d, part))
        files = t.column("file").to_pylist()
        sizes = t.column("size_bytes").to_pylist()
        homes = (
            t.column("home").to_pylist()
            if "home" in t.column_names
            else [own] * len(files)
        )
        out.extend(
            {"file": f, "size_bytes": s, "home": h if h is not None else own}
            for f, s, h in zip(files, sizes, homes)
        )
    return sorted(out, key=lambda r: r["file"])


def _manifest_entries(vdir: str) -> list[tuple[str, int]] | None:
    """Compatibility view of :func:`_manifest_rows`: sorted
    ``(relative file, size_bytes)`` tuples (tooling + tests)."""
    rows = _manifest_rows(vdir)
    if rows is None:
        return None
    return [(r["file"], r["size_bytes"]) for r in rows]


def _write_manifest(vdir: str, rows: list[dict]) -> None:
    """Land the version's file manifest BEFORE its marker (same commit
    discipline as ``_index``): one row per data file with its size and
    its HOME version (the directory that physically stores it). The
    manifest — not a directory listing — is the planning source of
    truth for every read/DML of a committed version, so planning cost
    is one metadata-sized parquet read instead of an O(file-count)
    filesystem walk, and works identically on object stores that have
    no cheap recursive listing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = sorted(rows, key=lambda r: r["file"])
    tbl = pa.table(
        {
            "file": [r["file"] for r in rows],
            "size_bytes": [r["size_bytes"] for r in rows],
            "home": [r["home"] for r in rows],
        },
        schema=pa.schema(
            [
                ("file", pa.string()),
                ("size_bytes", pa.int64()),
                ("home", pa.int64()),
            ]
        ),
    )
    d = os.path.join(vdir, _MANIFEST_DIR)
    os.makedirs(d, exist_ok=True)
    pq.write_table(tbl, os.path.join(d, "part-0.parquet"))


def _sized(vdir: str, rels: list[str]) -> list[dict]:
    """Stat the given files into self-homed manifest rows — called
    only on the DELTA (files this commit wrote into ``vdir``), never
    the whole snapshot."""
    own = _own_version(vdir)
    return [
        {
            "file": rel,
            "size_bytes": os.path.getsize(os.path.join(vdir, rel)),
            "home": own,
        }
        for rel in rels
    ]


def _data_files(vdir: str) -> list[str]:
    """Relative paths of the snapshot's parquet data files: from the
    committed ``_manifest`` when the version has one (metadata-sized
    parquet read — the source of truth), else by walking (legacy
    versions, and mid-commit directories whose manifest has not landed
    yet — exactly the delta the commit is discovering)."""
    m = _manifest_rows(vdir)
    if m is not None:
        return [r["file"] for r in m]
    return _walk_data_files(vdir)


def _env_int(name: str, default: int) -> int:
    """Integer env knob with a loud, non-fatal fallback: a malformed
    value must not crash module import with an opaque ValueError."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        return int(raw)
    except ValueError:
        import warnings

        warnings.warn(
            f"{name}={raw!r} is not an integer; using default {default}",
            stacklevel=2,
        )
        return default


#: driver-side index fast path: a commit whose index delta is at most
#: this many files probes footers and rewrites the index with pyarrow
#: on the driver (zero Spark jobs — the same idiom as the manifest);
#: larger deltas keep the distributed mapInPandas build. Parameterised
#: so cluster deployments can tune where "metadata-sized" ends.
_INDEX_DRIVER_MAX_FILES = _env_int("SPARK_GRAFT_INDEX_DRIVER_MAX", 256)
#: and the carried (reused) index side must itself be metadata-sized
#: on disk for the driver path to copy it
_INDEX_DRIVER_MAX_REUSE_BYTES = 64 << 20


def _index_arrow_schema(with_rowgroups: bool):
    """The stored index's arrow schema — must match what Spark's
    parquet writer lands for ``_INDEX_SCHEMA`` / ``_RG_SCHEMA`` so
    driver-written and Spark-written index files are interchangeable."""
    import pyarrow as pa

    fields = [("file", pa.string())]
    if with_rowgroups:
        fields.append(("rg", pa.int32()))
    fields += [
        ("col", pa.string()),
        ("min_val", pa.float64()),
        ("max_val", pa.float64()),
        ("min_str", pa.string()),
        ("max_str", pa.string()),
        ("n_nulls", pa.int64()),
        ("n_rows", pa.int64()),
    ]
    if with_rowgroups:
        fields.append(("n_bytes", pa.int64()))
    return pa.schema(fields)


def _index_parts(idx_dir: str) -> list[str]:
    """Absolute paths of an index directory's parquet parts — the ONE
    listing shared by the pyarrow driver reads and the byte gate, so
    they can never diverge from each other. Loud when a committed
    index directory exists but yields no recognizable parts (nested
    part directories or nonstandard extensions would otherwise read
    as an EMPTY index and silently un-prune every query)."""
    if not os.path.isdir(idx_dir):
        return []
    entries = os.listdir(idx_dir)
    parts = sorted(p for p in entries if p.endswith(".parquet"))
    if not parts and any(
        not p.startswith((".", "_")) for p in entries
    ):
        raise RuntimeError(
            f"index directory {idx_dir} exists but contains no "
            "*.parquet parts — its data files would be read as an "
            "empty index (layout drift from the expected flat "
            "coalesce(1) parquet write)"
        )
    return [os.path.join(idx_dir, p) for p in parts]


def _index_dir_bytes(idx_dir: str) -> int:
    """On-disk size of an index directory's parquet parts (0 when
    absent) — the driver-path gate for the carried side."""
    return sum(os.path.getsize(p) for p in _index_parts(idx_dir))


def _read_index_table(idx_dir: str):
    """A committed index directory as ONE pyarrow table (None when the
    directory holds no parquet parts). Metadata-sized by construction
    — the index has one row per (file[, row group], indexed column) —
    so a driver-side read costs what any table-format planner pays to
    open its stats file, with no Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    parts = _index_parts(idx_dir)
    if not parts:
        return None
    tables = [pq.read_table(p) for p in parts]
    return (
        tables[0]
        if len(tables) == 1
        else pa.concat_tables(tables, promote_options="default")
    )


class CommitConflictError(ConcurrentWriteError):
    """An optimistic transaction lost its race: a commit that landed
    after the transaction's base version touched files the transaction
    read. The work is rolled back (the reserved version directory is
    removed); re-run against the new current version."""


class ManagedTable:
    """Facade over one versioned, indexed, compactable parquet table.

    ``index_cols`` fixes which columns get file-level min/max stats;
    every committed version carries an index for exactly these columns
    (possibly with NULL stats for files that predate a column — such
    files are always-candidates, never dropped).

    ``concurrency`` picks the writer protocol:

    - ``"exclusive"`` (default): every mutation holds the table's
      writer lock across its whole read-modify-write — one writer at a
      time, concurrent writers fail fast. Simple, serializable.
    - ``"optimistic"``: mutations COMPUTE against a pinned base
      snapshot with NO lock held (the expensive Spark work runs
      concurrently), then take a short commit critical section that
      validates the transaction against every commit that landed since
      the base and REBASES it onto the current snapshot. Validation is
      file-level, derived entirely from the committed manifests (each
      intervening commit's removed set = parent manifest − child
      manifest, no extra txn log): a winner that removed files this
      transaction READ aborts it loudly (:class:`CommitConflictError`);
      disjoint-file transactions — two appends, two index-pruned DMLs
      on different key ranges — all commit. Isolation is
      WriteSerializable (Delta's default): a concurrent blind append's
      rows are not retro-filtered by an in-flight DELETE/UPDATE
      predicate; MERGE is stricter — files added since the base whose
      indexed key stats overlap the source's key range abort the merge
      (a missed match would silently duplicate keys, which is
      corruption, not an isolation choice).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        index_cols: tuple[str, ...] = (),
        rowgroup_index: bool = False,
        concurrency: str = "exclusive",
        commit_timeout: float = 60.0,
        link_mode: str = "hardlink",
        isolation: str = "write_serializable",
    ) -> None:
        self.spark = spark
        self.path = path
        self.index_cols = tuple(index_cols)
        # how long an optimistic commit waits for the writer lock
        # before giving up (the critical section is metadata-sized by
        # construction; raise this only for pathological contention)
        self.commit_timeout = float(commit_timeout)
        if link_mode not in ("hardlink", "reference"):
            raise ValueError(
                "link_mode must be 'hardlink' or 'reference', "
                f"got {link_mode!r}"
            )
        if isolation not in ("write_serializable", "serializable"):
            raise ValueError(
                "isolation must be 'write_serializable' or "
                f"'serializable', got {isolation!r}"
            )
        # optimistic-commit isolation level (exclusive mode is always
        # serializable — one writer at a time):
        # - "write_serializable" (Delta's default): file-level
        #   validation only. A concurrent blind append's rows are NOT
        #   retro-filtered by an in-flight DELETE/UPDATE predicate —
        #   the documented anomaly.
        # - "serializable": a DELETE/UPDATE additionally records its
        #   predicate READ-SET (the index bounds it scanned) and
        #   aborts when an intervening commit ADDED files whose stats
        #   overlap those bounds — the rows it should have seen under
        #   a serial order. Unbounded predicates (delete_where with no
        #   indexed range) conservatively conflict with ANY added
        #   file. MERGE already enforces this (key correctness, not an
        #   isolation choice).
        self.isolation = isolation
        # how a commit CARRIES the untouched files of its parent:
        # - "hardlink": link them into the new version directory
        #   (local-FS data plane — zero copy, shared inodes; plain
        #   spark.read.parquet(path/v=N) of any version stays correct)
        # - "reference": write NO per-file syscalls at all — the new
        #   manifest's rows keep pointing at each file's HOME version
        #   directory (the object-store data plane: commit cost is
        #   O(delta), and the optimistic commit critical section does
        #   zero per-file work). Reads resolve paths through the
        #   manifest; vacuum protects version directories that still
        #   home files referenced by surviving manifests.
        # The MANIFEST is the source of truth either way: readers
        # follow the stored homes, so tables with mixed-mode histories
        # (some versions linked, some referenced) read correctly
        # regardless of this instance's setting.
        self.link_mode = link_mode
        # opt-in finer granularity: commit a per-(file, row group, col)
        # stats index alongside the file-level one — same footer walk,
        # more rows; reads can then skip row groups INSIDE kept files
        self.rowgroup_index = bool(rowgroup_index and index_cols)
        if concurrency not in ("exclusive", "optimistic"):
            raise ValueError(
                "concurrency must be 'exclusive' or 'optimistic', "
                f"got {concurrency!r}"
            )
        self.concurrency = concurrency

    # ---- version surface (delegated semantics) --------------------------

    def versions(self) -> list[int]:
        return list_versions(self.path)

    def latest(self) -> int | None:
        return latest_version(self.path)

    def rollback(self, version: int) -> None:
        """Move the pointer to an earlier committed version. The index
        travels with the snapshot, so a rollback needs no index work —
        reads through the old pointer prune with the old index."""
        _rollback(self.path, version)

    def vacuum(
        self,
        keep_last: int = 2,
        keep_days: float | None = None,
        cursors: tuple = (),
    ) -> list[int]:
        """Reclaim old snapshots (and crash debris). Hard-linked data
        files shared with surviving versions survive — the filesystem
        drops the directory entry, not the inode.

        Retention policy: keep the newest ``keep_last`` versions AND —
        when ``keep_days`` is set — every version committed within
        that many days (commit time = the ``_COMMITTED`` marker's
        mtime, stamped at commit), the union semantics real table
        formats run ("keep last N versions / M days").

        ``cursors`` names change-feed consumers (paths or
        :class:`ChangeFeedCursor` instances) this vacuum must not
        strand: if the retention window would delete lineage versions
        a listed consumer has not acknowledged, vacuum REFUSES loudly
        (the consumer would otherwise be forced into a full snapshot
        re-bootstrap) — advance the consumer or widen retention.

        Reference data plane: a retained version's manifest may point
        at files physically HOMED in an older version's directory, so
        vacuum first collects every home the retained manifests
        reference and DEMOTES those directories instead of deleting
        them — the ``_COMMITTED`` marker becomes a ``_HOMEONLY``
        tombstone, the version disappears from :meth:`versions` (no
        time travel, no rollback target: it IS vacuumed, and appears
        in the returned list), and the bytes stay on disk until the
        last referencing manifest is itself vacuumed. The protect set
        is computed INSIDE ``_vacuum_locked`` (versioned.py
        ``_referenced_homes``), so the bare module-level ``vacuum()``
        on the same path is exactly as safe as this method."""
        import time as _time

        from bigdatalab_spark.sources.versioned import _vacuum_locked

        with dataset_write_lock(self.path, "managed_vacuum"):
            committed = list_versions(self.path)
            keep = set(committed[-keep_last:]) if keep_last > 0 else set()
            current = latest_version(self.path)
            if current is not None:
                keep.add(current)
            extra: set[int] = set()
            if keep_days is not None:
                cutoff = _time.time() - keep_days * 86400.0
                for v in committed:
                    marker = os.path.join(
                        _version_dir(self.path, v), _MARKER
                    )
                    if os.path.getmtime(marker) >= cutoff:
                        extra.add(v)
            retained = keep | extra
            chain = self.lineage(current) if current is not None else []
            for c in cursors:
                cur = (
                    c
                    if isinstance(c, ChangeFeedCursor)
                    else ChangeFeedCursor(self, str(c))
                )
                pos = cur.position()
                lagging = sorted(
                    v
                    for v in chain
                    if (pos is None or v > pos) and v not in retained
                )
                if lagging:
                    raise ValueError(
                        f"vacuum on {self.path} would delete feed "
                        f"version(s) {lagging} not yet acknowledged by "
                        f"cursor {cur.cursor_path} (position="
                        f"{'fresh' if pos is None else pos}) — advance "
                        "the consumer (pending()/ack) or widen "
                        "retention (keep_last/keep_days); deleting "
                        "unconsumed history forces a full snapshot "
                        "re-bootstrap"
                    )
            return _vacuum_locked(self.path, keep_last, extra_keep=extra)

    # ---- commit protocol -------------------------------------------------

    def write(
        self,
        df: DataFrame,
        partition_cols: tuple[str, ...] = (),
        stream_batch_id: int | None = None,
        writer_options: dict | None = None,
    ) -> int:
        """Full snapshot: ``df`` becomes the next version, with a fresh
        skipping index, in one atomic commit (data → index → marker →
        pointer flip). Returns the new version number.
        ``stream_batch_id`` records the creating micro-batch atomically
        with the commit (first batch of a streaming merge loop).
        ``writer_options`` pass through to the parquet writer (e.g.
        ``parquet.block.size`` to control row-group granularity)."""
        with dataset_write_lock(self.path, "managed_write"):
            current = latest_version(self.path)
            version, vdir = self._allocate()
            writer = df.write.mode("errorifexists")
            if partition_cols:
                writer = writer.partitionBy(*partition_cols)
            for k, v in (writer_options or {}).items():
                writer = writer.option(k, v)
            writer.parquet(vdir)
            files = _walk_data_files(vdir)
            self._write_index(vdir, new_files=files)
            _write_manifest(vdir, _sized(vdir, files))
            self._write_schema(vdir, df.schema)
            self._write_partition_cols(vdir, tuple(partition_cols))
            if stream_batch_id is not None:
                self._write_stream_batch(vdir, stream_batch_id)
            self._commit(version, vdir, expected=current, op="write")
            return version

    def append(self, df: DataFrame) -> int:
        """Append-as-new-version: the previous snapshot's data files are
        HARD-LINKED into the new version (zero copy, shared inodes) and
        only ``df``'s new files are written + footer-probed; the
        previous index rows are reused verbatim (file names are
        relative, and a linked file's stats are its stats). Cost is
        proportional to the APPENDED data, not the table.

        SCHEMA EVOLUTION: ``df`` may add brand-new columns (the stored
        schema grows; linked pre-evolution files read back with NULLs
        for them, and an indexed evolved column gives them NULL stats =
        always-candidates). Dropping or re-typing existing columns is
        refused loudly — see :meth:`_evolve_schema`."""
        if self.concurrency == "optimistic":
            return self._append_optimistic(df)
        with dataset_write_lock(self.path, "managed_append"):
            current = latest_version(self.path)
            if current is None:
                # first append = first snapshot; same commit protocol
                version, vdir = self._allocate()
                df.write.mode("errorifexists").parquet(vdir)
                files = _walk_data_files(vdir)
                self._write_index(vdir, new_files=files)
                _write_manifest(vdir, _sized(vdir, files))
                self._write_schema(vdir, df.schema)
                self._commit(version, vdir, expected=current, op="write")
                return version
            prev = _version_dir(self.path, current)
            prev_files = _data_files(prev)
            new_schema = self._evolve_schema(current, df)
            version, vdir = self._allocate()
            # a partitioned table's delta lands under the same
            # col=val/ layout (partition columns are table metadata,
            # recorded at write() time)
            pcols = self.partition_cols_of(current)
            writer = df.write.mode("errorifexists")
            if pcols:
                writer = writer.partitionBy(*pcols)
            writer.parquet(vdir)
            new_files = set(_walk_data_files(vdir))
            clash = new_files & set(prev_files)
            if clash:  # astronomically unlikely (UUIDs)
                raise ConcurrentWriteError(
                    f"append file-name collision on {sorted(clash)[0]}"
                )
            carried = self._carry(current, None, vdir)
            self._write_index(
                vdir,
                new_files=sorted(new_files),
                reuse_from=os.path.join(prev, _INDEX_DIR),
            )
            # manifest composes from the PARENT's rows + the delta —
            # no walk of the snapshot, no re-stat of carried files
            _write_manifest(
                vdir, carried + _sized(vdir, sorted(new_files))
            )
            self._write_schema(vdir, new_schema)
            self._write_partition_cols(vdir, pcols)
            self._commit(version, vdir, expected=current, op="append")
            return version

    def compact(
        self,
        target_file_rows: int = 1_000_000,
        zorder_by: tuple[str, ...] | None = None,
        writer_options: dict | None = None,
    ) -> int:
        """Small-file compaction as a NEW version: read the current
        snapshot, cluster into ~``target_file_rows``-row files, commit
        with a fresh index. Time travel to the pre-compaction layout
        keeps working (it is just version N-1); vacuum reclaims it.
        Returns the new version number.

        ``zorder_by=(x, y, ...)`` re-clusters on the Morton
        interleave of N ≥ 2 non-negative integer columns (``OPTIMIZE
        ZORDER BY``): each compacted file owns a tight
        hyper-rectangle in EVERY listed dimension, so the per-version
        index prunes range predicates on ANY of them — a linear sort
        only skips on its leading column. With
        ``rowgroup_index=True`` the same compaction commits the finer
        per-row-group stats too, so 2-D predicates skip rectangles
        INSIDE kept files; pass ``writer_options`` (e.g.
        ``parquet.block.size``) to control row-group granularity."""
        with dataset_write_lock(self.path, "managed_compact"):
            current = latest_version(self.path)
            if current is None:
                raise FileNotFoundError(
                    f"no committed versions under {self.path}"
                )
            prev = _version_dir(self.path, current)
            df = self.read(current)
            n_rows = df.count()
            n_files = max(1, -(-n_rows // target_file_rows))
            version, vdir = self._allocate()
            # cluster so the compacted files' min/max stats come out
            # SELECTIVE, not random — compaction is the natural moment
            # to (re)cluster for skipping
            if zorder_by is not None:
                from bigdatalab_spark.operators.zorder import zorder_key

                if len(zorder_by) < 2:
                    raise ValueError(
                        "zorder_by needs at least two columns"
                    )
                df = (
                    df.withColumn(
                        "__z",
                        zorder_key(*[F.col(c) for c in zorder_by]),
                    )
                    .repartitionByRange(n_files, "__z")
                    .sortWithinPartitions("__z")
                    .drop("__z")
                )
            elif self.index_cols:
                df = df.repartitionByRange(
                    n_files, *self.index_cols
                ).sortWithinPartitions(*self.index_cols)
            else:
                df = df.coalesce(n_files)
            writer = df.write.mode("errorifexists").option(
                "maxRecordsPerFile", target_file_rows
            )
            # a partitioned table stays partitioned through compaction
            # (Delta's OPTIMIZE contract): clustering happens WITHIN
            # the preserved directory layout
            pcols = self.partition_cols_of(current)
            if pcols:
                writer = writer.partitionBy(*pcols)
            for k, v in (writer_options or {}).items():
                writer = writer.option(k, v)
            writer.parquet(vdir)
            files = _walk_data_files(vdir)
            self._write_index(vdir, new_files=files)
            _write_manifest(vdir, _sized(vdir, files))
            self._write_schema(vdir, df.schema)
            self._write_partition_cols(vdir, pcols)
            self._commit(version, vdir, expected=current, op="compact")
            return version

    # ---- row-level DML (copy-on-write) -----------------------------------

    def delete_where(self, condition: Column | str) -> int:
        """Row-level DELETE as a copy-on-write version: one attribution
        scan finds which files contain matching rows, ONLY those files
        are rewritten without the matches, every untouched file is
        hard-linked (zero copy) and keeps its index rows verbatim. The
        deleted rows land in the version's change feed
        (:meth:`changes`). Rows where ``condition`` is NULL are KEPT
        (SQL DELETE semantics: only TRUE deletes). No matches → no new
        version (returns the current one). Cost is proportional to the
        TOUCHED files, not the table."""
        return self._cow_rewrite("delete", condition, None, None)

    def delete_range(self, col: str, lo, hi, extra: Column | str | None = None) -> int:
        """DELETE WHERE ``col BETWEEN lo AND hi [AND extra]``, with the
        attribution scan PRUNED through the stored skipping index —
        sound by construction, because a file whose ``col`` stats miss
        [lo, hi] cannot contain a matching row. At 100 TB this is the
        difference between scanning the table to find 0.1% of files
        and scanning 0.1% of files."""
        cond = F.col(col).between(F.lit(lo), F.lit(hi))
        if extra is not None:
            cond = cond & (F.expr(extra) if isinstance(extra, str) else extra)
        return self._cow_rewrite("delete", cond, None, (col, lo, hi))

    def update_where(
        self,
        condition: Column | str,
        assignments: dict[str, Column | str],
    ) -> int:
        """Row-level UPDATE as a copy-on-write version: matching rows
        get ``assignments`` applied (values are Columns or SQL
        expression strings, evaluated against the PRE-update row, as in
        SQL UPDATE), non-matching rows in touched files are rewritten
        unchanged, untouched files hard-link. The change feed records
        update_preimage/update_postimage row pairs."""
        return self._cow_rewrite("update", condition, assignments, None)

    def update_range(
        self,
        col: str,
        lo,
        hi,
        assignments: dict[str, Column | str],
        extra: Column | str | None = None,
    ) -> int:
        """UPDATE over an indexed range — :meth:`update_where` with the
        attribution scan pruned through the index (same soundness
        argument as :meth:`delete_range`)."""
        cond = F.col(col).between(F.lit(lo), F.lit(hi))
        if extra is not None:
            cond = cond & (F.expr(extra) if isinstance(extra, str) else extra)
        return self._cow_rewrite("update", cond, assignments, (col, lo, hi))

    def merge_into(
        self,
        source: DataFrame,
        keys: str | tuple[str, ...],
        when_matched: Column | str | None = None,
        stream_batch_id: int | None = None,
    ) -> int:
        """Upsert (MERGE): target rows whose key appears in ``source``
        are replaced by the source row (all of them — duplicate target
        keys collapse to the one source row), source rows with no
        matching target key are inserted. ``source`` must carry the
        target's exact column set and UNIQUE keys (checked loudly — a
        duplicate source key would make the result order-dependent).

        ``when_matched`` adds a MATCHED-clause condition (``MERGE ...
        WHEN MATCHED AND <cond> THEN UPDATE``): a Column or SQL string
        over ``t.*`` (stored row) and ``s.*`` (source row) — e.g.
        ``"s.seq >= t.seq"`` so a late batch carrying older records
        cannot regress state. Matched rows failing the condition are
        rewritten UNCHANGED (and do not appear in the change feed);
        with a condition, duplicate target keys are each decided
        individually instead of collapsing. NULL condition = no update.

        ``stream_batch_id`` records a streaming micro-batch id
        atomically with the commit (see
        :meth:`last_stream_batch` / streaming.jobs.managed_merge_stream
        — the replay-skip handshake that makes at-least-once delivery
        exactly-once).

        Copy-on-write file surgery: only files containing matched keys
        are rewritten (their unmatched rows + ALL source rows become
        the new files); everything else hard-links. When the leading
        key column is indexed, the attribution scan is pruned to the
        index candidates for the SOURCE's key min/max — sound, because
        a file outside that range cannot contain a matching key. The
        change feed records update_preimage/update_postimage pairs for
        matches and insert rows for new keys. An empty source is a
        no-op (returns the current version, writes nothing).

        The source is delta-sized by contract and is COLLECTED TO THE
        DRIVER once, as Arrow: a source larger than
        ``spark.driver.maxResultSize`` fails loudly in that collect,
        before anything is written, instead of merging slowly. Split
        such a source into several merges."""
        keys = (keys,) if isinstance(keys, str) else tuple(keys)
        if self.concurrency == "optimistic":
            # compute against a pinned base with NO lock held; the
            # short commit section validates + rebases (class docstring)
            current = latest_version(self.path)
            if current is None:
                raise FileNotFoundError(
                    f"no committed versions under {self.path}"
                )
            plan = self._merge_plan(current, source, keys, when_matched)
            if plan is None:
                return current
            scan_files, touched, new_df, cdf, bounds = plan
            return self._commit_cow_optimistic(
                current,
                scan_files,
                touched,
                new_df,
                cdf,
                "merge",
                stream_batch_id=stream_batch_id,
                merge_bounds=bounds,
            )
        with dataset_write_lock(self.path, "managed_merge"):
            current = latest_version(self.path)
            if current is None:
                raise FileNotFoundError(
                    f"no committed versions under {self.path}"
                )
            plan = self._merge_plan(current, source, keys, when_matched)
            if plan is None:
                return current
            _scan_files, touched, new_df, cdf, _bounds = plan
            prev = _version_dir(self.path, current)
            return self._commit_cow(
                current,
                prev,
                _data_files(prev),
                touched,
                new_df,
                cdf,
                "merge",
                stream_batch_id=stream_batch_id,
            )

    def _merge_plan(
        self,
        current: int,
        source: DataFrame,
        keys: tuple[str, ...],
        when_matched: Column | str | None,
    ):
        """MERGE compute phase against the pinned ``current`` snapshot
        (no commit work): validates the source, attributes matches to
        files, and builds the rewrite + change-feed plans. Returns
        ``(scan_files, touched, new_df, cdf, key_bounds)`` — or None
        when the merge is a no-op. ``key_bounds`` is ``(col, lo, hi)``
        of the source's leading key when it is indexed (the optimistic
        validator uses it to detect concurrently-added files that could
        hide a match), else None (validator is then conservative).

        The source is delta-sized by the MERGE contract, so it is
        collected ONCE as Arrow: validation, bounds and the split into
        postimage and insert rows run in pyarrow, and every frame built
        from it is a ``LocalRelation`` with exact statistics — each
        join against it broadcasts without a shuffle, and the lineage
        never re-runs, so nothing is persisted."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        prev = _version_dir(self.path, current)
        all_files = _data_files(prev)
        tgt_schema = self.stored_schema(current)
        if tgt_schema is None:
            tgt_schema = self.spark.read.parquet(prev).schema
        tgt_cols = [f.name for f in tgt_schema.fields]
        if set(source.columns) != set(tgt_cols):
            raise ValueError(
                "merge_into source schema mismatch: target has "
                f"{sorted(tgt_cols)}, source has "
                f"{sorted(source.columns)}"
            )
        missing = [k for k in keys if k not in tgt_cols]
        if missing:
            raise ValueError(f"merge keys not in schema: {missing}")
        source = source.select(*tgt_cols)
        src_schema = source.schema
        with _job_label(self.spark, "managed merge: collect source"):
            tbl = source.toArrow()
        if tbl.num_rows == 0:
            return None  # nothing to match, nothing to insert
        # NULL keys group together, as in Spark's groupBy: two NULL-key
        # rows are a duplicate even though neither can ever match
        if tbl.group_by(list(keys)).aggregate([]).num_rows < tbl.num_rows:
            raise ValueError(
                "merge_into source has duplicate keys — the merge "
                "result would be nondeterministic; dedupe first "
                "(e.g. priority_dedup)"
            )
        # sound index pruning of the attribution scan: a file whose
        # leading-key stats miss the source's key range cannot match
        scan_files = all_files
        key_bounds = None
        lo, hi = (v.as_py() for v in pc.min_max(tbl[keys[0]]).values())
        if keys[0] in self.index_cols and lo is not None:
            key_bounds = (keys[0], lo, hi)
            scan_files = self.candidate_files(keys[0], lo, hi, current)

        def local(t):
            # an all-false filter leaves zero chunks per column, which
            # the Arrow-to-Spark conversion of timestamps rejects
            return self.spark.createDataFrame(
                t if t.num_rows else tbl.slice(0, 0), schema=src_schema
            )

        src = local(tbl)
        src_keys = src.select(*keys)  # unique, checked above
        # ONE action attributes matches: the matched target rows' keys
        # and files (bounded by the source size times duplicate target
        # keys — delta-sized)
        matched = self._with_file(current, scan_files, tgt_schema).join(
            src_keys, on=list(keys), how="leftsemi"
        )
        with _job_label(self.spark, "managed merge: attribution"):
            att = matched.select(*keys, "__file").toArrow()
        if att["__file"].null_count:
            raise RuntimeError(
                "merge attribution could not map a scanned file path "
                "back to the manifest — path normalization mismatch"
            )
        touched = sorted(set(att["__file"].to_pylist()))
        # split the source on the driver: keys found in the touched
        # files are postimages, the rest inserts (equality never holds
        # for a NULL key, so NULL-key rows are always inserts)
        found = att.select(list(keys)).cast(tbl.select(list(keys)).schema)
        if len(keys) == 1:
            hit = pc.is_in(
                tbl[keys[0]], value_set=found[keys[0]].combine_chunks()
            )
        else:
            # join the key columns and a row id only: Arrow's hash join
            # rejects nested (list/map/struct) non-key columns
            rid = "__bdl_row__"
            while rid in tgt_cols:
                rid += "_"
            probe = tbl.select(list(keys)).append_column(
                rid, pa.array(np.arange(tbl.num_rows))
            )
            rows = probe.join(found, list(keys), join_type="left semi")
            mask = np.zeros(tbl.num_rows, dtype=bool)
            mask[rows[rid].to_numpy()] = True
            hit = pa.array(mask)
        insert_rows = local(tbl.filter(pc.invert(hit)))
        touched_df = self._read_files(current, touched, tgt_schema)
        # target rows without a source key are rewritten unchanged
        keep = touched_df.join(src_keys, on=list(keys), how="leftanti")
        if when_matched is None:
            new_df = keep.select(*tgt_cols).unionByName(src)
            pre = touched_df.join(
                src_keys, on=list(keys), how="leftsemi"
            ).withColumn(_CHANGE_TYPE, F.lit("update_preimage"))
            post = local(tbl.filter(hit)).withColumn(
                _CHANGE_TYPE, F.lit("update_postimage")
            )
        else:
            cond = (
                F.expr(when_matched)
                if isinstance(when_matched, str)
                else when_matched
            )
            take = F.coalesce(cond, F.lit(False))
            # plain equality, matching the unconditional path and
            # SQL MERGE: NULL keys never match anything
            joined = touched_df.alias("t").join(
                src.alias("s"),
                on=[
                    F.col(f"t.{k}") == F.col(f"s.{k}")
                    for k in keys
                ],
                how="inner",
            )
            # per matched TARGET row: take the source row iff the
            # condition holds, else rewrite the stored row unchanged
            replaced = joined.select(
                *[
                    F.col(f"t.{c}").alias(c)
                    if c in keys
                    else F.when(take, F.col(f"s.{c}"))
                    .otherwise(F.col(f"t.{c}"))
                    .alias(c)
                    for c in tgt_cols
                ]
            )
            new_df = (
                keep.select(*tgt_cols)
                .unionByName(replaced)
                .unionByName(insert_rows)
            )
            pre = joined.filter(take).select(
                *[F.col(f"t.{c}").alias(c) for c in tgt_cols]
            ).withColumn(_CHANGE_TYPE, F.lit("update_preimage"))
            post = joined.filter(take).select(
                *[
                    F.col(f"t.{c}").alias(c)
                    if c in keys
                    else F.col(f"s.{c}").alias(c)
                    for c in tgt_cols
                ]
            ).withColumn(_CHANGE_TYPE, F.lit("update_postimage"))
        ins = insert_rows.withColumn(_CHANGE_TYPE, F.lit("insert"))
        cdf = pre.select(*tgt_cols, _CHANGE_TYPE).unionByName(
            post.select(*tgt_cols, _CHANGE_TYPE)
        ).unionByName(ins.select(*tgt_cols, _CHANGE_TYPE))
        return scan_files, touched, new_df, cdf, key_bounds

    def _cow_rewrite(
        self,
        op: str,
        condition: Column | str,
        assignments: dict[str, Column | str] | None,
        prune: tuple | None,
    ) -> int:
        """Shared delete/update machinery: attribute matches to files
        (optionally index-pruned), rewrite only touched files, link the
        rest, record the change feed, commit."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        if self.concurrency == "optimistic":
            # compute against a pinned base with NO lock held; the
            # short commit section validates + rebases (class docstring)
            current = latest_version(self.path)
            if current is None:
                raise FileNotFoundError(
                    f"no committed versions under {self.path}"
                )
            plan = self._dml_plan(current, op, cond, assignments, prune)
            if plan is None:
                return current
            scan_files, touched, new_df, cdf, cached = plan
            try:
                return self._commit_cow_optimistic(
                    current,
                    scan_files,
                    touched,
                    new_df,
                    cdf,
                    op,
                    # serializable isolation validates concurrently-ADDED
                    # files against the predicate's indexed range (None =
                    # unbounded predicate: any added file conflicts)
                    pred_bounds=tuple(prune[:3]) if prune else None,
                )
            finally:
                for c in cached:
                    c.unpersist()
        with dataset_write_lock(self.path, f"managed_{op}"):
            current = latest_version(self.path)
            if current is None:
                raise FileNotFoundError(
                    f"no committed versions under {self.path}"
                )
            plan = self._dml_plan(current, op, cond, assignments, prune)
            if plan is None:
                return current  # no matches: the table is unchanged
            _scan_files, touched, new_df, cdf, cached = plan
            prev = _version_dir(self.path, current)
            all_files = _data_files(prev)
            try:
                return self._commit_cow(
                    current, prev, all_files, touched, new_df, cdf, op
                )
            finally:
                for c in cached:
                    c.unpersist()

    def _dml_plan(
        self,
        current: int,
        op: str,
        cond: Column,
        assignments: dict[str, Column | str] | None,
        prune: tuple | None,
    ):
        """DELETE/UPDATE compute phase against the pinned ``current``
        snapshot (no commit work): attribute matches to files
        (index-pruned when the predicate bounds an indexed column) and
        build the rewrite + change-feed plans. Returns
        ``(scan_files, touched, new_df, cdf)`` or None when nothing
        matches."""
        prev = _version_dir(self.path, current)
        all_files = _data_files(prev)
        cur_schema = self.stored_schema(current)
        scan_files = (
            self.candidate_files(*prune, version=current)
            if prune
            else all_files
        )
        hit = F.coalesce(cond, F.lit(False))  # NULL never matches
        # metadata-sized: bounded by the snapshot file count. ONE
        # global aggregation (partial collect_set per partition →
        # final single-partition merge) instead of the extra exchange
        # distinct().collect() paid. collect_set drops NULLs, so the
        # path-normalization guard compares row counts to stay loud.
        with _metadata_action(self.spark, f"managed {op}: attribution"):
            att = (
                self._with_file(current, scan_files, cur_schema)
                .filter(hit)
                .agg(
                    F.collect_set("__file").alias("fs"),
                    F.count(F.lit(1)).alias("n_rows"),
                    F.count("__file").alias("n_mapped"),
                )
                .collect()[0]
            )
        if att["n_rows"] != att["n_mapped"]:
            raise RuntimeError(
                f"{op} attribution could not map a scanned file path "
                "back to the manifest — path normalization mismatch"
            )
        touched = sorted(att["fs"] or [])
        if not touched:
            return None
        # validate BEFORE anything is persisted: a raise below this
        # point would strand the persist (the caller's finally only
        # unpersists plans that were returned)
        tmp_cols = [f.name for f in (
            cur_schema.fields
            if cur_schema is not None
            else self._read_files(current, touched, None).schema.fields
        )]
        if op != "delete":
            bad = sorted(set(assignments) - set(tmp_cols))
            if bad:
                raise ValueError(f"update of unknown columns: {bad}")
        # the touched files' rows feed the rewrite and the change feed
        # (plus the clustered write's range-sampling pass) — persist so
        # they are read from storage once, not once per action
        # (unpersisted by the caller once the commit has landed)
        with _delta_plan_scope(self.spark):
            touched_df = self._read_files(
                current, touched, cur_schema
            ).persist()
        cols = touched_df.columns
        if op == "delete":
            new_df = touched_df.filter(~hit)
            cdf = touched_df.filter(hit).withColumn(
                _CHANGE_TYPE, F.lit("delete")
            )
        else:
            # (unknown-column validation already ran pre-persist above)
            exprs = {
                c: (F.expr(v) if isinstance(v, str) else v)
                for c, v in assignments.items()
            }
            updated = [
                F.when(hit, exprs[c]).otherwise(F.col(c)).alias(c)
                if c in exprs
                else F.col(c)
                for c in cols
            ]
            new_df = touched_df.select(*updated)
            pre = touched_df.filter(hit).withColumn(
                _CHANGE_TYPE, F.lit("update_preimage")
            )
            post = (
                touched_df.filter(hit)
                .select(
                    *[
                        exprs[c].alias(c) if c in exprs else F.col(c)
                        for c in cols
                    ]
                )
                .withColumn(_CHANGE_TYPE, F.lit("update_postimage"))
            )
            cdf = pre.unionByName(post)
        # force-fill the persisted touched-file rows before the commit's
        # two OVERLAPPED writes both race to compute them: persist() is
        # lazy and RDD cache fills are unsynchronized, so two concurrent
        # first consumers would each read the touched files
        with _metadata_action(self.spark, f"managed {op}: plan cache fill"):
            touched_df.count()
        return scan_files, touched, new_df, cdf, [touched_df]

    def _cluster_rewrite(self, new_df: DataFrame, n_out: int) -> DataFrame:
        """Cluster a COW rewrite into ``n_out`` index-ranged output
        files. ``n_out == 1`` short-circuits to ``coalesce(1)`` + an
        in-partition sort: the layout is identical to
        ``repartitionByRange(1)`` (everything in one sorted file) but
        skips the range-sampling pass — a whole extra execution of the
        rewrite plan for a split computation with nothing to split.
        Single-file rewrites are the common DML case (one touched file
        per narrow predicate), and their row volume is one file's."""
        if self.index_cols:
            if n_out == 1:
                return new_df.coalesce(1).sortWithinPartitions(
                    *self.index_cols
                )
            return new_df.repartitionByRange(
                n_out, *self.index_cols
            ).sortWithinPartitions(*self.index_cols)
        if n_out == 1:
            return new_df.coalesce(1)
        return new_df.repartition(n_out)

    def _overlap_writes(self, rewrite_fn, cdf_fn) -> None:
        """Run the rewrite write and the change-feed write as two
        CONCURRENT Spark jobs (guide §2.6 'overlap independent jobs'):
        both read only the plan's delta-sized frames and land in
        disjoint directories, so the commit pays max(rewrite, feed)
        wall time instead of their sum — the feed's tasks back-fill
        executor slots the rewrite's tail leaves idle. The feed
        thread's exception is re-raised after both complete (either
        failure aborts the commit before the marker lands, exactly as
        the sequential order did)."""
        from pyspark import InheritableThread

        errs: list[BaseException] = []

        def run_cdf():
            try:
                cdf_fn()
            except BaseException as exc:  # re-raised after join
                errs.append(exc)

        th = InheritableThread(target=run_cdf, daemon=True)
        th.start()
        try:
            rewrite_fn()
        finally:
            th.join()
        if errs:
            raise errs[0]

    def _commit_cow(
        self,
        current: int,
        prev: str,
        all_files: list[str],
        touched: list[str],
        new_df: DataFrame,
        cdf: DataFrame,
        op: str,
        stream_batch_id: int | None = None,
    ) -> int:
        """Land a copy-on-write version: write the rewritten rows,
        hard-link every untouched file, reuse the linked files' index
        rows + footer-probe only the new files, write the change feed
        (and the stream-batch marker, if any), commit (marker records
        ``op``)."""
        version, vdir = self._allocate()
        # optimized write: the rewrite is delta-sized (touched files'
        # rows + the merge batch), but it arrives on shuffle-partition
        # parallelism — written raw, every DML would scatter ~32 small
        # files and destroy the rewritten rows' clustering, bloating
        # both the file count and the index's selectivity (the soak
        # bench caught exactly this drift). Re-range on the index
        # columns into ~one file per touched input file instead; the
        # small extra shuffle is delta-sized by construction.
        n_out = max(1, len(touched) + (1 if op == "merge" else 0))
        new_df = self._cluster_rewrite(new_df, n_out)
        # claim the version directory ATOMICALLY before the two
        # overlapped writes start: the change-feed thread creates
        # vdir/_cdf (and hence vdir) concurrently with the rewrite, so
        # the rewrite's own errorifexists check would race against its
        # sibling. An exclusive mkdir is the same collision guard the
        # errorifexists mode provided (two committers racing to the
        # same version number: exactly one wins), just earlier — and
        # both writes then append into the directory this commit owns.
        try:
            os.makedirs(vdir, exist_ok=False)
        except FileExistsError:
            raise ConcurrentWriteError(
                f"{op} lost the race for version directory {vdir}"
            ) from None
        writer = new_df.write.mode("append")
        pcols = self.partition_cols_of(current)
        if pcols:
            # partitioned table: the rewrite lands under the same
            # col=val/ directory layout, so partition pruning keeps
            # composing with the file-skipping index
            writer = writer.partitionBy(*pcols)
        def _do_rewrite():
            with _job_label(self.spark, f"managed {op}: rewrite write"):
                writer.parquet(vdir)

        def _do_cdf():
            with _job_label(
                self.spark, f"managed {op}: change-feed write"
            ):
                (
                    cdf.withColumn(_COMMIT_VERSION, F.lit(version))
                    .write.mode("append")
                    .parquet(os.path.join(vdir, _CDF_DIR))
                )

        self._overlap_writes(_do_rewrite, _do_cdf)
        written = set(_walk_data_files(vdir))
        link = [rel for rel in all_files if rel not in touched]
        clash = written & set(link)
        if clash:  # astronomically unlikely (UUIDs)
            raise ConcurrentWriteError(
                f"{op} file-name collision on {sorted(clash)[0]}"
            )
        carried = self._carry(current, link, vdir)
        self._write_index(
            vdir,
            new_files=sorted(written),
            reuse_from=os.path.join(prev, _INDEX_DIR),
            reuse_files=set(link),
        )
        # manifest = parent rows minus the rewritten files + the delta;
        # planning the NEXT commit then never walks or re-stats the
        # carried files (cost stays proportional to this commit's delta)
        _write_manifest(
            vdir, carried + _sized(vdir, sorted(written))
        )
        schema = self.stored_schema(current)
        if schema is None:
            schema = new_df.schema
        self._write_schema(vdir, schema)
        self._write_partition_cols(vdir, pcols)
        if stream_batch_id is not None:
            self._write_stream_batch(vdir, stream_batch_id)
        self._commit(version, vdir, expected=current, op=op)
        return version

    @contextlib.contextmanager
    def _commit_section(self, what: str, timeout: float | None = None):
        """The optimistic protocol's SHORT commit critical section:
        unlike the exclusive paths (which fail fast — their planned
        input is stale by the time a held lock frees), an optimistic
        commit revalidates and rebases inside the section, so waiting
        is correct: retry acquisition with a small sleep until
        ``timeout``. Only ACQUISITION is retried — conflicts raised
        inside the section (CommitConflictError, CAS) propagate."""
        import sys
        import time

        if timeout is None:
            timeout = self.commit_timeout
        deadline = time.monotonic() + timeout
        while True:
            cm = dataset_write_lock(self.path, what)
            try:
                cm.__enter__()
            except ConcurrentWriteError:
                if time.monotonic() >= deadline:
                    raise
                time.sleep(0.05)
                continue
            try:
                yield
            except BaseException:
                if not cm.__exit__(*sys.exc_info()):
                    raise
            else:
                cm.__exit__(None, None, None)
            return

    def _carry(
        self, parent: int, keep: list[str] | None, vdir: str
    ) -> list[dict]:
        """Carry the parent snapshot's untouched files into the new
        version and return their manifest rows. ``keep=None`` carries
        everything; otherwise only the named relative files.

        - ``link_mode="hardlink"``: one ``os.link`` per carried file
          (zero-copy local-FS data plane), rows self-homed — the new
          directory physically holds every file.
        - ``link_mode="reference"``: NO per-file syscalls — rows keep
          their stored homes, so commit cost is O(delta) no matter how
          many files the snapshot carries (the object-store data
          plane; on S3-alikes a link does not exist and a copy is a
          full data transfer)."""
        rows = self._rows_of(parent)
        if keep is not None:
            keep_set = set(keep)
            rows = [r for r in rows if r["file"] in keep_set]
        version = _own_version(vdir)
        out = []
        for r in rows:
            size = r["size_bytes"]
            if size is None:  # legacy no-manifest parent: one-time stat
                size = os.path.getsize(r["abs"])
            if self.link_mode == "hardlink":
                dst = os.path.join(vdir, r["file"])
                parent_dir = os.path.dirname(dst)
                if parent_dir != vdir.rstrip("/"):
                    os.makedirs(parent_dir, exist_ok=True)
                os.link(r["abs"], dst)
                out.append(
                    {"file": r["file"], "size_bytes": size, "home": version}
                )
            else:
                out.append(
                    {"file": r["file"], "size_bytes": size, "home": r["home"]}
                )
        return out

    def _guard_granularity_upgrade(self, base: int | None, op: str) -> None:
        """Refuse an optimistic commit that would trigger the index
        granularity-upgrade fallback INSIDE the commit critical
        section: when ``rowgroup_index`` was just enabled on a table
        whose snapshots lack ``_index_rg``, ``_write_one_index`` must
        re-probe the WHOLE snapshot — a table-sized Spark job that
        would run while holding the writer lock, starving every other
        optimistic committer past its timeout. Detected here, with no
        lock held; an exclusive-mode ``compact()`` establishes the
        finer granularity once, after which optimistic commits reuse
        it incrementally."""
        if not (self.rowgroup_index and self.index_cols) or base is None:
            return
        d = os.path.join(_version_dir(self.path, base), _INDEX_RG_DIR)
        if not os.path.isdir(d):
            raise ValueError(
                f"optimistic {op} on {self.path}: the base snapshot "
                f"v={base} has no row-group index, so committing would "
                "re-probe the whole table inside the commit critical "
                "section — run compact() (exclusive) once to establish "
                "rowgroup_index granularity, then retry"
            )

    def _allocate_staging(self) -> str:
        """A private SCRATCH directory for an optimistic transaction's
        unlocked writes (``_txn_<uuid>`` — invisible to readers and to
        version numbering). The FINAL version number is allocated
        inside the commit section and the staging dir renamed into
        place there: numbering at reservation time would let a
        later-committing transaction carry a SMALLER number, moving
        the pointer backwards and breaking every "versions <= N are
        delivered" feed offset. A ``_RESERVED`` stamp (pid + host,
        writer-lock format) marks the dir as a LIVE transaction so
        vacuum does not mistake it for crash debris.

        The stamp must exist from the directory's FIRST visible
        instant in the ``_txn_`` namespace: a vacuum landing between
        mkdir and the stamp write would see a stamp-less ``_txn_``
        dir and rmtree a live transaction. So the dir is built under
        a dot-prefixed scratch name, stamped, and RENAMED into the
        ``_txn_`` namespace — atomic, so vacuum only ever sees
        fully-stamped transaction dirs there. The scratch namespace
        itself has the same mkdir→stamp window; vacuum closes it with
        an AGE gate (versioned.py ``_SETUP_GRACE_S``): a stampless
        ``.txn_setup_`` dir younger than the grace period is a live
        writer mid-setup and is skipped, while genuinely crashed
        debris ages past it and is swept (stamped debris is cleaned
        by the usual dead-pid check regardless of age)."""
        import uuid

        from bigdatalab_spark.sources.locks import _stamp

        os.makedirs(self.path, exist_ok=True)
        token = uuid.uuid4().hex
        scratch = os.path.join(self.path, f".txn_setup_{token}")
        os.mkdir(scratch)
        with open(os.path.join(scratch, _RESERVED), "wb") as fh:
            fh.write(_stamp())
        sdir = os.path.join(self.path, f"_txn_{token}")
        os.rename(scratch, sdir)
        return sdir

    def _manifest_diff(
        self, parent: int, child: int
    ) -> tuple[set[str], set[str]]:
        """(removed, added) file sets of one commit, derived from the
        two versions' manifests — the manifests ARE the conflict log;
        no extra transaction records exist or are needed."""
        p = set(_data_files(_version_dir(self.path, parent)))
        c = set(_data_files(_version_dir(self.path, child)))
        return p - c, c - p

    def _validate_rebase(
        self,
        base: int,
        current: int,
        read_set: list[str],
        op: str,
        merge_bounds: tuple | None = None,
        pred_bounds: tuple | None = None,
    ) -> None:
        """File-level conflict detection for an optimistic transaction
        computed against ``base`` trying to commit on top of
        ``current`` (class docstring): every intervening lineage
        commit must not have REMOVED files the transaction read; for
        MERGE, files those commits ADDED must not overlap the source's
        indexed key range (a missed match would silently duplicate
        keys). Under ``isolation='serializable'`` DELETE/UPDATE get
        the same added-file check against their predicate read-set
        ``pred_bounds`` — an added file whose stats overlap the
        predicate holds rows the transaction would have seen under a
        serial order, so it aborts instead of committing the
        write-serializable anomaly. Raises
        :class:`CommitConflictError` on conflict."""
        chain = self.lineage(current)
        if base not in chain:
            raise CommitConflictError(
                f"optimistic {op} on {self.path}: base v={base} is no "
                "longer on the pointer lineage (a rollback or vacuum "
                "intervened) — recompute against the current version"
            )
        rs = set(read_set)
        for v in chain[chain.index(base) + 1 :]:
            parent = self._parent_of(v)
            removed, added = self._manifest_diff(parent, v)
            clash = removed & rs
            if clash:
                raise CommitConflictError(
                    f"optimistic {op} on {self.path}: concurrent commit "
                    f"v={v} (op={self._op_of(v)}) removed "
                    f"{len(clash)} file(s) this transaction read "
                    f"(e.g. {sorted(clash)[0]}) — overlapping "
                    "transactions cannot both commit; recompute against "
                    "the current version"
                )
            if not added:
                continue
            if op == "merge":
                if merge_bounds is None:
                    raise CommitConflictError(
                        f"optimistic merge on {self.path}: concurrent "
                        f"commit v={v} added files and the merge key is "
                        "not indexed, so a hidden match cannot be ruled "
                        "out (it would silently duplicate keys) — "
                        "recompute against the current version"
                    )
                col, lo, hi = merge_bounds
                overlap = set(self.candidate_files(col, lo, hi, v)) & added
                if overlap:
                    raise CommitConflictError(
                        f"optimistic merge on {self.path}: concurrent "
                        f"commit v={v} added file(s) whose {col} stats "
                        f"overlap the merge source's key range "
                        f"[{lo}, {hi}] (e.g. {sorted(overlap)[0]}) — a "
                        "hidden match would silently duplicate keys; "
                        "recompute against the current version"
                    )
            elif (
                self.isolation == "serializable"
                and op in ("delete", "update")
            ):
                if pred_bounds is None:
                    raise CommitConflictError(
                        f"serializable {op} on {self.path}: concurrent "
                        f"commit v={v} added files and the {op}'s "
                        "predicate is not an indexed range, so rows it "
                        "should have seen under a serial order cannot "
                        "be ruled out — recompute against the current "
                        "version (or use write_serializable)"
                    )
                col, lo, hi = pred_bounds
                overlap = set(self.candidate_files(col, lo, hi, v)) & added
                if overlap:
                    raise CommitConflictError(
                        f"serializable {op} on {self.path}: concurrent "
                        f"commit v={v} added file(s) whose {col} stats "
                        f"overlap the {op} predicate's range "
                        f"[{lo}, {hi}] (e.g. {sorted(overlap)[0]}) — "
                        "under a serial order the predicate would have "
                        "applied to those rows; recompute against the "
                        "current version"
                    )

    def _commit_cow_optimistic(
        self,
        base: int,
        read_set: list[str],
        touched: list[str],
        new_df: DataFrame,
        cdf: DataFrame,
        op: str,
        stream_batch_id: int | None = None,
        merge_bounds: tuple | None = None,
        pred_bounds: tuple | None = None,
    ) -> int:
        """Optimistic tail of the copy-on-write commit: the delta (the
        rewritten rows + the change feed) is WRITTEN with no lock held
        — the expensive Spark work runs concurrently with other
        writers — then a short critical section validates against
        every commit since ``base`` (:meth:`_validate_rebase`),
        REBASES by hard-linking the untouched files of the CURRENT
        snapshot (which may include files concurrent commits added),
        and lands index/manifest/schema/marker. On conflict or error
        the reserved version dir is removed — nothing of the
        transaction ever becomes visible."""
        import shutil

        self._guard_granularity_upgrade(base, op)
        work = self._allocate_staging()
        try:
            # same optimized-write clustering as the exclusive path
            n_out = max(1, len(touched) + (1 if op == "merge" else 0))
            new_df = self._cluster_rewrite(new_df, n_out)
            pcols = self.partition_cols_of(base)
            # append mode: the staging dir exists (and is ours alone);
            # the change feed is written UNSTAMPED — the commit version
            # is unknown until the commit section allocates it, and
            # changes() stamps it from the directory at read time
            writer = new_df.write.mode("append")
            if pcols:
                writer = writer.partitionBy(*pcols)

            def _do_rewrite():
                with _job_label(
                    self.spark, f"managed {op}: rewrite write"
                ):
                    writer.parquet(work)

            def _do_cdf():
                with _job_label(
                    self.spark, f"managed {op}: change-feed write"
                ):
                    cdf.write.mode("append").parquet(
                        os.path.join(work, _CDF_DIR)
                    )

            self._overlap_writes(_do_rewrite, _do_cdf)
            written = set(_walk_data_files(work))
            with self._commit_section(f"managed_{op}_commit"):
                current = latest_version(self.path)
                if current is None:
                    raise CommitConflictError(
                        f"optimistic {op} on {self.path}: the table's "
                        "versions disappeared mid-transaction"
                    )
                if current != base:
                    self._validate_rebase(
                        base, current, read_set, op, merge_bounds,
                        pred_bounds,
                    )
                prev = _version_dir(self.path, current)
                cur_files = _data_files(prev)
                not_ours = set(touched)
                link = [rel for rel in cur_files if rel not in not_ours]
                clash = written & set(link)
                if clash:  # astronomically unlikely
                    raise ConcurrentWriteError(
                        f"{op} file-name collision on {sorted(clash)[0]}"
                    )
                # version number allocated UNDER the lock: commit order
                # and version order coincide, the pointer only advances
                version, vdir = self._allocate()
                os.remove(os.path.join(work, _RESERVED))
                os.rename(work, vdir)
                work = vdir
                # under link_mode="reference" this writes NO per-file
                # syscalls — the critical section's cost is O(delta),
                # not O(live files), no matter how large the snapshot
                carried = self._carry(current, link, vdir)
                self._write_index(
                    vdir,
                    new_files=sorted(written),
                    reuse_from=os.path.join(prev, _INDEX_DIR),
                    reuse_files=set(link),
                )
                _write_manifest(
                    vdir, carried + _sized(vdir, sorted(written))
                )
                schema = self.stored_schema(current)
                if schema is None:
                    schema = new_df.schema
                self._write_schema(vdir, schema)
                self._write_partition_cols(vdir, pcols)
                if stream_batch_id is not None:
                    self._write_stream_batch(vdir, stream_batch_id)
                self._commit(version, vdir, expected=current, op=op)
                return version
        except BaseException:
            shutil.rmtree(work, ignore_errors=True)
            raise

    def _append_optimistic(self, df: DataFrame) -> int:
        """Append under the optimistic protocol: the new files are
        written with no lock held; the short commit section links
        whatever the CURRENT snapshot holds (appends read no rows, so
        they rebase onto any flat snapshot) and commits. Two
        concurrent appends both land, as consecutive versions."""
        import shutil

        if latest_version(self.path) is None:
            # initial snapshot: acquire through the optimistic
            # protocol's retrying section — a concurrent first-append
            # QUEUES briefly instead of failing fast (the optimistic
            # contract), then either bootstraps (it won) or falls
            # through to the normal staging append (the winner's
            # snapshot is its base)
            with self._commit_section("managed_append"):
                if latest_version(self.path) is None:
                    version, vdir = self._allocate()
                    df.write.mode("errorifexists").parquet(vdir)
                    files = _walk_data_files(vdir)
                    self._write_index(vdir, new_files=files)
                    _write_manifest(vdir, _sized(vdir, files))
                    self._write_schema(vdir, df.schema)
                    self._commit(version, vdir, expected=None, op="write")
                    return version
        base = latest_version(self.path)
        self._guard_granularity_upgrade(base, "append")
        pcols = self.partition_cols_of(base)
        work = self._allocate_staging()
        try:
            writer = df.write.mode("append")
            if pcols:
                writer = writer.partitionBy(*pcols)
            writer.parquet(work)
            new_files = set(_walk_data_files(work))
            with self._commit_section("managed_append_commit"):
                current = latest_version(self.path)
                prev = _version_dir(self.path, current)
                prev_files = _data_files(prev)
                if self.partition_cols_of(current) != pcols:
                    raise CommitConflictError(
                        f"optimistic append on {self.path}: the table's "
                        f"partition layout changed from {pcols} to "
                        f"{self.partition_cols_of(current)} while the "
                        "delta was being written — recompute against "
                        "the current version"
                    )
                new_schema = self._evolve_schema(current, df)
                if new_files & set(prev_files):  # astronomically unlikely
                    raise ConcurrentWriteError(
                        "append file-name collision on "
                        f"{sorted(new_files & set(prev_files))[0]}"
                    )
                version, vdir = self._allocate()
                os.remove(os.path.join(work, _RESERVED))
                os.rename(work, vdir)
                work = vdir
                # reference mode: zero per-file syscalls in the section
                carried = self._carry(current, None, vdir)
                self._write_index(
                    vdir,
                    new_files=sorted(new_files),
                    reuse_from=os.path.join(prev, _INDEX_DIR),
                )
                _write_manifest(
                    vdir, carried + _sized(vdir, sorted(new_files))
                )
                self._write_schema(vdir, new_schema)
                self._write_partition_cols(vdir, pcols)
                self._commit(version, vdir, expected=current, op="append")
                return version
        except BaseException:
            shutil.rmtree(work, ignore_errors=True)
            raise

    def _evolve_schema(self, current: int, df: DataFrame):
        """Schema evolution contract for append: every existing column
        must be present with the IDENTICAL type (catches typos and
        silent widenings loudly); brand-new columns are allowed and
        land at the end of the stored order. Returns the new version's
        logical schema."""
        from pyspark.sql.types import StructType

        stored = self.stored_schema(current)
        if stored is None:
            stored = self.read(current).schema
        by_name = {f.name: f for f in df.schema.fields}
        missing = [f.name for f in stored.fields if f.name not in by_name]
        if missing:
            raise ValueError(
                f"append is missing existing columns {missing} — "
                "appends must carry every current column (new columns "
                "may be added, existing ones never dropped)"
            )
        clash = [
            f.name
            for f in stored.fields
            if by_name[f.name].dataType != f.dataType
        ]
        if clash:
            raise ValueError(
                f"append changes the type of columns {clash} — type "
                "evolution is refused; cast to the stored type first"
            )
        extras = [
            f for f in df.schema.fields
            if f.name not in {g.name for g in stored.fields}
        ]
        return StructType(list(stored.fields) + extras)

    def _write_partition_cols(
        self, vdir: str, cols: tuple[str, ...]
    ) -> None:
        """Record the snapshot's partition columns INSIDE the version
        dir before its marker (same discipline as ``_SCHEMA``) — the
        authority DML/append/compact consult to preserve the layout.
        Nothing is written for flat snapshots."""
        import json

        if not cols:
            return
        with open(
            os.path.join(vdir, _PARTCOLS_FILE), "w", encoding="utf-8"
        ) as fh:
            fh.write(json.dumps(list(cols)))

    def partition_cols_of(self, version: int | None = None) -> tuple[str, ...]:
        """The committed partition columns of a version: the recorded
        ``_PARTITION_COLS`` when present, else derived from the first
        partitioned relative path (legacy partitioned snapshots), else
        () for flat layouts."""
        import json

        v = self._resolve(version)
        vdir = _version_dir(self.path, v)
        p = os.path.join(vdir, _PARTCOLS_FILE)
        if os.path.exists(p):
            with open(p, encoding="utf-8") as fh:
                return tuple(json.loads(fh.read()))
        for rel in _data_files(vdir):
            if os.sep in rel or "/" in rel:
                return tuple(_partition_values(rel).keys())
        return ()

    def _write_schema(self, vdir: str, schema) -> None:
        """Persist the version's logical schema INSIDE the version dir
        before its marker — the authority for reads, so hard-linked
        files written before a column existed read back with NULLs for
        it instead of deciding the table's shape by file order.

        Every field is stored NULLABLE: schema evolution means any
        file may simply lack a column, so a non-nullable input field
        (e.g. a literal) must not poison the table's contract — a
        declared-non-null column padded with NULLs would crash codegen
        downstream."""
        from pyspark.sql.types import StructField, StructType

        nullable = StructType(
            [
                StructField(f.name, f.dataType, True, f.metadata)
                for f in schema.fields
            ]
        )
        with open(
            os.path.join(vdir, _SCHEMA_FILE), "w", encoding="utf-8"
        ) as fh:
            fh.write(nullable.json())

    def stored_schema(self, version: int | None = None):
        """The committed logical schema of a version, or None for
        snapshots committed before schema tracking existed (their file
        schemas are uniform by construction, so plain reads are
        correct)."""
        from pyspark.sql.types import StructType

        v = self._resolve(version)
        p = os.path.join(_version_dir(self.path, v), _SCHEMA_FILE)
        if not os.path.exists(p):
            return None
        with open(p, encoding="utf-8") as fh:
            return StructType.fromJson(__import__("json").loads(fh.read()))

    def _write_stream_batch(self, vdir: str, batch_id: int) -> None:
        """Record the streaming micro-batch that produced this version,
        INSIDE the version dir before its marker — so the fact 'batch N
        was applied' becomes visible atomically with its data, and a
        replay after a crash-between-commit-and-checkpoint can skip."""
        with open(
            os.path.join(vdir, _STREAM_BATCH), "w", encoding="utf-8"
        ) as fh:
            fh.write(str(batch_id))

    def last_stream_batch(self) -> int | None:
        """The newest committed version's recorded micro-batch id, or
        None if no streaming writer has committed yet. One streaming
        writer per table (the writer lock already serializes commits);
        ids are the monotone foreachBatch batch ids of that writer's
        checkpoint.

        Walks the POINTER LINEAGE, not version-number order: a rollback
        orphans any streaming commits above the restore point, and an
        orphaned batch id must NOT suppress the replay that re-applies
        those batches to the restored branch."""
        if self.latest() is None:
            return None
        for v in reversed(self.lineage()):
            p = os.path.join(_version_dir(self.path, v), _STREAM_BATCH)
            if os.path.exists(p):
                with open(p, encoding="utf-8") as fh:
                    return int(fh.read().strip())
        return None

    def _rows_of(self, version: int) -> list[dict]:
        """The version's manifest rows with an ``abs`` key resolved
        through each row's HOME version directory — the one place the
        logical file set becomes physical paths. Legacy versions
        without a manifest are self-homed by construction (every file
        was written or linked into their own directory)."""
        vdir = _version_dir(self.path, version)
        rows = _manifest_rows(vdir)
        if rows is None:
            rows = [
                {"file": f, "size_bytes": None, "home": version}
                for f in _walk_data_files(vdir)
            ]
        for r in rows:
            r["abs"] = os.path.join(
                _version_dir(self.path, r["home"]), r["file"]
            )
        return rows

    def _read_rows(
        self, rows: list[dict], schema, with_path: bool = False
    ) -> DataFrame:
        """DataFrame over resolved manifest rows. Flat layouts read as
        one multi-path scan; partitioned layouts group by home version
        (one ``basePath`` per group, so partition-column values are
        parsed from the directory names) and union — the group count
        is bounded by the lineage length, never the file count. A
        reference table accumulating hundreds of DML commits between
        compactions accumulates that many homes (and union branches on
        partitioned reads): periodic ``compact()`` collapses every
        file back to one self-homed version, the same cadence guidance
        as a table format's checkpointing.
        ``with_path`` appends a ``__path`` column = the scan's
        ``_metadata.file_path`` (projected INSIDE each branch — the
        pseudo-column does not exist above a Union)."""
        if not rows:
            if schema is None:
                raise FileNotFoundError(
                    "empty snapshot with no stored schema"
                )
            out = self.spark.createDataFrame([], schema)
            if with_path:
                out = out.withColumn("__path", F.lit(None).cast("string"))
            return out
        def _one(paths, base=None):
            reader = self.spark.read
            if schema is not None:
                reader = reader.schema(schema)
            if base is not None:
                reader = reader.option("basePath", base)
            part = reader.parquet(*paths)
            if with_path:
                part = part.withColumn(
                    "__path", F.col("_metadata.file_path")
                )
            return part

        if not any(os.sep in r["file"] for r in rows):
            return _one([r["abs"] for r in rows])
        out = None
        for home in sorted({r["home"] for r in rows}):
            part = _one(
                [r["abs"] for r in rows if r["home"] == home],
                base=_version_dir(self.path, home),
            )
            out = part if out is None else out.unionByName(part)
        return out

    def _with_file(
        self, version: int, files: list[str], schema=None
    ) -> DataFrame:
        """The given files' rows plus a ``__file`` column (the file's
        RELATIVE path) for match→file attribution. A partitioned write
        job reuses one UUID across partition directories, so basenames
        are NOT unique — attribution joins ``_metadata.file_path``
        (scheme-normalized) against the metadata-sized manifest map
        instead, which also absorbs which HOME directory a referenced
        file resolves to."""
        df = self._read_files(version, files, schema, with_path=True)
        if "__file" in df.columns:
            raise ValueError(
                "DML reserves the __file column for file attribution"
            )
        if not files:
            # empty scan: no rows ever carry the attribution column
            return df.drop("__path").withColumn(
                "__file", F.lit(None).cast("string")
            )
        import pyarrow as pa

        want = set(files)
        rows = [r for r in self._rows_of(version) if r["file"] in want]
        # built from Arrow, the map plans as a LocalRelation: the
        # broadcast below needs no Spark job (a Python list would plan
        # as a LogicalRDD and pay one per attribution)
        mapping = self.spark.createDataFrame(
            pa.table(
                {
                    "__norm": [
                        "/" + os.path.abspath(r["abs"]).lstrip("/")
                        for r in rows
                    ],
                    "__file": [r["file"] for r in rows],
                },
                schema=pa.schema(
                    [("__norm", pa.string()), ("__file", pa.string())]
                ),
            )
        )
        df = df.withColumn(
            "__norm",
            F.regexp_replace(
                F.col("__path"),
                "^[a-zA-Z][a-zA-Z0-9+.\\-]*:/+",
                "/",
            ),
        ).drop("__path")
        return df.join(F.broadcast(mapping), "__norm", "left").drop(
            "__norm"
        )

    def _read_files(
        self,
        version: int,
        files: list[str],
        schema=None,
        with_path: bool = False,
    ) -> DataFrame:
        """Read a subset of one version's files (by relative name),
        resolving physical paths through the manifest homes."""
        if not files:
            if schema is not None:
                out = self.spark.createDataFrame([], schema)
            else:
                out = self.spark.read.parquet(
                    _version_dir(self.path, version)
                ).filter(F.lit(False))
            if with_path:
                out = out.withColumn("__path", F.lit(None).cast("string"))
            return out
        want = set(files)
        rows = [r for r in self._rows_of(version) if r["file"] in want]
        missing = want - {r["file"] for r in rows}
        if missing:
            raise FileNotFoundError(
                f"v={version} of {self.path} has no manifest entry for "
                f"{sorted(missing)[:3]}"
            )
        return self._read_rows(rows, schema, with_path=with_path)

    # ---- read surface ----------------------------------------------------

    def changes(self, version: int) -> DataFrame:
        """Change data feed of one committed version: the table's
        columns plus ``_change_type`` (insert / delete /
        update_preimage / update_postimage) and ``_commit_version``.
        DML versions read their recorded ``_cdf`` store; append
        versions DERIVE inserts from the files new to the version (no
        extra write cost at append time — hard-linked names are
        preserved, so new files identify the new rows); the first
        snapshot is all-inserts; compaction is a logical no-op (empty
        feed). A later full ``write()`` raises — a whole-snapshot
        replace has no row-level derivation."""
        v = self._resolve(version)
        vdir = _version_dir(self.path, v)
        cdf_dir = os.path.join(vdir, _CDF_DIR)
        if os.path.isdir(cdf_dir):
            # the commit version is stamped from the DIRECTORY, the one
            # authority: optimistic commits write their feed before
            # their number exists (exclusive commits store the same
            # value; withColumn replaces it identically)
            return self.spark.read.parquet(cdf_dir).withColumn(
                _COMMIT_VERSION, F.lit(v)
            )
        op = self._op_of(v)
        committed = self.versions()
        # a TRUE initial snapshot (no recorded parent) bootstraps as
        # all-inserts; gating on "first remaining committed version"
        # would let a full replace whose ancestors were vacuumed
        # masquerade as a bootstrap and silently drop its implicit
        # deletes — _plan_partitions makes the same parent-based call
        if self._parent_of(v) is None and op in ("write", ""):
            return (
                self.read(v)
                .withColumn(_CHANGE_TYPE, F.lit("insert"))
                .withColumn(_COMMIT_VERSION, F.lit(v))
            )
        if op == "compact":
            return (
                self.read(v)
                .filter(F.lit(False))
                .withColumn(_CHANGE_TYPE, F.lit("insert"))
                .withColumn(_COMMIT_VERSION, F.lit(v))
            )
        if op == "append":
            # diff against the RECORDED parent, not the numerically
            # previous version — after a rollback the previous number
            # is an orphaned branch and would mis-derive the inserts
            parent = self._parent_of(v)
            if parent is None or parent not in committed:
                raise FileNotFoundError(
                    f"cannot derive changes for append v={v}: its "
                    "parent snapshot was vacuumed"
                )
            prev_files = set(
                _data_files(_version_dir(self.path, parent))
            )
            fresh = [
                rel
                for rel in _data_files(vdir)
                if rel not in prev_files
            ]
            return (
                self._read_files(v, fresh, self.stored_schema(v))
                .withColumn(_CHANGE_TYPE, F.lit("insert"))
                .withColumn(_COMMIT_VERSION, F.lit(v))
            )
        raise ValueError(
            f"no change feed for v={v} (op={op or 'unknown'}): a full "
            "snapshot replace has no row-level change derivation"
        )

    def read(self, version: int | None = None) -> DataFrame:
        """Time-travel read: the pointer's target by default. When the
        version carries a stored schema, the read pins it — files
        written before a column existed return NULL for it, and the
        table's shape never depends on parquet file order."""
        v = self._resolve(version)
        vdir = _version_dir(self.path, v)
        schema = self.stored_schema(v)
        rows = self._rows_of(v)
        if rows and any(r["home"] != v for r in rows):
            # reference data plane: some files live in other version
            # directories — resolve every path through the manifest
            return self._read_rows(rows, schema)
        # self-homed snapshot: plain directory read (identical plan to
        # a bare spark.read.parquet of the version dir)
        if schema is not None:
            return self.spark.read.schema(schema).parquet(vdir)
        return self.spark.read.parquet(vdir)

    def index(self, version: int | None = None) -> DataFrame:
        """The stored skipping index of a committed version — one row
        per (relative file, column) with min/max/null/row counts."""
        v = self._resolve(version)
        return self.spark.read.parquet(
            os.path.join(_version_dir(self.path, v), _INDEX_DIR)
        )

    def candidate_files(
        self, col: str, lo, hi, version: int | None = None
    ) -> list[str]:
        """Relative names of the files the version's index cannot rule
        out for ``col BETWEEN lo AND hi`` — NULL-stats files and files
        missing from the index (should not happen for a committed
        version, guarded anyway) stay candidates."""
        v = self._resolve(version)
        vdir = _version_dir(self.path, v)
        all_files = set(_data_files(vdir))
        if col in self.partition_cols_of(v):
            # partition pruning: the value is IN the directory name —
            # exact, not a stats bound. Unparseable or NULL-sentinel
            # values stay candidates (sound).
            keep = set()
            for rel in all_files:
                raw = _partition_values(rel).get(col)
                if raw is None:
                    keep.add(rel)
                    continue
                try:
                    val = _cast_partition_value(raw, lo)
                except (TypeError, ValueError):
                    keep.add(rel)
                    continue
                if lo <= val <= hi:
                    keep.add(rel)
            return sorted(keep)
        if col not in self.index_cols:
            return sorted(all_files)  # unindexed column: no pruning
        idx_dir = os.path.join(vdir, _INDEX_DIR)
        if _index_dir_bytes(idx_dir) > _INDEX_DRIVER_MAX_REUSE_BYTES:
            # the write path gates its driver fast path on index size;
            # mirror that here: a 10M-file table's index is no longer
            # "metadata-sized by construction", so filter it
            # DISTRIBUTED and move only the candidate names to the
            # driver (same three-valued logic as the pyarrow path)
            lo_key, hi_key = (
                ("min_str", "max_str")
                if isinstance(lo, str)
                else ("min_val", "max_val")
            )
            cand = F.col(lo_key).isNull() | (
                F.col(hi_key).isNotNull()
                & ~(
                    (F.col(hi_key) < F.lit(lo))
                    | (F.col(lo_key) > F.lit(hi))
                )
            )
            row = (
                self.spark.read.parquet(idx_dir)
                .filter(F.col("col") == col)
                .agg(
                    F.collect_set("file").alias("indexed"),
                    F.collect_set(
                        F.when(cand, F.col("file"))
                    ).alias("keep"),
                )
                .collect()[0]
            )
            indexed = set(row["indexed"] or [])
            keep = set(row["keep"] or [])
            return sorted((keep & all_files) | (all_files - indexed))
        tbl = _read_index_table(idx_dir)
        if tbl is None:
            # a fully-emptied snapshot has no files and no index
            return sorted(all_files)
        # the index is metadata-sized (one row per file and indexed
        # column) and the result is a driver-side list either way, so
        # read it with pyarrow directly — the Spark-collect route paid
        # two full job round trips per pruned DML for the same bytes
        lo_key, hi_key = ("min_str", "max_str") if isinstance(lo, str) else (
            "min_val", "max_val",
        )
        keep: set[str] = set()
        indexed: set[str] = set()
        for f, c, mn, mx in zip(
            tbl.column("file").to_pylist(),
            tbl.column("col").to_pylist(),
            tbl.column(lo_key).to_pylist(),
            tbl.column(hi_key).to_pylist(),
        ):
            if c != col:
                continue
            indexed.add(f)
            # NULL min = unusable stats -> the file stays a candidate;
            # otherwise keep unless the stats range provably misses
            # [lo, hi] (same three-valued logic the SQL filter applied)
            if mn is None:
                keep.add(f)
            elif mx is None:
                continue  # half-written stats row: never produced
            elif not (mx < lo or mn > hi):
                keep.add(f)
        return sorted((keep & all_files) | (all_files - indexed))

    def pruned_read(
        self, col: str, lo, hi, version: int | None = None
    ) -> DataFrame:
        """Read only the candidate files of the requested version, then
        re-apply the predicate (the index narrows the scan; the filter
        stays the source of truth — skipping is a performance contract,
        never a correctness one)."""
        v = self._resolve(version)
        cand = self.candidate_files(col, lo, hi, v)
        if not cand:
            return self.read(v).filter(F.lit(False))
        # stored schema pins the shape: candidates may mix files written
        # before and after a schema evolution
        return self._read_files(
            v, cand, self.stored_schema(v)
        ).filter(F.col(col).between(lo, hi))

    def history(self) -> DataFrame:
        """The table's version log (DESCRIBE HISTORY): one row per
        committed version with the operation kind, file/byte counts,
        the streaming batch id (if any), whether a change feed store
        was recorded, and whether the version is the current pointer
        target. Driver-side metadata walk — file counts come from the
        directory listing, never a data scan."""
        rows = []
        current = self.latest()
        chain = set(self.lineage()) if current is not None else set()
        for v in self.versions():
            vdir = _version_dir(self.path, v)
            rows_m = _manifest_rows(vdir)
            if rows_m is None:  # pre-manifest version: list + stat
                rows_m = _sized(vdir, _walk_data_files(vdir))
            files = [r["file"] for r in rows_m]
            n_bytes = sum(r["size_bytes"] for r in rows_m)
            batch = None
            bpath = os.path.join(vdir, _STREAM_BATCH)
            if os.path.exists(bpath):
                with open(bpath, encoding="utf-8") as fh:
                    batch = int(fh.read().strip())
            rows.append(
                (
                    v,
                    self._op_of(v) or None,
                    self._parent_of(v),
                    len(files),
                    n_bytes,
                    batch,
                    os.path.isdir(os.path.join(vdir, _CDF_DIR)),
                    v == current,
                    v in chain,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version int, op string, parent int, n_files int, "
            "n_bytes long, stream_batch_id long, has_cdf boolean, "
            "is_current boolean, on_lineage boolean",
        )

    def clone(self, dst_path: str, version: int | None = None) -> "ManagedTable":
        """Zero-copy shallow clone: hard-link one committed snapshot's
        data files (plus its index and schema) into ``dst_path`` as the
        new table's v=1 — Delta's SHALLOW CLONE on local filesystems.
        The clone is a fully independent table (its own pointer, lock,
        versions); shared files are immutable by construction, and
        either table's vacuum only drops ITS directory entries, never
        the shared inodes. Change-feed history does not travel (the
        clone's v=1 is a fresh initial snapshot: all-inserts)."""
        import shutil

        v = self._resolve(version)
        src = _version_dir(self.path, v)
        dst = ManagedTable(
            self.spark,
            dst_path,
            index_cols=self.index_cols,
            rowgroup_index=self.rowgroup_index,
        )
        with dataset_write_lock(dst_path, "managed_clone"):
            if latest_version(dst_path) is not None:
                raise ValueError(
                    f"clone target {dst_path} already has committed "
                    "versions — clone only creates brand-new tables"
                )
            version_no, vdir = dst._allocate()
            os.makedirs(vdir, exist_ok=True)
            # links are resolved through the source's manifest homes
            # (a referenced file lives in its home version's dir) and
            # the clone's rows are SELF-homed: a manifest home can
            # only point inside its own table root, and the links put
            # every file physically in the clone's v=1
            src_rows = self._rows_of(v)
            for r in src_rows:
                target = os.path.join(vdir, r["file"])
                os.makedirs(os.path.dirname(target), exist_ok=True)
                os.link(r["abs"], target)
            _write_manifest(
                vdir,
                [
                    {
                        "file": r["file"],
                        "size_bytes": (
                            r["size_bytes"]
                            if r["size_bytes"] is not None
                            else os.path.getsize(r["abs"])
                        ),
                        "home": version_no,
                    }
                    for r in src_rows
                ],
            )
            for aux in (_INDEX_DIR, _INDEX_RG_DIR):
                if os.path.isdir(os.path.join(src, aux)):
                    shutil.copytree(
                        os.path.join(src, aux), os.path.join(vdir, aux)
                    )
            schema = self.stored_schema(v)
            if schema is not None:
                dst._write_schema(vdir, schema)
            dst._commit(version_no, vdir, expected=None, op="write")
        return dst

    def changes_between(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Union of :meth:`changes` over the POINTER LINEAGE versions
        in ``[from_version, to_version]`` (both inclusive;
        ``to_version`` defaults to the latest) — what an incremental
        consumer replays to catch up. The walk follows each commit's
        recorded parent, so versions orphaned by a rollback — still
        committed and time-travelable — are correctly NOT part of this
        history. Compaction versions contribute nothing; a full
        ``write()`` replace inside the range raises, same as
        :meth:`changes`; vacuumed lineage raises loudly rather than
        silently skipping history."""
        hi = self._resolve(to_version)
        chain = [v for v in self.lineage(hi) if from_version <= v <= hi]
        if not chain or chain[0] != from_version:
            raise FileNotFoundError(
                f"change feed from v={from_version} is gone (vacuumed, "
                "never committed, or on an orphaned branch) — a "
                "consumer this far behind must re-bootstrap from a "
                "snapshot read"
            )
        out = None
        for v in chain:
            ch = self.changes(v)
            # versions straddling a schema evolution differ in shape;
            # NULL-pad the missing columns, same as evolved reads
            out = (
                ch
                if out is None
                else out.unionByName(ch, allowMissingColumns=True)
            )
        return out

    def create_view(
        self,
        name: str,
        version: int | None = None,
        columns: list[str] | None = None,
    ) -> str:
        """Register a pinned snapshot as a temp view over a NATIVE
        parquet scan — the reference's catalog read (``select * from
        geo``, 303-spark-sql/README.md:46-48) upgraded to versioned
        semantics. Bare ``spark.sql`` on the view gets real Catalyst
        column pruning (``ReadSchema`` shrinks to the SELECT list),
        parquet filter pushdown (``PushedFilters`` → footer min/max
        row-group skipping at execution — the same stats the managed
        index stores), and directory-level partition pruning, with
        none of the Python DataSource scan-cache hazard that forced
        round-11 views to ``pruning=off``. The physical paths resolve
        driver-side through the version's MANIFEST at registration
        (:meth:`read`), so the view stays pinned to the resolved
        version even if the pointer moves later; one-shot
        ``spark.read.format("managed").load()`` readers keep the
        connector's plan-time index pruning. ``columns`` narrows the
        view's declared shape (a schema contract — Catalyst prunes
        the scan to the queried columns regardless)."""
        v = self._resolve(version)
        df = self.read(v)
        if columns:
            df = df.select(*columns)
        df.createOrReplaceTempView(name)
        return name

    def cursor(self, cursor_path: str) -> "ChangeFeedCursor":
        """A durable consumer position over this table's change feed —
        see :class:`ChangeFeedCursor`."""
        return ChangeFeedCursor(self, cursor_path)

    def rowgroup_index_df(self, version: int | None = None) -> DataFrame:
        """The stored row-group index of a committed version — one row
        per (relative file, row group, column) with min/max/null/row/
        byte counts. Raises if the version was committed without the
        finer granularity."""
        v = self._resolve(version)
        d = os.path.join(_version_dir(self.path, v), _INDEX_RG_DIR)
        if not os.path.isdir(d):
            raise FileNotFoundError(
                f"version {v} carries no row-group index — the table "
                "must be written with rowgroup_index=True"
            )
        return self.spark.read.parquet(d)

    def rowgroup_pruned_read(
        self,
        preds: list[tuple],
        columns: list[str] | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Read only the row groups the version's stored row-group
        index cannot rule out for the conjunction of ``(col, lo, hi)``
        predicates, then re-apply the predicate — row-group skipping
        INSIDE kept files, on top of what file-level pruning already
        removed (sources/skipping.py rowgroup_pruned_read, bound to a
        committed snapshot). The committed invariant guarantees the
        index covers every file of the version, so the scan can trust
        it outright — no live-listing reconciliation needed.

        Partitioned snapshots: partition-column values live in the
        DIRECTORY names, not the physical files (and the row-group
        index has no stats for them), so predicates on partition
        columns prune the FILE list exactly (typed directory-name
        compare, same soundness rules as :meth:`candidate_files`) and
        the kernel stamps each kept file's partition values as
        constant columns — the read returns the full stored schema,
        never NULL-padded partition columns."""
        from bigdatalab_spark.sources.skipping import (
            rowgroup_pruned_read as _rg_read,
        )

        v = self._resolve(version)
        vdir = _version_dir(self.path, v)
        schema = self.stored_schema(v)
        rows = self._rows_of(v)
        pcols = self.partition_cols_of(v)
        part_preds = [p for p in preds if p[0] in pcols]
        data_preds = [p for p in preds if p[0] not in pcols]
        constants = None
        if pcols:
            dtypes = (
                {f.name: f.dataType for f in schema.fields}
                if schema is not None
                else {}
            )
            kept, constants = [], {}
            for r in rows:
                vals = _partition_values(r["file"])
                keep = True
                for col, lo, hi in part_preds:
                    raw = vals.get(col)
                    if raw is None:
                        # Hive NULL sentinel (or legacy flat file):
                        # stays a candidate; the re-applied filter
                        # decides (NULL fails BETWEEN)
                        continue
                    try:
                        val = _cast_partition_value(raw, lo)
                    except (TypeError, ValueError):
                        continue  # unparseable: stays a candidate
                    if not (lo <= val <= hi):
                        keep = False
                        break
                if keep:
                    kept.append(r)
                    constants[r["abs"]] = {
                        c: _typed_partition_value(
                            vals.get(c), dtypes.get(c)
                        )
                        for c in pcols
                        if c in vals
                    }
            rows = kept
        # resolve each index row's relative name to the file's HOME
        # directory (reference data plane) via a broadcast of the
        # metadata-sized rel→abs map; self-homed tables resolve to
        # vdir exactly as before — partition-pruned files drop out of
        # the inner join, so their row groups are never planned
        paths = self.spark.createDataFrame(
            [(r["file"], r["abs"]) for r in rows],
            "file string, __abs string",
        )
        idx = (
            self.rowgroup_index_df(v)
            .join(F.broadcast(paths), "file", "inner")
            .withColumn("file", F.col("__abs"))
            .drop("__abs")
        )
        # the re-applied partition predicates need their columns in
        # the scan (stamped constants — free); a projection that
        # excludes them re-projects after the filter
        want = list(columns) if columns else None
        if want is not None:
            for col, _lo, _hi in part_preds:
                if col not in want:
                    want.append(col)
        df = _rg_read(
            self.spark, vdir, idx, data_preds, want,
            schema=schema, constants=constants,
        )
        for col, lo, hi in part_preds:
            df = df.filter(F.col(col).between(lo, hi))
        if columns and want != list(columns):
            df = df.select(*columns)
        return df

    # ---- internals ---------------------------------------------------------

    def _resolve(self, version: int | None) -> int:
        if version is None:
            version = latest_version(self.path)
            if version is None:
                raise FileNotFoundError(
                    f"no committed versions under {self.path}"
                )
        if version not in list_versions(self.path):
            raise FileNotFoundError(
                f"version {version} not committed under {self.path}"
            )
        return version

    def _allocate(self) -> tuple[int, str]:
        os.makedirs(self.path, exist_ok=True)
        existing = [
            int(e[2:])
            for e in os.listdir(self.path)
            if e.startswith("v=")
        ]  # incl. crashed marker-less dirs: never reuse their numbers
        version = max(existing, default=0) + 1
        return version, _version_dir(self.path, version)

    def _write_index(
        self,
        vdir: str,
        new_files: list[str],
        reuse_from: str | None = None,
        reuse_files: set[str] | None = None,
    ) -> None:
        """Build the snapshot's index BEFORE its marker: footer-probe
        the new files (distributed, metadata-only), relativize the file
        names, union with the reused previous-version rows (append
        path — or, for copy-on-write DML, only the rows of the files
        that were hard-linked unchanged: ``reuse_files``), and land it
        at ``vdir/_index`` (+ ``vdir/_index_rg`` when the finer
        granularity is enabled — same commit discipline)."""
        if not self.index_cols:
            return
        from bigdatalab_spark.sources.skipping import index_rows_local

        self._write_one_index(
            vdir, new_files, reuse_from, reuse_files,
            _index_paths, _INDEX_DIR, index_rows_local, False,
        )
        if self.rowgroup_index:
            from bigdatalab_spark.sources.skipping import (
                _rowgroup_index_paths,
                rowgroup_rows_local,
            )

            rg_reuse = (
                os.path.join(os.path.dirname(reuse_from), _INDEX_RG_DIR)
                if reuse_from is not None
                else None
            )
            self._write_one_index(
                vdir, new_files, rg_reuse, reuse_files,
                _rowgroup_index_paths, _INDEX_RG_DIR,
                rowgroup_rows_local, True,
            )

    def _write_one_index(
        self,
        vdir: str,
        new_files: list[str],
        reuse_from: str | None,
        reuse_files: set[str] | None,
        probe_fn,
        out_dir: str,
        local_rows_fn=None,
        with_rowgroups: bool = False,
    ) -> None:
        if reuse_from is not None and not os.path.isdir(reuse_from):
            # the previous version predates this index granularity
            # (e.g. rowgroup_index enabled on an existing table):
            # probe the WHOLE snapshot fresh — a committed version's
            # index must cover every one of its files, or reads
            # through it would silently drop the uncovered ones
            if self.link_mode == "reference":
                # carried files are NOT in vdir under the reference
                # data plane, so a directory walk cannot find the full
                # snapshot; compact() (all files rewritten fresh,
                # self-homed) establishes the granularity instead
                raise ValueError(
                    f"index granularity upgrade on {self.path} needs "
                    "every snapshot file probed, but link_mode="
                    "'reference' commits carry files by manifest "
                    "pointer — run compact() once to establish the "
                    "new index granularity, then retry"
                )
            new_files = _walk_data_files(vdir)
            reuse_from = None
            reuse_files = None
        if (
            local_rows_fn is not None
            and len(new_files) <= _INDEX_DRIVER_MAX_FILES
            and (
                reuse_from is None
                or _index_dir_bytes(reuse_from)
                <= _INDEX_DRIVER_MAX_REUSE_BYTES
            )
        ):
            # metadata-sized delta: probe footers and land the index
            # with pyarrow on the driver — zero Spark jobs, the same
            # idiom as the manifest. The distributed build below stays
            # the path for large deltas (a million-file initial write
            # fans the footer probe out like any other job).
            self._write_index_local(
                vdir, new_files, reuse_from, reuse_files,
                local_rows_fn, out_dir, with_rowgroups,
            )
            return
        frames = []
        if new_files:
            paths = self.spark.createDataFrame(
                [(os.path.join(vdir, rel),) for rel in new_files],
                "file string",
            )
            fresh = probe_fn(
                self.spark, paths, len(new_files), list(self.index_cols)
            )
            prefix = vdir.rstrip("/") + "/"
            frames.append(
                fresh.withColumn(
                    "file", F.expr(f"substring(file, {len(prefix) + 1})")
                )
            )
        if reuse_from is not None and os.path.isdir(reuse_from):
            prev_idx = self.spark.read.parquet(reuse_from)
            if reuse_files is not None:
                # keep only the linked (unchanged) files' rows; the
                # name list is metadata-sized (bounded by file count)
                keep = self.spark.createDataFrame(
                    [(rel,) for rel in sorted(reuse_files)],
                    "file string",
                )
                prev_idx = prev_idx.join(
                    F.broadcast(keep), "file", "leftsemi"
                )
            frames.append(prev_idx)
        if not frames:
            return
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        out.coalesce(1).write.mode("errorifexists").parquet(
            os.path.join(vdir, out_dir)
        )

    def _write_index_local(
        self,
        vdir: str,
        new_files: list[str],
        reuse_from: str | None,
        reuse_files: set[str] | None,
        local_rows_fn,
        out_dir: str,
        with_rowgroups: bool,
    ) -> None:
        """Driver-side twin of the distributed index build: probe the
        delta's footers with the SAME extraction closure the
        mapInPandas body runs (skipping._file_stat_rows_fn — one
        implementation, no drift), carry the linked files' rows from
        the parent's index parquet, and land one parquet part. Bytes
        on disk are interchangeable with the Spark-written layout
        (schema pinned by :func:`_index_arrow_schema`)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        schema = _index_arrow_schema(with_rowgroups)
        prefix = vdir.rstrip("/") + "/"
        tables = []
        if new_files:
            rows = local_rows_fn(
                [os.path.join(vdir, rel) for rel in new_files],
                list(self.index_cols),
            )
            # relativize the file names, as the distributed path does
            rows = [(r[0][len(prefix):],) + tuple(r[1:]) for r in rows]
            tables.append(
                pa.table(
                    [
                        pa.array([r[i] for r in rows], type=f.type)
                        for i, f in enumerate(schema)
                    ],
                    schema=schema,
                )
            )
        if reuse_from is not None:
            prev = _read_index_table(reuse_from)
            if prev is not None:
                prev = prev.select(schema.names).cast(schema)
                if reuse_files is not None:
                    prev = prev.filter(
                        pc.is_in(
                            prev.column("file"),
                            value_set=pa.array(
                                sorted(reuse_files), type=pa.string()
                            ),
                        )
                    )
                tables.append(prev)
        if not tables:
            return
        out = (
            tables[0]
            if len(tables) == 1
            else pa.concat_tables(tables)
        )
        d = os.path.join(vdir, out_dir)
        os.makedirs(d, exist_ok=False)
        pq.write_table(out, os.path.join(d, "part-0.parquet"))

    def _commit(
        self, version: int, vdir: str, expected: int | None, op: str = ""
    ) -> None:
        """Marker + atomic pointer flip, with a pointer CAS: the write
        was computed while the pointer was at ``expected``; if it moved
        (a writer bypassing the lock), abort BEFORE the marker lands so
        this snapshot stays invisible crash-debris for vacuum. The
        marker records the OPERATION KIND (write/append/compact/
        delete/update/merge) plus the PARENT version the commit was
        computed against — rollback forks the history, and the feed
        must follow the pointer's lineage, not version-number order
        (orphaned branch versions are committed, time-travelable, but
        not this history's changes). Existence checks elsewhere ignore
        the content, so pre-DML snapshots stay readable."""
        if latest_version(self.path) != expected:
            raise ConcurrentWriteError(
                f"managed commit on {self.path}: pointer moved from "
                f"v={expected} to v={latest_version(self.path)} "
                "mid-write — a concurrent writer bypassed the writer "
                "lock; this snapshot is aborted (uncommitted)."
            )
        with open(os.path.join(vdir, _MARKER), "w", encoding="utf-8") as fh:
            fh.write(op)
            if expected is not None:
                fh.write(f"\nparent={expected}")
        tmp = os.path.join(self.path, f"{_POINTER}.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(str(version))
        os.replace(tmp, os.path.join(self.path, _POINTER))

    def _marker_lines(self, version: int) -> list[str]:
        marker = os.path.join(
            _version_dir(self.path, version), _MARKER
        )
        with open(marker, encoding="utf-8") as fh:
            return fh.read().strip().splitlines()

    def _op_of(self, version: int) -> str:
        """Operation kind recorded in a committed version's marker
        ("" for snapshots committed before op recording existed)."""
        lines = self._marker_lines(version)
        return lines[0].strip() if lines else ""

    def _parent_of(self, version: int) -> int | None:
        """The version this commit was computed against (None for an
        initial snapshot). Markers from before parent recording fall
        back to the previous committed version — correct for every
        linear history, which is all that could exist then."""
        for line in self._marker_lines(version)[1:]:
            if line.startswith("parent="):
                return int(line.split("=", 1)[1])
        prior = [c for c in self.versions() if c < version]
        return prior[-1] if prior else None

    def lineage(self, version: int | None = None) -> list[int]:
        """The pointer lineage ending at ``version`` (default: the
        current pointer target), oldest first — exactly the versions
        whose change feeds compose into this history. Orphaned
        branches left behind by a rollback are committed and
        time-travelable but are NOT part of this list."""
        v = self._resolve(version)
        chain = [v]
        committed = set(self.versions())
        while True:
            parent = self._parent_of(chain[-1])
            if parent is None:
                break
            if parent not in committed:
                break  # vacuumed ancestry: chain ends here, loudness
                # is the range-readers' job (they know their bounds)
            chain.append(parent)
        return list(reversed(chain))


class ChangeFeedCursor:
    """Durable incremental consumption of a :class:`ManagedTable`'s
    change feed: ``pending()`` returns everything committed after the
    last acknowledged version, the consumer processes it, then
    ``ack()`` advances the position (write-temp + atomic rename, the
    same durability idiom as the table's own pointer). Delivery is
    at-least-once — a consumer that crashes between processing and
    ack sees the same changes again — so downstream application must
    be idempotent (e.g. keyed upserts), exactly the contract streaming
    sinks already satisfy here.

    The cursor starts at the table's FIRST committed version (the
    initial snapshot arrives as all-inserts), so a fresh consumer
    bootstraps and tails with one loop."""

    def __init__(self, table: ManagedTable, cursor_path: str) -> None:
        self.table = table
        self.cursor_path = cursor_path

    def position(self) -> int | None:
        """Last acknowledged version, or None for a fresh consumer."""
        try:
            with open(self.cursor_path, encoding="utf-8") as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return None

    def pending(self) -> tuple[DataFrame | None, int | None]:
        """(changes committed after the position, the version an
        ``ack`` should record once they are processed) — or
        ``(None, None)`` when the consumer is caught up."""
        latest = self.table.latest()
        pos = self.position()
        if pos is not None and latest is not None and pos > latest:
            # the pointer moved BELOW the acked position (rollback):
            # the consumer applied changes that are no longer this
            # history's — saying "caught up" here would silently
            # strand it until the next commit trips the lineage check
            raise ValueError(
                f"cursor position v={pos} is ahead of the pointer "
                f"(v={latest}) — a rollback orphaned acked history; "
                "re-bootstrap from a snapshot read and reset the cursor"
            )
        if latest is None or pos == latest:
            return None, None
        # follow the pointer lineage (a rollback orphans branch
        # versions — they are not this history's changes)
        chain = self.table.lineage(latest)
        todo = [v for v in chain if pos is None or v > pos]
        if not todo:
            return None, None
        if pos is not None and pos not in chain:
            # the ack position must sit ON the lineage (or be the
            # vacuumed recorded parent of the first pending version) —
            # a position stranded on a rollback-orphaned branch means
            # the consumer applied changes this history never had, and
            # silently resuming would leave them uncompensated
            if self.table._parent_of(todo[0]) != pos:
                raise ValueError(
                    f"cursor position v={pos} is not on the current "
                    "pointer lineage (a rollback orphaned it) — the "
                    "consumer applied changes that are no longer this "
                    "history's; re-bootstrap from a snapshot read and "
                    "reset the cursor"
                )
        return self.table.changes_between(todo[0], latest), latest

    def ack(self, version: int) -> None:
        """Durably record that everything up to ``version`` was
        processed (atomic replace — a crash mid-ack leaves the old
        position, never a torn file)."""
        os.makedirs(
            os.path.dirname(os.path.abspath(self.cursor_path)),
            exist_ok=True,
        )
        tmp = self.cursor_path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(str(version))
        os.replace(tmp, self.cursor_path)
