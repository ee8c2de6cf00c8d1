"""``managed_changes`` — the ManagedTable change feed as a registered
Spark data source (Spark 4 Python DataSource extension point, the same
surface as sources/pyds.py's ``fixedwidth``).

Batch::

    df = (spark.read.format("managed_changes")
          .option("startingVersion", 1)     # default: first committed
          .option("endingVersion", 4)       # default: latest
          .load(table_path))

Streaming (Delta's ``readChangeFeed`` shape)::

    q = (spark.readStream.format("managed_changes").load(table_path)
         .writeStream...)

The stream bootstraps from the initial snapshot (all-inserts) and then
tails every committed version's feed: recorded ``_cdf`` rows for DML
versions, inserts DERIVED from the files new to an append (no extra
write cost), nothing for compaction. Offsets are versions — committed
versions are immutable, so a restarted query replays its uncommitted
range bit-identically (exactly-once through the checkpoint, the same
argument as the fixed-width tail source). Vacuumed history and full
``write()`` replaces inside a requested range fail LOUDLY instead of
silently skipping changes.

Scale/role: one InputPartition per (version, parquet file), so a
backlog of many versions drains with file-granular executor
parallelism; each task reads its parquet file with pyarrow and ships
Arrow RecordBatches zero-copy back to the JVM — no row-at-a-time
Python in the data plane. Old files that predate a schema evolution
are padded with typed NULL columns to the stream's schema (the
table's stored schema at plan time).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

_CDF_DIR = "_cdf"
_SCHEMA_FILE = "_SCHEMA"
_MARKER = "_COMMITTED"
_POINTER = "_latest"


# ---- driver-side catalog helpers (plain filesystem, no Spark) -----------


def _vdir(path: str, v: int) -> str:
    return os.path.join(path, f"v={v}")


def _versions(path: str) -> list[int]:
    try:
        entries = os.listdir(path)
    except FileNotFoundError:
        return []
    return sorted(
        int(e[2:])
        for e in entries
        if e.startswith("v=")
        and os.path.exists(os.path.join(path, e, _MARKER))
    )


def _latest(path: str) -> int | None:
    try:
        with open(os.path.join(path, _POINTER), encoding="utf-8") as fh:
            return int(fh.read().strip())
    except FileNotFoundError:
        return None


def _marker_lines(path: str, v: int) -> list[str]:
    with open(os.path.join(_vdir(path, v), _MARKER), encoding="utf-8") as fh:
        return fh.read().strip().splitlines()


def _op_of(path: str, v: int) -> str:
    lines = _marker_lines(path, v)
    return lines[0].strip() if lines else ""


def _parent_of(path: str, v: int) -> int | None:
    """Recorded parent version (None for initial snapshots; legacy
    markers fall back to the previous committed version — correct for
    the only histories that could exist then: linear ones)."""
    for line in _marker_lines(path, v)[1:]:
        if line.startswith("parent="):
            return int(line.split("=", 1)[1])
    prior = [c for c in _versions(path) if c < v]
    return prior[-1] if prior else None


def _lineage(path: str, hi: int) -> list[int]:
    """Pointer lineage ending at hi, oldest first (stops at a vacuumed
    ancestor; gap loudness is the planner's job)."""
    committed = set(_versions(path))
    chain = [hi]
    while True:
        p = _parent_of(path, chain[-1])
        if p is None or p not in committed:
            break
        chain.append(p)
    return list(reversed(chain))


def _manifest_files(vdir: str) -> list[str] | None:
    """Relative data-file names from the version's committed
    ``_manifest`` (the planning source of truth — one metadata-sized
    parquet read, no directory listing), or None for versions
    committed before manifests existed."""
    import pyarrow.parquet as pq

    mdir = os.path.join(vdir, "_manifest")
    if not os.path.isdir(mdir):
        return None
    names: list[str] = []
    for part in sorted(os.listdir(mdir)):
        if part.endswith(".parquet"):
            names.extend(
                pq.read_table(os.path.join(mdir, part))
                .column("file")
                .to_pylist()
            )
    return sorted(names)


def _manifest_homes(vdir: str) -> dict[str, int]:
    """rel file → HOME version (the directory physically storing it).
    Versions without a manifest, or manifests predating the ``home``
    column, are self-homed by construction. Driver-side pyarrow —
    metadata-sized."""
    import pyarrow.parquet as pq

    own = int(os.path.basename(vdir.rstrip("/"))[2:])
    mdir = os.path.join(vdir, "_manifest")
    out: dict[str, int] = {}
    if not os.path.isdir(mdir):
        return {f: own for f in _files_of(vdir)}
    for part in sorted(os.listdir(mdir)):
        if not part.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(mdir, part))
        files = t.column("file").to_pylist()
        homes = (
            t.column("home").to_pylist()
            if "home" in t.column_names
            else [own] * len(files)
        )
        out.update(
            (f, h if h is not None else own)
            for f, h in zip(files, homes)
        )
    return out


def _files_of(vdir: str) -> list[str]:
    names = _manifest_files(vdir)
    if names is not None:
        return names
    out = []
    for dirpath, dirnames, filenames in os.walk(vdir):
        dirnames[:] = [
            d for d in dirnames if not d.startswith(("_", "."))
        ]
        out.extend(
            os.path.relpath(os.path.join(dirpath, f), vdir)
            for f in filenames
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return sorted(out)


def _constants_of(rel: str) -> dict[str, str | None] | None:
    """Partition-column values to STAMP when reading a partitioned
    snapshot's file directly (the physical file omits them; the
    directory name carries them), or None for flat paths."""
    from bigdatalab_spark.sources.managed import _partition_values

    if os.sep not in rel and "/" not in rel:
        return None
    return _partition_values(rel)


def _stored_schema_json(path: str, v: int) -> dict:
    p = os.path.join(_vdir(path, v), _SCHEMA_FILE)
    if not os.path.exists(p):
        raise ValueError(
            "managed_changes requires a table with stored schemas "
            f"(no {_SCHEMA_FILE} in v={v} — commit once with the "
            "current engine to upgrade)"
        )
    with open(p, encoding="utf-8") as fh:
        return json.loads(fh.read())


class _ChangePartition(InputPartition):
    """One parquet file of one version's feed. ``change_type`` is None
    when the file already carries the feed columns (a ``_cdf`` store);
    otherwise the constant to stamp (derived inserts). ``constants``
    carries partition-column values parsed from the file's directory
    segments (partitioned snapshots store them in the path, not the
    file)."""

    def __init__(
        self,
        path: str,
        version: int,
        change_type: str | None,
        constants: dict | None = None,
    ):
        self.path = path
        self.version = version
        self.change_type = change_type
        self.constants = constants or {}


def _plan_partitions(
    path: str, lo: int, hi: int, start_version: int | None = None
) -> list[_ChangePartition]:
    """Partitions for every POINTER-LINEAGE version in (lo, hi] — the
    shared planner of the batch and streaming readers. The walk
    follows each commit's recorded parent, so versions orphaned by a
    rollback (committed, time-travelable, but not this history) are
    correctly excluded, and an append's inserts are diffed against
    its RECORDED parent, never the numerically previous version.
    Raises on vacuumed/off-lineage history and on non-initial full
    replaces (same contract as ManagedTable.changes).

    ``start_version`` is the USER-REQUESTED first version (the reader's
    startingVersion): when the first planned version IS that request,
    the range is valid even if version numbers are not consecutive
    along the lineage (a rollback from v1 straight to v4 makes
    ``startingVersion=4`` compute lo=3 with parent(4)=1 — a legitimate
    explicit range, exactly what ManagedTable.changes_between(4)
    serves). Offsets the STREAM generated are lineage versions, so a
    non-matching gap there still means vacuumed/orphaned history and
    still refuses."""
    if hi <= lo:
        return []
    if hi not in _versions(path):
        raise ValueError(
            f"managed_changes: version {hi} of {path} is gone "
            "(vacuumed or never committed) — re-bootstrap from a "
            "snapshot read"
        )
    vers = [v for v in _lineage(path, hi) if lo < v <= hi]
    if not vers:
        return []
    first_parent = _parent_of(path, vers[0])
    if (
        first_parent is not None
        and first_parent != lo
        and vers[0] != start_version
    ):
        raise ValueError(
            f"managed_changes: the feed from v={lo} is gone (vacuumed "
            "lineage, or the offset is on an orphaned branch after a "
            "rollback) — re-bootstrap from a snapshot read"
        )
    out: list[_ChangePartition] = []
    for v in vers:
        vdir = _vdir(path, v)
        cdf = os.path.join(vdir, _CDF_DIR)
        if os.path.isdir(cdf):
            out.extend(
                _ChangePartition(os.path.join(cdf, f), v, None)
                for f in _files_of(cdf)
            )
            continue
        op = _op_of(path, v)
        homes = _manifest_homes(vdir)
        if _parent_of(path, v) is None and op in ("write", ""):
            out.extend(
                _ChangePartition(
                    os.path.join(_vdir(path, homes.get(f, v)), f),
                    v,
                    "insert",
                    constants=_constants_of(f),
                )
                for f in _files_of(vdir)
            )
        elif op == "append":
            parent = _parent_of(path, v)
            prev_files = set(_files_of(_vdir(path, parent)))
            # files NEW to the snapshot are physically homed in v
            # itself under both data planes
            out.extend(
                _ChangePartition(
                    os.path.join(vdir, f),
                    v,
                    "insert",
                    constants=_constants_of(f),
                )
                for f in _files_of(vdir)
                if f not in prev_files
            )
        elif op == "compact":
            continue  # physical-layout no-op: empty feed
        else:
            raise ValueError(
                f"managed_changes: no change feed for v={v} "
                f"(op={op or 'unknown'}) — a full snapshot replace has "
                "no row-level change derivation"
            )
    return out


def _read_partition(part: _ChangePartition, arrow_schema) -> Iterator:
    """Arrow-native task body: STREAM the parquet file batch by batch
    (bounded task memory — a whole-file read_table would materialize
    multi-GB files per task at real scale), align each batch to the
    stream schema (typed NULL padding for pre-evolution files, cast on
    width mismatches), stamp derived feed columns, yield RecordBatches
    zero-copy."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(part.path)
    present = set(pf.schema_arrow.names)
    constants = getattr(part, "constants", {}) or {}
    synthesized = {"_commit_version"} | set(constants)
    if part.change_type is not None:
        synthesized.add("_change_type")
    needed = [
        f.name
        for f in arrow_schema
        if f.name in present and f.name not in synthesized
    ]
    for batch in pf.iter_batches(columns=needed):
        n = batch.num_rows
        cols = []
        for field in arrow_schema:
            if field.name == "_change_type" and part.change_type is not None:
                cols.append(
                    pa.array([part.change_type] * n, type=field.type)
                )
            elif field.name in constants:
                # partition-column value from the directory name,
                # cast from its string encoding to the stream type
                val = constants[field.name]
                if val is None:
                    cols.append(pa.nulls(n, type=field.type))
                else:
                    cols.append(
                        pa.array([val] * n, type=pa.string()).cast(
                            field.type
                        )
                    )
            elif field.name == "_commit_version":
                # always stamped from the partition (the version
                # DIRECTORY is the authority): commits write their _cdf
                # before the version number exists, so the stored
                # column is absent (feeds committed by older engines
                # may carry it, with this same value)
                cols.append(pa.array([part.version] * n, type=field.type))
            elif field.name in present:
                col = batch.column(field.name)
                if col.type != field.type:
                    col = col.cast(field.type)
                cols.append(col)
            else:
                cols.append(pa.nulls(n, type=field.type))
        yield pa.RecordBatch.from_arrays(cols, schema=arrow_schema)


def _feed_schema(path: str):
    """The stream's schema: the table's CURRENT stored schema plus the
    feed columns (matching ManagedTable.changes)."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    latest = _latest(path)
    if latest is None:
        raise ValueError(f"no committed versions under {path}")
    data = StructType.fromJson(_stored_schema_json(path, latest))
    return StructType(
        list(data.fields)
        + [
            StructField("_change_type", StringType()),
            StructField("_commit_version", IntegerType()),
        ]
    )


class ManagedChangesReader(DataSourceReader):
    """Batch read of a version range's feed (Delta ``table_changes``)."""

    def __init__(self, options: dict, schema) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("managed_changes requires .load(table_path)")
        self.path = path
        self.schema = schema
        committed = _versions(path)
        if not committed:
            raise ValueError(f"no committed versions under {path}")
        self.lo = int(options.get("startingversion", committed[0]))
        self.hi = int(options.get("endingversion", _latest(path)))
        if self.lo > self.hi:
            # an explicit start beyond the range's end would plan zero
            # partitions and return an empty feed — silent data "loss"
            # from the consumer's perspective; refuse instead
            raise ValueError(
                f"managed_changes: startingVersion {self.lo} is after "
                f"the range end {self.hi} (the pointer, or the "
                "requested endingVersion) — nothing to read yet, or a "
                "rollback moved the pointer below the request"
            )

    def partitions(self) -> list[InputPartition]:
        return _plan_partitions(
            self.path, self.lo - 1, self.hi, start_version=self.lo
        )

    def read(self, partition: _ChangePartition) -> Iterator:
        from pyspark.sql.pandas.types import to_arrow_schema

        yield from _read_partition(partition, to_arrow_schema(self.schema))


class ManagedChangesStreamReader(DataSourceStreamReader):
    """Streaming tail of the feed. Offset model: ``{"v": N}`` = every
    version <= N is fully delivered. initialOffset bootstraps from the
    initial snapshot (or ``startingVersion - 1``); committed versions
    are immutable, so replaying an uncommitted offset range after a
    restart yields bit-identical batches (exactly-once through the
    query checkpoint)."""

    def __init__(self, options: dict, schema) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("managed_changes requires .load(table_path)")
        self.path = path
        self.schema = schema
        committed = _versions(path)
        if not committed:
            raise ValueError(f"no committed versions under {path}")
        self.start = int(options.get("startingversion", committed[0]))

    def initialOffset(self) -> dict:
        return {"v": self.start - 1}

    def latestOffset(self) -> dict:
        latest = _latest(self.path)
        return {"v": latest if latest is not None else self.start - 1}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        return _plan_partitions(
            self.path, start["v"], end["v"], start_version=self.start
        )

    def read(self, partition: _ChangePartition) -> Iterator:
        from pyspark.sql.pandas.types import to_arrow_schema

        yield from _read_partition(partition, to_arrow_schema(self.schema))

    def commit(self, end: dict) -> None:
        # offsets live in the query checkpoint; retention is vacuum's
        # job (and a vacuumed-but-unstreamed version fails loudly)
        pass


class ManagedChangesDataSource(DataSource):
    """spark.read / spark.readStream ``format("managed_changes")``."""

    @classmethod
    def name(cls) -> str:
        return "managed_changes"

    def schema(self):
        path = self.options.get("path")
        if not path:
            raise ValueError("managed_changes requires .load(table_path)")
        return _feed_schema(path)

    def reader(self, schema) -> ManagedChangesReader:
        return ManagedChangesReader(self.options, schema)

    def streamReader(self, schema) -> ManagedChangesStreamReader:
        return ManagedChangesStreamReader(self.options, schema)
