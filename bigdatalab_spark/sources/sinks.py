"""Sink adapters (SURVEY §2.1 K1-K9).

Thin, explicit writers over ``df.write`` so every reference sink is a
declared engine capability: text/csv/json/parquet files, managed tables
with partitioning and bucketing, and SQL DDL helpers.

Scale notes: ``partitionBy`` writes one directory per key value
(partition pruning on read); ``bucketBy`` gives persistent
co-partitioning so future joins/aggregations on the bucket key skip the
shuffle (the durable version of the reference's HashPartitioner
co-partitioning, 303-spark-sql/README.md:71-73). ``single_file`` mirrors
the reference's ``coalesce(1)`` before save (ExampleWeather2.scala:33)
— driver-friendly for small results, never for large ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException


def write_text(df: DataFrame, path: str, single_file: bool = False) -> None:
    """saveAsTextFile (K1): one string column -> text files."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").text(path)


def write_json(df: DataFrame, path: str, mode: str = "append") -> None:
    """JSON sink, append mode by default (K2, 303-spark-sql/README.md:55)."""
    df.write.mode(mode).json(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Parquet file sink (K6)."""
    df.write.mode(mode).parquet(path)


def save_table(
    df: DataFrame,
    name: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
) -> None:
    """Managed-table sink (K3), optionally partitioned (K4) or bucketed
    (K5) — parquet-backed via the session catalog."""
    writer = df.write.mode(mode).format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_by:
        n, cols = bucket_by
        writer = writer.bucketBy(n, *cols).sortBy(*cols)
    writer.saveAsTable(name)


def create_database(spark: SparkSession, name: str) -> None:
    """DDL passthrough (K9, 303-spark-sql/README.md:62-63)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")


def use_database(spark: SparkSession, name: str) -> None:
    spark.sql(f"USE {name}")


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC file sink — the columnar alternative to parquet that ships
    with Spark (native vectorized ORC reader/writer). Kept for lake
    interoperability: Hive-era warehouses and some ingestion systems
    standardize on ORC, and the scan/pushdown properties match parquet
    (predicate pushdown, column pruning, stripe-level statistics)."""
    df.write.mode(mode).orc(path)


def write_sharded_parquet(
    df: DataFrame,
    path: str,
    max_records_per_file: int,
    partition_cols: tuple[str, ...] = (),
    order_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Bounded-shard export: ``maxRecordsPerFile`` caps every output
    file (the writer splits a task's output as it crosses the bound),
    so downstream consumers get predictable shard sizes regardless of
    upstream partition skew — the knob a 100 TB export uses instead of
    praying over repartition math. ``order_cols`` sorts WITHIN write
    partitions first: run-length/dictionary encodings compress sorted
    columns dramatically, and min/max file stats become selective
    (coarse Z-order for the 1-D case)."""
    if max_records_per_file <= 0:
        raise ValueError("max_records_per_file must be positive")
    if order_cols:
        # lead with the partition columns: the dynamic-partition writer
        # requires a local sort on them and would otherwise insert its
        # OWN (stability-unspecified) sort on top, scrambling the
        # order_cols clustering inside each partition's files
        df = df.sortWithinPartitions(*partition_cols, *order_cols)
    writer = df.write.mode(mode).option("maxRecordsPerFile", max_records_per_file)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def write_with_manifest(
    df: DataFrame,
    path: str,
    max_records_per_file: int | None = None,
    extra: dict | None = None,
) -> dict:
    """Export + dataset manifest: writes parquet, then stamps
    ``_MANIFEST.json`` next to it with row count, schema, per-file
    sizes, and caller metadata — the reproducibility record a dataset
    release ships (what was written, how much, from what config).
    The row count comes from the files just written (one cheap
    parquet-footer scan), so the manifest describes the ON-DISK data,
    not the plan that produced it. Returns the manifest dict."""
    import json
    import os

    reserved = {"row_count", "schema", "n_files", "files"} & set(extra or ())
    if reserved:  # extra must not clobber the measured on-disk truth
        raise ValueError(f"extra keys collide with measured fields: {sorted(reserved)}")
    spark = df.sparkSession
    writer = df.write.mode("overwrite")
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)
    files = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    written = spark.read.parquet(path)
    manifest = {
        "row_count": written.count(),
        "schema": written.schema.jsonValue(),
        "n_files": len(files),
        "files": [
            {"path": os.path.relpath(f, path), "bytes": os.path.getsize(f)}
            for f in files
        ],
        **(extra or {}),
    }
    with open(os.path.join(path, "_MANIFEST.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    max_records_per_file: int,
    compression: str | None = "gzip",
    partition_cols: tuple[str, ...] = (),
    order_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Bounded-shard JSONL export — the interchange format LLM training
    stacks ingest (one JSON object per line, gzip-sharded).

    Spark's json writer already emits JSONL; this adds the same
    shard-size bound and in-partition ordering as
    :func:`write_sharded_parquet` so a 100 TB corpus lands as
    predictable ``part-*.json.gz`` shards (no shard inherits an
    upstream partition's skew) ready for a streaming dataloader.
    """
    if max_records_per_file <= 0:
        raise ValueError("max_records_per_file must be positive")
    if order_cols:
        df = df.sortWithinPartitions(*partition_cols, *order_cols)
    writer = df.write.mode(mode).option("maxRecordsPerFile", max_records_per_file)
    if compression:
        writer = writer.option("compression", compression)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.json(path)


def overwrite_partitions(
    df: DataFrame, path: str, partition_cols: tuple[str, ...]
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present
    in ``df``, leaving sibling partitions untouched — the idempotent
    daily-reprocess primitive (re-run one day's slice of a 100 TB
    partitioned dataset without rewriting or dropping the rest).

    Spark's default ("static") overwrite mode deletes EVERY partition
    under ``path`` first; the dynamic mode is passed as this write's
    own ``partitionOverwriteMode`` option, so the session's mode is
    never touched.
    """
    if not partition_cols:
        raise ValueError("overwrite_partitions requires partition columns")
    df.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(*partition_cols).parquet(path)


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_cols: tuple[str, ...],
    max_records_per_file: int,
) -> dict:
    """Small-file compaction for a partitioned parquet dataset — the
    standing maintenance job of any long-lived 100 TB table (streaming
    and incremental writers leave thousands of KB-sized files per
    partition; scan cost and namenode pressure grow with file COUNT,
    not bytes).

    Reads the dataset, clusters rows back onto their partition keys
    (one shuffle — without it every small input file keeps its own
    write task and the layout survives "compaction" untouched), and
    writes the compacted layout to a FRESH sibling prefix, then flips
    the dataset pointer (rename old aside → rename fresh into place →
    drop old). An in-place dynamic overwrite of the path being read has
    a loss window on ANY filesystem — a failure after a partition
    directory is deleted but before its staged replacement lands loses
    that partition with no backup — so compact-to-fresh-prefix is the
    default, not an object-store-only caveat. A crash anywhere before
    the first rename leaves the original untouched; the two renames are
    metadata-only, and the old copy survives until the new one is fully
    in place. ``maxRecordsPerFile`` re-splits any oversized partition
    inside its task, which also bounds the one-task-per-partition-value
    skew this clustering implies. Returns
    ``{"files_before": n, "files_after": m}`` counted on disk. Row
    content is preserved exactly; layout-only.

    Takes the dataset writer lock: two concurrent compactions share the
    same fresh/old staging prefixes and their two-rename pointer flips
    interleave into data loss; and the debris-recovery preamble would
    happily delete a LIVE sibling's staging directory. The second
    compactor (or a compactor racing a MERGE) fails loudly instead.
    """
    from bigdatalab_spark.sources.locks import dataset_write_lock

    with dataset_write_lock(path, "compact_partitions"):
        return _compact_partitions_locked(
            spark, path, partition_cols, max_records_per_file
        )


def _compact_partitions_locked(
    spark: SparkSession,
    path: str,
    partition_cols: tuple[str, ...],
    max_records_per_file: int,
    transform=None,
) -> dict:
    """Core of :func:`compact_partitions` (caller holds the writer
    lock). ``transform`` optionally rewrites the frame between read and
    write — the hook row-level maintenance (tombstone purges) uses to
    ride the same resume-safe two-rename flip; None = layout-only."""
    import glob
    import os
    import shutil

    def _count() -> int:
        return len(glob.glob(f"{path}/**/*.parquet", recursive=True))

    fresh = f"{path}__compact_fresh"
    old = f"{path}__compact_old"
    # Debris recovery from a previously crashed run. `fresh` is always
    # safe to drop (never the only copy). `old` is NOT: a crash between
    # the two renames leaves old as the ONLY copy (path missing) — that
    # run's flip must be RESUMED by renaming old back, never deleted,
    # or a recoverable crash becomes permanent data loss.
    if os.path.exists(fresh):
        shutil.rmtree(fresh)
    if os.path.exists(old):
        if not os.path.exists(path):
            os.rename(old, path)  # resume the interrupted pointer flip
        else:
            shutil.rmtree(old)  # path is complete; old is the backup copy

    before = _count()
    df = spark.read.parquet(path)
    if transform is not None:
        df = transform(df)
    (
        df.repartition(*[F.col(c) for c in partition_cols])
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_cols)
        .parquet(fresh)
    )
    os.rename(path, old)  # pointer flip: old aside ...
    os.rename(fresh, path)  # ... fresh into place
    shutil.rmtree(old)
    return {"files_before": before, "files_after": _count()}


def resume_interrupted_flip(path: str) -> bool:
    """Resume a two-rename pointer flip that crashed between its
    renames: ``path`` missing with ``path__compact_old`` holding the
    only copy. The flip helpers run this recovery themselves before
    rewriting a store, but a WRITER that must READ the store first
    (tombstone removers, purge's count) needs it before the helper
    ever runs — without it, a crashed maintenance job would leave the
    next maintenance job failing at read time instead of resuming.
    Caller holds the dataset writer lock. Returns True if a flip was
    resumed."""
    import os

    old = f"{path}__compact_old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
        return True
    return False


def _compact_flat_locked(
    spark: SparkSession,
    path: str,
    max_records_per_file: int,
    transform=None,
) -> dict:
    """Compaction for an UNPARTITIONED parquet store — the flat-store
    twin of :func:`_compact_partitions_locked`, with the identical
    fresh/old two-rename flip and debris-recovery discipline (see
    there for why in-place overwrite has a loss window). One count job
    sizes the target layout (ceil(rows / max_records_per_file) output
    files) so a store that incremental writers shredded into hundreds
    of KB-files collapses to a handful of full ones. ``transform``
    optionally rewrites the frame between read and write (row-level
    maintenance riding the same flip); the count job sizes the
    TRANSFORMED frame. Caller holds the dataset writer lock."""
    import glob
    import math
    import os
    import shutil

    def _count() -> int:
        return len(glob.glob(f"{path}/**/*.parquet", recursive=True))

    fresh = f"{path}__compact_fresh"
    old = f"{path}__compact_old"
    if os.path.exists(fresh):
        shutil.rmtree(fresh)
    if os.path.exists(old):
        if not os.path.exists(path):
            os.rename(old, path)  # resume the interrupted pointer flip
        else:
            shutil.rmtree(old)

    before = _count()
    df = spark.read.parquet(path)
    if transform is not None:
        df = transform(df)
    rows = df.count()
    n_files = max(1, math.ceil(rows / max_records_per_file))
    df.repartition(n_files).write.mode("overwrite").parquet(fresh)
    os.rename(path, old)
    os.rename(fresh, path)
    shutil.rmtree(old)
    return {"files_before": before, "files_after": _count()}


def merge_into_partitions(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: tuple[str, ...],
    partition_cols: tuple[str, ...],
    order_col: str | None = None,
) -> dict:
    """MERGE (upsert) into a partitioned parquet dataset — the
    table-format staple (MERGE INTO) rebuilt on plain files: rows whose
    keys match an update are REPLACED by the update, unmatched update
    rows INSERT, everything else is kept — and only the partitions
    PRESENT IN THE UPDATES are rewritten.

    How it scales: the affected partition values (one tuple per touched
    partition — metadata-sized for any daily/hourly reprocess) are
    collected and pushed as a partition-pruning filter, so the target
    scan reads ONLY the affected directories of a 100 TB dataset; the
    anti-join that drops superseded rows runs on those partitions alone;
    and the rewrite goes through :func:`overwrite_partitions`, so a
    retry after a crash is idempotent (tested by the failure-injection
    test) and untouched partitions are never rewritten.

    Contracts: ``updates`` must be key-unique (a MERGE with duplicate
    source keys is ambiguous in any engine), and keys are assumed
    partition-stable — a key whose partition value CHANGES between the
    stored row and the update leaves the stale copy in the old
    partition unless that partition is also in the batch (the same
    caveat every partitioned-upsert design carries; route moved keys
    through both partitions or compact with a global dedup).

    When ``order_col`` is given the merge is ORDER-AWARE: a matched key
    keeps whichever row has the GREATER ``order_col`` — stored or
    update (update wins ties). This makes the merge safe under
    out-of-order batches (a late backfill carrying an older record can
    no longer regress state to a stale value); without it, matched keys
    are unconditionally replaced and callers must deliver batches in
    ``order_col`` order. The order-aware path is one keyed row_number
    window over the pruned partitions' union — same shuffle shape as
    the anti-join it replaces.

    Concurrency: the whole read-modify-write holds the dataset writer
    lock (see :mod:`bigdatalab_spark.sources.locks`) — two concurrent
    merges would both read the same stored rows and the second dynamic
    overwrite would silently discard the first merge's output; the
    second writer now fails loudly at entry instead.

    Returns ``{"partitions_rewritten": n}``.
    """
    from bigdatalab_spark.sources.locks import dataset_write_lock

    if not key_cols or not partition_cols:
        raise ValueError("merge_into_partitions requires key and partition columns")
    with dataset_write_lock(target_path, "merge_into_partitions"):
        affected = [
            tuple(r[c] for c in partition_cols)
            for r in updates.select(*partition_cols).distinct().collect()
        ]
        if not affected:
            return {"partitions_rewritten": 0}

        try:
            target = spark.read.parquet(target_path)
        except AnalysisException:
            # no dataset yet: the first MERGE bootstraps it — every update
            # is an insert (the streaming CDC apply starts from empty)
            overwrite_partitions(updates, target_path, partition_cols)
            return {"partitions_rewritten": len(affected)}
        merged = merge_frames(
            target.filter(partition_prune_predicate(affected, partition_cols)),
            updates,
            key_cols,
            order_col,
        )
        overwrite_partitions(merged, target_path, partition_cols)
        return {"partitions_rewritten": len(affected)}


def partition_prune_predicate(
    affected: list[tuple], partition_cols: tuple[str, ...]
):
    """OR-of-ANDs partition prune over the affected partition tuples.
    eqNullSafe throughout: ``col == lit(None)`` is NULL, which would
    drop every stored row of the __HIVE_DEFAULT_PARTITION__ (null)
    directory from the kept side while dynamic overwrite still
    rewrites that partition from the updates alone — silently losing
    the unmatched stored rows."""
    prune = F.lit(False)
    for values in affected:
        match = F.lit(True)
        for c, v in zip(partition_cols, values):
            match = match & F.col(c).eqNullSafe(F.lit(v))
        prune = prune | match
    return prune


def merge_frames(
    stored: DataFrame,
    updates: DataFrame,
    key_cols: tuple[str, ...],
    order_col: str | None = None,
) -> DataFrame:
    """The MERGE combine shared by the in-place and versioned sinks:
    matched keys replaced by the update (``order_col=None``) or by the
    max-order row of {stored, update} with update winning ties
    (order-aware — late backfills cannot regress state). Both sides
    must be key-unique; output columns follow ``stored``.

    The order-aware path ranks with a row_number window over
    ``(order desc, source desc)`` rather than ``max(struct(...))`` so
    payload columns are CARRIED, never COMPARED — a stored frame with
    an unorderable column type (MapType) merges fine; only
    ``order_col`` itself must be orderable. Same single shuffle on the
    keys either way, and at most two rows per key reach the window."""
    src = "__merge_src"
    for reserved in (src, "__merge_rn"):
        if reserved in stored.columns:
            raise ValueError(
                f"column name {reserved!r} is reserved by merge_frames "
                "for its internal tiebreak/rank columns; rename it in "
                "the input frames"
            )
    if order_col is None:
        kept = stored.join(
            updates.select(*key_cols), list(key_cols), "left_anti"
        )
        return updates.select(*stored.columns).unionByName(kept)
    keys = list(key_cols)
    both = (
        stored.select(*stored.columns)
        .withColumn(src, F.lit(0))
        .unionByName(
            updates.select(*stored.columns).withColumn(src, F.lit(1))
        )
    )
    # argmax by (order, src): newer order wins; on an order tie the
    # UPDATE wins (src=1 > 0). desc puts NULL order last (loses), the
    # same outcome struct-max ordering gave.
    win = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc(), F.col(src).desc()
    )
    return (
        both.withColumn("__merge_rn", F.row_number().over(win))
        .filter(F.col("__merge_rn") == 1)
        .select(*stored.columns)
    )
