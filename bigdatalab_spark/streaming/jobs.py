"""Structured Streaming jobs (SURVEY §2.8 T1-T10).

The reference's DStream programs re-idiomatized: unbounded DataFrames,
event-time windows + watermarks instead of processing-time
``window(Seconds(30), Seconds(3))``, managed state stores instead of
``updateStateByKey``, checkpoint recovery via ``checkpointLocation``
instead of ``StreamingContext.getOrCreate`` (ExerciseNetcat.scala:67-81).

Scale notes: every job here is a streaming aggregation whose state is
partitioned by the grouping key across executors — the same shuffle
layout as the batch equivalents, so a 1000-executor cluster splits both
input and state horizontally. Watermarks bound state size (late data
beyond the watermark is dropped), which the DStream versions could not
do at all.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from bigdatalab_spark.plans.compile import conf_scope


def _events_stream_schema(spark: SparkSession, sf_dir: str) -> StructType:
    """Stream schema matching the file's actual ``ts`` layout.

    ``events.ts`` has shipped both as TIMESTAMP(NANOS) — readable only
    as a long under the nanosAsLong legacy conf — and as
    TIMESTAMP(MICROS)/NTZ. FileStreamSource takes a user schema on
    faith (no inference), so derive it from the batch reader's resolved
    schema: a parquet-footer read on the driver, no job."""
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    fields = [
        StructField("event_id", LongType()),
        batch.schema["ts"],
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
    return StructType(fields)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet — the replayable test
    payload (FIXTURES.md §9). One file = one micro-batch under
    ``Trigger.AvailableNow``. ``ts`` is normalized to a session-zone
    TIMESTAMP exactly like the batch path (sources.readers.load_table),
    so stream and batch twins see identical instants."""
    from bigdatalab_spark.sources.readers import normalize_ts_layout

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = _events_stream_schema(spark, sf_dir)
    raw = (
        spark.readStream.schema(schema)
        # FileStreamSource needs a directory; glob-filter to the one table
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_ts_layout(raw)


def socket_stream(spark: SparkSession, host: str = "localhost", port: int = 9999) -> DataFrame:
    """Socket text source (ExerciseNetcat.scala:37 ssc.socketTextStream)."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )


def kafka_stream(
    spark: SparkSession,
    topics: str,
    bootstrap: str = "localhost:9092",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka direct stream (ExerciseKafka.scala:19-26,51-55): subscribe,
    offset reset; receiverless by construction in Structured Streaming."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
        .load()
        .selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value", "timestamp")
    )


def windowed_counts(
    stream: DataFrame,
    window: str = "1 day",
    slide: str | None = None,
    watermark: str = "1 day",
) -> DataFrame:
    """Event-time windowed counts with watermark — the T7 sliding-window
    job with the T8 late-data policy the DStream version lacked."""
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def processing_time_window_counts(
    stream: DataFrame,
    trigger: str = "3 seconds",
    key: str = "event_type",
    checkpoint_dir: str | None = None,
    on_batch=None,
):
    """T7, letter-of-the-reference semantics: PROCESSING-time windows.

    The DStream original windows on wall-clock arrival time
    (``window(Seconds(30), Seconds(3))`` — ExerciseNetcat.scala:117);
    everywhere else this engine upgrades to event-time windows +
    watermarks (SURVEY §7.4.1). This variant keeps the processing-time
    contract where arrival time IS the intended semantics (ops
    dashboards, ingest-rate monitoring): a ``processingTime`` trigger
    fires every ``trigger`` interval and the micro-batch delivered to
    ``foreachBatch`` is exactly one processing-time window of arrivals —
    aggregate it per batch and you have the windowed counts, keyed by
    wall clock, independent of the records' own timestamps.

    ``on_batch(counts_df, batch_id)`` receives each window's aggregate;
    returns the running StreamingQuery (caller stops it). State is
    per-batch only — nothing accumulates, so this scales with batch
    volume, not stream history.
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        counts = (
            batch_df.groupBy(key)
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
            .orderBy(F.desc("n"), key)
        )
        if on_batch is not None:
            on_batch(counts, batch_id)

    writer = (
        stream.writeStream.foreachBatch(_apply)
        .outputMode("update")
        .trigger(processingTime=trigger)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def cumulative_counts(stream: DataFrame) -> DataFrame:
    """updateStateByKey (ExerciseNetcat.scala:92-94): cumulative count per
    key. In Structured Streaming this is a plain streaming aggregation —
    the state store keeps one row per key, updated each micro-batch."""
    return stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("total_events"),
        F.sum("value").alias("total_value"),
    )


def sentiment_style_state(stream: DataFrame) -> DataFrame:
    """The custom multi-field state machine (T6: totTweets/totSentiment/
    countSentiment/avgSentiment per country, ExerciseNetcat.scala:176-196)
    collapses into a streaming agg — count/sum/avg are the state fields."""
    return stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
        F.avg("value").alias("avg_value"),
    )


_SINK_COUNTER = [0]


def unique_sink_name(prefix: str) -> str:
    """Fresh memory-sink query name per stream run: memory-sink tables
    are session-global, so re-running a gate query must not collide
    with (or silently read) a previous run's table."""
    _SINK_COUNTER[0] += 1
    return f"{prefix}_{_SINK_COUNTER[0]}"


def state_shuffle_partitions(spark, expected_keys: int) -> int:
    """Honest-at-any-scale state partition count for a KEYED streaming
    aggregation whose key cardinality the caller knows (an enum-like
    domain: event types, market segments, source labels).

    Keyed-state parallelism is bounded by the number of DISTINCT keys —
    a hash exchange cannot usefully employ more reducers than keys, and
    every state partition is a real per-batch cost (a RocksDB instance
    opened, committed and checkpointed each micro-batch, even when it
    holds zero keys). So: never more partitions than expected keys,
    never more than the session's configured shuffle parallelism (which
    is the CLUSTER-scaled knob — on a large deployment it, not this
    derivation, is the ceiling), and at least 1. This is derived from
    the query's keyspace, not from the local core count: a 5-key
    cumulative aggregate gets 5 state stores on this box and on a
    1000-executor cluster alike, because a 6th could never hold a key.
    Map-side partial aggregation keeps the exchange itself tiny
    regardless of input size, so shrinking the reduce side loses no
    scan parallelism."""
    conf = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return max(1, min(int(expected_keys), conf))


#: AQE's advisory post-shuffle partition size (Spark default 64 MB) —
#: the same target AQE coalesces batch exchanges to. Stateful streaming
#: exchanges pin their partition count at the first batch, so AQE
#: cannot coalesce them; :func:`state_partitions_for_bytes` applies the
#: identical sizing rule up front.
STATE_ADVISORY_BYTES = 64 << 20

#: minimum state partitions for a data-sized keyspace: state-store
#: commits are fsync-bound, and a handful of concurrent RocksDB
#: instances hide each other's commit latency — a small constant
#: (overlap depth), not a core-count tuning.
STATE_MIN_PARTITIONS = 4


def state_partitions_for_bytes(spark, input_bytes: int) -> int:
    """Honest-at-any-scale state partition count for a keyed streaming
    operator over a DATA-sized keyspace whose bounded input size the
    caller knows (an AvailableNow drain over files).

    Every state partition is a real per-batch cost — a RocksDB
    instance opened, committed and fsynced each micro-batch even when
    nearly empty — while AQE, which right-sizes every *batch* exchange
    to its advisory partition size, cannot touch stateful exchanges
    (their partition count is pinned into the checkpoint at the first
    batch). This applies AQE's own sizing rule ahead of time:
    ``ceil(input_bytes / 64 MB)``, floored at a small fsync-overlap
    constant and capped by the session's configured shuffle
    parallelism (the cluster-scaled knob, which stays the ceiling on a
    large deployment). Derived from the data, not the local core
    count: a 2 MB drain gets the floor on this box and on a
    1000-executor cluster alike; a 100 TB backlog hits the configured
    ceiling on both. Results are unchanged: keyed state operators are
    partitioning-invariant."""
    conf = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    want = -(-max(int(input_bytes), 1) // STATE_ADVISORY_BYTES)
    return max(1, min(max(want, STATE_MIN_PARTITIONS), conf))


def run_stream_to_memory(
    result: DataFrame,
    name: str,
    checkpoint_dir: str | None = None,
    output_mode: str = "complete",
    expected_keys: int | None = None,
    state_input_bytes: int | None = None,
) -> None:
    """Run a streaming frame to a memory sink with AvailableNow (process
    everything, then stop) — the deterministic test harness for every
    streaming job (SURVEY §5: MemoryStream-style tests). Returns once the
    stream has drained; results are in ``spark.table(name)``.

    ``expected_keys``: for keyed-state streams over enum-like keyspaces,
    the caller's upper bound on distinct state keys; the stream then
    runs with :func:`state_shuffle_partitions` state partitions (set for
    the duration of the drain and restored after — the count is pinned
    into this stream's checkpoint at first batch, so it never leaks into
    other queries). Leave ``None`` for data-sized keyspaces. Results are
    unchanged either way: the engine's streaming aggregates are
    partitioning-invariant (decimal money sums, counts).

    ``state_input_bytes``: for keyed-state streams over DATA-sized
    keyspaces drained from a bounded input of known size, the input
    byte count; the drain then runs with
    :func:`state_partitions_for_bytes` partitions (same set/restore
    discipline). Mutually exclusive with ``expected_keys``."""
    spark = result.sparkSession
    if expected_keys is not None and state_input_bytes is not None:
        raise ValueError(
            "pass expected_keys OR state_input_bytes, not both"
        )
    parts = None
    if expected_keys is not None:
        parts = state_shuffle_partitions(spark, expected_keys)
    elif state_input_bytes is not None:
        parts = state_partitions_for_bytes(spark, state_input_bytes)
    with (
        contextlib.nullcontext()
        if parts is None
        else conf_scope(spark, {"spark.sql.shuffle.partitions": str(parts)})
    ):
        writer = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
        )
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        q = writer.start()
        q.awaitTermination()


def run_stream_to_console(
    result: DataFrame,
    output_mode: str = "complete",
    num_rows: int = 20,
):
    """Console sink (K7 — the DStream.print() equivalent,
    ExerciseNetcat.scala:40). Returns the StreamingQuery; caller stops it."""
    return (
        result.writeStream.format("console")
        .outputMode(output_mode)
        .option("numRows", str(num_rows))
        .trigger(availableNow=True)
        .start()
    )


def write_stream_to_kafka(
    result: DataFrame,
    topic: str,
    bootstrap: str = "localhost:9092",
    checkpoint_dir: str | None = None,
):
    """Kafka sink (K8's producer role, engine-side): requires a
    ``value`` (and optionally ``key``) string column. Needs the
    spark-sql-kafka package + a broker — neither exists in this
    container, so this is the declared-capability slot; the socket
    server in tests/test_streaming.py plays the producer for live
    stream tests."""
    writer = (
        result.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def stream_static_join(
    stream: DataFrame,
    dim: DataFrame,
    on: str = "user_id",
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join — the canonical streaming lookup:
    each micro-batch of the unbounded side joins the *bounded* dim
    table (no watermark needed: static sides hold no join state, Spark
    re-plans the dim scan per micro-batch, so slowly-changing dims are
    picked up on file refresh). The dim is marked broadcast — at
    cluster scale a dimension that fits in executor memory must never
    shuffle the stream; if it outgrows broadcast, Spark falls back to a
    per-batch shuffle join with the same semantics."""
    return stream.join(F.broadcast(dim), on, how)


def stream_stream_interval_join(
    clicks: DataFrame,
    purchases: DataFrame,
    max_gap: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with a time-interval condition — beyond the
    reference's DStream surface entirely (T-extension): correlate a
    purchase with the same user's click that preceded it by at most
    ``max_gap``. Both sides carry watermarks so the join state for
    expired intervals is evicted; without them the state grows without
    bound. Inputs need columns (user_id, ts [, ...]).

    ``how="left_outer"`` adds the abandoned-click rows: a click with no
    purchase emits null-extended ONLY once the watermark passes
    ``click_ts + max_gap`` (no purchase can still arrive) — so clicks
    inside the final watermark horizon of a bounded run stay unemitted,
    which is the correct streaming answer, not a bug. The test asserts
    exactly that eviction frontier."""
    c = clicks.withWatermark("ts", watermark).alias("c")
    p = purchases.withWatermark("ts", watermark).alias("p")
    return c.join(
        p,
        F.expr(
            f"""
            c.user_id = p.user_id AND
            p.ts > c.ts AND
            p.ts <= c.ts + INTERVAL {max_gap}
            """
        ),
        how,
    ).select(
        F.col("c.user_id").alias("user_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.event_id").alias("purchase_id"),
        F.col("c.ts").alias("click_ts"),
        F.col("p.ts").alias("purchase_ts"),
    )


def apply_cdc_stream(
    stream: DataFrame,
    target_path: str,
    key_cols: tuple[str, ...],
    partition_cols: tuple[str, ...],
    checkpoint_dir: str,
    order_col: str | None = None,
):
    """Streaming CDC apply: every micro-batch MERGEs into a partitioned
    parquet dataset via
    :func:`bigdatalab_spark.sources.sinks.merge_into_partitions` — the
    foreachBatch upsert sink that turns an update stream into a
    continuously-maintained table (the Delta/Iceberg `MERGE INTO`
    streaming staple, rebuilt on plain files).

    Exactly-once story: the checkpoint makes batch delivery
    at-least-once, and the merge is IDEMPOTENT (replaying a batch
    replaces the same keys with the same values, and the partition
    rewrite itself is the crash-safe idempotent overwrite) — so the
    composition is effectively exactly-once, the same argument as the
    foreachBatch exactly-once test. When ``order_col`` is given,
    multiple updates for one key WITHIN a batch collapse to the
    max-``order_col`` row first (algebraic ``max(struct(order, ...))``
    keeper — map-side combined, deterministic because the leading
    ``(order, keys)`` prefix orders totally), satisfying the merge's
    key-unique contract under bursty sources. NOTE: this within-batch
    collapse COMPARES payload columns (that's what makes an exact
    order tie deterministic), so with ``order_col`` set every batch
    column must be orderable — unlike the stored-vs-update merge
    itself (merge_frames), which carries payloads via a row_number
    window and accepts MapType. Pre-collapse the batch yourself if it
    carries unorderable payloads.

    Returns the started StreamingQuery (availableNow trigger — drains
    what exists, then stops; restart with the same checkpoint resumes
    incrementally).
    """
    from bigdatalab_spark.sources.sinks import merge_into_partitions

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        updates = batch_df
        if order_col is not None:
            keys = list(key_cols)
            rest = [c for c in batch_df.columns if c not in keys]
            packed = batch_df.groupBy(*keys).agg(
                F.max(F.struct(order_col, *[c for c in rest if c != order_col])).alias("_w")
            )
            updates = packed.select(
                *keys, *[F.col(f"_w.{c}").alias(c) for c in rest]
            ).select(*batch_df.columns)
        if updates.isEmpty():
            return
        # order_col also flows into the merge itself: a matched key
        # keeps max(order) between stored row and update, so a later
        # micro-batch carrying an OLDER record (backfill / late file)
        # cannot regress state to the stale value — batches need not
        # arrive in order_col order.
        merge_into_partitions(
            batch_df.sparkSession,
            target_path,
            updates,
            key_cols,
            partition_cols,
            order_col=order_col,
        )

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def managed_merge_stream(
    stream: DataFrame,
    table,
    key_cols: tuple[str, ...],
    checkpoint_dir: str,
    order_col: str | None = None,
    index_cluster_files: int = 8,
):
    """Streaming MERGE into a :class:`~bigdatalab_spark.sources.managed.
    ManagedTable` — the table-format twin of :func:`apply_cdc_stream`:
    every micro-batch upserts through the facade's copy-on-write
    ``merge_into``, so the continuously-maintained table ALSO gets
    versioned snapshots, a per-version skipping index, and a change
    data feed downstream jobs can tail (``table.changes(v)``).

    Exactly-once story — stronger than idempotent-overwrite: the
    facade records each micro-batch's id ATOMICALLY with its commit
    (``_STREAM_BATCH`` lands before the version marker), so after a
    crash between the table commit and the checkpoint commit, the
    replayed batch sees ``batch_id <= table.last_stream_batch()`` and
    SKIPS — no duplicate version, no duplicated change-feed rows (a
    plain re-merge would be content-idempotent but would double-count
    the feed). One streaming writer per table.

    ``order_col`` does double duty, as in :func:`apply_cdc_stream`:
    within a batch, duplicate keys collapse to the max-``order_col``
    row (merge requires unique source keys); across batches it becomes
    the merge's WHEN MATCHED condition (``s.order >= t.order``), so a
    late batch carrying older records cannot regress committed state.

    The FIRST batch creates the table (clustered on ``key_cols[0]``
    across ``index_cluster_files`` files so later merges' attribution
    scans prune); later batches merge. Returns the started
    availableNow StreamingQuery.
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        managed_merge_batch(
            table, batch_df, batch_id, key_cols, order_col,
            index_cluster_files,
        )

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def managed_merge_batch(
    table,
    batch_df: DataFrame,
    batch_id: int,
    key_cols: tuple[str, ...],
    order_col: str | None = None,
    index_cluster_files: int = 8,
) -> bool:
    """One :func:`managed_merge_stream` micro-batch, exposed for direct
    replay testing: skip if the table already committed this batch id,
    else within-batch collapse + conditional merge (or first-snapshot
    write). Returns True iff a version was committed: False for a
    replayed or empty batch."""
    last = table.last_stream_batch()
    if last is not None and batch_id <= last:
        return False  # replay of an already-committed batch
    updates = batch_df
    if order_col is not None:
        keys = list(key_cols)
        rest = [c for c in batch_df.columns if c not in keys]
        packed = batch_df.groupBy(*keys).agg(
            F.max(
                F.struct(order_col, *[c for c in rest if c != order_col])
            ).alias("_w")
        )
        updates = packed.select(
            *keys, *[F.col(f"_w.{c}").alias(c) for c in rest]
        ).select(*batch_df.columns)
    current = table.latest()
    if current is None:
        if updates.isEmpty():
            return False
        lead = key_cols[0]
        table.write(
            updates.repartitionByRange(
                index_cluster_files, lead
            ).sortWithinPartitions(lead),
            stream_batch_id=batch_id,
        )
        return True
    # no emptiness probe here: merge_into collects the source anyway and
    # returns the current version, writing nothing, when it is empty
    return table.merge_into(
        updates,
        tuple(key_cols),
        when_matched=(
            f"s.{order_col} >= t.{order_col}"
            if order_col is not None
            else None
        ),
        stream_batch_id=batch_id,
    ) != current


def embedding_ingest_stream(
    stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    compact_every: int | None = None,
    compact_max_records_per_file: int = 5_000_000,
):
    """Streaming embedding ingest into a durable
    :func:`~bigdatalab_spark.scale.similarity.save_ivf_index` — the
    ANN twin of :func:`dedup_ingest_stream`: every micro-batch of new
    vectors is folded into the index with
    :func:`~bigdatalab_spark.scale.similarity.append_to_ivf_index`
    (frozen quantizer, rows landing in the existing bucket
    partitions), so queries served against the index see vectors
    seconds after they arrive instead of after the next full rebuild.

    Exactly-once: ``append_to_ivf_index`` requires new ids, but a
    crashed-and-replayed micro-batch re-delivers ids that may already
    be in the corpus. The batch is therefore anti-joined against the
    corpus store's ``neighbor_id`` column first (a columnar single-
    column scan of the index — never the vectors), and the surviving
    rows are STAGED to scratch before the append so the append job's
    lineage cannot re-read the store it writes (same eager-staging
    discipline as the dedup loop). Replay of a committed batch finds
    all its ids present and appends nothing. The guard reads the RAW
    store deliberately (not the tombstone-filtered load): a vector
    tombstoned after it was ingested still blocks its own replay, so
    a restart never resurrects a deleted vector — same id-reuse rule
    as the dedup loop (re-ingesting a deleted id needs a purge first;
    fresh ids always work).

    ``compact_every=N`` runs
    :func:`~bigdatalab_spark.scale.similarity.compact_ivf_index`
    inline after every Nth batch (replay-safe: layout-only,
    resume-safe flips). Pass ``compact_max_records_per_file`` per the
    parallelism-floor rule in that function's docstring — a
    probe-pruned serve needs several files (or >maxPartitionBytes) per
    bucket.

    Returns the started StreamingQuery (availableNow — drains existing
    input then stops; restart with the same checkpoint resumes)."""
    import os
    import shutil

    from bigdatalab_spark.scale.similarity import (
        append_to_ivf_index,
        compact_ivf_index,
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        fresh = batch_df.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        ).join(
            # id-only probe of the corpus store: a partial explicit
            # schema reads just the id column (partition column is
            # appended automatically) with no footer-inference job
            spark.read.schema("neighbor_id bigint")
            .parquet(f"{index_path}/corpus")
            .select(F.col("neighbor_id").alias("vec_id")),
            "vec_id",
            "left_anti",  # replay guard: already-ingested ids skip
        )
        staged = os.path.join(checkpoint_dir, f"_staged_batch_{batch_id}")
        fresh.write.mode("overwrite").parquet(staged)
        staged_vecs = spark.read.schema(fresh.schema).parquet(staged)
        if not staged_vecs.isEmpty():
            append_to_ivf_index(staged_vecs, index_path)
        shutil.rmtree(staged, ignore_errors=True)
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_ivf_index(
                spark, index_path, compact_max_records_per_file
            )

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def dedup_ingest_stream(
    stream: DataFrame,
    index_path: str,
    status_path: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    compact_every: int | None = None,
):
    """Streaming ingest against the durable dedup signature store — the
    production loop the round-8 index work exists for: every
    micro-batch is (1) classified with
    :func:`~bigdatalab_spark.scale.dedup.incremental_dedup_from_index`
    (corpus text never read), (2) its per-doc statuses land in a
    partitioned audit log (``status_path/batch_id=N``), and (3) its
    'new' documents are folded into the index with
    :func:`~bigdatalab_spark.scale.dedup.append_to_dedup_index`, so
    LATER micro-batches deduplicate against everything earlier ones
    admitted.

    Exactly-once story (the order of the three steps is the design):
    - statuses are computed BEFORE any append of this batch (a batch
      can never classify against its own documents) and written with
      per-batch-directory OVERWRITE — replay rewrites byte-identical
      rows, and the directory's _SUCCESS marker makes "already
      classified" detectable;
    - on a replayed batch the classify step is SKIPPED when its status
      directory is committed (recomputing after a partial append would
      see the batch's own docs in the index and flip them to
      exact_dup — the marker prevents exactly that);
    - the append is idempotent: candidates are anti-joined against the
      index's sizes store first, so re-appending an already-admitted
      doc is a no-op (double-appending would corrupt its shingle rows
      and stored size).
    Any crash point therefore replays to the same final (status log,
    index) state.

    ``compact_every=N`` runs
    :func:`~bigdatalab_spark.scale.dedup.compact_dedup_index` inline
    after every Nth batch's append — the standing maintenance the
    append drift (~32 files/batch, SCALE_NOTES round-8) needs, without
    an external operator. Safe under replay: compaction is layout-only
    and resume-safe, so a crash mid-compaction replays the (no-op)
    batch and re-runs it.

    Returns the started StreamingQuery (availableNow — drains existing
    input then stops; restarting with the same checkpoint resumes).
    """
    import os

    from bigdatalab_spark.scale.dedup import (
        _open_store,
        _read_dedup_meta,
        append_to_dedup_index,
        compact_dedup_index,
        incremental_dedup_from_index,
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        part = os.path.join(status_path, f"batch_id={batch_id}")
        if not os.path.exists(os.path.join(part, "_SUCCESS")):
            incremental_dedup_from_index(
                spark, batch_df, index_path, threshold, text_col, id_col
            ).write.mode("overwrite").parquet(part)
        # the status/staged re-reads and the sizes probe all have
        # schemas known without looking at a footer (classify output is
        # (id-as-written, status); staged rows are new_docs' own
        # schema; sizes is pinned in the index meta) — pass them
        # explicitly so none of the per-batch opens runs a parquet
        # footer-inference job (guide §5: the serve loop's cost is
        # fixed per-batch job count, not bytes)
        id_type = batch_df.schema[id_col].dataType.simpleString()
        new_ids = (
            spark.read.schema(f"doc_id {id_type}, status string")
            .parquet(part)
            .filter(F.col("status") == "new")
            .select("doc_id")
        )
        new_docs = (
            batch_df.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
            )
            .join(new_ids, "doc_id", "left_semi")
            .join(
                _open_store(
                    spark, index_path, "sizes", _read_dedup_meta(index_path)
                ).select("doc_id"),
                "doc_id",
                "left_anti",  # replay guard: already-admitted docs skip
            )
        )
        # stage eagerly: new_docs' lineage READS the sizes store that
        # the append WRITES — materializing to scratch truncates the
        # lineage so no append job can re-trigger a self-read (a
        # persist() would not guarantee that under cache eviction)
        staged = os.path.join(checkpoint_dir, f"_staged_batch_{batch_id}")
        new_docs.write.mode("overwrite").parquet(staged)
        staged_docs = spark.read.schema(new_docs.schema).parquet(staged)
        if not staged_docs.isEmpty():
            append_to_dedup_index(staged_docs, index_path)
        import shutil

        shutil.rmtree(staged, ignore_errors=True)
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_dedup_index(spark, index_path)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def forget_stream(
    stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    family: str = "dedup",
):
    """Streaming deletion requests applied to a durable index — the
    dual of the two ingest loops, and the shape GDPR-style forgetting
    actually arrives in (a queue of ids, not an admin session): every
    micro-batch of ids is tombstoned into the index with the family's
    ``remove_from_*`` op. ``family`` is ``"dedup"`` (doc_ids into the
    signature store), ``"ivf"`` or ``"ivfpq"`` (vec_ids into an ANN
    index). The first column of the stream is taken as the id.

    Exactly-once is free by construction here: the removers stage ids
    anti-joined against the existing tombstone store, so a replayed
    batch writes zero new tombstones — no status log or marker needed,
    unlike the admission loops. Deletes are visible to the next serve
    immediately (loads apply the tombstone filter); physical
    reclamation stays a scheduled ``purge_*`` maintenance job.

    Returns the started StreamingQuery (availableNow — drains existing
    input then stops; restart with the same checkpoint resumes)."""
    from bigdatalab_spark.scale.dedup import remove_from_dedup_index
    from bigdatalab_spark.scale.pq import remove_from_ivf_pq_index
    from bigdatalab_spark.scale.similarity import remove_from_ivf_index

    removers = {
        "dedup": remove_from_dedup_index,
        "ivf": remove_from_ivf_index,
        "ivfpq": remove_from_ivf_pq_index,
    }
    if family not in removers:
        raise ValueError(f"family must be one of {sorted(removers)}")
    remover = removers[family]

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        remover(batch_df.select(batch_df.columns[0]), index_path)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
