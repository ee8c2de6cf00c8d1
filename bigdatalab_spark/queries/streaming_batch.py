"""Windowed / stateful computations (SURVEY §2.8) in batch-verifiable form.

The reference's DStream jobs are processing-time micro-batches
(ExerciseNetcat.scala:117 sliding windows, :159 updateStateByKey). The
idiomatic Structured Streaming upgrade keys windows on EVENT time
(SURVEY §7.4.1); these queries run the exact window/state semantics as
batch DataFrames over ``events`` so the DuckDB oracle can gate them.
The live ``readStream`` versions of the same shapes are in
:mod:`bigdatalab_spark.streaming.jobs` and exercised in
tests/test_streaming.py; batch and streaming share Spark's incremental
execution of one logical plan, so this is the same code path Catalyst
plans for the stream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdatalab_spark.operators import money_sum
from bigdatalab_spark.queries.registry import query, query_scratch
from bigdatalab_spark.queries.tpch import dsum
from bigdatalab_spark.sources import load_table


@query(
    "events_tumbling_daily",
    ids=("T7", "T9"),
    oracle=f"""
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               count(*) AS n,
               {dsum('value')} AS sum_value
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
)
def events_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregate — ``groupBy(window(ts,'1 day'))``.

    Window start emitted as a string so the oracle hash is stable across
    timestamp representations.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), money_sum("value").alias("sum_value"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "events_sliding_6h_2h",
    ids=("T7",),
    oracle="""
        WITH shifted AS (
            SELECT ts, event_type, k
            FROM events, (SELECT unnest(generate_series(0, 2)) AS k)
        )
        SELECT CAST(date_trunc('hour', ts - to_hours(2 * k))
                    - CASE WHEN hour(date_trunc('hour', ts - to_hours(2 * k))) % 2 = 1
                           THEN INTERVAL 1 HOUR ELSE INTERVAL 0 HOUR END
                    AS VARCHAR) AS window_start,
               event_type, count(*) AS n
        FROM shifted
        WHERE ts >= date_trunc('hour', ts - to_hours(2 * k))
                    - CASE WHEN hour(date_trunc('hour', ts - to_hours(2 * k))) % 2 = 1
                           THEN INTERVAL 1 HOUR ELSE INTERVAL 0 HOUR END
          AND ts <  date_trunc('hour', ts - to_hours(2 * k))
                    - CASE WHEN hour(date_trunc('hour', ts - to_hours(2 * k))) % 2 = 1
                           THEN INTERVAL 1 HOUR ELSE INTERVAL 0 HOUR END
                    + INTERVAL 6 HOUR
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
)
def events_sliding_6h_2h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (6 h window, 2 h slide) — the trending-hashtags shape
    (ExerciseNetcat.scala:134 window(Seconds(60), Seconds(5))). Each event
    lands in 3 overlapping windows; Spark's ``window()`` expands them
    JVM-side, the oracle replays the same expansion with a generate_series
    cross join."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "6 hours", "2 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n",
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "running_user_counts",
    ids=("T5", "T6"),
    oracle="""
        SELECT user_id, event_id,
               count(*) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS running_count
        FROM events
        WHERE user_id < 10
        ORDER BY user_id, event_id
    """,
)
def running_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cumulative keyed state of ``updateStateByKey``
    (ExerciseNetcat.scala:92-94) as a running count over event time —
    what the state store holds after each element, materialized per row."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        events.filter(F.col("user_id") < 10)
        .select("user_id", "event_id", F.count(F.lit(1)).over(w).alias("running_count"))
        .orderBy("user_id", "event_id")
    )


@query(
    "streaming_cumulative_counts",
    ids=("T1", "T2", "T5", "T10", "S12"),
    oracle=f"""
        SELECT event_type,
               count(*) AS total_events,
               {dsum('value')} AS total_value
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def streaming_cumulative_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL Structured Streaming run inside the correctness gate:
    readStream over the events parquet -> cumulative keyed state
    (the updateStateByKey job, T5) -> AvailableNow trigger -> memory
    sink, then the drained state table is returned as a batch frame.
    Deterministic because AvailableNow processes the full input and
    complete-mode emits final state; the oracle is the batch equivalent
    of the final state."""
    from bigdatalab_spark.streaming import (
        run_stream_to_memory,
        stream_events,
        unique_sink_name,
    )

    name = unique_sink_name("stream_cumulative")
    stream = stream_events(spark, sf_dir)
    state = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("total_events"),
        money_sum("value").alias("total_value"),
    )
    # event_type is an enum-like domain (a handful of values at every
    # scale factor): keyspace-derived state partitioning — see
    # state_shuffle_partitions — instead of one RocksDB instance per
    # configured shuffle partition, ~all of them empty
    run_stream_to_memory(
        state, name, output_mode="complete", expected_keys=8
    )
    return spark.table(name).orderBy("event_type")


@query(
    "sessionized_users",
    ids=("T9",),
    oracle="""
        WITH marked AS (
            SELECT user_id, ts,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             >= INTERVAL 12 HOUR
                        OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ), sessions AS (
            SELECT user_id, ts,
                   CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts)
                        AS BIGINT) AS session_id
            FROM marked
        )
        SELECT user_id, session_id,
               CAST(min(ts) AS VARCHAR) AS session_start,
               count(*) AS n_events
        FROM sessions
        GROUP BY user_id, session_id
        ORDER BY user_id, session_id
    """,
)
def sessionized_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (12 h inactivity gap) per user.

    Spark's ``session_window`` merges windows in the aggregation; the
    oracle reproduces it with the classic gaps-and-islands rewrite. We
    derive session_id by ranking session starts so both representations
    align. Streaming variant: same groupBy(session_window(...)) under
    a watermark.
    """
    events = load_table(spark, sf_dir, "events")
    sess = (
        events.groupBy(F.session_window("ts", "12 hours").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = Window.partitionBy("user_id").orderBy(F.col("w.start"))
    return (
        sess.select(
            "user_id",
            F.row_number().over(w).alias("session_id"),
            F.col("w.start").cast("string").alias("session_start"),
            "n_events",
        )
        .orderBy("user_id", "session_id")
    )


@query(
    "streaming_dedup",
    ids=("T5", "SCALE-DEDUP"),
    oracle="""
        SELECT user_id, event_type, count(*) AS n
        FROM (SELECT DISTINCT user_id, event_type FROM events)
        GROUP BY user_id, event_type
        ORDER BY user_id, event_type
    """,
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING dedup: ``dropDuplicates`` over an unbounded stream keeps
    first-seen (user_id, event_type) pairs in the state store — exact
    online dedup, the streaming twin of dedup_exact. Drained via
    AvailableNow; result equals batch DISTINCT."""
    from bigdatalab_spark.streaming import (
        run_stream_to_memory,
        stream_events,
        unique_sink_name,
    )

    name = unique_sink_name("stream_dedup")
    deduped = stream_events(spark, sf_dir).dropDuplicates(["user_id", "event_type"])
    out = deduped.select("user_id", "event_type", F.lit(1).alias("n"))
    # (user_id, event_type) is a data-sized keyspace: derive the
    # dedup state's partition count from the drain's input bytes
    run_stream_to_memory(
        out,
        name,
        output_mode="append",
        state_input_bytes=os.path.getsize(f"{sf_dir}/events.parquet"),
    )
    return spark.table(name).orderBy("user_id", "event_type")


# Both engines define interpolated percentiles identically (linear
# between the two bracketing order statistics), but compute the
# interpolation with different operand orderings — at gate scale the
# doubles agree bit-exactly, while the round-9 sf1 sweep caught 1-ULP
# divergence on p99 (230.53 vs 230.53000000000003 at 1M rows). Same
# fix as the TPC-H money sums: quantize through DECIMAL(28,6) rendered
# via a STRING on BOTH sides, so the comparison is scale-independent.
_PCTL = (
    "CAST(CAST(CAST({x} AS DECIMAL(28,6)) AS STRING) AS DOUBLE)"
)


@query(
    "value_percentiles",
    ids=("A4",),
    oracle=f"""
        SELECT event_type,
               {_PCTL.format(x='quantile_cont(value, 0.5)')} AS p50,
               {_PCTL.format(x='quantile_cont(value, 0.9)')} AS p90,
               {_PCTL.format(x='quantile_cont(value, 0.99)')} AS p99
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per key (Spark ``percentile`` ==
    DuckDB ``quantile_cont``: same linear-interpolation definition,
    quantized at 6 decimals through the decimal-string render — see
    _PCTL — so engine-specific interpolation ULPs cannot flip the gate
    at any data scale). The approximate scale path is percentile_approx
    (t-digest) — exact here so the oracle can gate it."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.expr(_PCTL.format(x="percentile(value, 0.5)")).alias("p50"),
            F.expr(_PCTL.format(x="percentile(value, 0.9)")).alias("p90"),
            F.expr(_PCTL.format(x="percentile(value, 0.99)")).alias("p99"),
        )
        .orderBy("event_type")
    )


@query(
    "sessionized_dynamic_gap",
    ids=("T9",),
    oracle="""
        WITH ends AS (
            SELECT user_id, ts, event_id,
                   ts + CASE WHEN event_type = 'purchase'
                             THEN INTERVAL 2 HOUR
                             ELSE INTERVAL 30 MINUTE END AS w_end
            FROM events
        ),
        marked AS (
            SELECT user_id, ts, event_id, w_end,
                   CASE WHEN prev_end IS NULL OR ts >= prev_end
                        THEN 1 ELSE 0 END AS new_session
            FROM (
                SELECT *, max(w_end) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ) AS prev_end
                FROM ends
            )
        ),
        sessions AS (
            SELECT user_id, ts, w_end,
                   CAST(sum(new_session) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS session_id
            FROM marked
        )
        SELECT user_id, session_id,
               CAST(min(ts) AS VARCHAR) AS session_start,
               count(*) AS n_events
        FROM sessions
        GROUP BY user_id, session_id
        ORDER BY user_id, session_id
    """,
)
def sessionized_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-gap session windows: the inactivity gap is a per-event
    expression (purchases hold a session open 2 h, other events 30 min)
    — ``session_window`` with a Column gap. The oracle generalizes the
    gaps-and-islands rewrite to variable gaps: a session breaks when an
    event starts at/after the RUNNING MAX of all previous window ends
    (a plain lag is wrong once gaps differ — an earlier long-gap event
    can outlast a later short-gap one)."""
    events = load_table(spark, sf_dir, "events")
    # dynamic gaps must be CalendarIntervalType: string values (not
    # ANSI INTERVAL literals, which are DayTimeIntervalType)
    gap = F.when(F.col("event_type") == "purchase", "2 hours").otherwise(
        "30 minutes"
    )
    sess = events.groupBy(
        F.session_window("ts", gap).alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("user_id").orderBy(F.col("w.start"))
    return (
        sess.select(
            "user_id",
            F.row_number().over(w).cast("bigint").alias("session_id"),
            F.col("w.start").cast("string").alias("session_start"),
            "n_events",
        )
        .orderBy("user_id", "session_id")
    )


@query(
    "streaming_quality_gate",
    ids=("T2", "SCALE-TEXT", "SCALE-CURATION"),
    oracle="""
        WITH toks AS (
            SELECT source,
                   list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS ws,
                   length(text) AS n_chars,
                   len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct
            FROM documents
        ),
        scored AS (
            SELECT source,
                   len(ws) >= 32
                   AND (CASE WHEN n_chars > 0
                             THEN CAST(n_punct AS DOUBLE) / n_chars
                             ELSE 0.0 END) < 0.2 AS accepted
            FROM toks
        )
        SELECT source,
               count(CASE WHEN accepted THEN 1 END) AS n_accepted,
               count(CASE WHEN NOT accepted THEN 1 END) AS n_rejected
        FROM scored
        GROUP BY source
        ORDER BY source
    """,
)
def streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE curation: a document stream filtered through deterministic
    quality rules (min 32 tokens, punctuation ratio < 0.2), with
    accept/reject counts per source as the running streaming aggregate.
    This is the ingest-time quality gate of a training pipeline — score
    documents as they ARRIVE and keep only the accepted stream, instead
    of landing everything and re-scanning. The rules are pure column
    expressions, so the streaming result equals the batch twin exactly
    and the gate is strict despite running a REAL readStream."""
    from bigdatalab_spark.streaming import run_stream_to_memory, unique_sink_name

    batch_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    ws = F.filter(F.split("text", r"\s+"), lambda t: t != "")
    n_chars = F.length("text")
    n_punct = F.size(F.expr(r"regexp_extract_all(text, '[^\\w\\s]', 0)"))
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(0.0)
    accepted = (F.size(ws) >= 32) & (punct_ratio < 0.2)
    counted = (
        stream.select("source", accepted.alias("accepted"))
        .groupBy("source")
        .agg(
            F.count(F.when(F.col("accepted"), 1)).alias("n_accepted"),
            F.count(F.when(~F.col("accepted"), 1)).alias("n_rejected"),
        )
    )
    name = unique_sink_name("quality_gate")
    # source labels are an enum-like domain (tens of values):
    # keyspace-derived state partitioning
    run_stream_to_memory(
        counted, name, output_mode="complete", expected_keys=32
    )
    return spark.table(name).orderBy("source")


@query(
    "streaming_attribution",
    ids=("T-EXT", "T8", "J1"),
    oracle="""
        SELECT c.event_id AS click_id,
               p.event_id AS purchase_id,
               c.user_id,
               CAST(c.ts AS VARCHAR) AS click_ts,
               CAST(p.ts AS VARCHAR) AS purchase_ts
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts > c.ts
         AND p.ts <= c.ts + INTERVAL 1 HOUR
        ORDER BY click_id, purchase_id
    """,
)
def streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE stream-stream time-interval join under the strict gate: two
    readStream legs over the same event stream (clicks, purchases),
    joined on user within a one-hour window with watermarks on BOTH
    sides (streaming.jobs.stream_stream_interval_join), drained via
    AvailableNow into a memory sink. The oracle is the batch twin's SQL
    (click_purchase_attribution) verbatim — stream-stream join state
    evicts only behind both watermarks, and the bounded drain is one
    micro-batch (one file = one batch), so the streaming answer equals
    the batch join bit-for-bit. This promotes the stream-stream join
    surface from pytest-equivalence to oracle-gated."""
    from bigdatalab_spark.streaming import (
        run_stream_to_memory,
        stream_events,
        unique_sink_name,
    )
    from bigdatalab_spark.streaming.jobs import stream_stream_interval_join

    ev = stream_events(spark, sf_dir)
    clicks = ev.filter("event_type = 'click'").select("event_id", "user_id", "ts")
    purchases = ev.filter("event_type = 'purchase'").select(
        "event_id", "user_id", "ts"
    )
    joined = stream_stream_interval_join(clicks, purchases)
    out = joined.select(
        "click_id",
        "purchase_id",
        "user_id",
        F.col("click_ts").cast("string").alias("click_ts"),
        F.col("purchase_ts").cast("string").alias("purchase_ts"),
    )
    name = unique_sink_name("stream_attr")
    # user_id is a data-sized keyspace: size the join's state
    # partitions from the bounded drain's input bytes (a stream-stream
    # join opens FOUR RocksDB stores per partition per batch — at the
    # session's static partition count that fixed cost dwarfed the
    # join itself on small drains, and AQE cannot coalesce stateful
    # exchanges)
    run_stream_to_memory(
        out,
        name,
        output_mode="append",
        state_input_bytes=os.path.getsize(f"{sf_dir}/events.parquet"),
    )
    return spark.table(name).orderBy("click_id", "purchase_id")


@query(
    "statestore_user_counts",
    ids=("T5", "T10"),
    oracle="""
        SELECT user_id, count(*) AS cnt
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
)
def statestore_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline state-store inspection under the strict oracle: a REAL
    ``readStream`` over events runs ``groupBy(user_id).count()`` to a
    checkpoint (availableNow, RocksDB state store), then the answer is
    read back NOT from the sink but from the checkpoint's state itself
    via Spark 4's ``statestore`` batch source
    (:mod:`bigdatalab_spark.streaming.state_reader`).

    Strict equality against the batch oracle certifies the operability
    contract this enables at 100 TB: the billions of keys a stateful
    job holds are a queryable dataset — debuggable, auditable,
    reconcilable against batch truth — without replaying any input or
    touching the running query. One scan task per state partition, so
    inspection parallelism scales with the state layout itself.
    """
    from bigdatalab_spark.streaming.jobs import (
        run_stream_to_memory,
        stream_events,
        unique_sink_name,
    )
    from bigdatalab_spark.streaming.state_reader import grouped_count_state

    scratch = query_scratch("statestore_user_counts", sf_dir)
    counts = stream_events(spark, sf_dir).groupBy("user_id").count()
    # user_id is a data-sized keyspace: size the drain's state
    # partitions from the input bytes (state_partitions_for_bytes) —
    # the state READER below scans one task per state partition either
    # way, so inspection parallelism follows the same derivation. The
    # drain returns only once the stream has processed everything (a
    # failed query raises), so the state read never sees partial state
    run_stream_to_memory(
        counts,
        unique_sink_name("statestore_counts"),
        checkpoint_dir=f"{scratch}/ckpt",
        output_mode="update",
        state_input_bytes=os.path.getsize(f"{sf_dir}/events.parquet"),
    )
    return (
        grouped_count_state(spark, f"{scratch}/ckpt")
        .select("user_id", F.col("cnt").cast("long").alias("cnt"))
        .orderBy("user_id")
    )
