"""Source adapters (SURVEY §2.1 S1-S11).

Every reference source format re-expressed as a declarative ``spark.read``
so Catalyst gets file-source pushdown (Parquet filters, column pruning,
partition pruning) for free. Parsing lives here, not in queries: queries
see typed DataFrames.

Reference parity (file:line cited per adapter):

- text lines         -> ExampleWeather2.scala:26 (sc.textFile)
- fixed-width (ISD)  -> WeatherData.scala:2-12; MaxTemperatureMapper.java:17-24
- CSV quoted         -> MovieLensParser.scala:6,15-58 (quote-aware split,
                        malformed rows dropped)
- CSV naive/defaults -> StationData.scala:2-14 (quote strip, empty->0.0)
- DSV pipe tweets    -> ExerciseNetcat.scala:135; 304-streaming README:180
- JSON               -> 303-spark-sql/README.md:15-16
- Parquet            -> 303-spark-sql/README.md:40
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Tables in the driver's synthetic warehouse (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan — vectorized reader, filter/column pushdown (S9)."""
    return spark.read.parquet(path)


def corpus_fingerprint(sf_dir: str, *names: str) -> tuple:
    """Content fingerprint of warehouse table files: (name, size,
    mtime_ns) per file, recursing into parquet directories.

    Used as the corpus component of trained-artifact memo keys
    (PQ codebooks, quality classifier): if the data at ``sf_dir``
    changes mid-session the fingerprint changes, so a stale model can't
    be served for fresh data — the invalidation a bare path key lacks.
    One ``os.stat`` per file; no data is read.
    """
    import os

    out: list[tuple[str, int, int]] = []
    for name in names or TABLES:
        path = f"{sf_dir}/{name}.parquet"
        if os.path.isdir(path):
            files = sorted(
                os.path.join(d, f)
                for d, _, fs in os.walk(path)
                for f in fs
                if not f.startswith(("_", "."))
            )
        elif os.path.exists(path):
            files = [path]
        else:  # non-local FS (hdfs://, s3://): fall back to the path
            out.append((path, -1, -1))
            continue
        for f in files:
            st = os.stat(f)
            out.append((f, st.st_size, st.st_mtime_ns))
    return tuple(out)


#: memo of table DataFrames per (application, path): a DataFrame is an
#: immutable logical plan, so reuse skips re-reading parquet footers and
#: re-running schema inference on every query in a session. Keyed on the
#: Spark applicationId (stable per live session, never reused after a
#: stop/start the way CPython can reuse ``id(spark)``).
_TABLE_MEMO: dict[tuple[str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one warehouse table from an sf directory.

    ``events.ts`` has shipped in two physical layouts across testdata
    generations: parquet TIMESTAMP(NANOS) — which Spark's vectorized
    reader rejects, hence the nanos-as-long legacy conf + column-side
    rebuild — and TIMESTAMP(MICROS) without UTC adjustment, which
    Spark 4 reads as TIMESTAMP_NTZ. Normalize BOTH to a session-zone
    TIMESTAMP (session is pinned UTC) so downstream instant functions
    (``unix_micros``, watermarks) and the DuckDB oracle's naive
    rendering agree regardless of the file layout. The legacy conf is
    set unconditionally — it is a no-op for non-nanos tables — so no
    probe job ever runs (and none can fail: round 1's probe-and-retry
    put a deliberately failing Spark job in every cold read's stderr).
    """
    path = f"{sf_dir}/{name}.parquet"
    memo_key = (spark.sparkContext.applicationId, path)
    cached = _TABLE_MEMO.get(memo_key)
    if cached is not None:
        return cached
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = normalize_ts_layout(read_parquet(spark, path))
    _TABLE_MEMO[memo_key] = df
    return df


def normalize_ts_layout(df: DataFrame) -> DataFrame:
    """Normalize a ``ts`` column to session-zone TIMESTAMP whatever the
    physical layout (see load_table) — the ONE place both the batch
    reader and the file-stream source (streaming/jobs.py) convert, so
    the two paths cannot drift."""
    for field in df.schema.fields:
        if field.name != "ts":
            continue
        if field.dataType.simpleString() == "bigint":  # nanos-as-long
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.dataType.simpleString() == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register warehouse tables as temp views for ``spark.sql`` queries
    (303-spark-sql/README.md:99-101 createOrReplaceTempView pattern)."""
    for n in names or TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """One string column ``value`` per line (S1)."""
    return spark.read.text(path)


def read_json(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """JSON source, schema inferred unless given (S6)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    *,
    header: bool = False,
    sep: str = ",",
    quote: str = '"',
    schema: StructType | str | None = None,
    drop_malformed: bool = False,
    infer_schema: bool = False,
) -> DataFrame:
    """CSV source covering the reference's three CSV modes (S3/S4/S7/S8).

    ``drop_malformed=True`` reproduces MovieLensParser's Option/flatMap
    row-dropping (MovieLensParser.scala:22-24,39-41); default mode keeps
    rows with nulls (StationData's empty->default policy is applied by
    callers via ``coalesce(cast, lit(default))``).
    """
    reader = (
        spark.read.option("header", str(header).lower())
        .option("sep", sep)
        .option("quote", quote)
    )
    if drop_malformed:
        reader = reader.option("mode", "DROPMALFORMED")
    if infer_schema:
        reader = reader.option("inferSchema", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_dsv(spark: SparkSession, path: str, *, sep: str = "|", header: bool = True) -> DataFrame:
    """Pipe-delimited DSV (tweets, S5)."""
    return read_csv(spark, path, header=header, sep=sep)


@dataclass(frozen=True)
class FixedWidthField:
    """One field of a fixed-width record: [start, end) offsets, 0-based."""

    name: str
    start: int
    end: int
    dtype: str = "string"
    scale: float | None = None  # divide by this after cast (ISD temp /10)


def read_fixed_width(
    spark: SparkSession, path: str, spec: list[FixedWidthField]
) -> DataFrame:
    """Fixed-width text parse (S2) — the ISD weather format.

    Pure Column expressions (``substring`` + ``cast``), so the whole parse
    stays inside whole-stage codegen; no Python executes per row.
    Offsets mirror WeatherData.scala:3-11 when used with
    :data:`bigdatalab_spark.sources.schemas.ISD_WEATHER_SPEC`.
    """
    df = spark.read.text(path)
    cols = []
    for f in spec:
        c = F.substring(F.col("value"), f.start + 1, f.end - f.start)
        if f.dtype != "string":
            # try_cast: malformed/short lines yield NULL instead of an
            # ANSI cast error (Spark 4 default) — the reference's parsers
            # drop or default bad fields, never abort the job
            c = F.trim(c).try_cast(f.dtype)
        if f.scale is not None:
            c = c / F.lit(f.scale)
        cols.append(c.alias(f.name))
    return df.select(*cols)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — vectorized reader with filter/column pushdown, the
    same scan contract as :func:`read_parquet` (see sinks.write_orc)."""
    return spark.read.orc(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema: StructType | str | None = None,
) -> DataFrame:
    """XML file scan (Spark 4 built-in ``xml`` format — the
    spark-xml package folded into core): one row per ``row_tag``
    element, schema inferred unless given. Completes the
    semi-structured trio next to JSON (read_json / S6) and VARIANT;
    the column-level twins are ``from_xml``/``to_xml``."""
    r = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        r = r.schema(schema)
    return r.load(path)
