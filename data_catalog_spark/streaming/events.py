"""Structured Streaming over the events table.

The reference only *emits* events (NATS notifier, notifier.py:45-63 — no
consumer); our build completes the loop: the same hourly rollup that
``operators.analytics.events_hourly_rollup`` runs in batch is expressed as
an incremental streaming query with event-time windows + watermark, so late
data is handled and state is bounded.

Scale notes: tumbling-window counts are partial-aggregated before the
stateful exchange; the watermark bounds state to (max event time - 1 hour);
``availableNow`` lets the same query run as an incremental backfill.  On a
real deployment the source is Kafka/files-on-object-store and the sink is a
Delta table — both are config swaps, the logical plan is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _ts_unit(path: str) -> str:
    """Probe the ``ts`` storage unit from the parquet footers at ``path``
    (one file, or every file of a stream stage directory) — a pyarrow
    metadata read (no data I/O, no Spark job), done once at read or
    stream-definition time.  The driver has shipped events.parquet both as
    TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across rounds; a declared schema
    can't adapt per-file, so we pin the unit up front and REQUIRE every
    file already in a stage directory to agree (a mixed-unit stage would
    silently misread later files otherwise)."""
    import os

    import pyarrow.parquet as pq

    if os.path.isfile(path):
        files = [path]
    else:
        names = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        files = [os.path.join(path, f) for f in names]
    units = {}
    for f in files:
        t = pq.ParquetFile(f).schema_arrow.field("ts").type
        units[os.path.basename(f)] = getattr(t, "unit", "us")
    distinct = set(units.values())
    if not distinct:
        raise ValueError(
            f"no parquet files in stream stage dir {path} — cannot "
            f"probe the ts unit (misconfigured or not-yet-staged directory)"
        )
    if len(distinct) > 1:
        raise ValueError(
            f"mixed ts units in stream stage dir {path}: {units} — "
            f"a declared-schema source needs one unit per directory"
        )
    return next(iter(distinct))


def events_stream_schema(ts_unit: str) -> T.StructType:
    """The events table's one declared schema, for the batch read
    (``io.read_table``) and the stream source alike.  ``ts`` is
    LongType when the files store TIMESTAMP(NANOS) (surfaced as raw int64 by
    ``spark.sql.legacy.parquet.nanosAsLong``), TimestampNTZType for µs/ms."""
    ts_type = T.LongType() if ts_unit == "ns" else T.TimestampNTZType()
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def events_stream_source(spark: SparkSession, stage_dir: str) -> DataFrame:
    """File-source stream over a directory of events parquet files with
    ``ts`` normalized to a session-tz (UTC) TIMESTAMP regardless of the
    on-disk unit — the single entry point every streaming operator uses."""
    from ..io import _require_utc

    unit = _ts_unit(stage_dir)
    # same guard as the batch path (io.read_table): both casts below
    # reinterpret wall-clock values in the session timezone — only UTC
    # matches the oracle; fail loudly rather than silently shift times.
    _require_utc(spark)
    raw = (
        spark.readStream.schema(events_stream_schema(unit))
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )
    if unit == "ns":
        # int64 ns → µs timestamp (integer div; float division would lose
        # precision at 1e18), matching DuckDB's ns→µs truncation.
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events table.  The file source monitors a *directory*; the
    driver's layout keeps all tables in one dir, so stage a symlink dir
    holding only the events file (a production pipeline points this at its
    real landing directory)."""
    import os
    import tempfile

    stage = tempfile.mkdtemp(prefix="events-stream-")
    os.symlink(os.path.join(sf_dir, "events.parquet"), os.path.join(stage, "events.parquet"))
    return events_stream_source(spark, stage)


def hourly_rollup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Windowed counts/sums with late-data tolerance — the streaming twin of
    the batch rollup (same grouping keys, same aggregates)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_rollup_available_now(
    spark: SparkSession, sf_dir: str, query_name: str = "hourly_rollup"
) -> DataFrame:
    """Run the rollup over all currently-available files (incremental
    backfill mode) into a memory sink; returns the result DataFrame.

    ``complete`` output mode because the sink is an in-memory table for
    inspection; a production sink would use ``append`` + watermark-closed
    windows.
    """
    stream = hourly_rollup_stream(read_events_stream(spark, sf_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)
