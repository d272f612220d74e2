"""foreachBatch merge sink — upsert each micro-batch into a keyed table.

The plain file sink can only APPEND; maintaining a keyed aggregate table
(the serving copy of the hourly rollup) needs per-batch MERGE — exactly
what ``foreachBatch`` exists for: inside the callback the micro-batch is
a plain DataFrame, and the upsert is the same anti-join + union + atomic
swap the catalog's MERGE uses.  Batch ids make the merge idempotent on
retry in production (the swap here is already last-write-wins per key).

The driver entry replays events as TWO micro-batches (file split), so
windows spanning the split are emitted twice in update mode and the
second emission must overwrite the first — the final table equals the
batch rollup, which the oracle checks.
"""

from __future__ import annotations

import os
import tempfile

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.registry import register
from .events import events_stream_source, hourly_rollup_stream

MERGE_KEYS = ["hour", "event_type"]


def recover_target(target: str) -> None:
    """Heal a crash between the two renames of ``swap_commit``: if the
    live dir is gone but its ``.old`` survivor exists, restore it —
    otherwise accumulated state would silently reset to empty."""
    old = target + ".old"
    if not os.path.exists(target) and os.path.exists(old):
        os.rename(old, target)


def swap_commit(merged: DataFrame, target: str, batch_id: int) -> None:
    """Write ``merged`` beside ``target`` and swap it in (the streaming
    sinks' shared commit; pair with ``recover_target`` at merge start)."""
    import shutil

    tmp = os.path.join(os.path.dirname(target), f"commit-{batch_id}")
    merged.write.mode("overwrite").parquet(tmp)
    old = target + ".old"
    if os.path.exists(target):
        os.rename(target, old)
    os.rename(tmp, target)
    if os.path.exists(old):
        shutil.rmtree(old)


def merge_batch_into(spark: SparkSession, out_dir: str):
    """Returns the foreachBatch callback: upsert on MERGE_KEYS into
    ``out_dir`` (anti-join + union + swap — catalog._commit's pattern)."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        target = os.path.join(out_dir, "table")
        recover_target(target)
        if os.path.exists(target):
            current = batch_df.sparkSession.read.schema(batch_df.schema).parquet(
                target
            )
            keys = batch_df.select(*MERGE_KEYS)
            merged = current.join(keys, MERGE_KEYS, "left_anti").unionByName(batch_df)
        else:
            merged = batch_df
        swap_commit(merged, target, batch_id)

    return merge


def stream_rollup_merge_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: two-micro-batch replay through the update-mode rollup
    into the merge sink; returns the final keyed table."""
    stage = tempfile.mkdtemp(prefix="events-split-")
    table = pq.read_table(f"{sf_dir}/events.parquet")
    df = table.to_pandas().sort_values("ts")
    mid = len(df) // 2
    df.iloc[:mid].to_parquet(os.path.join(stage, "part-0.parquet"), index=False)
    df.iloc[mid:].to_parquet(os.path.join(stage, "part-1.parquet"), index=False)

    rollup = hourly_rollup_stream(events_stream_source(spark, stage))
    out_dir = tempfile.mkdtemp(prefix="rollup-merge-")
    q = (
        rollup.writeStream.foreachBatch(merge_batch_into(spark, out_dir))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.schema(rollup.schema)
        .parquet(os.path.join(out_dir, "table"))
        .select("hour", "event_type", "n_events", "sum_value")
        .orderBy("hour", "event_type")
    )


# final state must equal the batch rollup over the whole table
STREAM_MERGE_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


register("stream_rollup_merge_sink", stream_rollup_merge_sink, STREAM_MERGE_ORACLE)
