"""Streaming count-min sketch — mergeable-sketch state across micro-batches.

The batch CMS (operators/sketches.py) is built with one groupBy because its
counters are ADDITIVE; this module exercises exactly that property as a
stream: each micro-batch contributes a partial d×w counter table, and the
foreachBatch sink merges by per-cell addition.  The final sketch is
bit-identical to the batch-built sketch over the same corpus — which is the
whole argument for sketch-shaped streaming state at 100 TB: state size is
d×w counters forever, independent of vocabulary, watermarks unnecessary
because addition commutes.

Exact-oracle checked (the portable md5 hash family makes the sketch
SQL-expressible — same oracle as the batch CMS, which the merged sketch
must reproduce bit-identically); pytest asserts exact equality of
streaming-merged vs batch-built heavy hitters.
"""

from __future__ import annotations

import os
import tempfile

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import TABLE_SCHEMAS, read_table
from ..operators.registry import register
from ..operators.sketches import (
    cms_build,
    cms_oracle,
    hh_probe,
)
from ..operators.text import SPARK_TOKENS


def merge_sketch_into(out_dir: str):
    """foreachBatch callback: per-cell ADD the micro-batch's partial
    sketch into the running counter table (shared swap commit with
    crash recovery — sink.recover_target/swap_commit)."""
    from .sink import recover_target, swap_commit

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        partial = cms_build(batch_df.select(F.explode(F.expr(SPARK_TOKENS)).alias("tok")))
        target = os.path.join(out_dir, "sketch")
        recover_target(target)
        if os.path.exists(target):
            current = batch_df.sparkSession.read.schema(partial.schema).parquet(
                target
            )
            merged = (
                current.unionByName(partial)
                .groupBy("seed", "bucket")
                .agg(F.sum("c").alias("c"))
            )
        else:
            merged = partial
        swap_commit(merged, target, batch_id)

    return merge


def stream_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay documents as two micro-batches through the additive sketch
    sink, then probe the merged sketch for heavy hitters — same threshold
    and probe as the batch CMS, so the outputs must agree exactly."""
    stage = tempfile.mkdtemp(prefix="docs-split-")
    table = pq.read_table(f"{sf_dir}/documents.parquet")
    pdf = table.to_pandas().sort_values("doc_id")
    mid = len(pdf) // 2
    pdf.iloc[:mid].to_parquet(os.path.join(stage, "part-0.parquet"), index=False)
    pdf.iloc[mid:].to_parquet(os.path.join(stage, "part-1.parquet"), index=False)

    out_dir = tempfile.mkdtemp(prefix="cms-merge-")
    raw = (
        spark.readStream.schema(TABLE_SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = (
        raw.writeStream.foreachBatch(merge_sketch_into(out_dir))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # probe vocabulary + stream total from ONE tokenize scan (the exact
    # count table the batch CMS probe also uses), not count + distinct
    docs = read_table(spark, sf_dir, "documents")
    tokens = docs.select(F.explode(F.expr(SPARK_TOKENS)).alias("tok"))
    sketch = spark.read.schema(cms_build(tokens).schema).parquet(
        os.path.join(out_dir, "sketch")
    )
    counts = (
        tokens.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    total = counts.agg(F.sum("cnt")).first()[0] or 0
    return hh_probe(counts, sketch, total)


register("stream_cms_heavy_hitters", stream_cms_heavy_hitters, cms_oracle())
