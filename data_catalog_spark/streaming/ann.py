"""Streaming ANN serving off the persisted PQ index.

The serving half of the index lifecycle: ``ann_pq_reload_topk`` proves
the code-table artifact survives a process restart; this entry proves an
always-on QUERY STREAM is answered from it.  Micro-batches of query
vectors arrive (availableNow file source, staged in two batches); each
batch builds its ADC lookup tables on the (broadcast) query side, scans
the LOADED code table in the compressed domain, and exact-re-ranks only
the bounded survivor pool — the index is read, never rebuilt, per batch.

Per-query results are independent of how queries are batched (the ADC
cut and the re-rank window are both keyed on qid), so the streamed
output equals the batch top-k bit-for-bit — the oracle is ann_pq_topk's
own, making "serve ≡ batch" a hash-checked gate row.

At 100 TB the deployment shape is identical: the code table is a 32×-
compressed parquet artifact loaded once per executor, query batches are
broadcast-sized by construction (lut rows, not raw vectors), and the
only corpus-proportional work per batch is the streaming ADC scan.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import TABLE_SCHEMAS, ensure_materialized, materialization_path, read_table
from ..operators.registry import register


def _serve_stage_cache(spark: SparkSession, sf_dir: str) -> str:
    """Stage the two query micro-batch files ONCE per embeddings content
    (the _frontier_stage_cache / _seed_cache discipline): each invocation
    streams the cached files with a FRESH checkpoint, so the benchmarked
    cost is the ADC serve path, not two coalesce(1) staging writes."""
    from ..operators.similarity import N_QUERIES

    path = materialization_path(
        sf_dir, f"annserve-stage-{N_QUERIES}", "embeddings.parquet"
    )

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        queries = read_table(spark, sf_dir, "embeddings").where(
            F.col("vec_id") < N_QUERIES
        )
        for i, half in enumerate(
            (queries.where(F.col("vec_id") % 2 == 0),
             queries.where(F.col("vec_id") % 2 == 1))
        ):
            part = os.path.join(tmp, f"_b{i}")
            half.coalesce(1).write.parquet(part)
            for f in os.listdir(part):
                if f.endswith(".parquet"):
                    os.rename(
                        os.path.join(part, f),
                        os.path.join(tmp, f"batch-{i}.parquet"),
                    )
            shutil.rmtree(part)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    return ensure_materialized(path, build)


def stream_ann_pq_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import persist
    from ..operators.ann_models import PQ_CODEBOOKS as books
    from ..operators.similarity import (
        PQ_K,
        PQ_M,
        _emb,
        _pq_exact_rerank,
        _pq_pool_for,
        _with_norm,
        pq_codes_index,
    )
    from .ingest import _PREV_RUN_DIRS

    while _PREV_RUN_DIRS:
        shutil.rmtree(_PREV_RUN_DIRS.pop(), ignore_errors=True)
    stage = _serve_stage_cache(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="annserve-out-")
    ckpt = tempfile.mkdtemp(prefix="annserve-ckpt-")
    _PREV_RUN_DIRS.extend([out, ckpt])

    # the SAME artifact + key as ann_pq_reload_topk: one persisted index
    # serves the batch reload lane and this stream
    emb = os.path.join(sf_dir, "embeddings.parquet")
    key = persist.content_key([emb], f"pq-frozen|{PQ_M}|{PQ_K}|{books!r}")
    sib = spark.newSession()  # fresh memo stores: serving pays only the load
    codes = persist.build_or_load(
        sib, "pq_codes", key, lambda: pq_codes_index(spark, sf_dir)
    ).localCheckpoint(eager=True)
    e = _with_norm(_emb(sib, sf_dir)).withColumn(
        "vn", F.expr("transform(v, x -> x / nrm)")
    )

    out_schema = "qid bigint, nid bigint, cos double, rank int"

    def serve(batch_df: DataFrame, batch_id: int) -> None:
        qb = _with_norm(
            batch_df.select(
                "vec_id",
                F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
                    "v"
                ),
            )
        ).withColumn("vn", F.expr("transform(v, x -> x / nrm)")).localCheckpoint(
            eager=False
        )
        pool = _pq_pool_for(qb, codes, books)
        (
            _pq_exact_rerank(e, qb, pool)
            .write.mode("append")
            .parquet(out)
        )

    q = (
        sib.readStream.schema(TABLE_SCHEMAS["embeddings"])
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.foreachBatch(serve)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sib.read.schema(out_schema).parquet(out).orderBy("qid", "rank")


def _serve_oracle() -> str:
    from ..operators.similarity import _pq_oracle

    return _pq_oracle()


register("stream_ann_pq_serve", stream_ann_pq_serve, _serve_oracle())
