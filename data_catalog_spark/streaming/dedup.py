"""Streaming deduplication — ``dropDuplicatesWithinWatermark``.

The ingestion-side twin of batch dedup: at-least-once sources (Kafka,
file landing zones, retried uploads) deliver duplicates; keying the stream
on the record id inside the watermark horizon makes the pipeline
effectively-once without a full-history state table — state is bounded by
the watermark delay, the 100 TB-safe property.

The driver entry replays the events table TWICE (two staged copies → two
micro-batches) through the dedup; the output must equal the single-copy
table exactly, which the batch oracle checks.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.registry import register
from .events import events_stream_source

# Covers the full event-time span of the test corpus (~30 days), so every
# replayed duplicate is inside the horizon — semantics, not tuning; a real
# deployment sets this to its redelivery window (minutes).
DEDUP_WATERMARK = "35 days"


def dedup_events_stream(events: DataFrame) -> DataFrame:
    return events.withWatermark("ts", DEDUP_WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_dedup_replay_available_now(
    spark: SparkSession, sf_dir: str, query_name: str = "dedup_events"
) -> DataFrame:
    """Stage the events file twice (simulated at-least-once redelivery),
    stream with one file per micro-batch, dedup, land in a memory sink."""
    stage = tempfile.mkdtemp(prefix="events-replay-")
    for i in range(2):
        os.symlink(
            os.path.join(sf_dir, "events.parquet"),
            os.path.join(stage, f"copy-{i}.parquet"),
        )
    events = events_stream_source(spark, stage)
    q = (
        dedup_events_stream(events)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def stream_dedup_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: per-type stats over the DEDUPED replayed stream — equal
    to stats over the plain table iff dedup removed exactly the replay."""
    out = run_dedup_replay_available_now(spark, sf_dir, "dedup_events_q")
    return (
        out.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .orderBy("event_type")
    )


STREAM_DEDUP_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
"""


register("stream_dedup_type_stats", stream_dedup_type_stats, STREAM_DEDUP_ORACLE)


# -- streaming embedding near-dup: arriving vectors vs the corpus index ---------
#
# The Structured-Streaming twin of operators/similarity.py's
# dedup_embedding_incremental: new vectors land as files, each micro-batch
# is sign-coded (the same Arrow-batched fixed-point pass) and probed
# against the MEMOIZED corpus code table — the deployment shape where the
# LSH index is long-lived state and each crawl batch pays only its own
# probe.  End state is batching-invariant, so the oracle is the batch
# arm's oracle verbatim; the driver entry splits the new slice across TWO
# micro-batches (maxFilesPerTrigger=1) to prove it.


def stream_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..io import TABLE_SCHEMAS, read_table
    from ..operators.similarity import (
        EMB_NEW_MOD,
        _band_bits,
        _emb,
        _pair_coded,
        _pair_planes,
        _probe_new_against_corpus,
        _with_norm,
    )
    from .ingest import _PREV_RUN_DIRS

    while _PREV_RUN_DIRS:
        shutil.rmtree(_PREV_RUN_DIRS.pop(), ignore_errors=True)
    stage = tempfile.mkdtemp(prefix="emb-stream-src-")
    out = tempfile.mkdtemp(prefix="emb-stream-out-")
    ckpt = tempfile.mkdtemp(prefix="emb-stream-ckpt-")
    _PREV_RUN_DIRS.extend([stage, out, ckpt])

    corpus = _pair_coded(spark, sf_dir).where(
        F.col("vec_id") % EMB_NEW_MOD != 0
    )
    new = read_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % EMB_NEW_MOD == 0
    )
    # two staged files → two micro-batches (maxFilesPerTrigger=1)
    for i, half in enumerate(
        (new.where(F.col("vec_id") % (2 * EMB_NEW_MOD) == 0),
         new.where(F.col("vec_id") % (2 * EMB_NEW_MOD) != 0))
    ):
        tmp = os.path.join(stage, f"_b{i}")
        half.coalesce(1).write.parquet(tmp)
        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(tmp, f), os.path.join(stage, f"batch-{i}.parquet")
                )
        shutil.rmtree(tmp)

    out_schema = "vec_id bigint, match_id bigint, cos double"

    def probe(batch_df: DataFrame, batch_id: int) -> None:
        coded = _band_bits(
            _with_norm(
                batch_df.select(
                    "vec_id",
                    F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
                )
            ),
            _pair_planes(),
        ).localCheckpoint(eager=False)
        (
            _probe_new_against_corpus(coded, corpus)
            .write.mode("append")
            .parquet(out)
        )

    q = (
        spark.readStream.schema(TABLE_SCHEMAS["embeddings"])
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.foreachBatch(probe)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.schema(out_schema).parquet(out).orderBy("vec_id")


def _emb_stream_oracle() -> str:
    from ..operators.similarity import _emb_inc_oracle

    return _emb_inc_oracle()


register("stream_embedding_dedup", stream_embedding_dedup, _emb_stream_oracle())


# -- streaming URL-frontier dedup: canonical-URL admission across batches --------
#
# The crawl-frontier shape: discovered URLs arrive in micro-batches, each
# is canonicalized (map-only scalar expression — urls.spark_canon_expr,
# pinned output-equal to the batch lane), and admission is keyed on the
# CANONICAL form with dropDuplicatesWithinWatermark, so a re-discovery
# under any raw spelling (case, default port, tracking params, param
# order, slash/fragment noise) never re-enters the frontier.  State is
# bounded by the watermark horizon — at deployment the re-discovery
# window — the same 100 TB-safe property as dedup_events_stream.
#
# The driver entry stages the planted messy-URL corpus TWICE (the second
# copy spelling-shuffled: every URL re-discovered with different noise)
# split across micro-batches; the registered output counts ADMITTED rows
# per host, which equals the batch lane's DISTINCT canonical count per
# host iff cross-batch, cross-spelling dedup held exactly.

FRONTIER_WATERMARK = "40 days"


def _frontier_stage_cache(spark: SparkSession, sf_dir: str) -> str:
    """Stage the discovery + re-spelled-re-discovery batches ONCE per
    documents.parquet content (io.materialization_path) — each query
    invocation streams the cached files with a FRESH checkpoint, so the
    benchmarked cost is the canonicalize+dedup stream, not two staging
    parquet writes per run (the ingest _seed_cache discipline)."""
    import shutil

    from ..io import materialization_path, ensure_materialized, read_table
    from ..operators.urls import RAW_URLS_SQL

    path = materialization_path(sf_dir, "url-frontier-stage", "documents.parquet")

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        read_table(spark, sf_dir, "documents").createOrReplaceTempView("__uf_docs")
        # discovery event time: one minute per doc_id from a fixed epoch —
        # only dedup-state bounding, never part of the output
        raw = spark.sql(RAW_URLS_SQL.format(docs="__uf_docs")).selectExpr(
            "doc_id",
            "url",
            "timestamp'2015-01-01 00:00:00' + make_interval(0,0,0,0,0,CAST(doc_id % 1440 AS INT),0) AS ts",
        )
        # re-discovery copy: the SAME canonical identities under different
        # spellings — the shift is lcm of the IDENTITY moduli (7 host,
        # 11 path, 6 query class, 17 the kept :8080 port) = 7854, which is
        # nonzero mod every pure-noise modulus (4 default port, 5 host case,
        # 8 fragment, 19 scheme case), so each URL returns with its identity
        # intact and its spelling changed
        redisc = spark.sql(
            RAW_URLS_SQL.format(docs="(SELECT doc_id + 7854 AS doc_id FROM __uf_docs)")
        ).selectExpr(
            "doc_id - 7854 AS doc_id",
            "url",
            "timestamp'2015-01-01 00:00:00' + make_interval(0,0,0,0,1,CAST(doc_id % 1440 AS INT),0) AS ts",
        )
        for i, half in enumerate((raw, redisc)):
            part = os.path.join(tmp, f"_b{i}")
            half.coalesce(1).write.parquet(part)
            for f in os.listdir(part):
                if f.endswith(".parquet"):
                    os.rename(
                        os.path.join(part, f), os.path.join(tmp, f"batch-{i}.parquet")
                    )
            shutil.rmtree(part)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    return ensure_materialized(path, build)


def stream_url_frontier_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..io import read_table
    from ..operators.urls import spark_canon_expr
    from .ingest import _PREV_RUN_DIRS

    while _PREV_RUN_DIRS:
        shutil.rmtree(_PREV_RUN_DIRS.pop(), ignore_errors=True)
    ckpt = tempfile.mkdtemp(prefix="url-frontier-ckpt-")
    _PREV_RUN_DIRS.append(ckpt)
    stage = _frontier_stage_cache(spark, sf_dir)
    # the frontier test reads the single-copy truth through this view
    read_table(spark, sf_dir, "documents").createOrReplaceTempView("__uf_docs")

    admitted = (
        spark.readStream.schema("doc_id bigint, url string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .selectExpr("ts", spark_canon_expr("url") + " AS canonical_url")
        .withWatermark("ts", FRONTIER_WATERMARK)
        .dropDuplicatesWithinWatermark(["canonical_url"])
    )
    q = (
        admitted.writeStream.format("memory")
        .queryName("url_frontier_q")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table("url_frontier_q")
        .selectExpr(
            "regexp_extract(canonical_url, '^[^:]+://([^/?#:]*)', 1) AS host"
        )
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_frontier_urls"))
        .orderBy("host")
    )


def _frontier_oracle() -> str:
    from ..operators.urls import DUCK_CANON_SQL, RAW_URLS_SQL

    # admitted rows per host == DISTINCT canonicals per host iff the
    # frontier admitted each canonical exactly once across batches and
    # spellings (the re-discovery copy adds NO new canonical identities
    # by construction, so the single-copy batch distinct is the truth)
    return f"""
WITH raw_urls AS ({RAW_URLS_SQL.format(docs="documents")}),
canon AS ({DUCK_CANON_SQL})
SELECT regexp_extract(canonical_url, '^[^:]+://([^/?#:]*)', 1) AS host,
       CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_frontier_urls
FROM canon GROUP BY 1 ORDER BY host
"""


register("stream_url_frontier_dedup", stream_url_frontier_dedup, _frontier_oracle())
