"""Streaming twin of the frozen-weights quality classifier — the ingest-
time scoring stage: as crawled documents land, every micro-batch is scored
by the IDENTICAL stateless column expressions the batch operator uses
(operators/quality_model.score_documents — shared code, not a re-render),
and the running keep/drop profile aggregates in complete mode.

Because scoring is stateless map work, stream output ≡ batch output
bit-for-bit; the registered query therefore carries a FULL value-hash
oracle (the batch SQL), not a rows-only check — the same twin discipline
as hourly_rollup_stream / stream_dedup_type_stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import TABLE_SCHEMAS
from ..operators.quality_model import _logit_ctes, score_documents
from ..operators.registry import register

def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table (symlink staging dir,
    same layout trick as events.read_events_stream — production points
    this at the crawl landing directory)."""
    import os
    import tempfile

    stage = tempfile.mkdtemp(prefix="docs-stream-")
    os.symlink(
        os.path.join(sf_dir, "documents.parquet"),
        os.path.join(stage, "documents.parquet"),
    )
    return spark.readStream.schema(TABLE_SCHEMAS["documents"]).parquet(stage)


def quality_profile_stream(docs: DataFrame) -> DataFrame:
    """Running keep/drop profile: count and mean calibrated probability
    per class.  The mean goes through DECIMAL so micro-batch arrival
    order can't change the result (the property that makes the batch
    oracle exact)."""
    return (
        score_documents(docs)
        .groupBy("keep")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (
                F.sum(F.col("prob").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_prob_raw"),
        )
        .select("keep", "n_docs", F.round("mean_prob_raw", 6).alias("mean_prob"))
    )


def stream_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the scoring stream over all currently-available files
    (availableNow backfill) into a memory sink; returns the profile."""
    import uuid

    name = f"quality_profile_{uuid.uuid4().hex[:8]}"
    q = (
        quality_profile_stream(read_documents_stream(spark, sf_dir))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).orderBy("keep")


STREAM_QUALITY_ORACLE = f"""
WITH {_logit_ctes()},
p AS (
  SELECT doc_id, logit >= 0 AS keep,
         round(1.0 / (1.0 + exp(-logit)), 4) AS prob
  FROM s
)
SELECT keep, CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(CAST(prob AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
           AS mean_prob
FROM p GROUP BY keep ORDER BY keep
"""


register("stream_quality_profile", stream_quality_profile, STREAM_QUALITY_ORACLE)


# -- ingest-time benchmark-contamination gate ----------------------------------
#
# The ONLINE half of operators/traindata.benchmark_contamination_report:
# that entry reports contamination per EVAL ITEM over the landed corpus;
# a production pipeline ALSO gates the crawl stream itself, dropping (or
# here, counting) documents that collide with the frozen eval set BEFORE
# they land in training shards.  The eval n-gram set is tiny and frozen,
# so it rides into every micro-batch as a LITERAL array (no join, no
# state — pure codegen map work), and the profile aggregates in complete
# mode.  Stateless map ⇒ stream output ≡ batch output bit-for-bit ⇒ full
# value-hash oracle (the stream_quality_profile twin discipline).
#
# Gram construction is total (no per-row branch): sequence length is
# clamped with greatest(·, 0), and a too-short document yields one
# PARTIAL gram (fewer than EVAL_NGRAM tokens joined), which can never
# equal a full eval 3-gram — so short docs are clean by construction on
# both engines, with no CASE whose branches an engine might pre-evaluate.


def _eval_gram_literals() -> list[str]:
    """The frozen eval fixture's distinct n-grams, derived in Python once
    at import (the fixture hash is pinned in tests, so this set is as
    frozen as the fixture)."""
    from ..operators.traindata import EVAL_NGRAM, EVAL_SET

    grams = set()
    for _item, text in EVAL_SET:
        toks = text.split(" ")
        for i in range(len(toks) - EVAL_NGRAM + 1):
            grams.add(" ".join(toks[i : i + EVAL_NGRAM]))
    return sorted(grams)


def contamination_gate_stream(docs: DataFrame) -> DataFrame:
    """Running per-source gate profile: docs seen, docs colliding with
    the eval set, and the contamination rate."""
    from ..operators.traindata import EVAL_NGRAM

    lits = ", ".join("'{}'".format(g.replace("'", "''")) for g in _eval_gram_literals())
    grams = (
        f"transform(sequence(0, greatest(size(t) - {EVAL_NGRAM}, 0)), "
        f"i -> array_join(slice(t, i + 1, {EVAL_NGRAM}), ' '))"
    )
    flagged = docs.withColumn("t", F.split("text", " ")).withColumn(
        "dirty", F.expr(f"arrays_overlap({grams}, array({lits}))")
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("dirty").cast("long")).alias("n_contaminated"),
        )
        .select(
            "source",
            "n_docs",
            "n_contaminated",
            F.round(F.col("n_contaminated") / F.col("n_docs"), 6).alias(
                "contamination_rate"
            ),
        )
    )


def stream_contamination_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the gate stream over all currently-available files
    (availableNow backfill) into a memory sink; returns the profile."""
    import uuid

    name = f"contamination_gate_{uuid.uuid4().hex[:8]}"
    q = (
        contamination_gate_stream(read_documents_stream(spark, sf_dir))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).orderBy("source")


def _contamination_gate_oracle() -> str:
    from ..operators.traindata import EVAL_NGRAM

    lits = ", ".join("'{}'".format(g.replace("'", "''")) for g in _eval_gram_literals())
    return f"""
WITH d AS (SELECT source, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT source,
         len(list_intersect(
           list_transform(generate_series(0, greatest(len(t) - {EVAL_NGRAM}, 0)),
                          i -> array_to_string(t[i + 1 : i + {EVAL_NGRAM}], ' ')),
           [{lits}])) > 0 AS dirty
  FROM d)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN dirty THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       round(sum(CASE WHEN dirty THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS contamination_rate
FROM g GROUP BY source ORDER BY source
"""


register(
    "stream_contamination_gate",
    stream_contamination_gate,
    _contamination_gate_oracle(),
)
