"""Structured Streaming variant of the KG pipeline.

The matching stage is stateless per document (the reference parses one
string at a time — src/parser.rs:146-149), so the exact same broadcast
parser + ``mapInPandas`` stage runs unchanged under ``readStream``; late
data needs no special handling for extraction itself. Aggregated triples use
``foreachBatch`` + MERGE so each micro-batch upserts idempotently — the
streaming twin of the batch Stage D.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.extract import extract_mentions
from ..operators.triples import canonicalize_triples, cooccurrence_triples_grouped
from ..sources.sinks import merge_into_parquet
from ..sources.webpages import WEBPAGE_SCHEMA


def read_webpage_stream(spark: SparkSession, input_dir: str, max_files: int = 4) -> DataFrame:
    """File-source stream of web pages (Iceberg streaming reads swap in on a
    real cluster; the file source has the same semantics for our purposes)."""
    return (
        spark.readStream.schema(WEBPAGE_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def start_triples_stream(
    spark: SparkSession,
    pages_stream: DataFrame,
    parser_broadcast,
    triples_path: str,
    checkpoint_dir: str,
    window_tokens: int | None = 10,
):
    """mentions -> triples per micro-batch, MERGE-upserted into the triples
    store. foreachBatch is only at-least-once (a batch is retried if the
    driver dies between the sink commit and the offset commit), so the merge
    carries the batch_id as a commit token: a retried batch whose merge
    already landed is skipped instead of double-counting its additive
    weights. Combined with the deterministic kernel this yields effectively
    exactly-once triple totals.

    Plan shape per batch: the mention UDF projects ONLY the five columns the
    triples rollup needs (Catalyst cannot prune through mapInPandas — the
    full-width stream paid matched_value slicing + alternatives + extra
    Arrow transfer per batch), and the pair expansion is the grouped one
    (one shuffle on the window key)."""
    mentions = extract_mentions(
        pages_stream,
        parser_broadcast,
        window_tokens=window_tokens,
        columns=["url", "sent_idx", "tok_idx", "resolved", "rank"],
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        canonical = canonicalize_triples(cooccurrence_triples_grouped(batch_df))
        merge_into_parquet(spark, triples_path, canonical, commit_token=str(batch_id))

    return (
        mentions.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
