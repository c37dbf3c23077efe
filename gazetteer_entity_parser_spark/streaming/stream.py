"""Structured Streaming variant of the KG pipeline.

The matching stage is stateless per document (the reference parses one
string at a time — src/parser.rs:146-149), so the batch pipeline's broadcast
parser + ``mapInPandas`` stage runs unchanged under ``readStream``; late
data needs no special handling for extraction itself. The stream runs the
fused triples stage (``extract.extract_triple_partials``: matching, pair
expansion and a per-Arrow-batch rollup inside the UDF), and ``foreachBatch``
+ MERGE upserts each micro-batch's partials idempotently — the streaming
twin of the batch Stage D.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.extract import extract_triple_partials
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
    """Canonical triple partials per micro-batch, MERGE-upserted into the
    triples store. foreachBatch is only at-least-once (a batch is retried if
    the driver dies between the sink commit and the offset commit), so the
    merge carries the batch_id as a commit token: a retried batch whose
    merge already landed is skipped instead of double-counting its additive
    weights. Combined with the deterministic kernel this yields effectively
    exactly-once triple totals.

    Plan shape per batch: the one UDF stage emits (subj, pred, obj, weight,
    subj_rank, obj_rank) partials, already rolled up per Arrow batch, and
    the merge's grouping on the store bucket combines the partials of
    different tasks — no mention rows and no shuffle of their own."""
    partials = extract_triple_partials(
        pages_stream, parser_broadcast, window_tokens=window_tokens
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        merge_into_parquet(spark, triples_path, batch_df, commit_token=str(batch_id))

    return (
        partials.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
