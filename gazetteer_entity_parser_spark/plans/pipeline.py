"""End-to-end KG-construction pipeline with checkpoints, lineage, and
idempotent partition replay (north_rule: "resumable from checkpoint with
per-partition lineage + metrics").

Stages (SURVEY.md §4.3):
  A. build: gazetteer DataFrame -> Registry -> broadcast (tiny).
  B. match: docs -> mentions via one mapInPandas kernel stage; the pages
     are repartitioned on ``bucket = pmod(xxhash64(url), P)`` with no
     partition count, so AQE sizes the kernel stage from its bytes (each
     Python task pays a fixed worker start-up, SCALING.md) and each bucket
     stays in one task; output checkpointed to parquet partitioned by
     ``bucket``, one file per bucket, so any bucket replays independently
     (kernel is deterministic => rewrite-same-bucket is idempotent).
  C. triples: windowed co-occurrence pairs by grouped pair expansion (one
     shuffle over the mention checkpoint).
  D. canonicalize + MERGE INTO the triples store: Iceberg for a dotted
     table name when the runtime is present, else the bucketed parquet
     store, whose merge is one write path — the updates plus, for an
     existing store, its current version pruned to the touched buckets
     (found by one collect over the persisted updates), rolled up per key.
     The checkpoint and the store are read back with the schema in their
     files' footers, so no schema-inference job runs.

Lineage: one row per bucket per stage (output rows, checksum) — written next
to each checkpoint. ``replay_buckets`` rewrites the checkpoint partitions of
the buckets its caller names, with the gazetteer ``run_pipeline`` would
build; it neither detects missing or corrupt buckets nor verifies the result
against lineage (that check is ROADMAP item 3).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import salted_bucket
from ..operators.extract import extract_mentions
from ..operators.triples import canonicalize_triples, cooccurrence_triples_grouped
from ..sources.builder_job import broadcast_parser, build_parser_distributed
from ..sources.gazetteer import vocabulary_gazetteer
from ..sources.sinks import merge_into, read_bucketed
from ..sources.webpages import webpages_from_documents


@dataclass
class PipelineConfig:
    n_entities: int = 40
    threshold: float = 1.0
    n_stop_words: int = 0
    additional_stop_words: list[str] = field(default_factory=list)
    max_alternatives: int = 0
    window_tokens: int | None = 10
    # checkpoint/replay granularity; AQE sizes the match stage from its bytes
    n_buckets: int = 32
    use_alias_gazetteer: bool = False


def lineage_for(df: DataFrame, stage: str) -> DataFrame:
    """Per-bucket metrics row: counts + an order-insensitive checksum
    (sum of row hashes) for replay verification."""
    return df.groupBy("bucket").agg(
        F.lit(stage).alias("stage"),
        F.count("*").alias("output_rows"),
        # sum as decimal(38,0): order-insensitive and overflow-free under ANSI
        F.sum(
            F.xxhash64(*[c for c in df.columns if c != "bucket"]).cast("decimal(38,0)")
        ).alias("checksum"),
    )


def _gazetteer(docs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """The gazetteer both ``run_pipeline`` and ``replay_buckets`` build the
    parser from (derived from the corpus here; production passes its own
    gazetteer DataFrame)."""
    if cfg.use_alias_gazetteer:
        from ..sources.gazetteer import alias_gazetteer

        return alias_gazetteer(docs.select(F.col("text")), cfg.n_entities)
    return vocabulary_gazetteer(docs.select(F.col("text")), cfg.n_entities)


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    workdir: str,
    cfg: PipelineConfig | None = None,
    triples_target: str | None = None,
) -> dict:
    """Full run. ``docs`` must have the input_hint shape (url, warc_ts, html,
    text, lang) — use sources.webpages for the sandbox corpus. Returns paths
    + DataFrames of each stage output."""
    import time

    cfg = cfg or PipelineConfig()
    stage_seconds: dict[str, float] = {}
    t0 = time.perf_counter()

    # ---- Stage A: build + broadcast
    gaz = _gazetteer(docs, cfg)
    parser = build_parser_distributed(
        gaz, cfg.threshold, cfg.n_stop_words, cfg.additional_stop_words
    )
    bc = broadcast_parser(spark, parser)
    stage_seconds["A_build_broadcast"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()

    # ---- Stage B: match + checkpoint
    mentions_path = os.path.join(workdir, "mentions")
    mentions = extract_mentions(
        docs.select("url", "text").repartition(salted_bucket("url", cfg.n_buckets)),
        bc,
        max_alternatives=cfg.max_alternatives,
        window_tokens=cfg.window_tokens,
    ).withColumn("bucket", salted_bucket("url", cfg.n_buckets))
    mentions.write.mode("overwrite").partitionBy("bucket").parquet(mentions_path)
    mentions_ck = read_bucketed(spark, mentions_path)
    stage_seconds["B_extract_checkpoint"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()

    lineage_path = os.path.join(workdir, "lineage")

    # ---- Stage C: triples (grouped pair expansion — one shuffle, reads the
    # mention checkpoint so extraction never re-executes)
    raw_triples = cooccurrence_triples_grouped(mentions_ck)
    triples_lineage = lineage_for(
        raw_triples.withColumn("bucket", salted_bucket("url", cfg.n_buckets)), "triples"
    )
    lineage_for(mentions_ck, "mentions").unionByName(triples_lineage).write.mode(
        "overwrite"
    ).parquet(lineage_path)
    stage_seconds["C_triples_lineage"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()

    # ---- Stage D: canonicalize + merge
    canonical = canonicalize_triples(raw_triples)
    target = triples_target or os.path.join(workdir, "triples")
    sink_kind = merge_into(spark, target, canonical)
    stage_seconds["D_canonicalize_merge"] = round(time.perf_counter() - t0, 3)

    return {
        "parser": parser,
        "broadcast": bc,
        "gazetteer": gaz,
        "mentions_path": mentions_path,
        "mentions": mentions_ck,
        "lineage_path": lineage_path,
        "triples_path": target,
        "triples": read_bucketed(spark, target) if sink_kind == "parquet" else None,
        "sink": sink_kind,
        # ops metrics: wall per stage (per-bucket row/checksum metrics are in
        # the lineage table)
        "stage_seconds": stage_seconds,
    }


def replay_buckets(
    spark: SparkSession,
    docs: DataFrame,
    workdir: str,
    buckets: list[int],
    cfg: PipelineConfig | None = None,
    parser=None,
) -> None:
    """Recompute ONLY the given mention buckets and rewrite their checkpoint
    partitions; the other buckets' partitions are left as they are. Without
    ``parser`` the parser is rebuilt from the gazetteer ``run_pipeline``
    builds for ``cfg``. The kernel is deterministic, so a replayed bucket is
    row-identical to the original run — pinned by tests/test_pipeline.py
    (checkpoint-replay idempotence). Which buckets need replaying is the
    caller's call: nothing here detects or verifies a bad bucket."""
    cfg = cfg or PipelineConfig()
    if parser is None:
        parser = build_parser_distributed(
            _gazetteer(docs, cfg), cfg.threshold, cfg.n_stop_words,
            cfg.additional_stop_words,
        )
    bc = broadcast_parser(spark, parser)
    try:
        subset = docs.where(salted_bucket("url", cfg.n_buckets).isin(buckets))
        mentions = extract_mentions(
            subset.select("url", "text"),
            bc,
            max_alternatives=cfg.max_alternatives,
            window_tokens=cfg.window_tokens,
        ).withColumn("bucket", salted_bucket("url", cfg.n_buckets))
        # dynamic overwrite for this write only: the session conf would make
        # every later overwrite in the session replace partitions, not paths
        mentions.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("bucket").parquet(os.path.join(workdir, "mentions"))
    finally:
        bc.unpersist()


def docs_from_sf_dir(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return webpages_from_documents(docs)


def materialize_graph_analytics(
    triples: DataFrame, workdir: str, pagerank_iters: int = 10, topk: int = 10
) -> dict:
    """Graph-materialization stage (north_rule: "graph materialize"): from
    the canonical triples, write the three serving-layer graph tables —
    fixed-point PageRank, triangle/clustering stats, and top-k ranked
    adjacency — as parquet under ``workdir/graph/``. The triples frame is
    persisted here because all three analytics scan it (callers pass the
    pipeline's already-materialized triples, so this persist caches a
    parquet read, not a kernel re-extraction) and released once the three
    tables are written and counted.

    Returns {"paths": {name: path}, "rows": {name: count}}.
    """
    from ..operators.graph import pagerank, triangle_counts
    from ..operators.triples import entity_neighbors_topk

    # release only a persist made here: a frame the caller cached stays cached
    owned = triples.storageLevel == StorageLevel.NONE
    trip = triples.persist() if owned else triples
    try:
        outputs = {
            "pagerank": pagerank(trip, n_iter=pagerank_iters),
            "triangles": triangle_counts(trip),
            "neighbors": entity_neighbors_topk(trip, k=topk),
        }
        paths, rows = {}, {}
        for name, df in outputs.items():
            path = os.path.join(workdir, "graph", name)
            df.write.mode("overwrite").parquet(path)
            paths[name] = path
            rows[name] = df.sparkSession.read.parquet(path).count()
    finally:
        if owned:
            trip.unpersist()
    return {"paths": paths, "rows": rows}
