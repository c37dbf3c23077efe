"""spark-submit entry point for the STREAMING KG-construction path:
watch a directory of webpage parquet files, run the micro-batch stream of
fused triple partials (matching, pair expansion and a per-batch rollup in
one UDF stage) into the MERGE-upsert triples store (commit-token
idempotent, effectively exactly-once totals), then optionally
materialize the graph-analytics serving tables from the final store.

    python jobs/package.py
    spark-submit --master <cluster-or-local> \\
        --py-files dist/gazetteer_entity_parser_spark.zip \\
        jobs/run_streaming_kg.py \\
        --input /path/to/webpage_parquet_dir \\
        --workdir /path/to/workdir \\
        [--gazetteer-from /path/to/documents.parquet] \\
        [--n-entities 40] [--window-tokens 10] [--max-files 4] \\
        [--graph-analytics]

`--gazetteer-from` builds the popularity-ranked gazetteer from a BATCH
corpus snapshot (the gazetteer is a slowly-changing dimension — rebuild
it per deploy, not per micro-batch); default is the input dir itself
read as a batch table. The stream runs with trigger(availableNow): it
drains everything currently in the directory and stops — the
cron/always-on variant just drops that trigger.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="directory of webpage parquet files")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--gazetteer-from", default=None)
    ap.add_argument("--n-entities", type=int, default=40)
    ap.add_argument("--window-tokens", type=int, default=10)
    ap.add_argument("--max-files", type=int, default=4)
    ap.add_argument("--graph-analytics", action="store_true")
    args = ap.parse_args()

    import os

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from gazetteer_entity_parser_spark.sources.builder_job import (
        broadcast_parser,
        build_parser_distributed,
    )
    from gazetteer_entity_parser_spark.sources.gazetteer import (
        vocabulary_gazetteer,
    )
    from gazetteer_entity_parser_spark.sources.webpages import (
        webpages_from_documents,
    )
    from gazetteer_entity_parser_spark.streaming.stream import (
        read_webpage_stream,
        start_triples_stream,
    )

    spark = SparkSession.builder.appName("gazetteer-kg-streaming").getOrCreate()
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")

    gaz_src = args.gazetteer_from or args.input
    batch = spark.read.parquet(gaz_src)
    if "url" not in batch.columns:
        batch = webpages_from_documents(batch)
    gaz = vocabulary_gazetteer(batch.select(F.col("text")), args.n_entities)
    bc = broadcast_parser(spark, build_parser_distributed(gaz, threshold=1.0))

    triples_path = os.path.join(args.workdir, "triples_store")
    ckpt = os.path.join(args.workdir, "checkpoint")
    stream = read_webpage_stream(spark, args.input, max_files=args.max_files)
    q = start_triples_stream(
        spark, stream, bc, triples_path, ckpt, window_tokens=args.window_tokens
    )
    q.awaitTermination()

    triples = spark.read.parquet(triples_path)
    summary = {
        "triples_path": triples_path,
        "n_triples": triples.count(),
        "total_weight": triples.agg(F.sum("weight")).collect()[0][0],
    }
    if args.graph_analytics:
        from gazetteer_entity_parser_spark.plans.pipeline import (
            materialize_graph_analytics,
        )

        summary["graph"] = materialize_graph_analytics(
            triples.select("subj", "pred", "obj", "weight"), args.workdir
        )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
