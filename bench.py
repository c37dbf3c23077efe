"""Benchmark harness: headline KG-pipeline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec}, "sf": ..., "docs_per_sec": ..., "triples_per_sec": ...}

Scaling-efficiency evidence (BASELINE.md): run twice with
SPARK_GRAFT_CPUS=8 and =32 on the same input; see bench_scaling.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _bench_sim_ann_lsh_multiprobe(spark, sf_dir):
    """Production multi-probe LSH ANN (probe_bits=4, recall 0.93 pinned) —
    replaces the pre-r4 single-probe line (recall 0.4433 was not a
    production configuration; the driver's sim_ann_lsh_topk is now the
    full-probe EXACTNESS pin and belongs in the correctness gate, not a
    throughput bench)."""
    from pyspark.sql import functions as F

    from gazetteer_entity_parser_spark.operators.similarity import lsh_bucketed_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(32, "vec_id")
    return lsh_bucketed_topk(emb, k=3, n_planes=4, n_tables=4, probe_bits=4)


def _bench_build_gazetteer_distributed(spark, sf_dir):
    """The gazetteer build at dimension scale (r3 verdict #8): a 150k-row
    deterministic synthetic gazetteer through build_registry_distributed.
    Returns a 1-row frame carrying the entity count so the harness's
    .count() contract holds."""
    from pyspark.sql import functions as F

    from gazetteer_entity_parser_spark.sources.builder_job import (
        build_registry_distributed,
    )

    gaz = spark.range(150_000).select(
        F.concat_ws(
            " ",
            F.concat(F.lit("w"), F.pmod("id", F.lit(997))),
            F.concat(F.lit("x"), F.pmod("id", F.lit(89))),
            F.concat(F.lit("ent"), F.col("id")),
        ).alias("raw_value"),
        F.concat(F.lit("ENT_"), F.col("id")).alias("resolved_value"),
        F.col("id").alias("rank"),
    )
    reg = build_registry_distributed(gaz)
    assert len(reg.resolved) == 150_000
    return spark.range(len(reg.resolved)).limit(1)


# bench-only callables (not driver queries: the multi-probe ANN is
# approximate-by-design — its recall evidence lives in pytest — and the
# distributed build returns a Registry, not a relation)
EXTRA_QUERIES = {
    "sim_ann_lsh_multiprobe_topk": _bench_sim_ann_lsh_multiprobe,
    "build_gazetteer_150k_distributed": _bench_build_gazetteer_distributed,
}


def run_bench(sf_dir: str, cpus: int, queries: list[str] | None = None) -> dict:
    from gazetteer_entity_parser_spark.plans import queries as Q
    from gazetteer_entity_parser_spark.session import build_session

    spark = build_session("gazetteer-kg-bench", parallelism=cpus, shuffle_partitions=cpus)
    try:
        names = queries or [
            "kg_mentions",
            "kg_triples_canonical",
            "kg_mentions_alias_kernel",
            "kg_gazetteer_rank",
            "kg_stop_words_topn",
            "agg_pricing_summary",
            "join_broadcast_dims",
            "dedup_minhash_lsh",
            "dedup_simhash",
            "dedup_embedding_cosine",  # round 3: bucketed-LSH default (the
            # scale path) — benched now that it no longer cross-joins
            "sim_ann_lsh_multiprobe_topk",  # round 4: production multi-probe
            # config (recall 0.93 pinned) replaces the r3 single-probe line;
            # the driver's sim_ann_lsh_topk became the full-probe exactness
            # pin and lives in the correctness gate
            "decontaminate_scores",  # round 4: broadcast eval-shingle scan
            "text_quality_scores",
            "text_fingerprint",
            "media_features_full",
            "build_gazetteer_150k_distributed",  # round 4: 150k-row
            # gazetteer build (r3 verdict #8)
            "kg_pagerank",  # round 5: 10-iteration fixed-point PageRank
            "kg_triangles",  # round 5: degree-oriented wedge counting
        ]
        n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()

        # best-of-N per query: this VM shows intermittent hypervisor
        # contention (identical runs measured 2-8x apart); min-wall damps a
        # noisy window without hiding steady-state cost
        best_of = int(os.environ.get("SPARK_GRAFT_BENCH_BESTOF", "2"))
        timings: dict[str, float] = {}
        counts: dict[str, int] = {}
        for name in names:
            fn = EXTRA_QUERIES.get(name) or Q.QUERIES[name]
            best = None
            for _ in range(max(best_of, 1)):
                t0 = time.perf_counter()
                counts[name] = fn(spark, sf_dir).count()
                wall = time.perf_counter() - t0
                best = wall if best is None or wall < best else best
            timings[name] = round(best, 3)

        mention_sec = timings.get("kg_mentions", 0.0)
        triple_sec = timings.get("kg_triples_canonical", 0.0)

        # headline throughput: the fused mentions->canonical-triples pipeline
        # on a x40-amplified corpus (fixed overhead amortized; the sf inputs
        # alone are too small to exercise parallelism — see BENCH.md)
        from pyspark.sql import functions as F

        from gazetteer_entity_parser_spark.operators.extract import (
            canonical_triples_fused,
        )
        from gazetteer_entity_parser_spark.plans.queries import _parser_cache
        from gazetteer_entity_parser_spark.sources.webpages import (
            webpages_from_documents,
        )

        replicas = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICAS", "40"))
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        amplified = (
            webpages_from_documents(docs)
            .select("url", "text")
            .repartition(256, "url")
            .withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))))
            .select(F.concat("url", F.lit("#"), "r").alias("url"), "text")
        )
        bc = _parser_cache(spark, sf_dir, "alias")
        fused_sec, n_fused = None, 0
        for _ in range(max(best_of, 1)):
            t0 = time.perf_counter()
            n_fused = canonical_triples_fused(amplified, bc, window_tokens=10).count()
            wall = time.perf_counter() - t0
            fused_sec = wall if fused_sec is None or wall < fused_sec else fused_sec
        n_amplified = n_docs * replicas

        return {
            "metric": "kg_pipeline_headline_total",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": sf_dir,
            "cpus": cpus,
            "n_docs": n_docs,
            "rows": counts,
            "docs_per_sec": round(n_docs / mention_sec, 1) if mention_sec else None,
            "triples_per_sec": (
                round(counts.get("kg_triples_canonical", 0) / triple_sec, 1)
                if triple_sec
                else None
            ),
            "fused_pipeline": {
                "n_docs": n_amplified,
                "n_canonical_triples": n_fused,
                "sec": round(fused_sec, 3),
                "docs_per_sec": round(n_amplified / fused_sec, 1),
            },
        }
    finally:
        spark.stop()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    print(json.dumps(run_bench(sf_dir, cpus)))


if __name__ == "__main__":
    main()
