"""Stage C/D: triple assembly and canonicalization (north_rule additions —
the reference stops at mentions; SURVEY.md §4.3 Stages C-D).

- co-occurrence: every ordered pair of mentions within one (url, sent_idx)
  window; subj is the earlier mention. One shuffle groups each window's
  mentions, and the pairs are expanded in-partition; pair blowup is bounded
  by the window size chosen at extraction. Raw triples with (url, sent_idx)
  provenance (``kg_triples_raw``, ``run_pipeline``) use this operator.
  Canonical triples skip it: ``extract.extract_triple_partials`` expands and
  pre-aggregates the pairs inside the extraction UDF, for the
  ``kg_triples_canonical`` query and for every streaming micro-batch.
- canonicalization: aliases already resolve to their canonical value inside
  the kernel (reference: src/parser_registry.rs:175-192); the groupBy merges
  duplicate alias-level triples, keeps the most popular (min-rank) witness
  and a weight. The entity-popularity long tail makes some resolved values
  hot: AQE skew handling is enabled session-wide, and the aggregation is a
  partial+final hash agg (map-side combine) so hot keys collapse before the
  shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CO_OCCURS = "co_occurs_with"

def cooccurrence_triples_grouped(mentions: DataFrame, pred: str = CO_OCCURS) -> DataFrame:
    """All ordered within-window mention pairs -> raw triples with
    (url, sent_idx) provenance. ONE shuffle (groupBy window) + in-partition
    pair expansion: the mention stream is shuffled once and its lineage runs
    once. Windows are token-bounded at extraction, so the per-group pair
    blowup is O(window^2) local work — the right trade at 10^12 documents.
    Pinned against a pure-Python pair oracle in tests and by the
    ``kg_triples_raw`` DuckDB oracle."""
    ms = F.array_sort(F.collect_list(F.struct("tok_idx", "resolved", "rank")))
    pairs = F.flatten(
        F.transform(
            F.col("ms"),
            lambda m1, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                lambda m2: F.struct(
                    m1["resolved"].alias("subj"),
                    m2["resolved"].alias("obj"),
                    m1["rank"].alias("subj_rank"),
                    m2["rank"].alias("obj_rank"),
                ),
            ),
        )
    )
    return (
        mentions.groupBy("url", "sent_idx")
        .agg(ms.alias("ms"))
        .select("url", "sent_idx", F.explode(pairs).alias("p"))
        .select(
            F.col("p.subj").alias("subj"),
            F.lit(pred).alias("pred"),
            F.col("p.obj").alias("obj"),
            "url",
            "sent_idx",
            F.col("p.subj_rank").alias("subj_rank"),
            F.col("p.obj_rank").alias("obj_rank"),
        )
    )


def canonicalize_triples(raw_triples: DataFrame) -> DataFrame:
    """(subj, pred, obj) -> weight + min-rank witnesses. Partial aggregation
    (map-side combine) keeps the hot-entity shuffle small."""
    return raw_triples.groupBy("subj", "pred", "obj").agg(
        F.count("*").alias("weight"),
        F.min("subj_rank").alias("subj_rank"),
        F.min("obj_rank").alias("obj_rank"),
    )


def merge_canonical_triples(*parts: DataFrame) -> DataFrame:
    """Distributive re-aggregation of canonical-triples PARTIALS: the
    incremental-maintenance primitive. ``canonicalize_triples`` is a
    (count, min, min) aggregation, i.e. a commutative monoid per
    (subj, pred, obj) key — so triples built over any disjoint partition
    of the corpus (per-day batches, per-bucket replays, a streaming
    micro-batch against yesterday's table) merge into EXACTLY the frame a
    from-scratch rebuild over the union would produce: sum the weights,
    min the rank witnesses. The driver query pins this identity by
    hash-comparing a two-way split-merge against the full-corpus oracle.

    One shuffle on the triple key; partial aggregation applies map-side,
    and each input part is already |distinct triples|-sized, so at
    10^12 docs this merges per-batch rollups without ever touching the
    corpus again.
    """
    if not parts:
        raise ValueError("merge_canonical_triples needs at least one input")
    from functools import reduce

    u = reduce(lambda a, b: a.unionByName(b), parts)
    return u.groupBy("subj", "pred", "obj").agg(
        F.sum("weight").alias("weight"),
        F.min("subj_rank").alias("subj_rank"),
        F.min("obj_rank").alias("obj_rank"),
    )


def edge_pmi(triples: DataFrame) -> DataFrame:
    """Pointwise mutual information per canonical edge: how much more often
    (subj, obj) co-occur than their marginals predict —
    ``pmi = ln(weight * T / (w_subj * w_obj))`` with T the total edge
    weight, w_subj the subject marginal, w_obj the object marginal. The
    KG-curation significance filter: high-weight edges between ubiquitous
    entities score low, rare-but-always-together pairs score high.

    Determinism: all four inputs are BIGINT sums (order-independent); the
    products stay < 2^53 (exact as doubles) far beyond bench scale, the
    division is a single correctly-rounded IEEE op, and ln() is
    bit-compatible Spark-vs-DuckDB at round-6 (pinned by text_tfidf).

    Scale shape: caller should pass a persisted/cached triples frame — it
    feeds the two marginal aggregations, the total, and the join (4 scans
    of |E|; the marginals and total are |V|- and 1-sized broadcast
    dimensions, so the only |E|-sized exchanges are the two marginal
    partial-aggs and the final joins are broadcasts). NOTE: the plan
    contains one BroadcastNestedLoopJoin — it is the crossJoin of the
    1-ROW total aggregate (the in-plan-scalar idiom, same as tfidf's N);
    its loop body executes exactly |E| x 1 times, it is not an all-pairs
    node.
    """
    tot = triples.agg(F.sum("weight").cast("double").alias("_T"))
    ws = triples.groupBy("subj").agg(F.sum("weight").alias("_w_subj"))
    wo = triples.groupBy("obj").agg(F.sum("weight").alias("_w_obj"))
    return (
        triples.join(F.broadcast(ws), "subj")
        .join(F.broadcast(wo), "obj")
        .crossJoin(F.broadcast(tot))
        .select(
            "subj",
            "obj",
            F.col("weight").cast("bigint").alias("weight"),
            F.round(
                F.log(
                    F.col("weight").cast("double")
                    * F.col("_T")
                    / (
                        F.col("_w_subj").cast("double")
                        * F.col("_w_obj").cast("double")
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )


def entity_neighbors_topk(triples: DataFrame, k: int = 3) -> DataFrame:
    """Ranked adjacency materialization: each entity's top-k strongest
    neighbors in the UNDIRECTED view of the KG (weights of (a,b) and (b,a)
    merged), deterministic tiebreak by neighbor name. The per-entity
    neighbor list a KG-serving layer precomputes.

    Scale shape: role-exploded union -> one (entity, neighbor)-keyed
    aggregation -> one entity-keyed window; the window input is the
    aggregated adjacency (|E|, already deduplicated), and rank<=k prunes
    before anything else consumes it. Caller passes a persisted triples
    frame (the union scans it twice)."""
    sym = triples.select(
        F.col("subj").alias("entity"), F.col("obj").alias("neighbor"), "weight"
    ).unionByName(
        triples.select(
            F.col("obj").alias("entity"), F.col("subj").alias("neighbor"), "weight"
        )
    )
    und = sym.groupBy("entity", "neighbor").agg(F.sum("weight").alias("weight"))
    from pyspark.sql import Window

    w = Window.partitionBy("entity").orderBy(F.desc("weight"), F.asc("neighbor"))
    return (
        und.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= int(k))
        .select(
            "entity",
            "neighbor",
            F.col("weight").cast("bigint").alias("weight"),
            F.col("rk").cast("int").alias("rk"),
        )
    )
