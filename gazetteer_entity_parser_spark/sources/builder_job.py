"""Distributed parser build: gazetteer DataFrame -> Registry -> broadcast.

Re-expresses the reference's offline build (reference:
src/parser_builder.rs:82-101 + src/parser_registry.rs:38-65, 118-167) as
DataFrame jobs, per SURVEY.md §2.1:

- rank assignment: explicit ``rank`` column (DataFrames have no row order);
- tokenization: Arrow-batched pandas UDF around the kernel tokenizer (exact
  parity incl. unicode-whitespace semantics — cheaper and more faithful than
  approximating with ``F.split``);
- token interning: first-appearance order over (rank, position) — matches
  the reference's BTreeMap+counter interning scan order
  (reference: src/symbol_table.rs:17-27);
- inverted index: ``groupBy(token).agg(sort_array(collect_set(entity)))``;
- stop words: top-n by distinct-entity count, ties to the earlier-interned
  token (Rust stable sort, reference: src/parser_registry.rs:141-157);
- edge cases: entities whose token set ⊆ stop words
  (reference: src/parser_registry.rs:159-166).

The assembled ``Registry`` is verified equal to the kernel's driver-side
build in tests, then shipped to executors with ``SparkContext.broadcast``.

Scale note: the gazetteer is dimension-scale (≤ tens of millions of rows ≪
the 10^12-doc corpus). The two groupBys shuffle only gazetteer tokens; id
assignment uses a single-partition window over *distinct tokens / entities*
only, which is the standard dimension-build trade-off. The corpus-side scan
never shuffles on gazetteer keys — the index travels as a broadcast.
"""

from __future__ import annotations

import pandas as pd
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernel.registry import Registry
from ..kernel.parser import Parser
from ..kernel.tokenizer import tokens_only

GAZETTEER_SCHEMA = "raw_value string, resolved_value string, rank bigint"


@F.pandas_udf(T.ArrayType(T.StringType()))
def tokenize_udf(raw: pd.Series) -> pd.Series:
    """Kernel-exact tokenization, Arrow-batched (no per-row Python UDF)."""
    return raw.map(lambda s: tokens_only(s) if s is not None else [])


def with_rank_from_order(df: DataFrame, order_col: str = "popularity") -> DataFrame:
    """Materialize the reference's implicit list-position rank
    (reference: src/parser_builder.rs:90-92) from an explicit ordering
    column. Single-partition window — dimension-scale only."""
    w = Window.orderBy(F.col(order_col).asc())
    return df.withColumn("rank", F.row_number().over(w) - F.lit(1))


def build_index_frames(gazetteer_df: DataFrame) -> dict[str, DataFrame]:
    """The build expressed as reusable DataFrames (each also exposed as a
    driver-contract query with a DuckDB oracle — see __spark_entry__).

    Returns dict with:
      entities:  entity_id, resolved_value, rank, tokens array<string>
      tokens:    token, token_id (first-appearance interning order)
      postings:  token_id, entity_ids array<bigint> (sorted)
      token_df:  token, n_entities (distinct-entity frequency)
    """
    # entity id = position in rank order (reference interning order,
    # src/parser_registry.rs:43-45: one fresh id per row). Tie-break on
    # (resolved_value, raw_value) so duplicate user-supplied ranks still get
    # a total order — entity ids (and hence interning, postings, same-span
    # tie resolution) must be deterministic across runs for idempotent
    # replay and lineage checksums.
    w_rank = Window.orderBy(
        F.col("rank").asc(), F.col("resolved_value").asc(), F.col("raw_value").asc()
    )
    entities = (
        gazetteer_df.withColumn("tokens", tokenize_udf(F.col("raw_value")))
        .where(F.size("tokens") > 0)  # empty-value filter (src/parser_registry.rs:39-41)
        .withColumn("entity_id", F.row_number().over(w_rank) - F.lit(1))
        .select("entity_id", "resolved_value", "rank", "tokens")
    )

    exploded = entities.select(
        "entity_id", F.posexplode("tokens").alias("pos", "token")
    )

    # interning order: first appearance scanning entities by rank, tokens by
    # position (reference: src/symbol_table.rs:17-27)
    first_seen = exploded.groupBy("token").agg(
        F.min(F.struct("entity_id", "pos")).alias("first_seen")
    )
    w_intern = Window.orderBy(F.col("first_seen").asc())
    tokens = first_seen.withColumn(
        "token_id", F.row_number().over(w_intern) - F.lit(1)
    ).select("token", "token_id")

    with_ids = exploded.join(tokens, "token")

    postings = with_ids.groupBy("token_id").agg(
        F.sort_array(F.collect_set("entity_id")).alias("entity_ids")
    )

    token_df = with_ids.groupBy("token", "token_id").agg(
        F.countDistinct("entity_id").alias("n_entities")
    )

    return {
        "entities": entities,
        "tokens": tokens,
        "postings": postings,
        "token_df": token_df,
    }


def stop_words_df(frames: dict[str, DataFrame], n_stop_words: int) -> DataFrame:
    """Top-n tokens by distinct-entity count; ties go to the earlier-interned
    token id (reference: src/parser_registry.rs:141-157)."""
    return (
        frames["token_df"]
        .orderBy(F.col("n_entities").desc(), F.col("token_id").asc())
        .limit(n_stop_words)
        .select("token", "token_id", "n_entities")
    )


def edge_cases_df(frames: dict[str, DataFrame], stop_words: DataFrame) -> DataFrame:
    """Entities all of whose tokens are stop words
    (reference: src/parser_registry.rs:159-166), via array_except == empty."""
    sw = stop_words.select(F.collect_list("token").alias("sw"))
    return (
        frames["entities"]
        .crossJoin(F.broadcast(sw))
        .where(F.size(F.array_except(F.array_distinct("tokens"), F.col("sw"))) == 0)
        .select("entity_id", "resolved_value", "rank")
    )


# below this, one collect + the sequential kernel build beats ~6 Spark jobs
# of window/UDF overhead; above it, the DataFrame build amortizes
SMALL_GAZETTEER_ROWS = 100_000


def build_registry_distributed(
    gazetteer_df: DataFrame,
    n_stop_words: int = 0,
    additional_stop_words: list[str] | None = None,
    small_gazetteer_rows: int = SMALL_GAZETTEER_ROWS,
) -> Registry:
    """Run the DataFrame build and assemble the (small) Registry on the
    driver. Must be bit-identical to the kernel's sequential build — pinned
    by tests/test_builder_job.py.

    Dimension-scale fast path: a gazetteer under ``small_gazetteer_rows`` is
    collected once and indexed by the sequential kernel build (the exact
    plan the reference uses, src/parser_builder.rs:90-105) — spending six
    Spark jobs of window/UDF fixed overhead to index a broadcast-sized
    dimension is the wrong physical plan. The DataFrame build below remains
    the path for 10^5+-row gazetteers; equality of the two is pinned in
    tests (pass ``small_gazetteer_rows=0`` to force the DataFrame path)."""
    if small_gazetteer_rows > 0:
        probe = (
            gazetteer_df.select("raw_value", "resolved_value", "rank")
            .limit(small_gazetteer_rows + 1)
            .collect()
        )
        if len(probe) <= small_gazetteer_rows:
            # mirror the DataFrame path exactly: NULL/whitespace-only
            # raw_value rows tokenize to [] and are filtered there
            # (F.size(tokens) > 0) — without this the probe path crashed on
            # inputs the big path silently accepts
            probe = [r for r in probe if r["raw_value"] and tokens_only(r["raw_value"])]
            # same total order as build_index_frames' entity-id window
            # (Spark asc = NULLS FIRST, hence null-safe keys for BOTH
            # nullable columns — a NULL rank must sort first, not raise)
            probe.sort(
                key=lambda r: (
                    (r["rank"] is not None, r["rank"] if r["rank"] is not None else 0),
                    (r["resolved_value"] is not None, r["resolved_value"] or ""),
                    r["raw_value"],
                )
            )
            reg = Registry()
            reg.extend(
                (tokens_only(r["raw_value"]), r["resolved_value"], r["rank"])
                for r in probe
            )
            reg.set_stop_words(n_stop_words, additional_stop_words)
            return reg

    frames = build_index_frames(gazetteer_df)

    # r6: persist the entities frame — BOTH driver reads below (and the
    # token-interning branch) otherwise re-execute the tokenize-UDF +
    # global-rank-window lineage from scratch (measured: the 150k-row bench
    # build ran it 4x); one materialization feeds every consumer, and the
    # boundary is dropped before returning
    entities = frames["entities"].persist()
    try:
        # Arrow transfer instead of row-by-row collect(): the two reads move
        # ~300k rows of strings/arrays to the driver, where the pickled-row
        # path was ~2x the remaining build cost
        ent_tbl = (
            entities.orderBy("entity_id")
            .select("resolved_value", "rank", "tokens")
            .toArrow()
        )
        tokens = (
            frames["tokens"].orderBy("token_id").select("token").toArrow()
            .column("token").combine_chunks()
        )
        # token ids are row positions (first-appearance order == kernel
        # interning order), so the entity-token CSR is the tokens list
        # column with each string replaced by its row in ``tokens``
        lists = ent_tbl.column("tokens").combine_chunks()
        offsets = lists.offsets.to_numpy()
        reg = Registry.from_columns(
            tokens,
            offsets - offsets[0],
            pc.index_in(lists.flatten(), value_set=tokens).to_numpy(),
            ent_tbl.column("rank").combine_chunks(),
            ent_tbl.column("resolved_value").combine_chunks(),
        )
    finally:
        entities.unpersist()
    reg.set_stop_words(n_stop_words, additional_stop_words)
    return reg


def build_parser_distributed(
    gazetteer_df: DataFrame,
    threshold: float = 1.0,
    n_stop_words: int = 0,
    additional_stop_words: list[str] | None = None,
) -> Parser:
    """Threshold validation mirrors the reference builder
    (reference: src/parser_builder.rs:83-88)."""
    if threshold < 0.0 or threshold > 1.0:
        raise ValueError(
            f"Invalid value for threshold ({threshold}), it must be between 0.0 and 1.0"
        )
    registry = build_registry_distributed(
        gazetteer_df, n_stop_words, additional_stop_words
    )
    return Parser(registry, threshold)


def broadcast_parser(spark: SparkSession, parser: Parser):
    """Ship the built parser to every executor. Broadcasts are immutable:
    injection/prepend publish a NEW broadcast and unpersist the old one
    (reference's full-rebuild injection, src/parser_registry.rs:199-254,
    maps exactly onto this)."""
    return spark.sparkContext.broadcast(parser)


def prepend_and_rebroadcast(
    spark: SparkSession,
    old_broadcast,
    new_values: list[tuple[str, str]],
):
    """Prepend values with rank rebasing (reference: src/parser.rs:108-116)
    and publish a fresh broadcast (broadcasts are immutable)."""
    import copy

    parser = copy.deepcopy(old_broadcast.value)
    parser.prepend_values(new_values)  # invalidates the parser's run caches
    old_broadcast.unpersist()
    return spark.sparkContext.broadcast(parser)


def inject_and_rebroadcast(
    spark: SparkSession,
    old_broadcast,
    new_values: list[tuple[str, str]],
    prepend: bool,
    from_vanilla: bool,
):
    """Injection as broadcast-rebuild (reference: src/parser.rs:156-168)."""
    new_parser = old_broadcast.value.inject_new_values(new_values, prepend, from_vanilla)
    old_broadcast.unpersist()
    return spark.sparkContext.broadcast(new_parser)
