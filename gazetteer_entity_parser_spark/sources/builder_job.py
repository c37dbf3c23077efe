"""Parser build: gazetteer DataFrame -> Registry -> broadcast.

The registry (:func:`build_registry_distributed`) is one Arrow collect of
the gazetteer, sorted into entity-id order, plus the kernel's bulk build
``Registry.extend`` — the reference's offline build over ordered rows
(reference: src/parser_builder.rs:82-101 + src/parser_registry.rs:38-65).
The registry is a broadcast dimension: it has to fit the driver and every
executor whole, so indexing it with Spark jobs would only ship the result
back to the driver.

:func:`build_index_frames`, :func:`stop_words_df` and :func:`edge_cases_df`
express the same build as DataFrames, per SURVEY.md §2.1. They back the
``kg_token_doc_frequency``, ``kg_stop_words_topn`` and ``kg_edge_cases``
queries, each checked against a DuckDB oracle, and tests pin them to the
kernel's registry:

- rank assignment: explicit ``rank`` column (DataFrames have no row order);
- tokenization: Arrow-batched pandas UDF around the kernel tokenizer (exact
  parity incl. unicode-whitespace semantics — cheaper and more faithful than
  approximating with ``F.split``);
- token interning: first-appearance order over (rank, position) — matches
  the reference's BTreeMap+counter interning scan order
  (reference: src/symbol_table.rs:17-27);
- stop words: top-n by distinct-entity count, ties to the earlier-interned
  token (Rust stable sort, reference: src/parser_registry.rs:141-157);
- edge cases: entities whose token set ⊆ stop words
  (reference: src/parser_registry.rs:159-166).

The built parser ships to executors with ``SparkContext.broadcast``; the
corpus-side scan never shuffles on gazetteer keys.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernel.registry import Registry, pylist
from ..kernel.parser import Parser
from ..kernel.tokenizer import tokens_only

GAZETTEER_SCHEMA = "raw_value string, resolved_value string, rank bigint"


@F.pandas_udf(T.ArrayType(T.StringType()))
def tokenize_udf(raw: pd.Series) -> pd.Series:
    """Kernel-exact tokenization, Arrow-batched (no per-row Python UDF)."""
    return raw.map(lambda s: tokens_only(s) if s is not None else [])


def build_index_frames(gazetteer_df: DataFrame) -> dict[str, DataFrame]:
    """The build expressed as reusable DataFrames (each also exposed as a
    driver-contract query with a DuckDB oracle — see __spark_entry__).

    Returns dict with:
      entities:  entity_id, resolved_value, rank, tokens array<string>
      tokens:    token, token_id (first-appearance interning order)
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

    token_df = exploded.join(tokens, "token").groupBy("token", "token_id").agg(
        F.countDistinct("entity_id").alias("n_entities")
    )

    return {
        "entities": entities,
        "tokens": tokens,
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


def build_registry_distributed(
    gazetteer_df: DataFrame,
    n_stop_words: int = 0,
    additional_stop_words: list[str] | None = None,
) -> Registry:
    """Collect the gazetteer once (Arrow) and index it on the driver with the
    kernel's sequential build — the reference's plan over ordered rows
    (src/parser_builder.rs:90-105). Must be bit-identical to
    ``ParserBuilder.build`` — pinned by tests/test_builder_job.py.

    The registry is broadcast whole, so it has to fit the driver anyway; a
    distributed build would only ship its output back here. Entity ids follow
    the total order (rank, resolved_value, raw_value) of
    :func:`build_index_frames`' entity-id window, NULLs first as in a Spark
    ascending sort, so duplicate user-supplied ranks still give
    deterministic ids (same-span tie-breaks, lineage checksums). NULL and
    whitespace-only raw values tokenize to ``[]``, which ``extend`` skips
    (src/parser_registry.rs:39-41)."""
    tbl = (
        gazetteer_df.select("raw_value", "resolved_value", "rank")
        .toArrow()
        .sort_by(
            [(c, "ascending") for c in ("rank", "resolved_value", "raw_value")],
            null_placement="at_start",
        )
    )
    reg = Registry()
    reg.extend(
        zip(
            [tokens_only(raw) if raw is not None else [] for raw in pylist(tbl["raw_value"])],
            pylist(tbl["resolved_value"]),
            pylist(tbl["rank"]),
        )
    )
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
