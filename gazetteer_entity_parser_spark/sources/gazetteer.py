"""Gazetteer sources: literal and corpus-derived.

The reference consumes an ordered ``Vec<EntityValue>``
(reference: src/data.rs:93-131); our engine consumes a DataFrame
``(raw_value string, resolved_value string, rank bigint)`` with the
popularity rank explicit (DataFrames have no row order).

For the sandbox corpus (word-salad ``documents`` table) we derive two
deterministic gazetteers:

- :func:`vocabulary_gazetteer`: the top-n corpus words, each its own entity
  (``resolved = upper(word)``), ranked by frequency then word. Single-token
  entities make kernel mentions == exact token matches, which keeps the whole
  mention/triple pipeline DuckDB-oracle-able end-to-end.
- :func:`alias_gazetteer`: adds multi-token aliases (word bigrams resolving
  to the head word's canonical form), exercising partial matching, rank
  disambiguation and stop words — verified against the kernel in pytest
  (not SQL-expressible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def literal_gazetteer(spark: SparkSession, rows: list[tuple[str, str]]) -> DataFrame:
    """reference: src/macros.rs:2-13 (gazetteer! literal) — rank = position."""
    return spark.createDataFrame(
        [(raw, res, i) for i, (raw, res) in enumerate(rows)],
        "raw_value string, resolved_value string, rank bigint",
    )


def corpus_words(docs: DataFrame) -> DataFrame:
    """(word, n_occurrences) over the single-space word-salad corpus. Uses
    plain ' '-split semantics so the DuckDB oracle can reproduce it exactly."""
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n_occurrences"))
    )


def vocabulary_gazetteer(docs: DataFrame, n_entities: int = 40) -> DataFrame:
    """Top-n corpus words as single-token entities, rank by popularity
    (frequency desc, word asc) — the reference's 'ordered by popularity'
    contract (reference: src/data.rs:93-99) made explicit."""
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("word").asc())
    return (
        corpus_words(docs)
        .withColumn("rank", F.row_number().over(w) - F.lit(1))
        .where(F.col("rank") < n_entities)
        .select(
            F.col("word").alias("raw_value"),
            F.upper(F.col("word")).alias("resolved_value"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def alias_gazetteer(docs: DataFrame, n_entities: int = 40) -> DataFrame:
    """Vocabulary gazetteer extended with two-token aliases: for each ranked
    word w_i (i < n/2), alias "w_i w_{i+1}" also resolves to upper(w_i) —
    multi-alias entities as in the reference's multi-raw-value golden
    (reference: src/parser.rs:863-920). Aliases are appended after all
    single-word entities, ranks continuing."""
    vocab = vocabulary_gazetteer(docs, n_entities)
    w_next = Window.orderBy("rank")
    bigrams = (
        vocab.withColumn("next_raw", F.lead("raw_value").over(w_next))
        .where(F.col("next_raw").isNotNull() & (F.col("rank") < n_entities // 2))
        .select(
            F.concat_ws(" ", "raw_value", "next_raw").alias("raw_value"),
            F.col("resolved_value"),
            (F.col("rank") + F.lit(n_entities)).cast("bigint").alias("rank"),
        )
    )
    return vocab.unionByName(bigrams)
