"""Distributed index build must equal the kernel's sequential build bit for
bit (SURVEY.md §2.1 B6/B7/B9: rank assignment, interning order, inverted
index, stop words, edge cases)."""

import pytest

from gazetteer_entity_parser_spark.kernel import ParserBuilder
from gazetteer_entity_parser_spark.sources.builder_job import (
    build_index_frames,
    build_parser_distributed,
    build_registry_distributed,
    stop_words_df,
    edge_cases_df,
)
from gazetteer_entity_parser_spark.sources.gazetteer import literal_gazetteer

GAZ = [
    ("the flying stones", "The Flying Stones"),
    ("the rolling stones", "The Rolling Stones"),
    ("the stones rolling", "The Stones Rolling"),
    ("the stones", "The Stones"),
    ("blink one eight two", "Blink-182"),
    ("blink 182", "Blink-182"),
    ("  ", "Empty Value"),
    ("дра नमस्ते", "Unicode Band"),
]


@pytest.fixture(scope="module")
def gaz_df(spark):
    return literal_gazetteer(spark, GAZ)


def kernel_registry(n_stop_words=0, additional=None):
    b = ParserBuilder().set_gazetteer(GAZ)
    if n_stop_words:
        b = b.n_stop_words(n_stop_words)
    if additional:
        b = b.set_additional_stop_words(additional)
    return b.build().registry


def test_distributed_build_equals_kernel_build(spark, gaz_df):
    # force the DataFrame path so the distributed build itself stays pinned
    dist = build_registry_distributed(gaz_df, small_gazetteer_rows=0)
    assert dist == kernel_registry()
    # and the small-gazetteer collect fast path must be identical to both
    assert build_registry_distributed(gaz_df) == dist


def test_distributed_build_with_stop_words(spark, gaz_df):
    dist = build_registry_distributed(
        gaz_df, n_stop_words=2, additional_stop_words=["hello"], small_gazetteer_rows=0
    )
    ker = kernel_registry(n_stop_words=2, additional=["hello"])
    assert dist == ker
    assert (
        build_registry_distributed(gaz_df, n_stop_words=2, additional_stop_words=["hello"])
        == dist
    )
    assert dist.get_stop_words() == {"the", "stones", "hello"}
    assert dist.get_edge_cases() == {"The Stones"}


def test_stop_words_frame_tie_break(spark, gaz_df):
    frames = build_index_frames(gaz_df)
    top = stop_words_df(frames, 2).collect()
    assert [r["token"] for r in top] == ["the", "stones"]
    edges = edge_cases_df(frames, stop_words_df(frames, 2)).collect()
    assert {r["resolved_value"] for r in edges} == {"The Stones"}


def test_distributed_parser_runs_goldens(spark, gaz_df):
    parser = build_parser_distributed(
        gaz_df, threshold=0.5, n_stop_words=2, additional_stop_words=["hello"]
    )
    parser.set_threshold(0.6)
    parsed = parser.run("je veux écouter les the rolling", 5)
    assert [(p.matched_value, p.resolved_value.resolved) for p in parsed] == [
        ("the rolling", "The Rolling Stones")
    ]
    assert [a.resolved for a in parsed[0].alternatives] == ["The Stones Rolling"]


def test_distributed_build_rejects_bad_threshold(spark, gaz_df):
    with pytest.raises(ValueError):
        build_parser_distributed(gaz_df, threshold=1.2)


def test_null_raw_value_rows_equal_on_both_build_paths(spark):
    """NULL/whitespace raw_value rows are filtered by the DataFrame path
    (tokenize -> size > 0); the small-gazetteer probe path must filter them
    identically instead of crashing on a None sort key."""
    from gazetteer_entity_parser_spark.sources.builder_job import (
        build_registry_distributed,
    )

    rows = [("alpha beta", "A", 0), (None, "NULLROW", 1), ("  ", "WS", 2), ("gamma", "C", 3)]
    gaz = spark.createDataFrame(rows, "raw_value string, resolved_value string, rank bigint")
    fast = build_registry_distributed(gaz, n_stop_words=1)
    slow = build_registry_distributed(gaz, n_stop_words=1, small_gazetteer_rows=0)
    assert fast == slow
    assert fast.resolved.to_pylist() == ["A", "C"]


def test_null_rank_rows_equal_on_both_build_paths(spark):
    """A NULL rank sorts first on the DataFrame path (Spark asc = NULLS
    FIRST); the probe path must order identically instead of raising
    TypeError on a None sort key."""
    from gazetteer_entity_parser_spark.sources.builder_job import (
        build_registry_distributed,
    )

    rows = [("alpha beta", "A", 5), ("gamma delta", "B", None), ("zeta", "C", 1)]
    gaz = spark.createDataFrame(rows, "raw_value string, resolved_value string, rank bigint")
    fast = build_registry_distributed(gaz)
    slow = build_registry_distributed(gaz, small_gazetteer_rows=0)
    assert fast == slow
    assert fast.resolved[0].as_py() == "B"  # NULL rank first on both paths
