"""The registry built from a gazetteer DataFrame, and the index frames, must
equal the kernel's sequential build bit for bit (SURVEY.md §2.1 B6/B7/B9:
rank assignment, interning order, inverted index, stop words, edge cases)."""

import pytest

from gazetteer_entity_parser_spark.kernel import ParserBuilder
from gazetteer_entity_parser_spark.kernel.registry import Registry
from gazetteer_entity_parser_spark.kernel.tokenizer import tokens_only
from gazetteer_entity_parser_spark.sources.builder_job import (
    GAZETTEER_SCHEMA,
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
    assert build_registry_distributed(gaz_df) == kernel_registry()


def test_distributed_build_with_stop_words(spark, gaz_df):
    dist = build_registry_distributed(
        gaz_df, n_stop_words=2, additional_stop_words=["hello"]
    )
    assert dist == kernel_registry(n_stop_words=2, additional=["hello"])
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
    """NULL/whitespace raw_value rows tokenize to [] and are dropped, as the
    kernel drops empty values, instead of crashing on a None raw value."""
    rows = [("alpha beta", "A", 0), (None, "NULLROW", 1), ("  ", "WS", 2), ("gamma", "C", 3)]
    gaz = spark.createDataFrame(rows, GAZETTEER_SCHEMA)
    reg = build_registry_distributed(gaz, n_stop_words=1)
    kernel = Registry()
    kernel.extend([(["alpha", "beta"], "A", 0), (["gamma"], "C", 3)])
    kernel.set_stop_words(1)
    assert reg == kernel
    assert reg.resolved.to_pylist() == ["A", "C"]


def test_null_rank_rows_equal_on_both_build_paths(spark):
    """A NULL rank sorts first (Spark asc = NULLS FIRST) instead of raising
    TypeError on a None sort key."""
    rows = [("alpha beta", "A", 5), ("gamma delta", "B", None), ("zeta", "C", 1)]
    gaz = spark.createDataFrame(rows, GAZETTEER_SCHEMA)
    reg = build_registry_distributed(gaz)
    assert reg.resolved[0].as_py() == "B"
    assert reg.entity_rank.to_pylist() == [None, 1, 5]


# Duplicate ranks, a NULL rank, NULL and empty resolved values, mixed case,
# accents, a supplementary-plane character (UTF-16 order would put U+1D11E
# before U+FB01; Spark's and Arrow's byte order put it after), NULL and
# whitespace-only raw values; one raw value repeats a token.
ORDER_ROWS = [
    ("zeta", "Zeta", 2),
    ("eta", "zeta", 2),
    ("theta", "éclair", 2),
    ("iota", "eclair", 2),
    ("kappa", "Éclair", 2),
    ("lambda", "\U0001d11e clef", 2),
    ("mu", "\ufb01ne", 2),
    ("nu xi nu", "Dup", 1),
    ("omicron", "Dup", 1),
    ("Dup", "Dup", 1),
    ("pi", None, 1),
    ("rho", "", 1),
    ("sigma", None, 1),
    ("tau", "T", None),
    (None, "NullRaw", 0),
    ("  \t ", "Blank", 0),
    ("upsilon", "U", 0),
]


def test_entity_order_matches_spark_sort(spark):
    """Entity ids follow Spark's orderBy(rank, resolved_value, raw_value)
    over the rows that tokenize to something: same-span tie-breaks and the
    lineage checksums depend on this order."""
    gaz = spark.createDataFrame(ORDER_ROWS, GAZETTEER_SCHEMA)
    expected = [
        (r.resolved_value, r.rank, " ".join(tokens_only(r.raw_value)))
        for r in gaz.orderBy("rank", "resolved_value", "raw_value").collect()
        if r.raw_value is not None and tokens_only(r.raw_value)
    ]
    reg = build_registry_distributed(gaz)
    raws = [reg.get_resolved_value(ev)[1] for ev in range(len(reg.resolved))]
    assert list(zip(reg.resolved.to_pylist(), reg.entity_rank.to_pylist(), raws)) == expected


@pytest.mark.parametrize(
    "rows",
    [[(raw, res, rank) for rank, (raw, res) in enumerate(GAZ)], ORDER_ROWS],
    ids=["gaz", "rank_ties"],
)
def test_index_frames_match_kernel_registry(spark, rows):
    """The frames' entity ids, token ids and document frequencies equal the
    registry's: build_index_frames does not feed the registry, so nothing
    else ties the two."""
    gaz = spark.createDataFrame(rows, GAZETTEER_SCHEMA)
    frames = build_index_frames(gaz)
    reg = build_registry_distributed(gaz)
    token_strings = reg.tokens.to_pylist()

    ents = frames["entities"].orderBy("entity_id").collect()
    assert [r.entity_id for r in ents] == list(range(len(reg.resolved)))
    assert [(r.resolved_value, r.rank, list(r.tokens)) for r in ents] == [
        (res, rank, [token_strings[t] for t in toks])
        for res, rank, toks in zip(
            reg.resolved.to_pylist(), reg.entity_rank.to_pylist(), reg.entity_tokens
        )
    ]

    toks = frames["tokens"].orderBy("token_id").collect()
    assert [r.token_id for r in toks] == list(range(len(token_strings)))
    assert [r.token for r in toks] == token_strings

    freq = frames["token_df"].orderBy("token_id").collect()
    assert [(r.token_id, r.token, r.n_entities) for r in freq] == [
        (tid, tok, n)
        for tid, (tok, n) in enumerate(zip(token_strings, reg.postings.lengths().tolist()))
    ]
