"""Spark-parity: the mapInPandas extraction stage must emit exactly what the
kernel emits per document (SURVEY.md §5.2)."""

import pytest

from gazetteer_entity_parser_spark.kernel import ParserBuilder, tokenize
from gazetteer_entity_parser_spark.operators.extract import (
    extract_mentions,
    iter_windows,
    split_sentences,
)

GAZ = [
    ("king of pop", "Michael Jackson"),
    ("the rolling stones", "The Rolling Stones"),
    ("the crying stones", "The Crying Stones"),
    ("the fab four", "The Beatles"),
    ("queen of soul", "Aretha Franklin"),
]

DOCS = [
    ("u1", "My favourite artists are the stones and fab four"),
    ("u2", "the king of pop beats the queen of soul. the fab four beat the crying stones!"),
    ("u3", "nothing to see here"),
    ("u4", ""),
    ("u5", "дра नमस्ते the stones épatant"),
]


# one gazetteer per kernel plan: general (3-token entries), single-token
# (θ=1, no stop words) and LE2 (1-2-token entries, θ > 0.5)
SINGLE_TOKEN_GAZ = [
    ("stones", "Stones"),
    ("four", "Four"),
    ("stones", "Stones Alias"),
    ("the", "The"),
    ("дра", "DRA"),
    ("stones", "Stones Third"),
]
LE2_GAZ = [
    ("fab four", "The Beatles"),
    ("the stones", "The Stones"),
    ("stones", "Stones"),
    ("the stones", "Stones Alias"),
    ("king", "King"),
    ("four", "Four"),
]

LIGHT_COLUMNS = ["url", "sent_idx", "tok_idx", "resolved", "rank"]
FULL_COLUMNS = [
    "url", "sent_idx", "tok_idx", "begin", "end", "matched_value",
    "resolved", "raw_value", "entity_id", "rank", "alternatives",
]


def kernel_expected(parser, docs, window_tokens=None, max_alternatives=5):
    """Driver-side oracle on the walker's contract: each window is
    ``parser.run(sentence, k, tokens=chunk)`` with spans slicing the
    sentence."""
    from bisect import bisect_right

    rows = []
    for url, text in docs:
        if not text:
            continue
        for sent_idx, sent_off, base_tok, sent, chunk in iter_windows(text, window_tokens):
            starts = [s for s, _e, _t in chunk]
            for pv in parser.run(sent, max_alternatives, tokens=chunk):
                assert sent[pv.range[0] : pv.range[1]] == pv.matched_value
                rows.append(
                    (
                        url,
                        sent_idx,
                        base_tok + bisect_right(starts, pv.range[0]) - 1,
                        sent_off + pv.range[0],
                        sent_off + pv.range[1],
                        pv.matched_value,
                        pv.resolved_value.resolved,
                        pv.resolved_value.raw_value,
                        pv.entity,
                        pv.rank,
                        tuple((a.resolved, a.raw_value) for a in pv.alternatives),
                    )
                )
    return sorted(rows)


@pytest.fixture(scope="module")
def parser():
    return ParserBuilder().set_gazetteer(GAZ).minimum_tokens_ratio(2.0 / 3.0).build()


@pytest.fixture(scope="module")
def lane_parsers(parser):
    """(name, parser) for every kernel plan, each asserted to engage."""
    single = ParserBuilder().set_gazetteer(SINGLE_TOKEN_GAZ).minimum_tokens_ratio(1.0).build()
    assert single._single_token_lookup() is not None
    le2 = ParserBuilder().set_gazetteer(LE2_GAZ).minimum_tokens_ratio(0.6).build()
    assert le2._single_token_lookup() is None and le2._le2_lookup() is not None
    assert parser._single_token_lookup() is None and parser._le2_lookup() is None
    return [("general", parser), ("single_token", single), ("le2", le2)]


def spark_mentions(spark, parser, docs, window_tokens, max_alternatives=5, columns=None):
    bc = spark.sparkContext.broadcast(parser)
    df = spark.createDataFrame(docs, "url string, text string").repartition(4, "url")
    out = extract_mentions(
        df,
        bc,
        max_alternatives=max_alternatives,
        window_tokens=window_tokens,
        columns=columns,
    ).collect()
    rows = []
    for r in out:
        row = r.asDict()
        if "alternatives" in row:
            row["alternatives"] = tuple(
                (a["resolved"], a["raw_value"]) for a in row["alternatives"]
            )
        rows.append(tuple(row[c] for c in columns or FULL_COLUMNS))
    return sorted(rows)


def assert_extract_matches_kernel(spark, lane_parsers, window_tokens):
    """Every kernel plan x max_alternatives {0, 5} x {full schema, light
    projection} must emit exactly the kernel oracle's rows."""
    light_idx = [FULL_COLUMNS.index(c) for c in LIGHT_COLUMNS]
    for name, parser in lane_parsers:
        for k in (0, 5):
            want = kernel_expected(parser, DOCS, window_tokens, k)
            assert want, name
            got = spark_mentions(spark, parser, DOCS, window_tokens, k)
            assert got == want, (name, k)
            got_light = spark_mentions(spark, parser, DOCS, window_tokens, k, LIGHT_COLUMNS)
            assert got_light == sorted(tuple(r[i] for i in light_idx) for r in want), (name, k)


def test_extract_matches_kernel_no_windowing(spark, lane_parsers):
    assert_extract_matches_kernel(spark, lane_parsers, None)


def test_extract_matches_kernel_with_windows(spark, lane_parsers):
    assert_extract_matches_kernel(spark, lane_parsers, 4)


def test_small_arrow_cap_flushes_identical_rows(spark, parser):
    """The UDF flushes a frame whenever its rows reach the session's Arrow
    batch cap. Under a cap of 16 (many flushes per batch, and inside one
    long page) the rows equal those at the default cap, for every column
    and k in {0, 5}."""
    docs = [(f"{u}#{i}", t) for i in range(24) for u, t in DOCS]
    docs.append(("long", "the king of pop and the fab four. " * 40))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = spark.conf.get(key)
    for k in (0, 5):
        want = spark_mentions(spark, parser, docs, 4, k)
        assert len(want) > 16 * 8
        spark.conf.set(key, "16")
        try:
            got = spark_mentions(spark, parser, docs, 4, k)
        finally:
            spark.conf.set(key, default)
        assert got == want, k


def test_mention_offsets_slice_original_text(spark, parser):
    """Doc-global char offsets must slice the original text to the matched
    value (input_hint: byte-identical text per url)."""
    texts = dict(DOCS)
    bc = spark.sparkContext.broadcast(parser)
    df = spark.createDataFrame(DOCS, "url string, text string")
    for r in extract_mentions(df, bc, max_alternatives=0, window_tokens=10).collect():
        assert texts[r["url"]][r["begin"] : r["end"]] == r["matched_value"]


def test_split_sentences_offsets():
    text = "One two. Three four! Five"
    assert split_sentences(text) == [(0, "One two. "), (9, "Three four! "), (21, "Five")]
    # offsets slice back to the original
    for off, sent in split_sentences(text):
        assert text[off : off + len(sent)] == sent


def test_iter_windows_token_ordinals():
    text = "a b c d e f g. h i j"
    seen = []
    for sent_idx, sent_off, base_tok, sentence, chunk in iter_windows(text, 3):
        seen.append((sent_idx, base_tok, [t for _s, _e, t in chunk]))
        # sentence-relative spans slice the sentence, and sent_off + span
        # slices the document
        for s, e, t in chunk:
            assert sentence[s:e] == t
            assert text[sent_off + s : sent_off + e] == t
    assert seen == [
        (0, 0, ["a", "b", "c"]),
        (1, 3, ["d", "e", "f"]),
        (2, 6, ["g."]),
        (3, 7, ["h", "i", "j"]),
    ]


def test_extract_mentions_column_projection(spark):
    """columns= must equal full output + .select() (Catalyst cannot prune
    through the mapInPandas boundary, so the projection happens in the UDF)."""
    import pytest
    from pyspark.sql import functions as F

    from gazetteer_entity_parser_spark.plans.pipeline import docs_from_sf_dir
    from gazetteer_entity_parser_spark.sources.builder_job import (
        broadcast_parser,
        build_parser_distributed,
    )
    from gazetteer_entity_parser_spark.sources.gazetteer import alias_gazetteer

    docs = docs_from_sf_dir(spark, "/root/testdata/sf0.001").limit(40)
    gaz = alias_gazetteer(docs.select("text"), 20)
    bc = broadcast_parser(
        spark, build_parser_distributed(gaz, 0.6, 2, ["hello"])
    )
    narrow_cols = ["url", "sent_idx", "tok_idx", "resolved", "rank"]
    full = (
        extract_mentions(docs, bc, window_tokens=10)
        .select(*narrow_cols)
        .collect()
    )
    narrow = extract_mentions(docs, bc, window_tokens=10, columns=narrow_cols).collect()
    assert sorted(map(tuple, narrow)) == sorted(map(tuple, full))
    with pytest.raises(ValueError, match="unknown mention columns"):
        extract_mentions(docs, bc, columns=["nope"]).collect()
