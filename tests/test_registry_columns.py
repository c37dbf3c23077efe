"""The columnar registry as a broadcast: what a parser pickles, what
unpickling it costs, and that every match lane, the gazetteer inversion and
both mutation paths agree across a pickle round trip."""

import pickle
import random
import tracemalloc

import pytest

from gazetteer_entity_parser_spark.kernel import ParserBuilder

WORDS = [f"w{i}" for i in range(3000)]


def gazetteer(seed: int, n: int, sizes: tuple[int, ...]) -> list[tuple[str, str]]:
    """``n`` (raw, resolved) rows of ``sizes``-token names over a Zipf-ish
    vocabulary; about one row in ten is a second alias of an earlier name."""
    rng = random.Random(seed)
    weights = [1.0 / (i + 1) for i in range(len(WORDS))]
    rows = []
    for e in range(n):
        raw = " ".join(rng.choices(WORDS, weights, k=rng.choice(sizes)))
        alias = rng.randrange(e) if e and rng.random() < 0.1 else e
        rows.append((raw, f"E{alias}"))
    return rows


def pages(seed: int, n: int = 40) -> list[str]:
    rng = random.Random(seed)
    return [
        " ".join(rng.choices(WORDS[:400], k=rng.randint(5, 30))) + "."
        for _ in range(n)
    ]


LANES = {
    # lane: (token counts per name, threshold, stop words)
    "general": ((1, 2, 3, 4), 0.6, 8),
    "single_token": ((1,), 1.0, 0),
    "le2": ((1, 2), 0.8, 0),
}


def build(lane: str, n: int = 600, seed: int = 3):
    sizes, theta, n_stop = LANES[lane]
    return (
        ParserBuilder()
        .set_gazetteer(gazetteer(seed, n, sizes))
        .minimum_tokens_ratio(theta)
        .n_stop_words(n_stop)
        .set_additional_stop_words(["zzz"] if n_stop else [])
        .build()
    )


def assert_same(a, b, texts):
    assert a.registry == b.registry
    assert a.registry.get_entity_values(True) == b.registry.get_entity_values(True)
    assert a.registry.get_stop_words() == b.registry.get_stop_words()
    assert a.registry.get_edge_cases() == b.registry.get_edge_cases()
    for text in texts:
        for k in (0, 5):
            assert a.run(text, k) == b.run(text, k)
        assert a.run_light(text) == b.run_light(text)
        assert a.run_light_pos(text) == b.run_light_pos(text)


def roundtrip(parser):
    return pickle.loads(pickle.dumps(parser, protocol=pickle.HIGHEST_PROTOCOL))


@pytest.mark.parametrize("lane", sorted(LANES))
def test_roundtrip_agrees_across_mutations(lane):
    texts = pages(11)
    parser = build(lane)
    assert (parser._single_token_lookup() is not None) == (lane == "single_token")
    assert (parser._le2_lookup() is not None) == (lane != "general")
    assert sum(len(parser.run(t, 0)) for t in texts) > 0
    # a parser that has run (memos and fast-path tables filled) round-trips too
    copy = roundtrip(parser)
    assert_same(parser, copy, texts)

    new = [("w1 w2", "PRE"), ("w3", "PRE2"), ("fresh word", "NEW")]
    assert parser.prepend_values(new) == copy.prepend_values(new)
    assert_same(parser, copy, texts)
    assert_same(parser, roundtrip(parser), texts)

    values = [("w5 w6", "INJ"), ("  ", "EMPTY")]
    for prepend, from_vanilla in ((True, False), (False, True)):
        injected = parser.inject_new_values(values, prepend, from_vanilla)
        assert_same(injected, copy.inject_new_values(values, prepend, from_vanilla), texts)
        assert_same(injected, roundtrip(injected), texts)


@pytest.mark.parametrize("lane", sorted(LANES))
def test_pickled_bytes_unchanged_by_run(lane):
    """A broadcast ships the registry columns, threshold and license info
    only: running the parser on the driver first must not grow it."""
    parser = build(lane)
    blob = pickle.dumps(parser, protocol=pickle.HIGHEST_PROTOCOL)
    for text in pages(5):
        parser.run(text, 5)
        parser.run_light_pos(text)
    assert pickle.dumps(parser, protocol=pickle.HIGHEST_PROTOCOL) == blob


# The object registry (lists of lists, tuples, one Python int per id) peaked
# at about 370 traced bytes per entity when unpickling this parser; the
# columns (int32 CSR, Arrow strings) and the one rebuilt token dict take
# about 145.
UNPICKLE_PEAK_BYTES_PER_ENTITY = 185


def test_unpickle_peak_memory_per_entity():
    n = 20_000
    parser = (
        ParserBuilder()
        .set_gazetteer(gazetteer(7, n, (1, 2, 3, 4)))
        .minimum_tokens_ratio(0.6)
        .n_stop_words(8)
        .build()
    )
    blob = pickle.dumps(parser, protocol=pickle.HIGHEST_PROTOCOL)
    tracemalloc.start()
    try:
        copy = pickle.loads(blob)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert copy.registry == parser.registry
    assert peak / n < UNPICKLE_PEAK_BYTES_PER_ENTITY, f"{peak / n:.0f} B/entity"
