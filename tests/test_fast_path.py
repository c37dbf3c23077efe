"""The single-token dictionary fast path must be output-identical to the
general matching path, and must correctly refuse to engage when any
precondition fails (multi-token entries, stop words)."""

import random

from gazetteer_entity_parser_spark.kernel import Parser, ParserBuilder


def general_path(parser: Parser, text: str, max_alternatives: int):
    from gazetteer_entity_parser_spark.kernel import tokenize

    toks = tokenize(text)
    heap = parser._find_possible_matches(toks, parser.threshold, max_alternatives)
    matches = parser._parse_input(toks, heap)
    return parser._parsed_values(text, toks, matches, max_alternatives)


def test_fast_path_engages_and_matches_general():
    gaz = [(w, w.upper()) for w in ["alpha", "beta", "gamma", "delta"]]
    gaz.append(("alpha", "ALPHA_ALIAS"))  # multi-posting token
    parser = ParserBuilder().set_gazetteer(gaz).minimum_tokens_ratio(0.7).build()
    assert parser._single_token_lookup() is not None

    rng = random.Random(42)
    vocab = ["alpha", "beta", "gamma", "delta", "unknown", "zz", "éléphant"]
    for _ in range(50):
        text = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30)))
        for max_alt in (0, 1, 5):
            assert parser.run(text, max_alt) == general_path(parser, text, max_alt), text


def test_fast_path_alternatives_rank_order():
    gaz = [("x", "First"), ("x", "Second"), ("x", "Third")]
    parser = ParserBuilder().set_gazetteer(gaz).minimum_tokens_ratio(1.0).build()
    out = parser.run("x", 2)
    assert out[0].resolved_value.resolved == "First"
    assert [a.resolved for a in out[0].alternatives] == ["Second", "Third"]
    assert parser.run("x", 2) == general_path(parser, "x", 2)


def test_fast_path_disabled_for_multi_token():
    parser = (
        ParserBuilder()
        .set_gazetteer([("a b", "AB"), ("c", "C")])
        .minimum_tokens_ratio(0.5)
        .build()
    )
    assert parser._single_token_lookup() is None


def test_fast_path_disabled_with_stop_words():
    parser = (
        ParserBuilder()
        .set_gazetteer([("a", "A"), ("b", "B")])
        .minimum_tokens_ratio(0.5)
        .n_stop_words(1)
        .build()
    )
    assert parser._single_token_lookup() is None


def test_fast_path_unicode_offsets():
    parser = ParserBuilder().set_gazetteer([("дра", "DRA")]).minimum_tokens_ratio(1.0).build()
    out = parser.run("нет дра здесь", 0)
    assert [(p.range, p.matched_value) for p in out] == [((4, 7), "дра")]


def test_run_then_prepend_then_run_invalidates_fast_path():
    """Regression: prepend_values mutates the registry in place, so the
    lazily-built single-token table (and rank-tie outcomes) must be
    re-derived on the next run() — a stale table silently drops prepended
    values (reference supports prepend on a built parser, src/parser.rs:108-116)."""
    gaz = [(w, w.upper()) for w in ["apple", "pear"]]
    parser = ParserBuilder().set_gazetteer(gaz).minimum_tokens_ratio(1.0).build()

    # first run builds the fast-path table
    assert [p.resolved_value.resolved for p in parser.run("apple banana", 0)] == ["APPLE"]

    parser.prepend_values([("banana", "BANANA")])
    out = parser.run("apple banana", 0)
    assert [p.resolved_value.resolved for p in out] == ["APPLE", "BANANA"]

    # rank-0 prepend must now win every same-span tie against the old rank-0
    parser.prepend_values([("apple", "APPLE_OVERRIDE")])
    out = parser.run("apple", 0)
    assert [p.resolved_value.resolved for p in out] == ["APPLE_OVERRIDE"]
    # and the fast path (if engaged) still equals the general path
    assert parser.run("apple banana", 3) == general_path(parser, "apple banana", 3)


def test_set_threshold_rederives_fast_path_gate():
    parser = (
        ParserBuilder()
        .set_gazetteer([("a", "A"), ("b", "B")])
        .minimum_tokens_ratio(1.0)
        .build()
    )
    parser.run("a b", 0)
    assert parser._single_token_table is not None
    parser.set_threshold(0.5)
    assert parser._single_token_checked is False
    assert parser.run("a b", 0) == general_path(parser, "a b", 0)


# ------------------------------------------------------ le2 fast path


def test_le2_engages_for_bigram_gazetteer():
    gaz = [("a b", "AB"), ("c", "C")]
    parser = ParserBuilder().set_gazetteer(gaz).minimum_tokens_ratio(0.6).build()
    assert parser._single_token_lookup() is None
    assert parser._le2_lookup() is not None


def test_le2_refuses_low_threshold_and_long_entries():
    p1 = ParserBuilder().set_gazetteer([("a b", "AB")]).minimum_tokens_ratio(0.5).build()
    assert p1._le2_lookup() is None  # 1-of-2 partials survive at θ=0.5
    p2 = ParserBuilder().set_gazetteer([("a b c", "ABC")]).minimum_tokens_ratio(0.8).build()
    assert p2._le2_lookup() is None


def test_le2_matches_general_randomized():
    """Exhaustive-ish randomized equivalence: 1-2-token gazetteers over a
    tiny alphabet (repeated-token entities, stop words, additional stop
    words, shared tokens), θ > 0.5, all alternative counts."""
    rng = random.Random(1234)
    words = ["a", "b", "c", "d", "the"]
    for trial in range(60):
        n_entries = rng.randint(1, 7)
        gaz = []
        for e in range(n_entries):
            n_toks = rng.randint(1, 2)
            raw = " ".join(rng.choice(words) for _ in range(n_toks))
            gaz.append((raw, f"E{e}"))
        threshold = rng.choice([0.6, 0.75, 0.9, 1.0])
        n_stop = rng.choice([0, 1, 2])
        builder = (
            ParserBuilder()
            .set_gazetteer(gaz)
            .minimum_tokens_ratio(threshold)
            .n_stop_words(n_stop)
        )
        if rng.random() < 0.3:
            builder = builder.set_additional_stop_words(["the", "zz"])
        parser = builder.build()
        assert parser._le2_lookup() is not None, (gaz, threshold)
        for _ in range(25):
            text = " ".join(
                rng.choice(words + ["zz", "q"]) for _ in range(rng.randint(0, 14))
            )
            for max_alt in (0, 1, 5):
                got = parser.run(text, max_alt)
                want = general_path(parser, text, max_alt)
                assert got == want, (gaz, threshold, n_stop, text, max_alt, got, want)


def test_le2_repeated_token_entity_alternation():
    """(t, t) entities must alternate within equal-token runs exactly like
    the one-live-match scan (including the case where a losing overlapped
    pair must NOT resurrect a kernel-never-emitted candidate)."""
    gaz = [("x a", "XA"), ("a a", "AA")]  # XA rank 0 beats AA rank 1
    parser = ParserBuilder().set_gazetteer(gaz).minimum_tokens_ratio(0.6).build()
    for text in ("x a a a", "a a a a a", "x a a", "a a x a a"):
        assert parser.run(text, 0) == general_path(parser, text, 0), text


def test_run_light_matches_run_all_paths():
    """run_light must equal the (resolved, rank) projection of run() on the
    single-token, LE2, and general dispatch paths."""
    rng = random.Random(99)

    def check(parser, words, trials=40):
        for _ in range(trials):
            text = " ".join(rng.choice(words) for _ in range(rng.randint(0, 14)))
            want = [(pv.resolved_value.resolved, pv.rank) for pv in parser.run(text, 0)]
            assert parser.run_light(text) == want, (text, parser.threshold)

    words = ["a", "b", "c", "d", "zz"]
    # single-token path
    p1 = ParserBuilder().set_gazetteer(
        [("a", "A"), ("b", "B"), ("a", "A2")]
    ).minimum_tokens_ratio(1.0).build()
    assert p1._single_token_lookup() is not None
    check(p1, words)
    # LE2 path
    p2 = ParserBuilder().set_gazetteer(
        [("a b", "AB"), ("b", "B"), ("c c", "CC"), ("d", "D")]
    ).minimum_tokens_ratio(0.6).n_stop_words(1).build()
    assert p2._single_token_lookup() is None and p2._le2_lookup() is not None
    check(p2, words)
    # general path (3-token entry)
    p3 = ParserBuilder().set_gazetteer(
        [("a b c", "ABC"), ("b", "B")]
    ).minimum_tokens_ratio(0.5).build()
    assert p3._le2_lookup() is None
    check(p3, words)


def test_le2_gate_rederives_on_set_threshold():
    parser = ParserBuilder().set_gazetteer([("a b", "AB"), ("c", "C")]).minimum_tokens_ratio(0.8).build()
    assert parser._le2_lookup() is not None
    parser.set_threshold(0.4)  # 1-of-2 partials now survive: LE2 must refuse
    assert parser._le2_lookup() is None
    assert parser.run("a c b", 0) == general_path(parser, "a c b", 0)
    parser.set_threshold(0.9)
    assert parser._le2_lookup() is not None
    assert parser.run("a b c", 1) == general_path(parser, "a b c", 1)


def test_run_light_pos_matches_run_all_paths():
    """r6: run_light_pos must equal the (tok_range[0], resolved, rank)
    projection of run() on the single-token, LE2, and general dispatch
    paths (it is the pruned-column extraction fast lane)."""
    rng = random.Random(1234)

    def check(parser, words, trials=40):
        for _ in range(trials):
            text = " ".join(rng.choice(words) for _ in range(rng.randint(0, 14)))
            want = [
                (pv.tok_range[0], pv.resolved_value.resolved, pv.rank)
                for pv in parser.run(text, 0)
            ]
            assert parser.run_light_pos(text) == want, (text, parser.threshold)

    words = ["a", "b", "c", "d", "zz"]
    p1 = ParserBuilder().set_gazetteer(
        [("a", "A"), ("b", "B"), ("a", "A2")]
    ).minimum_tokens_ratio(1.0).build()
    assert p1._single_token_lookup() is not None
    check(p1, words)
    p2 = ParserBuilder().set_gazetteer(
        [("a b", "AB"), ("b", "B"), ("c c", "CC"), ("d", "D")]
    ).minimum_tokens_ratio(0.6).n_stop_words(1).build()
    assert p2._single_token_lookup() is None and p2._le2_lookup() is not None
    check(p2, words)
    p3 = ParserBuilder().set_gazetteer(
        [("a b c", "ABC"), ("b", "B")]
    ).minimum_tokens_ratio(0.5).build()
    assert p3._le2_lookup() is None
    check(p3, words)
