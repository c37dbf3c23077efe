"""Property-based kernel tests (hypothesis): structural invariants the
reference guarantees by construction, checked over randomized gazetteers and
inputs drawn from a tiny alphabet (maximizing collisions, stop-word overlap,
and reduction pressure)."""

from hypothesis import given, settings, strategies as st

from gazetteer_entity_parser_spark.kernel import Parser, ParserBuilder, tokenize

WORDS = ["a", "b", "c", "ab", "bc", "the", "x"]

gazetteers = st.lists(
    st.tuples(
        st.lists(st.sampled_from(WORDS), min_size=1, max_size=4).map(" ".join),
        st.sampled_from(["E1", "E2", "E3", "E4"]),
    ),
    min_size=1,
    max_size=8,
)
inputs = st.lists(st.sampled_from(WORDS + ["zz", "q"]), min_size=0, max_size=20).map(
    " ".join
)
thresholds = st.sampled_from([0.0, 0.3, 0.5, 2.0 / 3.0, 0.8, 1.0])
n_stops = st.sampled_from([0, 1, 2])


def build(gaz, threshold, n_stop_words):
    return (
        ParserBuilder()
        .set_gazetteer(gaz)
        .minimum_tokens_ratio(threshold)
        .n_stop_words(n_stop_words)
        .build()
    )


def _truncated(matches, max_alt):
    """Fast-path match() entries carry every posting; the general plan keeps
    the winner plus at most ``max_alt`` alternatives."""
    return [(s, e, entries[: max_alt + 1]) for s, e, entries in matches]


@settings(max_examples=300, deadline=None)
@given(gazetteers, inputs, thresholds, n_stops, st.sampled_from([0, 2, 5]))
def test_output_invariants(gaz, text, threshold, n_stop_words, max_alt):
    parser = build(gaz, threshold, n_stop_words)
    out = parser.run(text, max_alt)

    token_spans = [(s, e) for s, e, _t in tokenize(text)]
    starts = {s for s, _ in token_spans}
    ends = {e for _, e in token_spans}

    prev_end = -1
    for pv in out:
        begin, end = pv.range
        # sorted, non-overlapping (reference: src/data.rs:152-175, parser.rs:571)
        assert begin >= prev_end
        prev_end = end
        # spans lie on token boundaries and slice the input exactly
        assert begin in starts and end in ends
        assert text[begin:end] == pv.matched_value
        # every token in the emitted span belongs to the entry's token set
        entry_tokens = set(pv.resolved_value.raw_value.split(" "))
        for tok in pv.matched_value.split():
            assert tok in entry_tokens
        # alternatives bounded
        assert len(pv.alternatives) <= max_alt


@settings(max_examples=100, deadline=None)
@given(gazetteers, inputs, thresholds, n_stops)
def test_deterministic(gaz, text, threshold, n_stop_words):
    p1 = build(gaz, threshold, n_stop_words)
    p2 = build(gaz, threshold, n_stop_words)
    assert p1.run(text, 5) == p2.run(text, 5)


@settings(max_examples=100, deadline=None)
@given(gazetteers, inputs, thresholds, n_stops)
def test_round_trip_behavior_identical(gaz, text, threshold, n_stop_words):
    import shutil
    import tempfile

    from gazetteer_entity_parser_spark.kernel import dump_parser, load_parser

    parser = build(gaz, threshold, n_stop_words)
    folder = tempfile.mkdtemp() + "/p"
    try:
        dump_parser(parser, folder)
        reloaded = load_parser(folder)
        assert reloaded.run(text, 5) == parser.run(text, 5)
    finally:
        shutil.rmtree(folder, ignore_errors=True)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.tuples(st.sampled_from(WORDS), st.sampled_from(["E1", "E2", "E3"])),
             min_size=1, max_size=6),
    inputs,
    st.sampled_from([0, 1, 3]),
)
def test_fast_path_equals_general(gaz, text, max_alt):
    """Single-token gazetteers: dictionary fast path must equal the full
    machinery on arbitrary inputs."""
    parser = build(gaz, 1.0, 0)
    assert parser._single_token_lookup() is not None
    toks = tokenize(text)
    general = parser._parse_input(
        toks, parser._find_possible_matches(toks, parser.threshold, max_alt)
    )
    assert _truncated(parser.match(toks, max_alt), max_alt) == general


@settings(max_examples=200, deadline=None)
@given(st.integers(0, 50), st.integers(0, 50), st.floats(0, 1))
def test_check_threshold_matches_f32_reference(n, s, t):
    """n/(n+s) >= t evaluated in f32 — cross-check against exact rational
    comparison with f32 rounding applied the reference's way."""
    from struct import pack, unpack

    from gazetteer_entity_parser_spark.kernel import check_threshold, f32

    t32 = f32(t)
    if n + s == 0:
        assert check_threshold(n, s, t32) is False
        return
    ratio32 = unpack("<f", pack("<f", n / (n + s)))[0]
    assert check_threshold(n, s, t32) == (ratio32 >= t32)


def test_overlap_contract_explicit():
    """The reference's ParsedValue Ord PANICS on overlapping ranges
    (reference: src/data.rs:152-162) — i.e. emitted mentions are contractually
    non-overlapping and sorted. Pin that explicitly on adversarial
    overlapping-alias inputs (the property test covers random cases)."""
    gaz = [("a b", "AB"), ("b c", "BC"), ("c a", "CA"), ("b", "B_SOLO")]
    for threshold in (0.5, 2.0 / 3.0, 1.0):
        parser = build(gaz, threshold, 0)
        for text in ("a b c a b c", "b c a b", "a b b c c a", "b b b"):
            out = parser.run(text, 2)
            prev_end = -1
            for pv in out:
                begin, end = pv.range
                assert begin >= prev_end, (text, threshold, out)
                assert end > begin
                prev_end = end


le2_gazetteers = st.lists(
    st.tuples(
        st.lists(st.sampled_from(WORDS), min_size=1, max_size=2).map(" ".join),
        st.sampled_from(["E1", "E2", "E3", "E4"]),
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=300, deadline=None)
@given(
    le2_gazetteers,
    inputs,
    st.sampled_from([0.6, 2.0 / 3.0, 0.8, 1.0]),
    n_stops,
    st.sampled_from([0, 2, 5]),
)
def test_le2_equals_general_property(gaz, text, threshold, n_stop_words, max_alt):
    """Hypothesis twin of the randomized LE2 equivalence loop: shrinking
    gives a minimal counterexample if a future change breaks the closed-form
    derivation in _le2_lookup."""
    parser = build(gaz, threshold, n_stop_words)
    assert parser._le2_lookup() is not None or parser._single_token_lookup() is not None
    toks = tokenize(text)
    heap = parser._find_possible_matches(toks, parser.threshold, max_alt)
    want = parser._parse_input(toks, heap)
    assert _truncated(parser.match(toks, max_alt), max_alt) == want
    assert parser.run_light(text) == [(e[0][2].resolved, e[0][1]) for _s, _e, e in want]
