"""The general lane's candidate prefilter (``Parser._admit``) must be exact:
the pruned lane returns exactly what it returns when every entity is
admitted, over random gazetteers with stop words, edge cases and injected
values; and the bound it reads (``Parser._need``) is rebuilt whenever the
threshold or the registry changes."""

import pickle
import random

import numpy as np

from gazetteer_entity_parser_spark.kernel import Parser, ParserBuilder, tokenize

ALPHABET = ["a", "b", "c", "d", "e", "the", "of"]
RESOLVED = ["R0", "R1", "R2", "R3", "R4", "R5"]


def _name(rng):
    return " ".join(rng.choice(ALPHABET) for _ in range(rng.randint(1, 5)))


def _general(parser, toks, k):
    heap = parser._find_possible_matches(toks, parser.threshold, k)
    return parser._parse_input(toks, heap)


def _admit_all(self, token_ids):
    return set(range(len(self.registry.entity_tokens)))


def _random_parsers(rng, n):
    for _ in range(n):
        gaz = [(_name(rng), rng.choice(RESOLVED)) for _ in range(rng.randint(1, 12))]
        parser = (
            ParserBuilder()
            .set_gazetteer(gaz)
            .minimum_tokens_ratio(rng.choice([0.5, 0.6, 1.0]))
            .n_stop_words(rng.choice([0, 1, 2, 3]))
            .set_additional_stop_words(rng.choice([[], ["of"], ["the", "zz"]]))
            .build()
        )
        mutation = rng.randrange(3)
        new_values = [(_name(rng), rng.choice(RESOLVED)) for _ in range(rng.randint(1, 3))]
        if mutation == 1:
            parser = parser.inject_new_values(
                new_values, prepend=rng.random() < 0.5, from_vanilla=rng.random() < 0.5
            )
        elif mutation == 2:
            parser.prepend_values(new_values)
        yield parser


def test_pruned_equals_unpruned(monkeypatch):
    rng = random.Random(20260419)
    words = ALPHABET + ["zz", "q"]
    n_cases = n_pruned = n_matched = n_edge = 0
    for parser in _random_parsers(rng, 250):
        n_edge += bool(parser.registry.edge_cases)
        for _ in range(6):
            text = " ".join(rng.choice(words) for _ in range(rng.randint(0, 14)))
            toks = tokenize(text)
            ids = [parser.registry.token_ids.get(t[2]) for t in toks]
            ids = [v for v in ids if v is not None]
            touched = {e for v in ids for e in parser.registry.postings[v]}
            n_pruned += len(parser._admit(ids)) < len(touched)
            for k in (0, 5):
                got = _general(parser, toks, k)
                with monkeypatch.context() as m:
                    m.setattr(Parser, "_admit", _admit_all)
                    want = _general(parser, toks, k)
                assert got == want, (text, k, parser.threshold)
                n_cases += 1
                n_matched += bool(got)
    # the comparison is not vacuous: the filter drops candidates, matches
    # are found and edge cases occur
    assert n_cases == 3000
    assert n_pruned > 300 and n_matched > 600 and n_edge > 20


def _five_token_parser(threshold):
    return (
        ParserBuilder()
        .set_gazetteer([("a b c d e", "ABCDE"), ("c d", "CD")])
        .minimum_tokens_ratio(threshold)
        .build()
    )


def test_need_rebuilt_on_threshold_prepend_and_pickle():
    parser = _five_token_parser(1.0)
    assert parser._need.tolist() == [5, 2]
    assert [m[2][0][2].resolved for m in parser.match(tokenize("a b c d"))] == ["CD"]

    # a stale bound (built at θ=1.0) would drop the 4-of-5 partial match
    parser.set_threshold(0.5)
    assert parser._need.tolist() == [3, 1]
    assert [m[2][0][2].resolved for m in parser.match(tokenize("a b c d"))] == ["ABCDE"]

    parser.prepend_values([("e f g", "EFG")])
    assert parser._need.tolist() == [3, 1, 2]
    assert [m[2][0][2].resolved for m in parser.match(tokenize("x e f"))] == ["EFG"]

    state = pickle.dumps(parser)
    assert b"_need" not in state
    clone = pickle.loads(state)
    assert np.array_equal(clone._need, parser._need)
    assert clone.match(tokenize("a b c e f")) == parser.match(tokenize("a b c e f"))
