"""Spark-free measurement of the matching kernel on the driver.

Runs each match lane of ``kernel.parser.Parser`` single-threaded over the
same sentence windows the extraction operator would hand it, for a fixed
sample of the workload's own pages. This is the baseline of the matching
work without Arrow transport or the engine: compare a workload's pages/s
with ``kernel.run_tokens_per_s`` x cores.
"""

from __future__ import annotations

import pickle
import time

from gazetteer_entity_parser_spark.kernel.parser import Parser
from gazetteer_entity_parser_spark.kernel.tokenizer import tokenize
from gazetteer_entity_parser_spark.operators.extract import split_sentences


def windows(texts: list[str], window_tokens: int) -> list[tuple[str, list]]:
    """(sentence, token chunk) pairs, chunked every ``window_tokens`` tokens."""
    out = []
    for text in texts:
        for _off, sent in split_sentences(text):
            toks = tokenize(sent)
            for i in range(0, len(toks), window_tokens):
                out.append((sent, toks[i : i + window_tokens]))
    return out


def _timed(fn, min_seconds: float) -> float:
    """Seconds per call of ``fn``, repeated until ``min_seconds`` have passed;
    the fastest of the repetitions."""
    best, spent = float("inf"), 0.0
    while spent < min_seconds or best == float("inf"):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best, spent = min(best, dt), spent + dt
    return best


def probe(parser: Parser, texts: list[str], window_tokens: int,
          budget_s: float = 0.3) -> dict[str, float]:
    """Kernel and registry-shape numbers for ``parser`` over ``texts``; the
    full lane runs without alternatives, as the workloads' extraction does."""
    wins = windows(texts, window_tokens)
    n_tokens = sum(len(chunk) for _, chunk in wins) or 1
    sents = [s for t in texts for _, s in split_sentences(t)]

    def run_tokenize():
        for s in sents:
            tokenize(s)

    def run_full():
        for sent, chunk in wins:
            parser.run(sent, 0, tokens=chunk)

    def run_light():
        for sent, chunk in wins:
            parser.run_light(sent, tokens=chunk)

    def run_light_pos():
        for sent, chunk in wins:
            parser.run_light_pos(sent, tokens=chunk)

    n_mentions = sum(len(parser.run(sent, 0, tokens=chunk)) for sent, chunk in wins)
    blob = pickle.dumps(parser, protocol=pickle.HIGHEST_PROTOCOL)
    reg = parser.registry
    return {
        "kernel.tokenize_tokens_per_s": n_tokens / _timed(run_tokenize, budget_s),
        "kernel.run_tokens_per_s": n_tokens / _timed(run_full, budget_s),
        "kernel.run_light_tokens_per_s": n_tokens / _timed(run_light, budget_s),
        "kernel.run_light_pos_tokens_per_s": n_tokens / _timed(run_light_pos, budget_s),
        "kernel.mentions_per_window": n_mentions / max(1, len(wins)),
        "kernel.unpickle_s": _timed(lambda: pickle.loads(blob), budget_s / 3),
        "builder.entities": float(len(reg.resolved)),
        "builder.tokens": float(len(reg.token_ids)),
        "builder.max_postings": float(max((len(p) for p in reg.postings), default=0)),
        "builder.parser_bytes": float(len(blob)),
    }
