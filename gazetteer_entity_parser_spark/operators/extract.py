"""Stage B: the corpus-scale mention-extraction operator.

One Arrow-batched ``mapInPandas`` stage runs the matching kernel over every
page (reference query path: src/parser.rs:146-149 lifted from one string to
10^12 rows; acts as a UDTF: 1 page -> N mentions). No row-at-a-time Python
UDFs anywhere (input_hint constraint).

Scale design (SURVEY.md §4.3 Stage B):
- project to (key, text) *before* the UDF boundary so Catalyst prunes the
  parquet/Iceberg scan (dropping ``html: binary`` is the single biggest I/O
  win at 100 TB);
- the operator inherits its input's partitioning; the caller repartitions
  (``run_pipeline`` hashes on its checkpoint bucket with no count, so AQE
  sizes the stage from its bytes and a bucket stays in one task);
- output frames are bounded by the session's Arrow batch cap, so a task
  that matches many pages never holds one giant frame;
- sentence splitting + fixed token windows bound per-kernel-call state, so a
  1 GB page costs many small kernel calls, not one quadratic one; mentions
  never span windows, and downstream triples are windowed anyway, so the
  chunking is semantics-preserving for the pipeline;
- the parser arrives via ``SparkContext.broadcast`` — probing the inverted
  index is a broadcast hash join chosen manually (SURVEY.md §4.1).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernel.parser import Parser
from ..kernel.tokenizer import tokenize
from .triples import merge_canonical_triples

MENTIONS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("sent_idx", T.IntegerType()),
        T.StructField("tok_idx", T.IntegerType()),  # doc-global token ordinal
        T.StructField("begin", T.IntegerType()),  # char offsets, doc-global
        T.StructField("end", T.IntegerType()),
        T.StructField("matched_value", T.StringType()),
        T.StructField("resolved", T.StringType()),
        T.StructField("raw_value", T.StringType()),
        T.StructField("entity_id", T.IntegerType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField(
            "alternatives",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("resolved", T.StringType()),
                        T.StructField("raw_value", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)

# sentence boundary: punctuation run followed by whitespace (or end)
_BOUNDARY_RE = re.compile(r"[.!?]+(?:\s+|$)")


def split_sentences(text: str) -> list[tuple[int, str]]:
    """[(char_offset, sentence_text)] — offsets into the original text so
    mention spans can be reported doc-globally."""
    out = []
    start = 0
    for m in _BOUNDARY_RE.finditer(text):
        out.append((start, text[start : m.end()]))
        start = m.end()
    if start < len(text):
        out.append((start, text[start:]))
    return out


def iter_windows(
    text: str, window_tokens: int | None
) -> Iterator[tuple[int, int, int, str, list[tuple[int, int, str]]]]:
    """The one window walker: yield (sent_idx, sent_off, base_tok, sentence,
    chunk) per kernel call.

    Sentences are regex-split and tokenized once; long sentences are cut
    every ``window_tokens`` tokens (None = no chunking). A chunk is a token
    slice with sentence-relative spans, handed to the kernel together with
    the whole sentence (no per-chunk text copy or span rebasing): spans slice
    ``sentence``, ``sent_off + span`` is doc-global, and ``base_tok + i`` is
    the doc-global ordinal of ``chunk[i]``. ``sent_idx`` and ``base_tok``
    advance per non-empty chunk.
    """
    sent_idx = 0
    base_tok = 0
    for sent_off, sent in split_sentences(text):
        toks = tokenize(sent)
        if not toks:
            continue
        if window_tokens is None or len(toks) <= window_tokens:
            chunks = (toks,)
        else:
            chunks = (toks[i : i + window_tokens] for i in range(0, len(toks), window_tokens))
        for chunk in chunks:
            yield sent_idx, sent_off, base_tok, sent, chunk
            sent_idx += 1
            base_tok += len(chunk)


# begin/end/tok_idx are int32 BY CONSTRUCTION, not by hope: a Spark/Arrow
# string cell is itself capped below 2^31 bytes (and chars <= bytes), so no
# representable document can overflow a char offset; a larger page must be
# pre-chunked upstream of the scan anyway.
def extract_mentions(
    docs: DataFrame,
    parser_broadcast,
    *,
    key_col: str = "url",
    text_col: str = "text",
    max_alternatives: int = 0,
    window_tokens: int | None = 10,
    columns: list[str] | None = None,
) -> DataFrame:
    """docs(key, text, ...) -> mentions DataFrame (MENTIONS_SCHEMA).

    One Python task runs per input partition, and each pays a fixed
    Python-worker start-up cost, so the caller should partition the pages
    no finer than the work needs (SCALING.md).

    ``columns`` projects the OUTPUT inside the UDF: Catalyst cannot push
    column pruning through a mapInPandas boundary, so a narrow consumer (the
    triples path needs only url/sent_idx/tok_idx/resolved/rank) would
    otherwise pay Arrow transfer and downstream bytes for columns it
    immediately drops. The kernel work is the same either way. Equality with
    full-output + .select() is pinned in tests/test_extract_spark.py.
    """
    pruned = docs.select(F.col(key_col).alias("url"), F.col(text_col).alias("text"))
    all_fields = [f.name for f in MENTIONS_SCHEMA.fields]
    if columns is None:
        cols = all_fields
        schema = MENTIONS_SCHEMA
    else:
        if not columns:
            # fail at the driver rather than inside the executor UDF
            raise ValueError(
                "columns must be None or a non-empty subset of MENTIONS_SCHEMA "
                f"fields {all_fields}"
            )
        unknown = set(columns) - set(all_fields)
        if unknown:
            raise ValueError(f"unknown mention columns: {sorted(unknown)}")
        cols = [c for c in all_fields if c in set(columns)]
        schema = T.StructType([MENTIONS_SCHEMA[c] for c in cols])

    # a frame is flushed once it reaches the session's Arrow batch cap
    # (checked after each window; 0 or less means no cap, as in Spark)
    frame_rows = int(
        docs.sparkSession.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    )
    if frame_rows <= 0:
        frame_rows = float("inf")

    def run_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        match = parser_broadcast.value.match
        k = max_alternatives
        for pdf in batches:
            # one list per MENTIONS_SCHEMA field, in schema order
            out = [[] for _ in all_fields]
            (o_url, o_sent, o_tok, o_beg, o_end, o_match,
             o_res, o_raw, o_ent, o_rank, o_alt) = out
            for url, text in zip(pdf["url"].values, pdf["text"].values):
                if not text:
                    continue
                for sent_idx, sent_off, base_tok, sent, chunk in iter_windows(
                    text, window_tokens
                ):
                    for ts, te, entries in match(chunk, k):
                        start = chunk[ts][0]
                        end = chunk[te - 1][1]
                        ev, rank, rv = entries[0]
                        o_url.append(url)
                        o_sent.append(sent_idx)
                        o_tok.append(base_tok + ts)
                        o_beg.append(sent_off + start)
                        o_end.append(sent_off + end)
                        o_match.append(sent[start:end])
                        o_res.append(rv.resolved)
                        o_raw.append(rv.raw_value)
                        o_ent.append(ev)
                        o_rank.append(rank)
                        o_alt.append(
                            [
                                {"resolved": a[2].resolved, "raw_value": a[2].raw_value}
                                for a in entries[1 : k + 1]
                            ]
                            if k
                            else ()
                        )
                    if len(o_url) >= frame_rows:
                        yield pd.DataFrame(dict(zip(all_fields, out)), columns=cols)
                        for o in out:
                            o.clear()
            if o_url:  # empty frames would carry float64 columns into Arrow
                yield pd.DataFrame(dict(zip(all_fields, out)), columns=cols)

    return pruned.mapInPandas(run_batches, schema)


TRIPLE_PARTIALS_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
        T.StructField("weight", T.LongType()),
        T.StructField("subj_rank", T.IntegerType()),
        T.StructField("obj_rank", T.IntegerType()),
    ]
)


def extract_triple_partials(
    docs: DataFrame,
    parser_broadcast,
    *,
    key_col: str = "url",
    text_col: str = "text",
    window_tokens: int | None = 10,
    pred: str = "co_occurs_with",
) -> DataFrame:
    """Fused Stage B+C fast path: mentions -> within-window ordered pairs ->
    PER-BATCH partial aggregation, all inside the one mapInPandas stage.

    Every document is processed whole within one Arrow batch, so every
    co-occurrence window is complete in-batch and pair generation needs no
    shuffle at all; each batch emits ~|distinct triples| partial rows instead
    of ~|mention pairs| raw rows. The only shuffle left in the whole
    mentions->canonical-triples path is the final (subj, pred, obj) rollup
    over tiny partials — at 10^12 documents this removes the 10^13-row pair
    shuffle entirely. Canonical equality with the grouped pair expansion is
    pinned in tests/test_triples_grouped.py.

    Callers: :func:`canonical_triples_fused` (the final rollup) and
    ``streaming.stream.start_triples_stream``, whose per-batch merge rolls
    up the partials of different tasks on the store bucket. Partials are
    one row per (subj, obj) and Arrow batch, so a key may repeat across
    tasks until one of those rollups runs.

    Use ``triples.cooccurrence_triples_grouped`` over extracted mentions when
    the raw triple table (url/sent_idx provenance) must be materialized.
    """
    pruned = docs.select(F.col(key_col).alias("url"), F.col(text_col).alias("text"))

    def run_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parser: Parser = parser_broadcast.value
        run_light = parser.run_light
        for pdf in batches:
            acc: dict[tuple[str, str], list] = {}
            for text in pdf["text"].values:
                if not text:
                    continue
                for _si, _off, _bt, sent, chunk in iter_windows(text, window_tokens):
                    ms = run_light(sent, tokens=chunk)
                    if len(ms) < 2:
                        continue
                    for i in range(len(ms) - 1):
                        s_res, s_rank = ms[i]
                        for j in range(i + 1, len(ms)):
                            o_res, o_rank = ms[j]
                            hit = acc.get((s_res, o_res))
                            if hit is None:
                                acc[(s_res, o_res)] = [1, s_rank, o_rank]
                            else:
                                hit[0] += 1
                                if s_rank < hit[1]:
                                    hit[1] = s_rank
                                if o_rank < hit[2]:
                                    hit[2] = o_rank
            if acc:
                yield pd.DataFrame(
                    {
                        "subj": [k[0] for k in acc],
                        "pred": pred,
                        "obj": [k[1] for k in acc],
                        "weight": [v[0] for v in acc.values()],
                        "subj_rank": [v[1] for v in acc.values()],
                        "obj_rank": [v[2] for v in acc.values()],
                    }
                )

    return pruned.mapInPandas(run_batches, TRIPLE_PARTIALS_SCHEMA)


def canonical_triples_fused(
    docs: DataFrame, parser_broadcast, **kwargs
) -> DataFrame:
    """Final rollup over the fused partials — one small shuffle total."""
    return merge_canonical_triples(
        extract_triple_partials(docs, parser_broadcast, **kwargs)
    )
