"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments, so the
same ``--seed`` always yields byte-identical inputs. Nothing here touches
Spark: inputs are built as Arrow tables on the driver and written as parquet
under the run's work directory.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

# The 30 words of the TPC-style ``documents`` corpus the repo's DuckDB
# oracles were written for: single-space word salad, every token a
# vocabulary word, 10-100 tokens per page.
SF_WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
SF_LANGS = ("en", "en", "zh", "es", "fr", "de")
WARC_EPOCH_S = 1_577_836_800  # 2020-01-01T00:00:00Z, as in sources.webpages


def sf_documents(seed: int, n_docs: int, replicas: int = 1) -> pa.Table:
    """``documents``-shaped table (doc_id, text, lang, source, n_chars).

    ``replicas`` repeats the same texts under fresh doc ids (and so fresh
    urls): every count-based oracle then scales by exactly ``replicas``.
    """
    rng = np.random.default_rng(seed)
    lengths = rng.integers(10, 101, size=n_docs)
    words = rng.integers(0, len(SF_WORDS), size=int(lengths.sum()))
    langs = rng.integers(0, len(SF_LANGS), size=n_docs)
    texts, pos = [], 0
    for n in lengths:
        texts.append(" ".join(SF_WORDS[w] for w in words[pos : pos + n]))
        pos += n
    doc_ids = np.arange(n_docs * replicas, dtype=np.int64)
    all_texts = texts * replicas
    return pa.table(
        {
            "doc_id": doc_ids,
            "text": all_texts,
            "lang": [SF_LANGS[i] for i in langs] * replicas,
            "source": [f"src{d % 20}" for d in doc_ids],
            "n_chars": pa.array([len(t) for t in all_texts], pa.int64()),
        }
    )


def webpages(pages: pa.Table) -> pa.Table:
    """(url, text) rows in the package's web-page schema (url, warc_ts, html,
    text, lang), as ``sources.webpages.webpages_from_documents`` derives it;
    ``warc_ts`` is the row number in seconds past 2020-01-01."""
    texts = pages.column("text").to_pylist()
    return pa.table(
        {
            "url": pages.column("url"),
            "warc_ts": pa.array(
                [(WARC_EPOCH_S + i) * 1_000_000 for i in range(len(texts))],
                pa.timestamp("us", "UTC"),
            ),
            "html": [f"<html><body>{t}</body></html>".encode() for t in texts],
            "text": texts,
            "lang": ["en"] * len(texts),
        }
    )


def _word(i: int) -> str:
    """Distinct lowercase word for vocabulary id ``i`` (base-26 spelling)."""
    out = []
    i += 26 * 27  # at least three letters
    while i:
        i, r = divmod(i, 26)
        out.append(chr(97 + r))
    return "".join(reversed(out))


def web_corpus(
    seed: int,
    n_pages: int,
    group: int,
    vocab: int = 50_000,
    zipf_s: float = 1.05,
    mean_tokens: int = 150,
) -> tuple[pa.Table, list[str]]:
    """Web-like pages: Zipfian words over ``vocab`` distinct words, punctuated
    sentences of 4-24 tokens, and log-normal (long-tailed) page lengths.

    Page lengths are rescaled so that every run of ``group`` consecutive
    pages holds ``group * mean_tokens`` tokens: the seed moves the shape of
    the corpus, not its size.

    Returns (pages with url/text, the vocabulary in frequency-rank order).
    """
    rng = np.random.default_rng(seed)
    words = [_word(i) for i in range(vocab)]
    p = 1.0 / np.arange(1, vocab + 1) ** zipf_s
    p /= p.sum()
    raw = rng.lognormal(0.0, 0.8, size=n_pages)
    lengths = np.zeros(n_pages, dtype=np.int64)
    for g in range(0, n_pages, group):
        share = raw[g : g + group] / raw[g : g + group].sum()
        target = mean_tokens * len(share)
        part = np.maximum(8, np.floor(share * target).astype(np.int64))
        part[np.argmax(part)] += target - part.sum()  # exact total per group
        lengths[g : g + group] = part
    draws = rng.choice(vocab, size=int(lengths.sum()), p=p)
    sent_lens = rng.integers(4, 25, size=int(lengths.sum()))
    enders = rng.choice([". ", "! ", "? "], size=int(lengths.sum()), p=[0.8, 0.1, 0.1])
    texts, pos, s = [], 0, 0
    for n in lengths:
        toks = [words[w] for w in draws[pos : pos + n]]
        pos += n
        parts, i = [], 0
        while i < n:
            k = int(sent_lens[s])
            parts.append(" ".join(toks[i : i + k]) + enders[s])
            s += 1
            i += k
        texts.append("".join(parts).rstrip())
    urls = [f"https://web.example/{seed}/{i}" for i in range(n_pages)]
    return pa.table({"url": urls, "text": texts}), words


def web_gazetteer(
    seed: int,
    words: list[str],
    n_entries: int,
    n_common: int = 64,
    common_share: float = 0.04,
    n_rare_skip: int = 2_000,
) -> pa.Table:
    """Gazetteer of ``n_entries`` names of 1-4 tokens (raw_value,
    resolved_value, rank).

    Name tokens are drawn uniformly from the rare tail of ``words`` (ranks at
    or above ``n_rare_skip``), except that each token is, with probability
    ``common_share``, one of the ``n_common`` most frequent words (multi-token
    names only). That bounds the longest posting list near ``n_entries * 2.2
    * common_share / n_common`` entities (about 150 at the defaults for 110k
    entries) while frequent page words still open multi-token candidates. A
    Zipfian draw for names instead gives one token tens of thousands of
    postings, which makes the kernel's partial matching quadratic.
    """
    rng = np.random.default_rng(seed + 7_919)
    n_tok = rng.choice([1, 2, 3, 4], size=n_entries, p=[0.3, 0.35, 0.2, 0.15])
    total = int(n_tok.sum())
    rare = rng.integers(n_rare_skip, len(words), size=total)
    common = rng.integers(0, n_common, size=total)
    # single-token names stay rare: a frequent word alone is never a name
    multi = np.repeat(n_tok > 1, n_tok)
    pick_common = multi & (rng.random(total) < common_share)
    ids = np.where(pick_common, common, rare)
    # a share of entities carry two aliases (same resolved value)
    alias_of = rng.integers(0, max(1, n_entries // 2), size=n_entries)
    is_alias = rng.random(n_entries) < 0.1
    raw, resolved, pos = [], [], 0
    for e, n in enumerate(n_tok):
        raw.append(" ".join(words[w] for w in ids[pos : pos + n]))
        pos += n
        resolved.append(f"E{alias_of[e] if is_alias[e] else e}")
    return pa.table(
        {
            "raw_value": raw,
            "resolved_value": resolved,
            "rank": pa.array(np.arange(n_entries), pa.int64()),
        }
    )

