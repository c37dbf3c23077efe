"""Deterministic hash sampling and dataset splitting for training-data
pipelines.

Every pretraining run needs reproducible corpus subsampling (domain/source
mixture weighting a la CCNet/Llama data recipes) and stable
train/validation/test splits that survive re-runs, repartitioning, and
incremental ingest. Spark's ``df.sample`` is NOT that tool: it is
partition-RNG based, so the selected set changes with partitioning and
seed-plumbing, and it cannot be reproduced by another engine for a
correctness oracle.

These operators key every decision on ``md5(seed || US || key-columns)``:

- **pure map-side codegen** — a filter/CASE over a hash of the row's own
  key columns; NO shuffle, NO RNG state, NO driver coordination at any
  scale (the 100 TB plan is scan -> filter, full stop);
- **stable** — a document keeps its sample/split fate across re-runs,
  cluster sizes, and table layouts, because the fate is a pure function of
  (seed, key);
- **cross-engine exact** — md5 renders as lowercase hex in both Spark and
  DuckDB, and a fixed-length lowercase-hex string compares lexicographically
  exactly as the underlying 128-bit integer compares numerically, so the
  threshold test is portable SQL and the driver oracle replays it verbatim.

Threshold construction: ``fraction p`` maps to the 16-hex-digit prefix of
``floor(p * 16^16)`` (driver-side Python integer math, no float rounding
beyond one ulp of p itself); a row is kept iff its hash prefix is
lexicographically below the threshold. Uniformity comes from md5's output
distribution; the acceptance error vs the exact fraction is < 16^-16.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_US = "\x1f"  # unit separator: unambiguous multi-column key join
_HEX_DIGITS = 16  # compare on the first 64 bits of the md5


def _hex_threshold(fraction: float) -> str:
    """16-hex-digit threshold such that P[md5-prefix < threshold] ==
    fraction (to within 16^-16). Pure integer math; clamps to [0, 1]."""
    fraction = min(max(float(fraction), 0.0), 1.0)
    scaled = int(fraction * (1 << (4 * _HEX_DIGITS)))
    scaled = min(scaled, (1 << (4 * _HEX_DIGITS)))
    if scaled >= 1 << (4 * _HEX_DIGITS):
        return "g"  # lexicographically above every hex string: keep all
    return format(scaled, f"0{_HEX_DIGITS}x")


def _hash_prefix(key_cols: list[str], seed: int) -> Column:
    """First 16 hex chars of md5(seed || US || key...) — the row's uniform
    draw in [0, 1) as a fixed-width lowercase-hex string."""
    parts = [F.lit(str(int(seed)))] + [F.col(c).cast("string") for c in key_cols]
    return F.substring(F.md5(F.concat_ws(_US, *parts)), 1, _HEX_DIGITS)


def sample_hash(
    docs: DataFrame,
    fraction: float,
    key_cols: list[str] | tuple[str, ...] = ("doc_id",),
    seed: int = 0,
) -> DataFrame:
    """Keep ~``fraction`` of rows, deterministically by row key. All columns
    pass through. A row with a NULL key column hashes on the empty string
    (concat_ws skips NULLs) — deterministic like everything else, but give
    every row a real key if NULL keys are common."""
    return docs.where(_hash_prefix(list(key_cols), seed) < _hex_threshold(fraction))


def sample_stratified(
    docs: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "source",
    key_cols: list[str] | tuple[str, ...] = ("doc_id",),
    seed: int = 0,
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum sampling rates (the data-mixture recipe: 'keep 100% of
    wikipedia, 8% of common-crawl'): each stratum value gets its own
    threshold via a literal CASE chain (``rates`` is a recipe — tens of
    entries, never data-sized; for a data-sized rate table, join it and
    call :func:`sample_hash` per partition of the rate space instead).
    Unknown strata keep ``default_rate``. NULL strata fall to the default.
    Still a pure map-side filter."""
    u = _hash_prefix(list(key_cols), seed)
    thr = F.lit(_hex_threshold(default_rate))
    for value, rate in sorted(rates.items()):
        thr = F.when(F.col(stratum_col) == value, F.lit(_hex_threshold(rate))).otherwise(thr)
    return docs.where(u < thr)


def hash_split(
    docs: DataFrame,
    weights: dict[str, float],
    key_cols: list[str] | tuple[str, ...] = ("doc_id",),
    seed: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Assign every row a split label ('train'/'val'/'test'...) with the
    given weights — disjoint, exhaustive, stable across re-runs and
    engines. Weights must sum to ~1 (validated); labels are assigned by
    cumulative-weight intervals over the row's hash draw, in sorted label
    order so the mapping is independent of dict insertion order."""
    total = sum(weights.values())
    if not weights or abs(total - 1.0) > 1e-9:
        raise ValueError(
            f"hash_split weights must sum to 1.0 (got {total}); "
            "renormalize the recipe explicitly"
        )
    u = _hash_prefix(list(key_cols), seed)
    cum = 0.0
    expr = None
    labels = sorted(weights)
    for label in labels[:-1]:
        cum += weights[label]
        cond = u < F.lit(_hex_threshold(cum))
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    last = F.lit(labels[-1])
    expr = last if expr is None else expr.otherwise(last)
    return docs.withColumn(split_col, expr)


def pack_sequences(
    docs: DataFrame,
    budget_tokens: int = 2048,
    shard_chars: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 0,
) -> DataFrame:
    """Greedy contiguous sequence packing: assign every document to a
    training pack targeting ``budget_tokens`` whitespace tokens — the step
    between corpus curation and example writing in a pretraining pipeline
    (short docs are concatenated into one sequence to avoid padding waste).

    Deterministic and engine-portable: documents are ordered by their md5
    hash (a stable pseudo-random shuffle — no RNG state, independent of
    table partitioning, and it breaks up runs of same-length docs), sharded
    by the FIRST ``shard_chars`` hex digits of that hash (16^shard_chars
    shards — string shard ids, so no hex->int conversion that SQL dialects
    disagree on), and packed by a per-shard running token count:
    ``pack = floor((cumsum - n_tokens) / budget)`` — a doc joins the pack
    its STARTING offset falls in, so every pack except a shard's last holds
    budget +/- one document's tokens: a doc straddling a budget boundary
    overflows its own pack by < max-doc tokens and drifts the next pack's
    start past the boundary by the same amount (both bounds pinned in
    tests/test_sampling.py).

    Scale shape: ONE hash-keyed shuffle into 16^shard_chars independent
    window sorts (raise ``shard_chars`` until a shard fits a task — 4 hex
    chars = 65,536 shards); token counting and hashing are map-side
    codegen. Empty docs count 0 tokens and ride along in hash order.

    Output: original columns + (shard string, pack_id string 'shard-k',
    n_tokens int).
    """
    from pyspark.sql import Window

    if int(budget_tokens) <= 0:
        raise ValueError(
            f"budget_tokens must be positive (got {budget_tokens}); a zero "
            "budget would divide the running sum by zero and emit NULL pack "
            "ids for every row"
        )
    if not 1 <= int(shard_chars) <= 16:
        raise ValueError(
            f"shard_chars must be in [1, 16] (got {shard_chars}): the shard "
            "id is a prefix of a 16-hex-char hash, so >16 makes every shard "
            "a single document (packing silently disabled) and <=0 collapses "
            "everything into ONE global window sort — the skew trap sharding "
            "exists to avoid"
        )
    h = _hash_prefix([id_col], seed)
    # NULL text counts 0 tokens explicitly: size(NULL array) is NULL under
    # ANSI (and -1 legacy), either of which would poison the running sum
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    n_tok = F.when(F.col(text_col).isNull(), F.lit(0)).otherwise(F.size(toks))
    # id tiebreak: 64-bit hash-prefix ties are unreachable at test scale but
    # real at 10^10 rows, and a tie would make pack assignment nondeterministic
    w = (
        Window.partitionBy("_shard")
        .orderBy("_h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        docs.withColumn("_h", h)
        .withColumn("_shard", F.substring("_h", 1, shard_chars))
        .withColumn("n_tokens", n_tok)
        .withColumn("_cum", F.sum("n_tokens").over(w))
        .withColumn(
            "_pack",
            F.floor((F.col("_cum") - F.col("n_tokens")) / F.lit(int(budget_tokens))),
        )
    )
    return out.select(
        *docs.columns,
        F.col("_shard").alias("shard"),
        F.concat("_shard", F.lit("-"), F.col("_pack").cast("string")).alias("pack_id"),
        "n_tokens",
    )


def sample_key_sql(key_sql: str = "doc_id", seed: int = 0) -> str:
    """The DuckDB-portable form of :func:`_hash_prefix` over one key
    column: ``substring(md5(seed || US || key), 1, 16)``. The oracles build
    every hash-sampling, split and packing decision from it."""
    return (
        f"substring(md5('{int(seed)}' || chr(31) || CAST({key_sql} AS VARCHAR)), "
        f"1, {_HEX_DIGITS})"
    )


def sample_sql(
    fraction: float, key_sql: str = "doc_id", seed: int = 0
) -> str:
    """The DuckDB-portable predicate equivalent to :func:`sample_hash` —
    exposed so oracles (and any other engine) replay the identical
    decision: ``substring(md5(...), 1, 16) < '<threshold>'``."""
    return f"{sample_key_sql(key_sql, seed)} < '{_hex_threshold(fraction)}'"


def negative_triples(
    triples: DataFrame,
    n_neg: int = 2,
    corrupt: str = "obj",
) -> DataFrame:
    """KG-embedding training prep: deterministic negative sampling.
    For each positive (subj, pred, obj) and j in 0..n_neg-1, emit a
    corrupted copy whose ``corrupt`` endpoint is replaced by the entity
    at index H(subj,pred,obj,j) mod |V| in the NAME-ORDERED entity table
    — H is the first 8 hex chars of md5, so the "random" corruption is
    reproducible across epochs, partitionings, AND engines (DuckDB
    CAST('0x'||substr(md5(..),1,8) AS BIGINT) == Spark conv(substring(
    md5(..),1,8),16,10), probed cross-engine). Corruptions that collide
    with the true endpoint are dropped (the standard filtered-sampling
    contract), so a triple can yield fewer than n_neg negatives.

    Scale shape: the rank-indexed entity table is a |V|-sized dimension
    (one global window — entity vocabulary, not corpus, so this is a
    dimension build); |V| is folded in-plan via a broadcast 1-row count
    (no separate job); the expansion is an in-partition sequence explode;
    the index join is entity-dimension-sized and broadcastable.

    Output: (subj, pred, obj, neg_entity, neg_rank) — neg_entity is the
    replacement value for the ``corrupt`` role.
    """
    from pyspark.sql import Window

    if corrupt not in ("subj", "obj"):
        raise ValueError(f"corrupt must be 'subj' or 'obj', got {corrupt!r}")
    if n_neg < 1:
        raise ValueError(f"n_neg must be >= 1, got {n_neg}")
    ents = (
        triples.select(F.col("subj").alias("entity"))
        .unionByName(triples.select(F.col("obj").alias("entity")))
        .distinct()
    )
    w = Window.orderBy("entity")
    ents = ents.select(
        "entity", (F.row_number().over(w) - 1).cast("long").alias("_idx")
    )
    nn = ents.agg(F.count("*").alias("_n"))
    pos = triples.select("subj", "pred", "obj").withColumn(
        "neg_rank", F.explode(F.sequence(F.lit(0), F.lit(int(n_neg) - 1)))
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|", "subj", "pred", "obj", F.col("neg_rank").cast("string")
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return (
        pos.crossJoin(F.broadcast(nn))
        .withColumn("_idx", F.pmod(h, F.col("_n")))
        .join(F.broadcast(ents), "_idx")
        .where(F.col("entity") != F.col(corrupt))
        .select(
            "subj",
            "pred",
            "obj",
            F.col("entity").alias("neg_entity"),
            F.col("neg_rank").cast("int").alias("neg_rank"),
        )
    )
