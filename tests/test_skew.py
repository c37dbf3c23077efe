"""Skew handling: a giant page must flow through windowed extraction without
one task absorbing the whole document's quadratic cost, and salted
repartition must spread hot url prefixes."""

import inspect

import pytest
from pyspark.sql import functions as F

from gazetteer_entity_parser_spark.operators.extract import (
    extract_mentions,
    extract_triple_partials,
    iter_windows,
)
from gazetteer_entity_parser_spark.sources.builder_job import (
    broadcast_parser,
    build_parser_distributed,
    prepend_and_rebroadcast,
)
from gazetteer_entity_parser_spark.sources.gazetteer import literal_gazetteer


def _walks_windows(operator) -> bool:
    """True when ``operator``'s executor-side batch function iterates the
    shared window walker (a module global, so its name is in co_names)."""
    return any(
        inspect.iscode(c) and "iter_windows" in c.co_names
        for c in operator.__code__.co_consts
    )


def test_giant_page_windows_bound_kernel_calls():
    # the walker measured here is the one both extraction operators iterate
    assert _walks_windows(extract_mentions) and _walks_windows(extract_triple_partials)
    # 200k-token page -> 20k windows of <=10 tokens; per-call state is bounded
    text = " ".join("tok%d" % (i % 50) for i in range(200_000))
    windows = list(iter_windows(text, 10))
    assert len(windows) == 20_000
    assert all(len(chunk) <= 10 for _s, _o, _b, _sent, chunk in windows)
    # token ordinals are globally consecutive
    assert windows[-1][2] == 199_990


def test_giant_page_extraction(spark):
    gaz = literal_gazetteer(spark, [("tok1", "TOK1"), ("tok2 tok3", "TOK23")])
    bc = broadcast_parser(spark, build_parser_distributed(gaz, threshold=1.0))
    giant = " ".join("tok%d" % (i % 50) for i in range(100_000))
    docs = spark.createDataFrame(
        [("giant", giant)] + [(f"u{i}", "tok1 tok2 tok3") for i in range(50)],
        "url string, text string",
    )
    out = extract_mentions(docs.repartition(8, "url"), bc, window_tokens=10)
    counts = {r["url"]: r["cnt"] for r in out.groupBy("url").agg(F.count("*").alias("cnt")).collect()}
    assert counts["giant"] == 2000 + 2000  # tok1 every 50 tokens; tok2-tok3 pairs
    assert counts["u0"] == 2


def test_prepend_and_rebroadcast(spark):
    gaz = literal_gazetteer(spark, [("the stones", "Old Stones")])
    bc = broadcast_parser(spark, build_parser_distributed(gaz, threshold=1.0))
    bc2 = prepend_and_rebroadcast(spark, bc, [("the stones", "New Stones")])
    out = bc2.value.run("play the stones", 1)
    assert out[0].resolved_value.resolved == "New Stones"
    assert [a.resolved for a in out[0].alternatives] == ["Old Stones"]
    # ranks rebased: old entity now rank 1
    assert bc2.value.registry.entity_rank.to_pylist() == [1, 0]


def test_minhash_hot_bucket_chain_guard(spark):
    """Boilerplate skew: 100 byte-identical docs put ALL ids in one bucket per
    band. Over the cap the guard switches to chain pairing: O(bucket) pairs
    (consecutive ids), not O(bucket^2) — while keeping the dup cluster fully
    CONNECTED so min-id / connected-component dedup is unchanged."""
    from gazetteer_entity_parser_spark.operators.dedup import minhash_lsh_candidates

    docs = spark.createDataFrame(
        [(i, "exact same boilerplate page content repeated verbatim") for i in range(100)],
        "doc_id bigint, text string",
    )
    capped = minhash_lsh_candidates(docs, n_shingle=2, max_bucket_size=10).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in capped}
    # chain pairs only: (0,1), (1,2), ..., (98,99)
    assert pairs == {(i, i + 1) for i in range(99)}
    # connectivity: union-find over the chain joins all 100 docs
    parent = list(range(100))
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        parent[find(a)] = find(b)
    assert len({find(i) for i in range(100)}) == 1
    # below the cap the same corpus yields all O(n^2) pairs
    full = minhash_lsh_candidates(docs, n_shingle=2, max_bucket_size=1024).count()
    assert full == 100 * 99 // 2


def test_ngram_hot_shingle_df_guard(spark):
    """A boilerplate footer shared by every doc dominates Jaccard and floods
    the postings self-join. With max_shingle_df, boilerplate shingles leave
    the shingle universe: unrelated docs stop pairing, true near-dups (in
    their unique content) still pair."""
    from gazetteer_entity_parser_spark.operators.dedup import ngram_jaccard_pairs

    boiler = " ".join(f"footer{j}" for j in range(20))
    rows = [(i, f"unique{i}a unique{i}b unique{i}c " + boiler) for i in range(30)]
    rows.append((1000, "unique0a unique0b unique0c " + boiler))  # near-dup of 0
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    unguarded = ngram_jaccard_pairs(docs, n_shingle=2, threshold=0.5).count()
    assert unguarded == 31 * 30 // 2  # boilerplate makes EVERY pair "similar"

    guarded = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            docs, n_shingle=2, threshold=0.5, max_shingle_df=5
        ).collect()
    }
    assert guarded == {(0, 1000)}


def test_multi_megabyte_single_doc_extraction(spark):
    """Stage-B robustness (SURVEY.md 4.3): one ~3.4 MB document (500k tokens,
    no sentence breaks) must stream through the kernel window-by-window —
    the operator iterates the iter_windows generator, so per-window state is
    bounded regardless of document size, even with tiny Arrow batches."""
    # structural pin: extract_mentions walks windows through the generator,
    # so they are produced lazily, never materialized per doc
    assert inspect.isgeneratorfunction(iter_windows)
    assert _walks_windows(extract_mentions)

    gaz = literal_gazetteer(spark, [("tok1", "TOK1"), ("tok2 tok3", "TOK23")])
    bc = broadcast_parser(spark, build_parser_distributed(gaz, threshold=1.0))
    giant = " ".join("tok%d" % (i % 50) for i in range(500_000))
    assert len(giant) > 2_500_000  # multi-megabyte single row
    docs = spark.createDataFrame(
        [("giant", giant), ("small", "tok1 tok2 tok3")], "url string, text string"
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
    try:
        out = extract_mentions(docs, bc, window_tokens=10)
        counts = {
            r["url"]: r["cnt"]
            for r in out.groupBy("url").agg(F.count("*").alias("cnt")).collect()
        }
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    # tok1 once per 50-token cycle; the tok2-tok3 bigram likewise (never
    # split by a window: cycle positions 1,2 inside each 10-token window)
    assert counts["giant"] == 10_000 + 10_000
    assert counts["small"] == 2


def test_extract_empty_columns_list_raises_at_driver(spark):
    gaz = literal_gazetteer(spark, [("tok1", "TOK1")])
    bc = broadcast_parser(spark, build_parser_distributed(gaz, threshold=1.0))
    docs = spark.createDataFrame([("u", "tok1")], "url string, text string")
    with pytest.raises(ValueError, match="non-empty"):
        extract_mentions(docs, bc, columns=[])


def test_embedding_lsh_hot_bucket_chain_guard(spark):
    """Mass-duplicated vector (200 copies): the bucketed pair scan must emit
    O(copies) chain candidates, not O(copies^2) — and min-id dedup must
    still drop every copy except the most senior."""
    from pyspark.sql import functions as F

    from gazetteer_entity_parser_spark.operators.dedup import (
        embedding_near_dup_keepers,
    )
    from gazetteer_entity_parser_spark.operators.similarity import (
        cosine_similar_pairs_lsh,
    )

    base = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(200)]  # identical copies
    base += [(1000, [4.0, -3.0, 2.0, -1.0]), (1001, [-1.0, 5.0, -2.0, 0.5])]
    emb = spark.createDataFrame(base, "vec_id bigint, embedding array<float>")
    pairs = cosine_similar_pairs_lsh(
        emb, threshold=0.99, dim=4, max_bucket_size=10
    ).collect()
    # chain: <= (copies-1) * n_tables before distinct, == copies-1 after
    assert len(pairs) == 199
    assert all(r["cosine"] == 1.0 for r in pairs)
    kept = {
        r["vec_id"]
        for r in embedding_near_dup_keepers(
            emb, threshold=0.99, dim=4, max_bucket_size=10
        ).collect()
    }
    assert kept == {0, 1000, 1001}


def test_minhash_chain_orders_by_signature_not_id(spark):
    """Two dup clusters whose members interleave by id, under capped
    buckets: signature-ordered chaining keeps each cluster's members
    adjacent (equal signatures sort together), so verified pairs connect
    each cluster fully — every doc collapses to its cluster keeper."""
    from gazetteer_entity_parser_spark.operators.dedup import (
        minhash_lsh_dedup_pairs,
    )

    text_x = " ".join(f"xx{j}" for j in range(30))
    text_y = " ".join(f"yy{j}" for j in range(30))
    rows = []
    for i in range(40):  # interleave: even ids cluster X, odd ids cluster Y
        rows.append((i, text_x if i % 2 == 0 else text_y))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    verified = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_dedup_pairs(
            docs, n_shingle=2, threshold=0.9, max_bucket_size=5
        ).collect()
    }
    # union-find: each cluster must come out fully connected
    parent = {i: i for i in range(40)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in verified:
        parent[find(a)] = find(b)
    comps = {}
    for i in range(40):
        comps.setdefault(find(i), set()).add(i)
    assert sorted(len(c) for c in comps.values()) == [20, 20]
    assert all(len({i % 2 for i in c}) == 1 for c in comps.values())
