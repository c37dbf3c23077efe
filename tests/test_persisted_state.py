"""A long-lived session must not accumulate persisted frames: repeated
driver queries and streaming drains leave the set of persistent RDDs as they
found it."""

import shutil

from gazetteer_entity_parser_spark.plans.pipeline import docs_from_sf_dir
from gazetteer_entity_parser_spark.plans.queries import (
    q_kg_incremental_merge,
    q_kg_triples_raw,
)
from gazetteer_entity_parser_spark.sources.builder_job import (
    broadcast_parser,
    build_parser_distributed,
)
from gazetteer_entity_parser_spark.sources.gazetteer import vocabulary_gazetteer
from gazetteer_entity_parser_spark.streaming.stream import (
    read_webpage_stream,
    start_triples_stream,
)

SF = "/root/testdata/sf0.001"


def test_triples_queries_leave_no_persisted_frames(spark, tmp_path):
    # a private copy of the corpus: its plans cannot match a frame another
    # test already cached, so a leaked persist shows up as a new RDD id
    shutil.copy(f"{SF}/documents.parquet", tmp_path / "documents.parquet")
    sf_dir = str(tmp_path)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs())
    for _ in range(3):
        for query in (q_kg_triples_raw, q_kg_incremental_merge):
            assert query(spark, sf_dir).collect()
    # ids, not a count: the context cleaner may drop other tests' RDDs
    assert set(jsc.getPersistentRDDs()) - before == set()


def test_streaming_drains_leave_no_persisted_frames(spark, tmp_path):
    pages = docs_from_sf_dir(spark, SF).limit(30)
    input_dir = str(tmp_path / "pages_in")
    pages.repartition(2).write.parquet(input_dir)
    gaz = vocabulary_gazetteer(pages.select("text"), 20)
    parser_bc = broadcast_parser(spark, build_parser_distributed(gaz, threshold=1.0))
    store = str(tmp_path / "triples")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs())
    # three drains, each with its own checkpoint, so each re-merges every
    # file into the one store: the first into an absent store, the rest into
    # an existing one (the branch that persists its updates)
    for i in range(3):
        q = start_triples_stream(
            spark, read_webpage_stream(spark, input_dir, max_files=1),
            parser_bc, store, str(tmp_path / f"ckpt{i}"),
        )
        q.awaitTermination(120)
        assert q.exception() is None
    assert spark.read.parquet(store).count()
    assert set(jsc.getPersistentRDDs()) - before == set()


def test_query_cache_is_capped_and_releases_evictions(spark, tmp_path):
    """One application sweeping many corpora keeps at most the cache cap of
    entries, and an evicted triples frame is unpersisted."""
    from gazetteer_entity_parser_spark.plans import queries

    jsc = spark.sparkContext._jsc
    app = spark.sparkContext.applicationId
    dirs, rdd_ids = [], []
    try:
        for i in range(9):
            sf_dir = tmp_path / f"sf{i}"
            sf_dir.mkdir()
            shutil.copy(f"{SF}/documents.parquet", sf_dir / "documents.parquet")
            dirs.append(str(sf_dir))
            before = set(jsc.getPersistentRDDs())
            assert queries._canonical_triples_persisted(spark, str(sf_dir)).count()
            rdd_ids.append(set(jsc.getPersistentRDDs()) - before)
            assert len(queries._CACHE) <= queries._CACHE_CAP
        assert all(rdd_ids)
        evicted = [
            ids for d, ids in zip(dirs, rdd_ids)
            if (app, "triples", d) not in queries._CACHE
        ]
        assert evicted  # nine corpora need more entries than the cap
        live = set(jsc.getPersistentRDDs())
        assert all(not (ids & live) for ids in evicted)
    finally:
        for key in [k for k in queries._CACHE if k[2] in dirs]:
            queries._release(queries._CACHE.pop(key))
