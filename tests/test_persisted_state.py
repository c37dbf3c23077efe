"""A long-lived session must not accumulate persisted frames: repeated
driver queries leave the set of persistent RDDs as they found it."""

import shutil

from gazetteer_entity_parser_spark.plans.queries import (
    q_kg_incremental_merge,
    q_kg_triples_raw,
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
