"""Physical-plan regression pins for the round-4/5 plan-defect fixes.

These lock the r4-verdict items in place: the failure mode they guard is
a silent re-introduction of a SECOND full kernel extraction (the most
expensive stage) into a plan that was fixed to run it once. The pins
count MapInPandas occurrences in the EXECUTED plan string — cached
subtrees print under InMemoryRelation/InMemoryTableScan, so the count
isolates how many times the extraction would actually execute.
"""

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_entity_degree_single_extraction(spark):
    """r4 verdict #1: kg_entity_degree must be the single-pass
    role-exploded aggregation — exactly ONE MapInPandas lineage, no
    full-outer join of two kernel runs."""
    from gazetteer_entity_parser_spark.plans.queries import q_kg_entity_degree

    df = q_kg_entity_degree(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    # when another test in the shared session has already warmed the
    # mentions/triples cache, the extraction lineage prints inside
    # InMemoryRelation and the live plan reads the cache instead — either
    # way the LIVE section must hold at most one extraction
    live = plan.split("InMemoryRelation", 1)[0]
    assert live.count("MapInPandas") <= 1, live[:2000]
    assert "FullOuter" not in plan


def test_triples_raw_single_extraction(spark):
    """kg_triples_raw is the grouped pair expansion: the kernel extraction
    runs once, and no join re-reads the mention stream."""
    from gazetteer_entity_parser_spark.plans.queries import q_kg_triples_raw

    df = q_kg_triples_raw(spark, "/root/testdata/sf0.001")
    live = _plan(df).split("InMemoryRelation", 1)[0]
    assert live.count("MapInPandas") <= 1, live[:2000]
    assert "Join" not in live, live[:2000]


def test_tfidf_is_single_job_no_separate_count(spark):
    """r4 verdict #5: N folds in-plan (broadcast 1-row count) — building
    the frame must not trigger any Spark job, and the plan carries the
    corpus count as a join, not a collected literal."""
    from gazetteer_entity_parser_spark.operators.text_analysis import tfidf_scores

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    df = tfidf_scores(docs.select("doc_id", "text"))
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before  # construction is job-free
    assert df.limit(1).count() >= 0  # and it executes


def test_graph_family_shares_one_cached_extraction(spark):
    """Round 5: every graph-analytics query draws from the app-cached
    canonical triples — after the first query materializes the cache, a
    second query's plan reads InMemoryTableScan and adds NO new
    MapInPandas outside the cached relation body."""
    from gazetteer_entity_parser_spark.plans.queries import (
        q_kg_edge_pmi,
        q_kg_entity_neighbors,
    )

    first = q_kg_edge_pmi(spark, "/root/testdata/sf0.001")
    first.collect()  # materialize the shared cache
    second = q_kg_entity_neighbors(spark, "/root/testdata/sf0.001")
    plan = _plan(second)
    live = plan.split("InMemoryRelation", 1)[0]
    assert "InMemoryTableScan" in plan
    assert "MapInPandas" not in live, live[:2000]


def test_pipeline_stage_b_lets_aqe_size_the_kernel_stage(spark, tmp_path, monkeypatch):
    """run_pipeline repartitions the pages on the bucket key with no count,
    so the Stage B exchange is REPARTITION_BY_COL (AQE may coalesce it to
    the partitions the bytes need), not a fixed REPARTITION_BY_NUM."""
    from pyspark.sql.readwriter import DataFrameWriter

    from gazetteer_entity_parser_spark.plans.pipeline import (
        PipelineConfig,
        docs_from_sf_dir,
        run_pipeline,
    )

    written = {}
    parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        written[path] = self._df
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    docs = docs_from_sf_dir(spark, "/root/testdata/sf0.001")
    res = run_pipeline(
        spark, docs, str(tmp_path), PipelineConfig(n_entities=20, n_buckets=8)
    )
    plan = _plan(written[res["mentions_path"]])
    assert "MapInPandas" in plan
    assert "REPARTITION_BY_COL" in plan, plan[:3000]
    assert "REPARTITION_BY_NUM" not in plan, plan[:3000]
