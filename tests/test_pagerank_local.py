"""r6: the adaptive small-graph pagerank path (``local_edge_cap``) must be
bit-identical to the distributed plan on the same input — full-row
(entity, rank_fp, score) equality across both dangling modes — and the
cap/type/NULL guards must fall through to the distributed path unchanged."""

from __future__ import annotations

import pytest

from gazetteer_entity_parser_spark.operators.graph import pagerank


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: (t[0] is None, t),
    )


def _schema(df):
    return [(f.name, f.dataType, f.nullable) for f in df.schema.fields]


GRAPHS = {
    "reference": [
        ("a", "b", 3), ("a", "c", 1), ("b", "c", 2), ("c", "a", 5),
        ("d", "c", 1), ("b", "e", 1),
    ],
    # duplicates + self-loop + dangling sinks, hash-derived
    "dense": [
        (f"n{i % 7}", f"n{(i * 5 + 2) % 9}", (i % 4) + 1) for i in range(40)
    ],
}


@pytest.mark.parametrize("graph", sorted(GRAPHS))
@pytest.mark.parametrize("dangling", [False, True])
def test_local_path_identical_to_distributed(spark, graph, dangling):
    df = spark.createDataFrame(
        GRAPHS[graph], "subj string, obj string, weight bigint"
    )
    local = pagerank(df, n_iter=7, redistribute_dangling=dangling)
    dist = pagerank(
        df, n_iter=7, redistribute_dangling=dangling, local_edge_cap=0
    )
    assert _schema(local) == _schema(dist)
    assert _rows(local) == _rows(dist)


@pytest.mark.parametrize("nullable", [(False, False), (False, True), (True, True)])
@pytest.mark.parametrize("dangling", [False, True])
def test_local_path_nullability_matches_distributed(spark, nullable, dangling):
    """Both paths declare the same nullability per column, whatever the
    endpoints' nullability and the dangling mode."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("subj", T.StringType(), nullable[0]),
        T.StructField("obj", T.StringType(), nullable[1]),
        T.StructField("weight", T.LongType(), False),
    ])
    df = spark.createDataFrame(GRAPHS["reference"], schema)
    local = pagerank(df, n_iter=3, redistribute_dangling=dangling)
    dist = pagerank(df, n_iter=3, redistribute_dangling=dangling, local_edge_cap=0)
    assert _schema(local) == _schema(dist)
    assert _rows(local) == _rows(dist)


def test_local_path_identical_at_default_iters(spark):
    df = spark.createDataFrame(
        GRAPHS["reference"], "subj string, obj string, weight bigint"
    )
    assert _rows(pagerank(df)) == _rows(pagerank(df, local_edge_cap=0))


def test_cap_guard_falls_back_to_distributed(spark):
    df = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 2), ("c", "a", 3), ("c", "b", 1)],
        "subj string, obj string, weight bigint",
    )
    assert _rows(pagerank(df, n_iter=3, local_edge_cap=3)) == _rows(
        pagerank(df, n_iter=3, local_edge_cap=0)
    )


def test_integer_entities_take_local_path_identically(spark):
    df = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 2), (3, 1, 1), (3, 3, 4)],
        "subj bigint, obj bigint, weight bigint",
    )
    assert _rows(pagerank(df, n_iter=5)) == _rows(
        pagerank(df, n_iter=5, local_edge_cap=0)
    )


@pytest.mark.parametrize("ent_type", ["int", "smallint", "tinyint"])
def test_narrow_integer_entities_take_local_path_identically(spark, ent_type):
    df = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 2), (3, 1, 1), (3, 3, 4), (4, 1, 3)],
        f"subj {ent_type}, obj {ent_type}, weight bigint",
    )
    local = pagerank(df, n_iter=5)
    assert _schema(local) == _schema(pagerank(df, n_iter=5, local_edge_cap=0))
    assert _rows(local) == _rows(pagerank(df, n_iter=5, local_edge_cap=0))


def test_empty_edge_set_identical(spark):
    df = spark.createDataFrame([], "subj string, obj string, weight bigint")
    local = pagerank(df, n_iter=3)
    assert _schema(local) == _schema(pagerank(df, n_iter=3, local_edge_cap=0))
    assert _rows(local) == _rows(pagerank(df, n_iter=3, local_edge_cap=0)) == []


def test_local_result_is_a_jvm_scan(spark):
    """The driver-local result goes back as an Arrow table: its RDD lineage
    holds no PythonRDD, so reading it starts no Python worker."""
    df = spark.createDataFrame(
        GRAPHS["reference"], "subj string, obj string, weight bigint"
    )
    lineage = pagerank(df)._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage


def test_null_endpoint_declines_local_path(spark):
    """NULL endpoints keep Spark's own join/distinct NULL semantics: the
    local path must decline, and the default-cap result must equal the
    forced-distributed one."""
    df = spark.createDataFrame(
        [("a", "b", 1), ("b", None, 2), ("b", "a", 1)],
        "subj string, obj string, weight bigint",
    )
    assert _rows(pagerank(df, n_iter=3)) == _rows(
        pagerank(df, n_iter=3, local_edge_cap=0)
    )


def test_mixed_endpoint_types_decline_local_path(spark):
    """src/dst of different column types coerce through unionByName in the
    distributed plan; the local path must decline rather than guess."""
    df = spark.createDataFrame(
        [("7", 8, 1), ("8", 7, 2)], "subj string, obj bigint, weight bigint"
    )
    assert _rows(pagerank(df, n_iter=2)) == _rows(
        pagerank(df, n_iter=2, local_edge_cap=0)
    )
