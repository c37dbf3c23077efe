"""r6: the adaptive small-graph triangle_counts path (``local_edge_cap``)
must be bit-identical to the distributed plan — full-row (entity, degree,
triangles, clustering) equality — and the cap/type guards must fall
through to the distributed path unchanged."""

from __future__ import annotations

import pytest

from gazetteer_entity_parser_spark.operators.graph import (
    _local_triangle_counts,
    triangle_counts,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _schema(df):
    return [(f.name, f.dataType, f.nullable) for f in df.schema.fields]


GRAPHS = {
    # two triangles sharing an edge + a pendant + a disconnected edge
    "shared_edge": [
        ("a", "b", 1), ("b", "c", 1), ("a", "c", 1),
        ("b", "d", 1), ("c", "d", 1), ("d", "e", 1), ("x", "y", 1),
    ],
    # duplicates, reversed duplicates and self-loops must collapse/drop
    "messy": [
        ("a", "b", 1), ("b", "a", 2), ("a", "b", 3), ("c", "c", 1),
        ("b", "c", 1), ("a", "c", 1), ("c", "a", 1),
    ],
    # hash-derived denser graph
    "dense": [
        (f"n{i % 9}", f"n{(i * 5 + 2) % 11}", 1) for i in range(50)
    ],
}


@pytest.mark.parametrize("graph", sorted(GRAPHS))
def test_local_path_identical_to_distributed(spark, graph):
    df = spark.createDataFrame(
        GRAPHS[graph], "subj string, obj string, weight bigint"
    )
    local = triangle_counts(df)
    assert _schema(local) == _schema(triangle_counts(df, local_edge_cap=0))
    assert _rows(local) == _rows(triangle_counts(df, local_edge_cap=0))


@pytest.mark.parametrize("nullable", [(False, False), (False, True), (True, True)])
def test_local_path_nullability_matches_distributed(spark, nullable):
    """Both paths declare the same nullability per column, whatever the
    endpoints' nullability."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("subj", T.StringType(), nullable[0]),
        T.StructField("obj", T.StringType(), nullable[1]),
        T.StructField("weight", T.LongType(), False),
    ])
    df = spark.createDataFrame(GRAPHS["shared_edge"], schema)
    local = triangle_counts(df)
    assert _schema(local) == _schema(triangle_counts(df, local_edge_cap=0))
    assert _rows(local) == _rows(triangle_counts(df, local_edge_cap=0))


def test_null_endpoints_drop_identically(spark):
    df = spark.createDataFrame(
        [("a", "b", 1), ("b", None, 1), (None, "a", 1), ("b", "c", 1),
         ("a", "c", 1)],
        "subj string, obj string, weight bigint",
    )
    assert _rows(triangle_counts(df)) == _rows(
        triangle_counts(df, local_edge_cap=0)
    )


def test_cap_guard_falls_back_to_distributed(spark):
    df = spark.createDataFrame(
        GRAPHS["shared_edge"], "subj string, obj string, weight bigint"
    )
    assert _rows(triangle_counts(df, local_edge_cap=3)) == _rows(
        triangle_counts(df, local_edge_cap=0)
    )


def test_integer_entities_take_local_path_identically(spark):
    df = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 1, 1), (3, 4, 1)],
        "subj bigint, obj bigint, weight bigint",
    )
    assert _rows(triangle_counts(df)) == _rows(
        triangle_counts(df, local_edge_cap=0)
    )


@pytest.mark.parametrize("ent_type", ["int", "smallint", "tinyint"])
def test_narrow_integer_entities_take_local_path_identically(spark, ent_type):
    df = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 1, 1), (3, 4, 1), (4, 4, 1)],
        f"subj {ent_type}, obj {ent_type}, weight bigint",
    )
    local = triangle_counts(df)
    assert _schema(local) == _schema(triangle_counts(df, local_edge_cap=0))
    assert _rows(local) == _rows(triangle_counts(df, local_edge_cap=0))


def test_empty_edge_set_identical(spark):
    df = spark.createDataFrame([], "subj string, obj string, weight bigint")
    local = triangle_counts(df)
    assert _schema(local) == _schema(triangle_counts(df, local_edge_cap=0))
    assert _rows(local) == _rows(triangle_counts(df, local_edge_cap=0)) == []


def test_local_result_is_a_jvm_scan(spark):
    """The driver-local result goes back as an Arrow table: its RDD lineage
    holds no PythonRDD, so reading it starts no Python worker."""
    df = spark.createDataFrame(
        GRAPHS["shared_edge"], "subj string, obj string, weight bigint"
    )
    lineage = triangle_counts(df)._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage


def test_mixed_endpoint_types_decline_local_path(spark):
    """Mixed src/dst types were never supported by this operator (least()
    rejects them at analysis); the local-path guard must decline so the
    SAME AnalysisException still surfaces."""
    from pyspark.errors.exceptions.captured import AnalysisException

    df = spark.createDataFrame(
        [("7", 8, 1), ("8", 7, 1), ("9", 7, 1), ("9", 8, 1)],
        "subj string, obj bigint, weight bigint",
    )
    with pytest.raises(AnalysisException):
        triangle_counts(df, local_edge_cap=10).collect()
    with pytest.raises(AnalysisException):
        triangle_counts(df, local_edge_cap=0).collect()


def test_local_counter_on_known_graph():
    """Pure-python sanity pin: K4 has 4 triangles, every vertex in 3."""
    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    got = _local_triangle_counts(k4)
    assert got == [("a", 3, 3), ("b", 3, 3), ("c", 3, 3), ("d", 3, 3)]
