"""Mirror of the driver's correctness gate: every oracle-backed query must
match DuckDB row-for-row (order-insensitive) on the same parquet tables."""

import hashlib
import json
import math

import duckdb
import pytest

from gazetteer_entity_parser_spark.plans.queries import ORACLES, QUERIES

SF = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def normalize(rows, columns):
    """Sort columns by name, then rows — the driver's comparison shape."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = round(v, 9) if not math.isnan(v) else "nan"
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return [c for _, c in sorted(zip(range(len(columns)), columns), key=lambda p: columns[p[0]])], out


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_duckdb_oracle(spark, ddb, name):
    sdf = QUERIES[name](spark, SF)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = ddb.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    s_cols, s_norm = normalize(spark_rows, spark_cols)
    d_cols, d_norm = normalize(duck_rows, duck_cols)

    assert s_cols == d_cols, f"{name}: column names differ: {s_cols} vs {d_cols}"
    assert len(s_norm) == len(d_norm), f"{name}: row counts {len(s_norm)} vs {len(d_norm)}"
    assert s_norm == d_norm, f"{name}: values differ; first spark={s_norm[:2]} duck={d_norm[:2]}"


def test_all_queries_run_and_return_rows(spark):
    """Queries without an oracle still must run and be non-trivial."""
    for name, fn in QUERIES.items():
        n = fn(spark, SF).count()
        assert n > 0, f"{name} returned 0 rows"


def test_oracle_sql_is_pinned():
    """The 81 oracles are the correctness contract, so their SQL must stay
    byte-identical. A deliberate oracle change updates this digest and
    records why in CHANGES.md."""
    assert len(ORACLES) == 81
    digest = hashlib.sha256(json.dumps(ORACLES, sort_keys=True).encode()).hexdigest()
    assert digest == "3ee619b78bcf4d82821bd58042ed732d3a846d8eaaedcccf6a97a452e9fe6626"


def test_dump_load_roundtrip_leaves_no_temp_dir(spark, tmp_path, monkeypatch):
    """kg_dump_load_roundtrip dumps the parser into a temporary directory
    and removes it once the parser is reloaded."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert QUERIES["kg_dump_load_roundtrip"](spark, SF).count() > 0
    assert list(tmp_path.iterdir()) == []
