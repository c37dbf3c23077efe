"""Pipeline E2E on sf0.001: triples P/R vs the kernel-derived oracle must be
1.0 (north_rule: ≥0.95), text stays byte-identical per url, and checkpoint
replay is idempotent."""

import shutil

import pytest
from pyspark.sql import functions as F

from gazetteer_entity_parser_spark.kernel import Parser
from gazetteer_entity_parser_spark.operators.extract import iter_windows
from gazetteer_entity_parser_spark.plans.pipeline import (
    PipelineConfig,
    docs_from_sf_dir,
    replay_buckets,
    run_pipeline,
)

CFG = PipelineConfig(n_entities=20, threshold=1.0, window_tokens=10, n_buckets=8)


@pytest.fixture(scope="module")
def result(spark, sf_smoke, tmp_path_factory):
    workdir = str(tmp_path_factory.mktemp("pipeline"))
    docs = docs_from_sf_dir(spark, sf_smoke)
    return run_pipeline(spark, docs, workdir, CFG), docs, workdir


def kernel_triples(parser: Parser, pages, window_tokens):
    """Driver-side oracle: kernel mentions -> within-window ordered pairs."""
    expected = {}
    for url, text in pages:
        for sent_idx, _off, base_tok, sentence, chunk in iter_windows(text, window_tokens):
            from bisect import bisect_right

            starts = [s for s, _e, _t in chunk]
            ms = [
                (base_tok + bisect_right(starts, pv.range[0]) - 1, pv.resolved_value.resolved)
                for pv in parser.run(sentence, 0, tokens=chunk)
            ]
            ms.sort()
            for i in range(len(ms)):
                for j in range(i + 1, len(ms)):
                    key = (ms[i][1], "co_occurs_with", ms[j][1])
                    expected[key] = expected.get(key, 0) + 1
    return expected


def test_triples_match_kernel_oracle(spark, result):
    res, docs, _ = result
    pages = [(r["url"], r["text"]) for r in docs.select("url", "text").collect()]
    expected = kernel_triples(res["parser"], pages, CFG.window_tokens)

    actual = {
        (r["subj"], r["pred"], r["obj"]): r["weight"] for r in res["triples"].collect()
    }
    # P/R both 1.0: exact dict equality including weights
    assert actual == expected
    assert len(actual) > 0


def test_triples_store_one_file_per_bucket(result):
    """Stage D clusters its write on bucket: each bucket dir of the triples
    store holds exactly one parquet file."""
    import os

    res, _docs, _ = result
    store = os.path.realpath(res["triples_path"])
    buckets = [e for e in os.listdir(store) if e.startswith("bucket=")]
    assert buckets
    for b in buckets:
        files = [f for f in os.listdir(os.path.join(store, b)) if f.endswith(".parquet")]
        assert len(files) == 1, (b, files)


def test_mention_checkpoint_one_file_per_bucket(result):
    """Stage B repartitions on the bucket (AQE picks the task count), so
    every bucket is written by one task: each ``bucket=K`` dir of the
    mention checkpoint holds exactly one parquet file."""
    import os

    res, _docs, _ = result
    buckets = [e for e in os.listdir(res["mentions_path"]) if e.startswith("bucket=")]
    assert buckets
    for b in buckets:
        path = os.path.join(res["mentions_path"], b)
        files = [f for f in os.listdir(path) if f.endswith(".parquet")]
        assert len(files) == 1, (b, files)


def test_text_byte_identical_per_url(spark, result, sf_smoke):
    _res, docs, _ = result
    raw = spark.read.parquet(f"{sf_smoke}/documents.parquet").select(
        F.concat(F.lit("https://example.org/"), "source", F.lit("/"), "doc_id").alias("url"),
        F.col("text").alias("orig"),
    )
    joined = docs.join(raw, "url")
    assert joined.where(F.col("text") != F.col("orig")).count() == 0
    assert joined.count() == docs.count()


def test_mentions_slice_text(spark, result):
    res, docs, _ = result
    texts = {r["url"]: r["text"] for r in docs.select("url", "text").collect()}
    for r in res["mentions"].collect():
        assert texts[r["url"]][r["begin"] : r["end"]] == r["matched_value"]


def test_lineage_covers_all_buckets(spark, result):
    res, _docs, _ = result
    lineage = spark.read.parquet(res["lineage_path"]).collect()
    mention_rows = [r for r in lineage if r["stage"] == "mentions"]
    triple_rows = [r for r in lineage if r["stage"] == "triples"]
    assert sum(r["output_rows"] for r in mention_rows) == res["mentions"].count()
    assert len(triple_rows) > 0  # stage-C lineage present per bucket
    assert {r["stage"] for r in lineage} == {"mentions", "triples"}


def test_checkpoint_replay_idempotent(spark, result):
    res, docs, workdir = result
    mentions_before = sorted(
        map(tuple, res["mentions"].drop("alternatives").collect())
    )
    lineage_before = sorted(
        map(
            tuple,
            spark.read.parquet(res["lineage_path"])
            .where(F.col("stage") == "mentions")
            .collect(),
        )
    )

    # destroy one bucket's checkpoint, then replay just that bucket
    shutil.rmtree(f"{res['mentions_path']}/bucket=3")
    assert spark.read.parquet(res["mentions_path"]).count() < len(mentions_before)

    replay_buckets(spark, docs, workdir, [3], CFG, parser=res["parser"])
    mentions_after = sorted(
        map(tuple, spark.read.parquet(res["mentions_path"]).drop("alternatives").collect())
    )
    assert mentions_after == mentions_before

    # lineage recomputed over the replayed checkpoint matches the original
    from gazetteer_entity_parser_spark.plans.pipeline import lineage_for

    lineage_after = sorted(
        map(
            tuple,
            lineage_for(spark.read.parquet(res["mentions_path"]), "mentions").collect(),
        )
    )
    assert lineage_after == lineage_before


def _mention_rows(spark, path):
    return sorted(map(tuple, spark.read.parquet(path).drop("alternatives").collect()))


def test_alias_gazetteer_replay_rebuilds_same_parser(spark, sf_smoke, tmp_path):
    """Without ``parser=`` a replay rebuilds the parser from the gazetteer
    the run used, here the alias gazetteer (whose two-token aliases change
    mention spans against the vocabulary gazetteer)."""
    cfg = PipelineConfig(
        n_entities=20, threshold=1.0, window_tokens=10, n_buckets=8,
        use_alias_gazetteer=True,
    )
    docs = docs_from_sf_dir(spark, sf_smoke)
    res = run_pipeline(spark, docs, str(tmp_path), cfg)
    assert res["mentions"].where(F.col("end") - F.col("begin") > 0).where(
        F.col("matched_value").contains(" ")
    ).count() > 0  # the aliases matched
    before = _mention_rows(spark, res["mentions_path"])

    shutil.rmtree(f"{res['mentions_path']}/bucket=5")
    replay_buckets(spark, docs, str(tmp_path), [5], cfg)
    assert _mention_rows(spark, res["mentions_path"]) == before


def test_replay_leaves_session_conf_unchanged(spark, result):
    res, docs, workdir = result
    key = "spark.sql.sources.partitionOverwriteMode"
    conf_before = spark.conf.get(key)
    before = _mention_rows(spark, res["mentions_path"])
    replay_buckets(spark, docs, workdir, [1], CFG, parser=res["parser"])
    assert spark.conf.get(key) == conf_before == "STATIC"
    # the replay overwrote bucket 1 only
    assert _mention_rows(spark, res["mentions_path"]) == before


def test_dotted_triples_target_routes_to_iceberg(spark, sf_smoke, tmp_path, monkeypatch):
    """run_pipeline routes by merge_into's string rule: a dotted table name
    goes to the Iceberg MERGE where the runtime is present."""
    from gazetteer_entity_parser_spark.sources import sinks

    merged = []
    monkeypatch.setattr(sinks, "iceberg_available", lambda _s: True)
    monkeypatch.setattr(
        sinks, "merge_into_iceberg", lambda _s, table, _u: merged.append(table)
    )
    docs = docs_from_sf_dir(spark, sf_smoke).limit(20)
    out = run_pipeline(spark, docs, str(tmp_path / "work"), CFG, "db.triples")
    assert out["sink"] == "iceberg" and out["triples"] is None
    assert merged == ["db.triples"]
