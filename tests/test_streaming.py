"""Streaming pipeline: an availableNow stream over the same pages must
produce the same canonical triples as pair expansion over the batch
mentions, and the parquet store's merge must be idempotent, bucket-local
and crash-safe."""

import pytest
from pyspark.sql import functions as F

from gazetteer_entity_parser_spark.operators.extract import extract_mentions
from gazetteer_entity_parser_spark.plans.pipeline import docs_from_sf_dir
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


@pytest.fixture(scope="module")
def pages(spark):
    return docs_from_sf_dir(spark, SF).limit(60).cache()


@pytest.fixture(scope="module")
def parser_bc(spark, pages):
    gaz = vocabulary_gazetteer(pages.select("text"), 20)
    return broadcast_parser(spark, build_parser_distributed(gaz, threshold=1.0))


def _batch_weights(pages, parser_bc, pair_oracle) -> dict:
    """{(subj, obj): weight} by the pure-Python pair oracle over the batch
    extraction of the same pages."""
    mentions = extract_mentions(pages, parser_bc, window_tokens=10).collect()
    return {(t[0], t[2]): t[3] for t in pair_oracle(mentions, canonical=True)}


def test_stream_equals_batch(spark, pages, parser_bc, pair_oracle, tmp_path):
    input_dir = str(tmp_path / "pages_in")
    # five files at two per trigger: several micro-batches, and the first
    # spans two tasks whose partials the merge must roll up
    pages.repartition(5).write.parquet(input_dir)

    triples_path = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")
    stream = read_webpage_stream(spark, input_dir, max_files=2)
    q = start_triples_stream(spark, stream, parser_bc, triples_path, ckpt)
    q.awaitTermination(120)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2

    cols = ["subj", "pred", "obj", "weight", "subj_rank", "obj_rank"]
    streamed = sorted(
        tuple(r) for r in spark.read.parquet(triples_path).select(*cols).collect()
    )
    mentions = extract_mentions(pages, parser_bc, window_tokens=10).collect()
    # micro-batch boundaries never split a document, so the merged rows match:
    # one row per key, same weight and min ranks
    assert streamed == pair_oracle(mentions, canonical=True)
    assert streamed


def test_merge_commit_token_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-merging an already-committed batch_id
    must be a no-op (no double-counted additive weights)."""
    from gazetteer_entity_parser_spark.sources.sinks import (
        committed_tokens,
        merge_into_parquet,
    )

    target = str(tmp_path / "triples_store")
    batch = spark.createDataFrame(
        [("A", "co_occurs_with", "B", 3, 0, 1)],
        "subj string, pred string, obj string, weight bigint, "
        "subj_rank bigint, obj_rank bigint",
    )
    assert merge_into_parquet(spark, target, batch, commit_token="0") is True
    # retry of the same batch: skipped
    assert merge_into_parquet(spark, target, batch, commit_token="0") is False
    # a new batch merges additively and carries prior markers forward
    assert merge_into_parquet(spark, target, batch, commit_token="1") is True
    assert committed_tokens(target) == {"0", "1"}
    row = spark.read.parquet(target).collect()[0]
    assert row["weight"] == 6
    assert merge_into_parquet(spark, target, batch, commit_token="1") is False
    assert spark.read.parquet(target).collect()[0]["weight"] == 6


def test_stream_restart_resumes_from_checkpoint(
    spark, pages, parser_bc, pair_oracle, tmp_path
):
    """north_rule: resumable from checkpoint. Stop the stream after the first
    tranche of files, add more, restart with the SAME checkpoint — already-
    committed batches must not be re-merged (no double counts) and the final
    totals must equal the batch pipeline over all pages."""
    first = pages.limit(30).cache()
    rest = pages.subtract(first)

    input_dir = str(tmp_path / "pages_in")
    triples_path = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")

    first.repartition(2).write.mode("append").parquet(input_dir)
    q1 = start_triples_stream(
        spark, read_webpage_stream(spark, input_dir, max_files=1),
        parser_bc, triples_path, ckpt,
    )
    q1.awaitTermination(120)
    after_first = {
        (r["subj"], r["obj"]): r["weight"]
        for r in spark.read.parquet(triples_path).collect()
    }

    # new files arrive while the stream is down; restart from the checkpoint
    rest.repartition(2).write.mode("append").parquet(input_dir)
    q2 = start_triples_stream(
        spark, read_webpage_stream(spark, input_dir, max_files=1),
        parser_bc, triples_path, ckpt,
    )
    q2.awaitTermination(120)

    streamed = {
        (r["subj"], r["obj"]): r["weight"]
        for r in spark.read.parquet(triples_path).collect()
    }
    batch = _batch_weights(pages, parser_bc, pair_oracle)
    assert streamed == batch
    # the restart added the new pages' weight on top of the first tranche
    assert sum(streamed.values()) > sum(after_first.values())


def _bucket_files(store: str) -> dict:
    """{bucket_dir: {filename: md5}} of the store's CURRENT version."""
    import hashlib
    import os

    real = os.path.realpath(store)
    out = {}
    for entry in sorted(os.listdir(real)):
        if entry.startswith("bucket="):
            files = {}
            for f in sorted(os.listdir(os.path.join(real, entry))):
                p = os.path.join(real, entry, f)
                files[f] = hashlib.md5(open(p, "rb").read()).hexdigest()
            out[entry] = files
    return out


def _buckets(df, n_buckets=None) -> list:
    """The sorted store buckets that ``df``'s subjects hash into."""
    from gazetteer_entity_parser_spark.functions import salted_bucket
    from gazetteer_entity_parser_spark.sources.sinks import N_BUCKETS

    b = salted_bucket("subj", n_buckets or N_BUCKETS)
    return sorted(r[0] for r in df.select(b).distinct().collect())


def test_merge_rewrites_only_touched_partitions(spark, tmp_path):
    """Scale contract (r2 verdict #3): a merge must rewrite only the
    partitions its updates hash into; every untouched bucket's files stay
    byte-identical (hard-linked, same names, same content)."""
    import os

    from gazetteer_entity_parser_spark.sources.sinks import merge_into_parquet

    target = str(tmp_path / "store")
    seed = spark.createDataFrame(
        [(f"E{i}", "co_occurs_with", f"F{i}", 1, 0, 1) for i in range(64)],
        "subj string, pred string, obj string, weight bigint, "
        "subj_rank bigint, obj_rank bigint",
    )
    assert merge_into_parquet(spark, target, seed, commit_token="0")
    before = _bucket_files(target)
    assert len(before) > 2  # 64 subjects spread over several buckets

    one = spark.createDataFrame(
        [("E0", "co_occurs_with", "F0", 5, 0, 1)],
        "subj string, pred string, obj string, weight bigint, "
        "subj_rank bigint, obj_rank bigint",
    )
    assert merge_into_parquet(spark, target, one, commit_token="1")
    after = _bucket_files(target)
    assert set(after) == set(before)

    touched_bucket = "bucket=%d" % _buckets(one)[0]
    changed = [b for b in before if before[b] != after[b]]
    assert changed == [touched_bucket]
    for b in before:
        if b != touched_bucket:
            assert after[b] == before[b]  # same file names AND same bytes

    # semantics: the additive upsert folded into the touched partition
    rows = {
        r["subj"]: r["weight"] for r in spark.read.parquet(target).collect()
    }
    assert rows["E0"] == 6 and rows["E1"] == 1 and len(rows) == 64

    # the target is a symlink: publishing is one atomic rename (no window
    # where the store is absent — r2 ADVICE medium)
    assert os.path.islink(target)


def test_merge_writes_one_file_per_touched_bucket(spark, tmp_path):
    """Write layout: the merged rows are clustered on bucket before the
    write, so each touched bucket is written by one task into one file —
    both for the first merge (absent store) and a merge into an existing
    store — however many partitions the updates arrive in."""
    from gazetteer_entity_parser_spark.sources.sinks import merge_into_parquet

    target = str(tmp_path / "store")
    schema = (
        "subj string, pred string, obj string, weight bigint, "
        "subj_rank bigint, obj_rank bigint"
    )

    def batch(lo, hi):
        rows = [(f"E{i}", "co_occurs_with", f"F{i}", 1, 0, 1) for i in range(lo, hi)]
        return spark.createDataFrame(rows, schema).repartition(8)

    for tok, (lo, hi) in enumerate([(0, 200), (100, 300)]):
        df = batch(lo, hi)
        assert df.rdd.getNumPartitions() == 8
        assert merge_into_parquet(spark, target, df, commit_token=str(tok))
        files = {
            b: [f for f in names if f.endswith(".parquet")]
            for b, names in _bucket_files(target).items()
        }
        assert sorted(files) == sorted(f"bucket={b}" for b in _buckets(batch(0, hi)))
        assert all(len(f) == 1 for f in files.values()), files
    assert spark.read.parquet(target).count() == 300


def test_failed_merge_releases_persisted_updates(spark, tmp_path):
    """A batch that fails mid-merge into an existing store must not leave
    its persisted updates behind in the (long-lived) session."""
    import pytest as _pytest

    from gazetteer_entity_parser_spark.sources.sinks import merge_into_parquet

    target = str(tmp_path / "store")
    schema = (
        "subj string, pred string, obj string, weight bigint, "
        "subj_rank bigint, obj_rank bigint"
    )
    ok = spark.createDataFrame([("A", "p", "B", 3, 0, 1)], schema)
    assert merge_into_parquet(spark, target, ok, commit_token="0")

    bad = ok.withColumn("weight", F.raise_error(F.lit("boom")).cast("bigint"))
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs())
    with _pytest.raises(Exception, match="boom"):
        merge_into_parquet(spark, target, bad, commit_token="1")
    # ids, not a count: the context cleaner may drop unrelated RDDs meanwhile
    assert not set(jsc.getPersistentRDDs()) - before
    assert spark.read.parquet(target).collect()[0]["weight"] == 3


def test_merge_crash_recovery_repoints_newest_version(spark, tmp_path):
    """A crash that loses the symlink (the old two-rename hazard) must be
    self-healing: the next call repoints at the newest version dir and the
    commit-token skip logic still sees prior tokens."""
    import os

    from gazetteer_entity_parser_spark.sources.sinks import (
        committed_tokens,
        merge_into_parquet,
    )

    target = str(tmp_path / "store")
    batch = spark.createDataFrame(
        [("A", "p", "B", 3, 0, 1)],
        "subj string, pred string, obj string, weight bigint, "
        "subj_rank bigint, obj_rank bigint",
    )
    assert merge_into_parquet(spark, target, batch, commit_token="0")
    assert merge_into_parquet(spark, target, batch, commit_token="1")
    os.unlink(target)  # simulated crash: link gone, version dirs remain
    assert committed_tokens(target) == {"0", "1"}  # recovery on entry
    assert merge_into_parquet(spark, target, batch, commit_token="1") is False
    assert spark.read.parquet(target).collect()[0]["weight"] == 6


def test_store_keeps_its_bucket_count(spark, tmp_path, monkeypatch):
    """The bucket count is fixed when the store is created: a later merge
    uses the store's ``_nbuckets_`` marker, not the module constant."""
    import os

    from gazetteer_entity_parser_spark.sources import sinks

    target = str(tmp_path / "store")
    schema = (
        "subj string, pred string, obj string, weight bigint, "
        "subj_rank bigint, obj_rank bigint"
    )
    seed = spark.createDataFrame(
        [(f"E{i}", "p", "F", 1, 0, 1) for i in range(64)], schema
    )
    monkeypatch.setattr(sinks, "N_BUCKETS", 8)
    assert sinks.merge_into_parquet(spark, target, seed, commit_token="0")
    monkeypatch.setattr(sinks, "N_BUCKETS", 32)
    batch = spark.createDataFrame([("E40", "p", "F", 2, 0, 1)], schema)
    assert sinks.merge_into_parquet(spark, target, batch, commit_token="1")

    assert "_nbuckets_8" in os.listdir(os.path.realpath(target))
    assert sorted(_bucket_files(target)) == sorted(
        f"bucket={b}" for b in _buckets(seed, 8)
    )
    rows = {r["subj"]: r["weight"] for r in spark.read.parquet(target).collect()}
    assert rows["E40"] == 3 and len(rows) == 64


@pytest.mark.parametrize("store_type,update_type", [("bigint", "int"), ("int", "bigint")])
def test_merge_across_rank_widths(spark, tmp_path, store_type, update_type):
    """The tests write bigint ranks and the stream writes int ranks: a merge
    reads the current version with the types its files hold, and the union
    with the updates widens to bigint."""
    from gazetteer_entity_parser_spark.sources.sinks import merge_into_parquet

    schema = (
        "subj string, pred string, obj string, weight bigint, "
        "subj_rank {t}, obj_rank {t}"
    )
    target = str(tmp_path / "store")
    first = spark.createDataFrame(
        [("A", "p", "B", 3, 4, 5)], schema.format(t=store_type)
    )
    assert merge_into_parquet(spark, target, first, commit_token="0")
    assert dict(spark.read.parquet(target).dtypes)["subj_rank"] == store_type
    # the same key: every bucket of the store is rewritten with the new width
    second = spark.createDataFrame(
        [("A", "p", "B", 2, 1, 7)], schema.format(t=update_type)
    )
    assert merge_into_parquet(spark, target, second, commit_token="1")
    got = spark.read.parquet(target)
    assert dict(got.dtypes)["subj_rank"] == "bigint"
    assert [tuple(r) for r in got.select(
        "subj", "pred", "obj", "weight", "subj_rank", "obj_rank").collect()] == [
        ("A", "p", "B", 5, 1, 5)
    ]


def test_recovery_never_promotes_torn_version(spark, tmp_path):
    """A version dir without its _nbuckets_ completeness marker (crash
    mid-write) must never be promoted by recovery — on a first-ever merge
    the store stays absent and the retry re-merges from scratch; on a later
    merge the previous complete version stays current."""
    import os

    from gazetteer_entity_parser_spark.sources.sinks import (
        committed_tokens,
        merge_into_parquet,
    )

    target = str(tmp_path / "store")
    batch = spark.createDataFrame(
        [("A", "p", "B", 3, 0, 1)],
        "subj string, pred string, obj string, weight bigint, "
        "subj_rank bigint, obj_rank bigint",
    )
    # simulate a torn FIRST merge: data written, no marker, no symlink
    torn = f"{target}.v-000000-deadbeef"
    batch.write.parquet(torn)
    assert committed_tokens(target) == set()  # recovery must NOT promote torn
    assert not os.path.exists(target)
    # the retry merges cleanly and supersedes the orphan
    assert merge_into_parquet(spark, target, batch, commit_token="0") is True
    assert os.path.islink(target)
    assert not os.path.exists(torn)  # orphan pruned
    assert spark.read.parquet(target).collect()[0]["weight"] == 3

    # simulate a torn LATER merge: orphan version newer than current
    torn2 = f"{target}.v-999999-deadbeef"
    batch.write.parquet(torn2)
    os.unlink(target)  # crash also lost the symlink
    assert committed_tokens(target) == {"0"}  # repointed to newest COMPLETE
    assert spark.read.parquet(target).collect()[0]["weight"] == 3


def test_merge_into_refuses_commit_token_on_iceberg(spark, monkeypatch):
    import pytest as _pytest

    from gazetteer_entity_parser_spark.sources import sinks

    monkeypatch.setattr(sinks, "iceberg_available", lambda _s: True)
    batch = spark.createDataFrame(
        [("A", "p", "B", 3, 0, 1)],
        "subj string, pred string, obj string, weight bigint, "
        "subj_rank bigint, obj_rank bigint",
    )
    with _pytest.raises(NotImplementedError, match="commit_token"):
        sinks.merge_into(spark, "cat.db.triples", batch, commit_token="7")


def test_empty_first_merge_does_not_poison_store(spark, tmp_path):
    """An empty first batch must not publish a data-less version dir (which
    every later read would fail to infer a schema from)."""
    import os

    from gazetteer_entity_parser_spark.sources.sinks import merge_into_parquet

    target = str(tmp_path / "store")
    schema = (
        "subj string, pred string, obj string, weight bigint, "
        "subj_rank bigint, obj_rank bigint"
    )
    empty = spark.createDataFrame([], schema)
    assert merge_into_parquet(spark, target, empty, commit_token="0") is True
    assert not os.path.exists(target)  # nothing published, nothing poisoned
    # ...and the unpublished version dir the write made is gone too
    assert not [d for d in os.listdir(tmp_path) if d.startswith("store.v-")]

    batch = spark.createDataFrame([("A", "p", "B", 3, 0, 1)], schema)
    assert merge_into_parquet(spark, target, batch, commit_token="1") is True
    assert spark.read.parquet(target).collect()[0]["weight"] == 3
    # an empty batch onto an EXISTING store still records its token and
    # keeps every partition readable (hard-linked)
    assert merge_into_parquet(spark, target, empty, commit_token="2") is True
    assert merge_into_parquet(spark, target, empty, commit_token="2") is False
    assert spark.read.parquet(target).collect()[0]["weight"] == 3


def test_merge_rolls_up_repeated_keys(spark, tmp_path):
    """Updates may repeat a (subj, pred, obj) key — the fused triples stage
    emits one partial per key and task. A merge into an absent store and one
    into an existing store both leave one row per key, with the weights
    summed and the ranks minimised."""
    from gazetteer_entity_parser_spark.sources.sinks import merge_into_parquet

    schema = (
        "subj string, pred string, obj string, weight bigint, "
        "subj_rank bigint, obj_rank bigint"
    )
    dup = spark.createDataFrame(
        [("A", "p", "B", 2, 5, 7), ("A", "p", "B", 3, 4, 9),
         ("C", "p", "D", 1, 0, 0), ("A", "p", "B", 1, 6, 1)],
        schema,
    ).repartition(3)
    want = [("A", "p", "B", 6, 4, 1), ("C", "p", "D", 1, 0, 0)]

    def rows(store):
        return sorted(tuple(r) for r in spark.read.parquet(store).select(
            "subj", "pred", "obj", "weight", "subj_rank", "obj_rank").collect())

    absent = str(tmp_path / "absent")
    assert merge_into_parquet(spark, absent, dup, commit_token="0")
    assert rows(absent) == want

    existing = str(tmp_path / "existing")
    seed = spark.createDataFrame([("X", "p", "Y", 1, 0, 0)], schema)
    assert merge_into_parquet(spark, existing, seed, commit_token="0")
    assert merge_into_parquet(spark, existing, dup, commit_token="1")
    assert rows(existing) == sorted(want + [("X", "p", "Y", 1, 0, 0)])


def test_merge_into_table_identifier_routing(spark, tmp_path):
    """Routing is a pure function of the target STRING (a filesystem probe
    would let cwd contents flip the same target between sinks across runs):
    only dotted identifiers are table-shaped; bare words are paths; explicit
    table:/path: prefixes force the route."""
    from gazetteer_entity_parser_spark.sources import sinks
    from gazetteer_entity_parser_spark.sources.sinks import is_table_identifier

    assert is_table_identifier("cat.db.triples")
    assert is_table_identifier("db.triples")
    assert not is_table_identifier("triples")  # bare word: ambiguous -> path
    assert not is_table_identifier("out/triples")  # relative path
    assert not is_table_identifier("/abs/triples")
    assert not is_table_identifier("./triples")
    assert not is_table_identifier("db.triples ")  # trailing junk

    # path: prefix forces parquet even for a dotted name; table: forces the
    # SQL route for a bare word (here Iceberg is absent, so it falls back to
    # parquet — but only after taking the table branch, observed via the
    # commit-token refusal that lives on that branch)
    batch = spark.createDataFrame(
        [("A", "p", "B", 1, 0, 0)],
        "subj string, pred string, obj string, weight bigint, "
        "subj_rank bigint, obj_rank bigint",
    )
    stored = str(tmp_path / "db.triples")
    assert sinks.merge_into(spark, f"path:{stored}", batch) == "parquet"
    import os as _os
    assert _os.path.exists(stored)

    import pytest as _pytest
    with _pytest.raises(NotImplementedError, match="commit_token"):
        # force_table + commit_token refuses BEFORE consulting availability:
        # proof the table: prefix reached the SQL-MERGE branch
        orig = sinks.iceberg_available
        sinks.iceberg_available = lambda s: True
        try:
            sinks.merge_into(spark, "table:triples", batch, commit_token="1")
        finally:
            sinks.iceberg_available = orig


def test_merge_retains_one_superseded_generation(spark, tmp_path):
    """Reader grace window (r3 ADVICE): the version the symlink pointed at
    BEFORE the swap survives the merge that supersedes it (a concurrent
    reader that resolved the symlink pre-swap may still be scanning it) and
    is pruned by the NEXT merge; nothing older than one generation is kept."""
    import os

    from gazetteer_entity_parser_spark.sources.sinks import (
        _version_dirs,
        merge_into_parquet,
    )

    target = str(tmp_path / "store")
    schema = (
        "subj string, pred string, obj string, weight bigint, "
        "subj_rank bigint, obj_rank bigint"
    )

    def batch(tok, w):
        df = spark.createDataFrame([("E0", "p", "F0", w, 0, 1)], schema)
        assert merge_into_parquet(spark, target, df, commit_token=tok)

    batch("0", 1)
    v1 = os.path.realpath(target)
    batch("1", 1)
    v2 = os.path.realpath(target)
    dirs = {os.path.abspath(d) for d in _version_dirs(target)}
    assert v1 in dirs and v2 in dirs and len(dirs) == 2  # v1 retained
    # the retained generation is still a complete, readable store snapshot
    assert spark.read.parquet(v1).count() == 1
    batch("2", 1)
    v3 = os.path.realpath(target)
    dirs = {os.path.abspath(d) for d in _version_dirs(target)}
    assert dirs == {v2, v3}  # v1 pruned by the following merge, v2 retained
    assert spark.read.parquet(target).collect()[0]["weight"] == 3
