"""Sinks: Iceberg MERGE INTO with a parquet-upsert fallback.

Production target (north_rule): ``MERGE INTO`` an Iceberg triples table.
The sandbox has no Iceberg runtime jar, so :func:`merge_into` routes a
dotted table name to Iceberg only when the catalog is present and otherwise
performs the same upsert semantics against a bucketed, symlink-versioned
parquet store: one write path for an absent and an existing store (the
updates, unioned with the touched buckets of the current version, rolled up
per key), untouched buckets hard-linked, and an atomic symlink swap. The SQL
we'd run on a real cluster is generated either way so the semantics stay
reviewable.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructType

from ..functions import salted_bucket


def iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm_class = "org.apache.iceberg.spark.SparkCatalog"
        spark._jvm.java.lang.Class.forName(jvm_class)  # noqa: SLF001
        return True
    except Exception:
        return False


def merge_sql(target_table: str, source_view: str) -> str:
    """The production MERGE for the triples table (north_rule Stage D)."""
    return f"""
        MERGE INTO {target_table} t
        USING {source_view} s
        ON t.subj = s.subj AND t.pred = s.pred AND t.obj = s.obj
        WHEN MATCHED THEN UPDATE SET
            t.weight = t.weight + s.weight,
            t.subj_rank = LEAST(t.subj_rank, s.subj_rank),
            t.obj_rank = LEAST(t.obj_rank, s.obj_rank)
        WHEN NOT MATCHED THEN INSERT *
    """


def merge_into_iceberg(spark: SparkSession, target_table: str, updates: DataFrame) -> None:
    updates.createOrReplaceTempView("_triples_updates")
    spark.sql(merge_sql(target_table, "_triples_updates"))


def committed_tokens(target_path: str) -> set[str]:
    """Commit tokens already merged into ``target_path`` (see
    :func:`merge_into_parquet`'s ``commit_token``)."""
    _recover_symlink(target_path)
    if not os.path.isdir(target_path):
        return set()
    prefix = "_commit_"
    return {f[len(prefix):] for f in os.listdir(target_path) if f.startswith(prefix)}


# ---- symlink-versioned store layout -----------------------------------------
#
#   <target>                 -> symlink to the CURRENT version dir (atomic swap)
#   <target>.v-000007-<uuid> -> version dir: bucket=K/ parquet partitions,
#                               _commit_<tok> markers, _nbuckets_<N> marker
#
# The store is hash-partitioned by pmod(xxhash64(subj), N) so a merge rewrites
# ONLY the partitions its updates touch; untouched partitions are HARD-LINKED
# from the previous version (no data copy, byte-identical files). Publishing
# is a single os.rename of a symlink — one atomic step, no window where the
# target is absent (ADVICE r2: the old two-rename swap could strand the store
# mid-crash). On a real cluster Iceberg MERGE INTO supersedes all of this.

_VERSION_RE = ".v-"
N_BUCKETS = 32  # bucket count of a new store; an existing store keeps its marker's


def _version_dirs(target_path: str, complete_only: bool = False) -> list[str]:
    """Existing version dirs for this store, oldest-to-newest (the version
    counter in the name is zero-padded, so lexicographic sort = creation
    order). ``complete_only`` keeps only versions carrying the
    ``_nbuckets_`` marker — the LAST file written before a version is
    eligible for publishing, so its presence certifies a complete version
    (parquet data, hard-links, and commit tokens all precede it)."""
    parent = os.path.dirname(os.path.abspath(target_path)) or "."
    base = os.path.basename(target_path) + _VERSION_RE
    if not os.path.isdir(parent):
        return []
    out = sorted(
        os.path.join(parent, d) for d in os.listdir(parent) if d.startswith(base)
    )
    if complete_only:
        out = [v for v in out if os.path.isdir(v) and _store_n_buckets(v) is not None]
    return out


def _recover_symlink(target_path: str) -> None:
    """Crash recovery: if the target symlink is missing or broken but
    COMPLETE version dirs exist, repoint it at the newest complete one.
    Covers a crash between version-dir creation and the symlink swap
    (nothing is lost: the old version stays current). A torn half-written
    version (crash mid-write, before its ``_nbuckets_`` completeness marker)
    is never promoted — on a first-ever merge that crashed mid-write the
    store correctly stays absent and the retry re-merges from scratch."""
    exists = os.path.exists(target_path)  # follows symlinks; False if broken
    if exists:
        return
    if os.path.islink(target_path):  # broken link
        os.unlink(target_path)
    versions = _version_dirs(target_path, complete_only=True)
    if versions:
        _swap_symlink(target_path, versions[-1])


def _swap_symlink(target_path: str, version_dir: str) -> None:
    """Atomically (re)point ``target_path`` at ``version_dir`` — one
    os.rename of a fresh symlink; readers see the old or the new version,
    never an absent store."""
    tmp_link = f"{target_path}.lnk-{uuid.uuid4().hex[:8]}"
    os.symlink(os.path.basename(version_dir), tmp_link)
    os.rename(tmp_link, target_path)


def _next_version_path(target_path: str) -> str:
    versions = _version_dirs(target_path)
    if versions:
        last = os.path.basename(versions[-1]).rsplit("-", 2)[-2]
        n = int(last) + 1
    else:
        n = 0
    return f"{target_path}{_VERSION_RE}{n:06d}-{uuid.uuid4().hex[:8]}"


def _store_n_buckets(version_dir: str) -> int | None:
    for f in os.listdir(version_dir):
        if f.startswith("_nbuckets_"):
            return int(f[len("_nbuckets_"):])
    return None


def _rollup(triples: DataFrame) -> DataFrame:
    """One row per (subj, pred, obj): summed weight, min ranks. Clustered on
    ``bucket`` first, which also satisfies the grouping: one exchange, and
    each bucket is written by exactly one task."""
    return (
        triples.repartition("bucket")
        .groupBy("subj", "pred", "obj", "bucket")
        .agg(
            F.sum("weight").alias("weight"),
            F.min("subj_rank").alias("subj_rank"),
            F.min("obj_rank").alias("obj_rank"),
        )
    )


def read_bucketed(spark: SparkSession, path: str) -> DataFrame:
    """Read back a ``bucket``-partitioned parquet dir this package wrote,
    with the Spark schema recorded in one data file's footer: the same
    schema a schemaless read infers (Spark infers it from that footer key),
    without the Spark job the inference runs. A dir with no data file reads
    schemaless, which raises as before."""
    files = sorted(glob.glob(os.path.join(path, "bucket=*", "*.parquet")))
    if not files:
        return spark.read.parquet(path)
    meta = pq.read_schema(files[0]).metadata[b"org.apache.spark.sql.parquet.row.metadata"]
    schema = StructType.fromJson(json.loads(meta)).add("bucket", IntegerType())
    return spark.read.schema(schema).parquet(path)


def merge_into_parquet(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    commit_token: str | None = None,
) -> bool:
    """Same upsert semantics as :func:`merge_sql` against a parquet store.

    Scale shape: the store is partitioned by ``bucket = pmod(xxhash64(subj),
    N)`` and a merge REWRITES ONLY TOUCHED PARTITIONS — the read side
    partition-prunes to the touched buckets, the write produces just those
    ``bucket=K`` dirs, and every bucket dir the write did not produce is
    hard-linked from the previous version (zero copy, byte-identical —
    pinned in tests/test_streaming.py). A micro-batch touching B of N
    buckets costs O(B/N of the table), not O(table). N is
    :data:`N_BUCKETS` when the store is created; afterwards the store's
    ``_nbuckets_<N>`` marker decides.

    ``updates`` may repeat a ``(subj, pred, obj)`` key (the fused triples
    stage emits one partial per key and task): every write sums the weights
    and takes the min ranks per key, so the store holds one row per key
    whether or not it existed before.

    One write path: the rows written are the updates, unioned — when the
    store exists — with its current version pruned to the buckets the
    updates touch (an absent store is an existing store with nothing to
    read). The rows are hash-partitioned on ``bucket`` (AQE sizes the task
    count from the bytes) and grouped per key within that partitioning, so
    each touched bucket is written by one task into ONE parquet file. For an
    existing store the updates are persisted and their touched buckets
    collected: the collect prunes the read, and the persist keeps the
    updates' lineage (often a whole extraction in foreachBatch) from running
    twice. A ``left_semi`` (dynamic partition pruning) prune would read the
    updates twice too, so it still needs the persist, and its broadcast is a
    job of its own: it saves no job.

    Publishing is ONE atomic ``os.rename`` of a symlink onto the target
    (see the layout note above) — the target is never absent, a torn merge
    leaves the previous version current, and :func:`_recover_symlink` repoints
    a missing/broken link at the newest version on the next call.

    ``commit_token`` makes the merge IDEMPOTENT for at-least-once callers
    (foreachBatch retries a batch after a driver failure): ``_commit_<tok>``
    markers ride inside the version dir that the symlink swap publishes, so a
    token is durable iff that merge's result is. A re-invocation with an
    already-committed token is a no-op. Returns True if the merge ran, False
    if skipped. (Parquet readers ignore ``_``-prefixed files.)"""
    _recover_symlink(target_path)
    if commit_token is not None and str(commit_token) in committed_tokens(target_path):
        return False

    current_version = os.path.realpath(target_path) if os.path.exists(target_path) else None
    # bucketing is fixed at creation: an existing store's marker decides
    n_buckets = _store_n_buckets(current_version) if current_version else N_BUCKETS
    rows = upd = updates.withColumn("bucket", salted_bucket("subj", n_buckets))
    new_version = _next_version_path(target_path)
    try:
        if current_version is not None:
            upd = upd.persist()
            touched = sorted(
                r["bucket"] for r in upd.select("bucket").distinct().collect()
            )  # bounded by n_buckets rows
            # partition pruning: only the touched buckets' files are read (an
            # empty batch touches nothing: every partition hard-links)
            rows = read_bucketed(spark, current_version).where(
                F.col("bucket").isin(touched) if touched else F.lit(False)
            ).unionByName(upd)
        _rollup(rows).write.mode("overwrite").partitionBy("bucket").parquet(new_version)
    finally:
        upd.unpersist()

    written = {e for e in os.listdir(new_version) if e.startswith("bucket=")}
    if current_version is None and not written:
        # empty batch onto a non-existent store: publishing would create a
        # version dir with ZERO parquet files, which every later read fails
        # to infer a schema from — the store would be permanently poisoned
        # (and the commit token would mark the batch done). Nothing to merge
        # and nothing worth recording: a replay of an empty batch is a no-op.
        shutil.rmtree(new_version, ignore_errors=True)
        return True

    # hard-link every bucket the write did not produce from the current
    # version (same inode -> byte-identical, no data copy)
    for entry in os.listdir(current_version) if current_version else ():
        if entry.startswith("bucket=") and entry not in written:
            src = os.path.join(current_version, entry)
            dst = os.path.join(new_version, entry)
            os.makedirs(dst, exist_ok=True)
            for f in os.listdir(src):
                os.link(os.path.join(src, f), os.path.join(dst, f))

    # markers become durable atomically with the symlink swap below
    for tok in committed_tokens(target_path):
        open(os.path.join(new_version, f"_commit_{tok}"), "w").close()
    if commit_token is not None:
        open(os.path.join(new_version, f"_commit_{commit_token}"), "w").close()
    open(os.path.join(new_version, f"_nbuckets_{n_buckets}"), "w").close()
    _swap_symlink(target_path, new_version)

    # prune superseded versions — but RETAIN the generation the symlink
    # pointed at before this swap: a concurrent reader that resolved the
    # symlink just before the swap may still be scanning those files. One
    # retained generation gives readers a full merge-cycle grace window (it
    # is pruned by the NEXT merge); anything older is unreachable by any
    # reader newer than two merges ago. Single-writer contract unchanged
    # (concurrent MERGES still race).
    keep = {os.path.abspath(v) for v in (new_version, current_version) if v}
    for v in _version_dirs(target_path):
        if os.path.abspath(v) not in keep:
            shutil.rmtree(v, ignore_errors=True)
    return True


def is_table_identifier(target: str) -> bool:
    """True iff ``target`` is a DOTTED SQL identifier (db.table /
    catalog.db.table) — the only shape eligible for the Iceberg MERGE route.
    Deliberately a pure shape test: routing must be deterministic, never a
    filesystem probe (the same target string flipping sinks depending on
    the driver's cwd contents would split a triples store in two). A bare
    single word ('triples') is ambiguous and treated as a parquet path —
    force the SQL route with an explicit ``table:`` prefix in
    :func:`merge_into`."""
    import re

    return re.fullmatch(r"[A-Za-z_][\w]*(\.[A-Za-z_][\w]*)+", target) is not None


def merge_into(
    spark: SparkSession,
    target: str,
    updates: DataFrame,
    commit_token: str | None = None,
) -> str:
    """Dispatch: Iceberg table name when the runtime is present, else parquet
    path. Returns which path was taken ('iceberg' | 'parquet').

    ``commit_token`` is only implemented for the parquet fallback; Iceberg
    MERGE is transactional but NOT idempotent for the additive weight update
    (a replayed batch would double-count), so rather than silently dropping
    the token this dispatcher refuses it — an Iceberg caller needing
    at-least-once replay safety must carry a batch-id column and dedup in
    the MERGE source (or consult its own commit log) instead.

    Routing: an explicit ``table:`` / ``path:`` prefix forces the route
    (stripped before use); otherwise only a DOTTED SQL identifier
    (:func:`is_table_identifier`) is table-shaped — the decision is a pure
    function of the string, never of what happens to exist on the driver's
    filesystem, so the same target can't silently switch sinks between
    runs."""
    force_table = target.startswith("table:")
    force_path = target.startswith("path:")
    if force_table or force_path:
        target = target.split(":", 1)[1]
    route_iceberg = force_table or (not force_path and is_table_identifier(target))
    if route_iceberg and iceberg_available(spark):
        if commit_token is not None:
            raise NotImplementedError(
                "commit_token idempotence is implemented for the parquet store "
                "only; for Iceberg, dedup replayed batches in the MERGE source "
                "(e.g. a batch_id column) — a silent drop would double-count "
                "additive weights on retry"
            )
        merge_into_iceberg(spark, target, updates)
        return "iceberg"
    merge_into_parquet(spark, target, updates, commit_token=commit_token)
    return "parquet"
