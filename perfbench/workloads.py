"""The benchmark workloads. Each one drives the package only through its
public functions and checks what it produced against an independent oracle.

A workload has four steps, called by ``run.py``:

- ``prepare()``: generate seeded inputs and oracles on the driver (untimed);
- ``build(spark)``: per session, the state its calls share (a broadcast
  parser); returns the timed build samples;
- ``run_once(spark, i)``: one unit of work, input to committed result
  (call 0 is the untimed warm-up);
- ``check(spark)``: correctness verdicts on the last committed result.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb
import pyarrow.parquet as pq

import datagen
from harness import SpanRecorder, WorkDir

KG_WINDOW = 10  # the package's default co-occurrence window, in tokens
TRIPLE_COLS = ["subj", "pred", "obj", "weight", "subj_rank", "obj_rank"]


def _rows(df, cols: list[str]) -> list[tuple]:
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def _oracle(name: str, documents, wrap: str = "{}") -> list[tuple]:
    """Run one of the package's DuckDB oracle queries over an Arrow table."""
    from gazetteer_entity_parser_spark.plans.queries import ORACLES

    con = duckdb.connect()
    try:
        con.register("documents", documents)
        return con.execute(wrap.format(ORACLES[name])).fetchall()
    finally:
        con.close()


def _round(rows: list[tuple]) -> list[tuple]:
    """Rows with floats rounded to 9 digits, sorted (engines may differ in
    the last bits of a double)."""
    return sorted(tuple(round(v, 9) if isinstance(v, float) else v for v in r) for r in rows)


class Workload:
    name = ""
    per_batch = False  # job_s is per micro-batch instead of per call
    min_calls = 3  # timed calls per segment, even past --seconds; job_s is their median
    window_tokens = KG_WINDOW

    def __init__(self, seed: int, scale: float, work: WorkDir, rec: SpanRecorder) -> None:
        self.seed = seed
        self.scale = scale
        self.work = work
        self.rec = rec
        self.sample_texts: list[str] = []  # pages the kernel probe runs on
        self.parser = None
        self.last = None

    def size(self, n: int, floor: int = 1) -> int:
        return max(floor, int(round(n * self.scale)))

    def out_dir(self, i: int) -> str:
        """Fresh output directory for call ``i``; the previous call's is
        removed (the checks read only the last one)."""
        for k in (i - 1, i):
            shutil.rmtree(self.work.sub("data", f"{self.name}-out-{k}"), ignore_errors=True)
        return self.work.sub("data", f"{self.name}-out-{k}")

    def prepare(self) -> None:
        raise NotImplementedError

    def build(self, spark) -> list[float]:
        return []

    def run_once(self, spark, i: int) -> dict:
        raise NotImplementedError

    def check(self, spark) -> list[tuple[str, bool, str]]:
        raise NotImplementedError

    def store_path(self) -> str | None:
        """The triples store the last call committed."""
        return None


class PipelineDense(Workload):
    """The batch KG job: ``plans.pipeline.run_pipeline`` stages A-D, then
    10-iteration PageRank over its triples, on sf-shaped pages in
    url-distinct replicas. Every token is an entity, so checkpoint writes,
    the triples shuffle and the merge dominate; the 30-node KG takes
    PageRank's small-graph path."""

    name = "pipeline_dense"
    N_DOCS, REPLICAS, BUCKETS = 250, 2, 8

    def prepare(self) -> None:
        n_docs = self.size(self.N_DOCS, 20)
        docs = datagen.sf_documents(self.seed, n_docs, self.REPLICAS)
        self.docs_path = self.work.sub("data", "documents.parquet")
        pq.write_table(docs, self.docs_path)
        self.n_pages = docs.num_rows
        self.sample_texts = docs.column("text").to_pylist()[:n_docs]
        # oracles over one replica: counts and weights scale by REPLICAS;
        # PageRank is unchanged, since scaling every weight by a power of two
        # is exact in its floating-point share computation
        base = datagen.sf_documents(self.seed, n_docs)
        r = self.REPLICAS
        self.oracle_triples = sorted(
            (s, p, o, w * r, sr, orank) for s, p, o, w, sr, orank in _oracle("kg_triples_canonical", base)
        )
        self.oracle_pagerank = _round(_oracle("kg_pagerank", base))
        self.oracle_mentions = r * _oracle("kg_mentions", base, wrap="SELECT count(*) FROM ({})")[0][0]

    def run_once(self, spark, i: int) -> dict:
        from gazetteer_entity_parser_spark.operators.graph import pagerank
        from gazetteer_entity_parser_spark.plans.pipeline import PipelineConfig, run_pipeline
        from gazetteer_entity_parser_spark.sources.webpages import webpages_from_documents

        workdir = self.out_dir(i)
        docs = webpages_from_documents(spark.read.parquet(self.docs_path))
        with self.rec.span("pipeline.run"):
            out = run_pipeline(spark, docs, workdir, PipelineConfig(n_buckets=self.BUCKETS))
        with self.rec.span("graph.pagerank"):
            pagerank(out["triples"], n_iter=10).write.parquet(os.path.join(workdir, "pagerank"))
        self.last, self.parser = out, out["parser"]
        return {"pages": self.n_pages, "stage_seconds": out["stage_seconds"]}

    def store_path(self) -> str | None:
        return self.last["triples_path"]

    def check(self, spark) -> list[tuple[str, bool, str]]:
        triples = _rows(self.last["triples"], TRIPLE_COLS)
        n_mentions = self.last["mentions"].count()
        pr_path = os.path.join(os.path.dirname(self.last["triples_path"]), "pagerank")
        pr = _round([
            tuple(r) for r in spark.read.parquet(pr_path).select("entity", "rank_fp", "score").collect()
        ])
        return [
            ("canonical_triples_equal_oracle", triples == self.oracle_triples,
             f"{len(triples)} vs {len(self.oracle_triples)} rows"),
            ("mention_count_equal_oracle", n_mentions == self.oracle_mentions,
             f"{n_mentions} vs {self.oracle_mentions}"),
            ("pagerank_equal_oracle", pr == self.oracle_pagerank,
             f"{len(pr)} vs {len(self.oracle_pagerank)} rows"),
        ]


class StreamSparse(Workload):
    """``streaming.stream.start_triples_stream`` (``availableNow``, one file
    per trigger, batch-id commit tokens) over web-like pages, matched against
    a >100k-entry gazetteer built with the DataFrame builder and broadcast.
    Only a small share of page tokens are name tokens, but frequent words
    open multi-token candidates, so the kernel's general lane does the work."""

    name = "stream_sparse"
    per_batch = True
    min_calls = 2
    PAGES_PER_FILE, N_FILES, N_ENTRIES = 12, 3, 101_000
    THRESHOLD, N_STOP = 0.6, 8

    def prepare(self) -> None:
        per_file = self.size(self.PAGES_PER_FILE, 2)
        pages, words = datagen.web_corpus(self.seed, per_file * self.N_FILES, per_file)
        gaz = datagen.web_gazetteer(self.seed, words, self.size(self.N_ENTRIES, 200))
        self.gaz_path = self.work.sub("data", "gazetteer.parquet")
        pq.write_table(gaz, self.gaz_path)
        self.in_dir = self.work.sub("data", "stream-in")
        os.makedirs(self.in_dir)
        table = datagen.webpages(pages)
        for k in range(self.N_FILES):
            path = os.path.join(self.in_dir, f"part-{k:03d}.parquet")
            pq.write_table(table.slice(k * per_file, per_file), path)
            os.utime(path, (1e9 + k, 1e9 + k))  # the file source orders by mtime
        # the untimed warm-up drain reads one file of its own
        self.warmup_dir = self.work.sub("data", "stream-warmup")
        os.makedirs(self.warmup_dir)
        pq.write_table(table.slice(0, per_file), os.path.join(self.warmup_dir, "part-000.parquet"))
        self.pages = list(zip(table.column("url").to_pylist(), table.column("text").to_pylist()))
        self.sample_texts = [t for _, t in self.pages]
        self.digests: list[tuple] = []
        self.bc = None

    def build(self, spark) -> list[float]:
        from gazetteer_entity_parser_spark.sources.builder_job import (
            broadcast_parser,
            build_parser_distributed,
        )

        # one build per session, as a streaming job pays it
        if self.bc is not None:
            self.bc.unpersist()
        gaz = spark.read.parquet(self.gaz_path)
        t0 = time.perf_counter()
        with self.rec.span("builder.build"):
            self.parser = build_parser_distributed(
                gaz, threshold=self.THRESHOLD, n_stop_words=self.N_STOP
            )
            self.bc = broadcast_parser(spark, self.parser)
        return [time.perf_counter() - t0]

    def run_once(self, spark, i: int) -> dict:
        from pyspark.sql import functions as F

        from gazetteer_entity_parser_spark.streaming.stream import (
            read_webpage_stream,
            start_triples_stream,
        )

        out = self.out_dir(i)
        store = os.path.join(out, "triples")
        with self.rec.span("stream.drain"):
            query = start_triples_stream(
                spark,
                read_webpage_stream(spark, self.in_dir if i else self.warmup_dir, max_files=1),
                self.bc,
                store,
                os.path.join(out, "checkpoint"),
                window_tokens=self.window_tokens,
            )
            query.awaitTermination()
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))
            progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
            row = spark.read.parquet(store).select(
                F.count("*").alias("n"),
                F.sum(F.xxhash64(*TRIPLE_COLS).cast("decimal(38,0)")).alias("h"),
            ).first()
        if i:  # the checks read timed drains only
            self.digests.append((row["n"], str(row["h"])))
            self.last, self.progress = store, progress
        latencies = [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
        return {
            "latencies": latencies,
            "rates": [p["numInputRows"] / lat for p, lat in zip(progress, latencies)],
            "add_batch": [p["durationMs"].get("addBatch", 0) / 1000 for p in progress],
        }

    def driver_triples(self) -> list[tuple]:
        """Canonical triples recomputed on the driver with ``Parser.run``:
        the extraction walk (sentences, then windows of ``window_tokens``
        tokens), ordered pairs within each window, then weight and min ranks
        per (subj, obj)."""
        from gazetteer_entity_parser_spark.kernel.tokenizer import tokenize
        from gazetteer_entity_parser_spark.operators.extract import split_sentences

        acc: dict[tuple[str, str], list[int]] = {}
        w = self.window_tokens
        for _url, text in self.pages:
            for _off, sent in split_sentences(text):
                toks = tokenize(sent)
                for i in range(0, len(toks), w):
                    chunk = toks[i : i + w]
                    window = sent[chunk[0][0] : chunk[-1][1]]
                    ms = sorted(
                        (pv.tok_range[0], pv.resolved_value.resolved, pv.rank)
                        for pv in self.parser.run(window, 0)
                    )
                    for a in range(len(ms)):
                        for b in range(a + 1, len(ms)):
                            hit = acc.setdefault((ms[a][1], ms[b][1]), [0, ms[a][2], ms[b][2]])
                            hit[0] += 1
                            hit[1] = min(hit[1], ms[a][2])
                            hit[2] = min(hit[2], ms[b][2])
        return sorted(
            (s, "co_occurs_with", o, n, sr, orank) for (s, o), (n, sr, orank) in acc.items()
        )

    def store_path(self) -> str | None:
        return self.last

    def check(self, spark) -> list[tuple[str, bool, str]]:
        from gazetteer_entity_parser_spark.sources.sinks import committed_tokens

        got = _rows(spark.read.parquet(self.last), TRIPLE_COLS)
        want = self.driver_triples()
        tokens = committed_tokens(self.last)
        batch_ids = {str(p["batchId"]) for p in self.progress}
        return [
            ("store_equal_driver_parser", got == want and len(want) > 0,
             f"{len(got)} vs {len(want)} rows"),
            # an empty batch onto a not-yet-created store commits no token
            ("one_batch_per_file_tokens_from_batches",
             len(self.progress) == self.N_FILES and bool(tokens) and tokens <= batch_ids,
             f"{len(self.progress)} batches, {len(tokens)} commit tokens, {self.N_FILES} files"),
            ("store_digest_stable", len(set(self.digests)) == 1,
             f"{len(set(self.digests))} distinct of {len(self.digests)}"),
        ]


WORKLOADS = {w.name: w for w in (PipelineDense, StreamSparse)}
