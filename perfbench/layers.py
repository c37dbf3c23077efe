"""Per-layer metrics of a traced run.

Layers are the package's modules. Engine numbers come from the traced
session's event log: each job is attributed by the job group of the span
around the call that submitted it, the pipeline's jobs further by the stage
window (A-D) they were submitted in, and streaming micro-batch jobs by stage
content (a stage that ran Python workers is extraction, a stage of a file
write is the sink, the rest is the triples rollup). Sums are per timed call
(one pipeline run or one stream drain); a layer a workload does not exercise
reports 0.
"""

from __future__ import annotations

import os
import statistics

import pyarrow.parquet as pq

import kernel_probe
from eventlog import (
    BYTES_WRITTEN,
    FILES_WRITTEN,
    PYTHON_RETURNED,
    PYTHON_ROWS,
    PYTHON_SENT,
    PYTHON_TIME,
    EventLog,
    Stage,
    parse_file,
)

UNITS = {
    "session.start_s": "s",
    "session.cold_start_s": "s",
    "builder.build_s": "s",
    "builder.broadcast_s": "s",
    "builder.entities": "count",
    "builder.tokens": "count",
    "builder.max_postings": "count",
    "builder.parser_bytes": "bytes",
    "kernel.tokenize_tokens_per_s": "1/s",
    "kernel.run_tokens_per_s": "1/s",
    "kernel.run_light_tokens_per_s": "1/s",
    "kernel.run_light_pos_tokens_per_s": "1/s",
    "kernel.mentions_per_window": "ratio",
    "kernel.unpickle_s": "s",
    "extract.wall_s": "s",
    "extract.python_s": "s",
    "extract.bytes_to_python": "bytes",
    "extract.bytes_from_python": "bytes",
    "extract.rows_out": "count",
    "extract.task_max_over_median": "ratio",
    "triples.wall_s": "s",
    "triples.shuffle_bytes": "bytes",
    "triples.spill_bytes": "bytes",
    "triples.rows_out": "count",
    "pipeline.A_s": "s",
    "pipeline.B_s": "s",
    "pipeline.C_s": "s",
    "pipeline.D_s": "s",
    "pipeline.checkpoint_bytes": "bytes",
    "pipeline.lineage_rows": "count",
    "sinks.merge_s": "s",
    "sinks.files_written": "count",
    "sinks.files_linked": "count",
    "sinks.bytes_written": "bytes",
    "stream.batches": "count",
    "stream.batch_p50_s": "s",
    "stream.batch_max_s": "s",
    "stream.add_batch_s": "s",
    "stream.trigger_overhead_s": "s",
    "graph.pagerank_s": "s",
    "graph.jobs": "count",
    "graph.shuffle_bytes": "bytes",
    "engine.sched_gap_s": "s",
    "engine.jvm_cpu_s": "s",
    "engine.gc_s": "s",
    "engine.jvm_peak_rss_mb": "MB",
    "engine.jobs": "count",
    "engine.tasks": "count",
    "trace.untraced_job_s": "s",
    "trace.traced_job_s": "s",
    "trace.overhead_s": "s",
}

STAGE_LAYER = {"A": "builder", "B": "extract", "C": "triples", "D": "sinks"}
KERNEL_SAMPLE_TOKENS = 3_000


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _span_s(st: Stage) -> float:
    return max(0, st.complete_ms - st.submit_ms) / 1000.0


def _windows(rec, results) -> list[tuple[str, float, float]]:
    """(stage letter, start ms, end ms) of each pipeline stage, rebuilt from
    the ``pipeline.run`` spans and the stage seconds the pipeline returned."""
    out = []
    runs = [s for s in rec.named("pipeline.run") if s.attrs.get("timed")]
    for span, res in zip(runs, results):
        t = span.start * 1000.0
        for key, secs in res.get("stage_seconds", {}).items():
            out.append((key[0], t, t + secs * 1000.0))
            t += secs * 1000.0
    return out


def attribute(log: EventLog, rec, results, t0_ms: float, t1_ms: float) -> dict[str, list[Stage]]:
    """Stages of the timed calls in [t0, t1], grouped by layer."""
    windows = _windows(rec, results)
    layers: dict[str, list[Stage]] = {}
    for job in log.jobs.values():
        if not t0_ms <= job.submit_ms <= t1_ms:
            continue
        for sid in job.stage_ids:
            st = log.stages.get(sid)
            if st is None:
                continue
            if job.streaming:
                ex = log.executions.get(job.execution_id)
                layer = "extract" if st.python else "sinks" if ex is not None and ex.writes else "triples"
            elif job.group == "pipeline.run":
                letter = next((w for w, a, b in windows if a <= job.submit_ms < b), "D")
                layer = STAGE_LAYER[letter]
                if letter == "B" and not st.python:
                    layer = "pipeline"  # checkpoint shuffle/write around the kernel
            elif job.group.startswith("graph."):
                layer = "graph"
            else:
                layer = "other"
            layers.setdefault(layer, []).append(st)
    return layers


def _sum(stages: list[Stage], attr: str) -> float:
    return float(sum(getattr(s, attr) for s in stages))


def _sql(stages: list[Stage], name: str) -> float:
    return float(sum(s.sql.get(name, 0.0) for s in stages))


def _store_stats(store: str | None) -> tuple[int, int]:
    """(rows, hard-linked files) of a parquet triples store."""
    if not store or not os.path.exists(store):
        return 0, 0
    root = os.path.realpath(store)
    linked = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet") and os.stat(os.path.join(dirpath, f)).st_nlink > 1:
                linked += 1
    return pq.read_table(root).num_rows, linked


def kernel_sample(texts: list[str]) -> list[str]:
    out, n = [], 0
    for t in texts:
        out.append(t)
        n += len(t.split())
        if n >= KERNEL_SAMPLE_TOKENS:
            break
    return out


def layer_metrics(wl, sessions, seg, traced, mem, rec, log_path: str, extra: dict) -> dict:
    """Every per-layer metric of ``UNITS`` for one traced run."""
    log = parse_file(log_path)
    t0_ms, t1_ms = traced.t_start * 1000.0, traced.t_end * 1000.0
    calls = max(1, len(traced.walls))
    layers = attribute(log, rec, traced.results, t0_ms, t1_ms)
    ex, tr, sk = layers.get("extract", []), layers.get("triples", []), layers.get("sinks", [])
    gr, pl = layers.get("graph", []), layers.get("pipeline", [])
    in_scope = [j for j in log.jobs.values() if t0_ms <= j.submit_ms <= t1_ms]
    all_stages = log.stages_of(in_scope)
    sink_execs = {
        j.execution_id for j in in_scope
        if any(s in sk for s in (log.stages.get(i) for i in j.stage_ids))
    }
    sink_sql = [log.executions[e].sql for e in sink_execs if e in log.executions]
    stages = [r.get("stage_seconds", {}) for r in traced.results]
    batches = [lat for r in traced.results for lat in r.get("latencies", [])]
    add_batch = [a for r in traced.results for a in r.get("add_batch", [])]
    rows_out, linked = _store_stats(wl.store_path())
    lineage = wl.last.get("lineage_path") if isinstance(wl.last, dict) else None
    wall_s = (t1_ms - t0_ms) / 1000.0
    stage_a = _median(s["A_build_broadcast"] for s in stages if s)

    values = {
        "session.start_s": _median(sessions.setup_samples),
        "session.cold_start_s": sessions.cold_start_s,
        "builder.build_s": extra.get("build_s", stage_a),
        "builder.broadcast_s": extra.get("broadcast_s", 0.0),
        "extract.wall_s": sum(_span_s(s) for s in ex) / calls,
        "extract.python_s": _sql(ex, PYTHON_TIME) / 1000.0 / calls,
        "extract.bytes_to_python": _sql(ex, PYTHON_SENT) / calls,
        "extract.bytes_from_python": _sql(ex, PYTHON_RETURNED) / calls,
        "extract.rows_out": _sql(ex, PYTHON_ROWS) / calls,
        "extract.task_max_over_median": max((s.skew for s in ex), default=0.0),
        "triples.wall_s": sum(_span_s(s) for s in tr) / calls,
        "triples.shuffle_bytes": _sum(tr, "shuffle_write_bytes") / calls,
        "triples.spill_bytes": _sum(tr, "spill_bytes") / calls,
        "triples.rows_out": float(rows_out),
        "pipeline.A_s": stage_a,
        "pipeline.B_s": _median(s["B_extract_checkpoint"] for s in stages if s),
        "pipeline.C_s": _median(s["C_triples_lineage"] for s in stages if s),
        "pipeline.D_s": _median(s["D_canonicalize_merge"] for s in stages if s),
        "pipeline.checkpoint_bytes": (_sum(pl, "output_bytes") + _sum(ex, "output_bytes")) / calls
        if stages and stages[0] else 0.0,
        "pipeline.lineage_rows": float(pq.read_table(lineage).num_rows) if lineage else 0.0,
        "sinks.merge_s": sum(_span_s(s) for s in sk) / calls,
        "sinks.files_written": sum(q.get(FILES_WRITTEN, 0.0) for q in sink_sql) / calls,
        "sinks.files_linked": float(linked),
        "sinks.bytes_written": sum(q.get(BYTES_WRITTEN, 0.0) for q in sink_sql) / calls,
        "stream.batches": len(batches) / calls,
        "stream.batch_p50_s": _median(batches),
        "stream.batch_max_s": max(batches, default=0.0),
        "stream.add_batch_s": _median(add_batch),
        "stream.trigger_overhead_s": _median(b - a for b, a in zip(batches, add_batch)),
        "graph.pagerank_s": _median(s.seconds for s in rec.named("graph.pagerank") if s.attrs.get("timed")),
        "graph.jobs": len({s.job_id for s in gr}) / calls,
        "graph.shuffle_bytes": _sum(gr, "shuffle_write_bytes") / calls,
        "engine.sched_gap_s": max(0.0, wall_s - log.stage_union_s(t0_ms, t1_ms)) / calls,
        "engine.jvm_cpu_s": _sum(all_stages, "cpu_s") / calls,
        "engine.gc_s": _sum(all_stages, "gc_s") / calls,
        "engine.jvm_peak_rss_mb": mem.jvm_peak_kb / 1024.0,
        "engine.jobs": len(in_scope) / calls,
        "engine.tasks": _sum(all_stages, "tasks") / calls,
        "trace.untraced_job_s": seg.job_s(wl.per_batch),
        "trace.traced_job_s": traced.job_s(wl.per_batch),
        "trace.overhead_s": traced.job_s(wl.per_batch) - seg.job_s(wl.per_batch),
    }
    if wl.parser is not None:
        values.update(kernel_probe.probe(wl.parser, kernel_sample(wl.sample_texts), wl.window_tokens))
    return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in UNITS.items()}
