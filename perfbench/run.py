"""KG-construction benchmark: one workload per invocation.

    python3 perfbench/run.py --workload pipeline_dense --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Builds its Spark sessions through the
package's ``build_session`` at ``local[<cores>]``, generates the workload's
inputs from ``--seed``, times the workload's calls for ``--seconds``, checks
the outputs, and prints one JSON object as the last line of stdout:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
Progress and diagnostics go to stderr. Exits 1 if any check failed, 2 if the
package or its runtime cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

from harness import (
    ROOT,
    MemoryProbe,
    Sessions,
    SpanRecorder,
    WorkDir,
    log,
    median,
    prepare_environment,
)

SETUP_REPEATS = 2  # session re-builds after the cold start; setup_s is the median of all

END_TO_END_UNITS = {
    "setup_s": "s",
    "job_s": "s",
    "docs_per_s": "pages/s",
    "worker_rss_mb": "MB",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=1.0,
        help="input size multiplier (the smoke test uses a small one)",
    )
    ap.add_argument("--spans-out", help="traced runs: also write spans and layer rows here")
    return ap.parse_args(argv)


class Segment:
    """Timed calls of one workload in one session."""

    def __init__(self) -> None:
        self.walls: list[float] = []
        self.rates: list[float] = []  # pages per second of each call or batch
        self.latencies: list[float] = []
        self.build: list[float] = []
        self.results: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.t_start = self.t_end = 0.0

    def job_s(self, per_batch: bool) -> float:
        return median(self.latencies if per_batch else self.walls)


def run_segment(wl, spark, seconds: float, mem: MemoryProbe, rec: SpanRecorder) -> Segment:
    seg = Segment()
    t0 = time.perf_counter()
    seg.build = wl.build(spark)
    t1 = time.perf_counter()
    with rec.span("warmup"):  # one untimed call, so the JIT and caches settle
        wl.run_once(spark, 0)
    log(f"build {t1 - t0:.2f}s, warm-up call {time.perf_counter() - t1:.2f}s")
    mem.sample()
    seg.t_start = time.time()
    rec.timed = True
    t_loop = time.perf_counter()
    i = 0
    while i < wl.min_calls or time.perf_counter() - t_loop < seconds:
        i += 1
        seg.attempted += 1
        try:
            t0 = time.perf_counter()
            res = wl.run_once(spark, i)
            wall = time.perf_counter() - t0
        except Exception:
            seg.failed += 1
            log(traceback.format_exc())
            if seg.failed >= wl.min_calls:
                break
            continue
        seg.walls.append(wall)
        seg.rates.extend(res["rates"] if "rates" in res else [res["pages"] / wall])
        seg.latencies.extend(res.get("latencies", []))
        seg.results.append(res)
        mem.sample()
    seg.t_end = time.time()
    rec.timed = False
    log(f"timed calls: {[round(w, 3) for w in seg.walls]}")
    if seg.latencies:
        log(f"batch latencies: {[round(w, 3) for w in seg.latencies]}")
    return seg


def end_to_end(wl, sessions: Sessions, seg: Segment, mem: MemoryProbe) -> dict:
    values = {
        "setup_s": median(sessions.setup_samples),
        "job_s": seg.job_s(wl.per_batch),
        "docs_per_s": median(seg.rates),
        "worker_rss_mb": mem.worker_peak_kb / 1024,
    }
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}


def run(args, work: WorkDir, sessions: Sessions) -> dict:
    from workloads import WORKLOADS

    rec = SpanRecorder(run_id=f"{args.workload}-{args.seed}", enabled=False)
    wl = WORKLOADS[args.workload](args.seed, args.scale, work, rec)
    mem = MemoryProbe(sessions)

    sessions.setup(SETUP_REPEATS)
    log(f"setup: cold {sessions.cold_start_s:.2f}s, warm {sessions.setup_samples}")
    t1 = time.perf_counter()
    wl.prepare()
    log(f"prepare: {time.perf_counter() - t1:.2f}s")
    spark = sessions.spark
    if not args.trace:
        seg = run_segment(wl, spark, args.seconds, mem, rec)
        traced = None
    else:
        # untraced and traced halves in consecutive sessions of one JVM, so
        # their difference is the tracing overhead
        seg = run_segment(wl, spark, args.seconds / 2, mem, rec)
        spark = sessions.start(event_log=True)
        rec.enabled, rec.spark = True, spark
        traced = run_segment(wl, spark, args.seconds / 2, mem, rec)
        rec.spark = None
    checks = wl.check(spark)
    for name, ok, detail in checks:
        log(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})")

    attempted = seg.attempted + (traced.attempted if traced else 0) + len(checks)
    failed = seg.failed + (traced.failed if traced else 0) + sum(not ok for _, ok, _ in checks)
    if not seg.walls or (traced is not None and not traced.walls):
        raise RuntimeError("no timed call completed")
    if args.trace:
        from gazetteer_entity_parser_spark.sources.builder_job import broadcast_parser

        from layers import layer_metrics

        # pipeline_dense builds inside the pipeline: its build time is stage A
        extra = {"build_s": median(traced.build)} if traced.build else {}
        t0 = time.perf_counter()
        broadcast_parser(spark, wl.parser).unpersist()
        extra["broadcast_s"] = time.perf_counter() - t0
        log_path = os.path.join(work.sub("events"), spark.sparkContext.applicationId)
        spark.stop()  # closes the event log
        sessions.spark = None
        metrics = layer_metrics(wl, sessions, seg, traced, mem, rec, log_path, extra)
        if args.spans_out:
            with open(args.spans_out, "w") as f:
                json.dump({"spans": rec.to_rows(), "metrics": metrics}, f, indent=1)
    else:
        metrics = end_to_end(wl, sessions, seg, mem)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    work = WorkDir(args.workload)
    try:
        prepare_environment(work)
        sys.path.insert(0, ROOT)
        try:
            import duckdb  # noqa: F401
            import pyspark  # noqa: F401

            import gazetteer_entity_parser_spark.session  # noqa: F401
        except ImportError as exc:
            log(f"cannot import the package or its runtime: {exc}")
            return 2
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
            return 2
        sessions = Sessions(work)
        try:
            result = run(args, work, sessions)
        finally:
            sessions.shutdown()
    finally:
        work.close()
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
