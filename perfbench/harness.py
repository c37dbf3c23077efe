"""Run scaffolding shared by every workload: the work directory, Spark
sessions built through the package's ``build_session``, set-up timing,
process memory probes, and the span recorder used by traced runs."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
WORK_PARENT = os.path.join(ROOT, ".perfbench_work")


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def median(values) -> float:
    return float(statistics.median(values))


class WorkDir:
    """Per-run work root inside the checkout; every file Spark, the JVM or
    Python's ``tempfile`` writes lands here and is removed on close."""

    def __init__(self, tag: str) -> None:
        self.path = os.path.join(WORK_PARENT, f"{tag}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "local", "warehouse", "events", "data"):
            os.makedirs(os.path.join(self.path, sub))

    def sub(self, *names: str) -> str:
        return os.path.join(self.path, *names)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(WORK_PARENT)
        except OSError:
            pass  # another run still uses it


def prepare_environment(work: WorkDir) -> None:
    """Point temp files, Spark local dirs and executor imports at the checkout.
    Must run before the JVM is launched (its environment is inherited)."""
    import tempfile

    os.environ["TMPDIR"] = work.sub("tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("local")
    # every JVM (the launcher and the driver): temp files in the checkout and
    # no hsperfdata files, which HotSpot writes under /tmp whatever the tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work.sub('tmp')}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    paths = [ROOT, BENCH_DIR] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def session_conf(work: WorkDir, event_log: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": work.sub("warehouse"),
        "spark.local.dir": work.sub("local"),
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.dir": "file://" + work.sub("events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _identity_batches(batches):
    yield from batches


def trivial_job(spark) -> None:
    """The first job every workload pays: a JVM-only count plus one Arrow
    round trip through the Python workers."""
    n = cores()
    df = spark.range(0, 4 * n, 1, n)
    if df.count() != 4 * n or df.mapInPandas(_identity_batches, "id long").count() != 4 * n:
        raise RuntimeError("trivial set-up job returned a wrong count")


class Sessions:
    """Builds the benchmark's sessions. The first one launches the JVM; later
    ones reuse it, which is what ``setup_s`` times."""

    def __init__(self, work: WorkDir) -> None:
        self.work = work
        self.spark = None
        self.cold_start_s = 0.0
        self.setup_samples: list[float] = []
        self.app_ids: list[str] = []

    def start(self, event_log: bool = False, app: str = "perfbench"):
        from gazetteer_entity_parser_spark.session import build_session

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        spark = build_session(
            app, parallelism=cores(), extra_conf=session_conf(self.work, event_log)
        )
        trivial_job(spark)
        elapsed = time.perf_counter() - t0
        if not self.app_ids:
            self.cold_start_s = elapsed
        if not event_log:
            self.setup_samples.append(elapsed)
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        self.app_ids.append(spark.sparkContext.applicationId)
        return spark

    def setup(self, repeats: int) -> None:
        """Cold start once, then ``repeats`` stop/re-build cycles; every one
        of them is a set-up sample."""
        self.start()
        for _ in range(repeats):
            self.start()

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def shutdown(self) -> None:
        """Stop the session, then end the JVM and its Python workers and wait
        for them to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        pids = descendants(proc.pid) if proc is not None else []
        try:
            gateway.shutdown()
        except Exception as exc:  # the JVM may already be gone
            log("gateway shutdown:", exc)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.time() + 15
        while pids and time.time() < deadline:
            pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        SparkContext._gateway = None
        SparkContext._jvm = None


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = []
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            tasks = []
        for t in tasks:  # a child is listed under the thread that forked it
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids.extend(int(c) for c in f.read().split())
            except OSError:
                pass
        out.extend(kids)
        todo.extend(kids)
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


class MemoryProbe:
    """Peak resident set (``VmHWM``) of the largest Python worker and of the
    JVM, sampled whenever ``sample`` is called."""

    def __init__(self, sessions: Sessions) -> None:
        self.sessions = sessions
        self.worker_peak_kb = 0
        self.jvm_peak_kb = 0

    def sample(self) -> None:
        jvm = self.sessions.jvm_pid()
        if jvm is None:
            return
        self.jvm_peak_kb = max(self.jvm_peak_kb, _status_kb(jvm, "VmHWM"))
        for pid in descendants(jvm):
            if _is_python_worker(pid):
                self.worker_peak_kb = max(self.worker_peak_kb, _status_kb(pid, "VmHWM"))


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class SpanRecorder:
    """In-memory spans around the benchmark's calls into the package. With a
    Spark session attached, each span also tags its jobs with a job group
    named after the span, so the event log can be joined back to it."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.spark = None
        self.timed = False  # set while the timed calls run

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), 0.0, parent, self.run_id, {"timed": self.timed})
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(name, f"{self.run_id}:{name}")
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    outer = self.spans[self._stack[-1]].name
                    sc.setJobGroup(outer, f"{self.run_id}:{outer}")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def to_rows(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "run_id": s.run_id,
                **s.attrs,
            }
            for s in self.spans
        ]
