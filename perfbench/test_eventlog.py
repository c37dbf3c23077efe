"""Pins the event-log parser and the layer attribution.

    python3 -m pytest perfbench -q

``test_parse_synthetic_log`` needs no Spark. ``test_parse_tiny_traced_run``
starts a local session with the event log on, runs one tagged
``mapInPandas`` job and one tagged write, and checks the parsed numbers.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402


def _task_end(stage_id, launch, finish, run_ms, cpu_ns, accs, shuffle=0, out_bytes=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage_id,
        "Task Info": {
            "Launch Time": launch,
            "Finish Time": finish,
            "Accumulables": [{"ID": i, "Update": v} for i, v in accs],
        },
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": 5,
            "Executor Deserialize Time": 2,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
            "Output Metrics": {"Bytes Written": out_bytes},
        },
    }


SYNTHETIC = [
    {"Event": "SparkListenerApplicationStart", "Timestamp": 1000},
    {
        "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
        "executionId": 0,
        "sparkPlanInfo": {
            "nodeName": "Execute InsertIntoHadoopFsRelationCommand",
            "simpleString": "",
            "metrics": [
                {"name": "number of written files", "accumulatorId": 10},
                {"name": "written output", "accumulatorId": 11},
            ],
            "children": [
                {
                    "nodeName": "MapInPandas",
                    "simpleString": "",
                    "metrics": [
                        {"name": "time to run Python workers", "accumulatorId": 20},
                        {"name": "data sent to Python workers", "accumulatorId": 21},
                        {"name": "data returned from Python workers", "accumulatorId": 22},
                        {"name": "number of output rows", "accumulatorId": 23},
                    ],
                    "children": [],
                }
            ],
        },
    },
    {
        "Event": "SparkListenerJobStart",
        "Job ID": 0,
        "Submission Time": 2000,
        "Stage IDs": [0],
        "Properties": {"spark.jobGroup.id": "extract.mentions", "spark.sql.execution.id": "0"},
    },
    _task_end(0, 2000, 2100, 90, 50_000_000, [(20, 80), (21, 1000), (22, 400), (23, 7)], out_bytes=300),
    _task_end(0, 2000, 2400, 380, 70_000_000, [(20, 300), (21, 3000), (22, 600), (23, 5)], out_bytes=500),
    _task_end(0, 2000, 2150, 140, 60_000_000, [(20, 120), (21, 2000), (22, 500), (23, 6)], out_bytes=200),
    {"Event": "SparkListenerStageCompleted",
     "Stage Info": {"Stage ID": 0, "Submission Time": 2000, "Completion Time": 2400}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2410},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
     "executionId": 0, "accumUpdates": [[10, 3], [11, 1000]]},
    {
        "Event": "SparkListenerJobStart",
        "Job ID": 1,
        "Submission Time": 3000,
        "Stage IDs": [1],
        "Properties": {"sql.streaming.queryId": "q", "streaming.sql.batchId": "0"},
    },
    _task_end(1, 3000, 3200, 200, 150_000_000, [], shuffle=4096),
    {"Event": "SparkListenerStageCompleted",
     "Stage Info": {"Stage ID": 1, "Submission Time": 3000, "Completion Time": 3200}},
    {"Event": "SparkListenerApplicationEnd", "Timestamp": 4000},
]


def test_parse_synthetic_log():
    log = eventlog.parse(json.dumps(e) for e in SYNTHETIC)
    assert (log.app_start_ms, log.app_end_ms) == (1000, 4000)
    job0, job1 = log.jobs[0], log.jobs[1]
    assert job0.group == "extract.mentions" and job0.execution_id == 0 and not job0.streaming
    assert job1.streaming and job1.group == ""

    st = log.stages[0]
    assert st.python and st.tasks == 3 and st.job_id == 0
    assert st.sql[eventlog.PYTHON_TIME] == 500
    assert st.sql[eventlog.PYTHON_SENT] == 6000
    assert st.sql[eventlog.PYTHON_RETURNED] == 1500
    assert st.sql[eventlog.PYTHON_ROWS] == 18
    assert st.cpu_s == pytest.approx(0.18)
    assert st.gc_s == pytest.approx(0.015)
    assert st.output_bytes == 1000
    assert st.skew == pytest.approx(400 / 150)

    assert log.executions[0].writes
    assert log.executions[0].sql == {eventlog.FILES_WRITTEN: 3, eventlog.BYTES_WRITTEN: 1000}
    assert not log.stages[1].python and log.stages[1].shuffle_write_bytes == 4096

    # stage 0 covers 2000-2400 and stage 1 covers 3000-3200 ms
    assert log.stage_union_s(1000, 4000) == pytest.approx(0.6)
    assert log.stage_union_s(2200, 3100) == pytest.approx(0.3)


def test_parse_tiny_traced_run(tmp_path):
    pytest.importorskip("pyspark")
    import harness

    work = harness.WorkDir("test-eventlog")
    try:
        harness.prepare_environment(work)
        sys.path.insert(0, harness.ROOT)
        from gazetteer_entity_parser_spark.session import build_session

        spark = build_session(
            "perfbench-eventlog-test", parallelism=2,
            extra_conf=harness.session_conf(work, event_log=True),
        )
        sc = spark.sparkContext
        app_id = sc.applicationId
        sc.setJobGroup("extract.test", "tiny mapInPandas")
        df = spark.range(0, 100, 1, 2).mapInPandas(harness._identity_batches, "id long")
        df.write.parquet(str(tmp_path / "out"))
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.stop()

        log = eventlog.parse_file(os.path.join(work.sub("events"), app_id))
        jobs = [j for j in log.jobs.values() if j.group == "extract.test"]
        assert jobs, "the tagged job is missing from the log"
        stages = log.stages_of(jobs)
        python = [s for s in stages if s.python]
        assert python and sum(s.tasks for s in python) == 2
        assert sum(s.sql.get(eventlog.PYTHON_ROWS, 0) for s in python) == 100
        assert sum(s.sql.get(eventlog.PYTHON_SENT, 0) for s in python) > 0
        assert sum(s.output_bytes for s in stages) > 0
        writes = [log.executions[j.execution_id] for j in jobs if j.execution_id in log.executions]
        assert any(ex.writes and ex.sql.get(eventlog.FILES_WRITTEN, 0) >= 1 for ex in writes)
        assert log.stage_union_s(log.app_start_ms, log.app_end_ms) > 0
    finally:
        harness.Sessions(work).shutdown()
        work.close()
