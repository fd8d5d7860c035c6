"""Tests of the event-log parser. Run from the repository root with

    python3 -m pytest perfbench/test_eventlog.py
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402


def _task_end(stage: int, launch: int, finish: int, **metrics) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": finish - launch,
            "Executor CPU Time": metrics.get("cpu_ns", 0),
            "JVM GC Time": metrics.get("gc_ms", 0),
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 7, "Total Records Read": 3},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 11, "Shuffle Records Written": 5},
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
        },
    }


def test_folds_tasks_into_the_job_that_first_owns_their_stage(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "extract"}},
        _task_end(0, 1000, 1100, cpu_ns=5_000_000),
        _task_end(1, 1100, 1200),
        _task_end(1, 1100, 1500, gc_ms=20),
        # a later job listing the already-run stage 0 must not take its tasks
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [0, 2], "Properties": {}},
        _task_end(2, 2000, 2100),
        {"Event": "SparkListenerEnvironmentUpdate", "Spark Properties": {}},
    ]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")

    jobs = eventlog.parse(eventlog.log_files(str(tmp_path)))
    assert [(j.job_id, j.group, j.submitted_ms) for j in jobs] == [(0, "extract", 1000), (1, None, 2000)]
    assert jobs[0].counters["tasks"] == 3
    assert jobs[1].counters["tasks"] == 1
    folded = eventlog.fold(jobs[:1])
    assert folded["jobs"] == 1
    assert folded["shuffle_write_records"] == 15
    assert folded["shuffle_read_bytes"] == 21
    assert folded["cpu_s"] == pytest.approx(0.005)
    assert folded["gc_s"] == pytest.approx(0.02)
    # heaviest stage is 1 (0.1 s and 0.4 s tasks): max 0.4 over median 0.25
    assert folded["task_skew"] == pytest.approx(1.6)


def test_pins_shuffle_records_of_a_tiny_spark_job(tmp_path):
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    events = tmp_path / "events"
    events.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(events))
        .config("spark.eventLog.compress", "false")
        .config("spark.local.dir", str(tmp_path))
        .getOrCreate()
    )
    try:
        spark.sparkContext.setJobGroup("tiny", "tiny")
        rows = spark.range(0, 100, 1, 4).groupBy((F.col("id") % 5).alias("k")).count().collect()
    finally:
        spark.stop()
    assert sorted(r["count"] for r in rows) == [20] * 5

    jobs = eventlog.parse(eventlog.log_files(str(events)))
    folded = eventlog.fold([j for j in jobs if j.group == "tiny"])
    # partial aggregation leaves one row per key in each of the 4 input
    # partitions: 4 x 5 records cross the shuffle
    assert folded["shuffle_write_records"] == 20
    assert folded["shuffle_read_records"] == 20
    assert folded["tasks"] == 4 + 3
