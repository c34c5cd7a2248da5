"""The event-log reader against a tiny Spark job and a hand-written log."""

from __future__ import annotations

import glob
import json
import os
from operator import add

import pytest

from perfbench import bench
from perfbench.eventlog import Span, covered_s, parse


def test_covered_s_merges_and_clips():
    assert covered_s([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered_s([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == 1.0
    assert covered_s([], 0, 1) == 0


def test_parse_hand_written_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "Success"},
         "Task Info": {"Accumulables": [{"Name": "data sent to Python workers", "Update": 7}]},
         "Task Metrics": {"Executor Run Time": 500, "Executor CPU Time": 2_000_000_000, "JVM GC Time": 100,
                          "Disk Bytes Spilled": 3, "Shuffle Write Metrics": {"Shuffle Bytes Written": 11}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        # a later job listing the already-run stage 0 again (skipped) stays with group b
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 4000, "Stage IDs": [0, 2],
         "Properties": {"spark.jobGroup.id": "b"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Info": {}, "Task Metrics": {"Executor Run Time": 250}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4500},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 5000, "Stage IDs": [3]},
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = parse(str(path))
    a, b = log.usage["a"], log.usage["b"]
    assert (a.jobs, a.stages, a.tasks) == (1, 1, 1)
    assert (a.executor_run_s, a.executor_cpu_s, a.gc_s) == (0.5, 2.0, 0.1)
    assert (a.spill_bytes, a.shuffle_write_bytes, a.arrow_bytes) == (3, 11, 7)
    assert (b.jobs, b.tasks, b.executor_run_s) == (1, 1, 0.25)
    assert set(log.usage) == {"a", "b"}  # the ungrouped job is nobody's
    span = Span("a", "a", 0.5, 4.0)
    assert log.driver_s(span) == pytest.approx(3.5 - 2.0)


@pytest.fixture(scope="module")
def logged_spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    spark = bench.start_session(work, 2, trace=True)
    yield spark, work
    spark.stop()


def test_parse_tiny_job(logged_spark):
    """One shuffle job (2 stages, 2+3 tasks) under group ``shuffle`` and
    one single-stage job (4 tasks) under group ``count``."""
    spark, work = logged_spark
    sc = spark.sparkContext
    tr = bench.Tracer(spark, "t")
    with tr.span("shuffle"):
        sc.parallelize(range(20), 2).map(lambda x: (x % 3, 1)).reduceByKey(add, 3).collect()
    with tr.span("count"):
        sc.parallelize(range(8), 4).count()
    app = sc.applicationId
    spark.stop()
    log = parse(glob.glob(os.path.join(work, "events", f"{app}*"))[0])
    shuffle, count = (log.for_span(s) for s in tr.spans)
    assert (shuffle.jobs, shuffle.stages, shuffle.tasks) == (1, 2, 5)
    assert shuffle.shuffle_write_bytes > 0 and shuffle.executor_run_s > 0
    assert (count.jobs, count.stages, count.tasks) == (1, 1, 4)
    for s in tr.spans:
        assert 0 <= log.driver_s(s) <= s.wall_s
