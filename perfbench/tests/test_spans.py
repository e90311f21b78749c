"""Unit tests of the event-log parser and the self-time arithmetic.

    python3 -m pytest perfbench/tests -q

``fixtures/eventlog.jsonl`` is a trimmed Spark 4 event log of a local[2]
session running three job groups (see ``record_fixture.py``): ``g/scan``
(a parquet scan to the noop sink), ``g/agg`` (a reduceByKey: one shuffle map
stage and one result stage) and ``g/agg/collect`` (a second collect of the
same RDD, whose map stage is skipped because its shuffle output is reused).
"""

from __future__ import annotations

import json
import os

import pytest

from spans import EventLog, NullTracer, Tracer, prefix_self_times

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")
LAYERS = ["sources", "grok", "processors", "enrich", "router", "aggregates", "tableio"]


def test_prefix_self_times_telescope_to_the_last_prefix():
    walls = {"sources": 1.0, "grok": 3.0, "enrich": 4.5, "router": 4.25, "aggregates": 8.0}
    self_s = prefix_self_times(walls, LAYERS)
    assert self_s == {"sources": 1.0, "grok": 2.0, "processors": 0.0, "enrich": 1.5,
                      "router": -0.25, "aggregates": 3.75, "tableio": 0.0}
    assert sum(self_s.values()) == walls["aggregates"]


class FakeContext:
    def __init__(self) -> None:
        self.groups: list[str] = []

    def setJobGroup(self, group: str, description: str) -> None:
        self.groups.append(group)


def test_tracer_nests_paths_and_restores_the_enclosing_job_group():
    sc = FakeContext()
    tracer = Tracer(sc)
    tracer.pass_id = "p7"
    with tracer.span("pass"):
        with tracer.span("run_pipeline"):
            inner = tracer.open("tableio.write")
            tracer.close(inner)
        with tracer.span("aggregates.sink_counts"):
            pass
    assert sc.groups == [
        "p7/pass", "p7/pass/run_pipeline", "p7/pass/run_pipeline/tableio.write",
        "p7/pass/run_pipeline", "p7/pass", "p7/pass/aggregates.sink_counts", "p7/pass", "p7/-",
    ]
    assert [s.path for s in tracer.spans] == [
        "pass/run_pipeline/tableio.write", "pass/run_pipeline", "pass/aggregates.sink_counts", "pass",
    ]
    assert all(s.end >= s.start for s in tracer.spans)
    assert len(tracer.durations("pass")) == 1


def test_null_tracer_sets_no_job_group():
    with NullTracer().span("pass"):
        pass


def _event(**kw) -> str:
    return json.dumps(kw)


def test_a_reused_stage_counts_only_for_the_job_that_ran_it():
    task = {"Executor Run Time": 40, "Executor CPU Time": 30_000_000, "JVM GC Time": 5,
            "Disk Bytes Spilled": 0, "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Input Metrics": {"Records Read": 7}}
    ok = {"Reason": "Success"}
    lines = [
        _event(Event="SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0, 1],
               "Properties": {"spark.jobGroup.id": "p1/pass/a"}}),
        _event(Event="SparkListenerTaskEnd", **{"Stage ID": 0, "Task End Reason": ok, "Task Metrics": task}),
        _event(Event="SparkListenerTaskEnd", **{"Stage ID": 0, "Task End Reason": ok,
               "Task Metrics": task | {"Executor Run Time": 120}}),
        _event(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0, "Number of Tasks": 2}}),
        _event(Event="SparkListenerTaskEnd", **{"Stage ID": 1, "Task End Reason": ok, "Task Metrics": task}),
        _event(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 1, "Number of Tasks": 1}}),
        "",
        _event(Event="SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [0, 2],
               "Properties": {"spark.jobGroup.id": "p1/pass/b"}}),
        _event(Event="SparkListenerTaskEnd", **{"Stage ID": 2, "Task End Reason": {"Reason": "TaskKilled"},
               "Task Metrics": task}),
        _event(Event="SparkListenerTaskEnd", **{"Stage ID": 2, "Task End Reason": ok, "Task Metrics": task}),
        _event(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 2, "Number of Tasks": 1}}),
    ]
    log = EventLog.parse(lines)
    a, b, both = log.totals("p1/pass/a"), log.totals("p1/pass/b"), log.totals("p1/pass")
    assert (a.jobs, a.stages, a.single_task_stages) == (1, 2, 1)
    # the killed attempt of stage 2 is not counted
    assert (b.jobs, b.stages, b.single_task_stages, b.shuffle_write_bytes) == (1, 1, 1, 100)
    assert (both.jobs, both.stages) == (2, 3)
    assert a.shuffle_write_bytes == 300 and a.input_records == 21
    assert a.executor_cpu_s == pytest.approx(0.09)
    assert a.gc_s == pytest.approx(0.015)
    # stage 0: slowest 120 of 160 ms, stage 1: 40 of 40 ms
    assert a.max_task_share == pytest.approx((120 + 40) / (160 + 40))
    assert log.totals("p1/pas").jobs == 0  # a prefix must end at a path boundary


def test_recorded_event_log():
    log = EventLog.read(FIXTURE)
    scan, agg, again = log.totals("g/scan"), log.totals("g/agg"), log.totals("g/agg/collect")
    assert scan.input_records == 1000 and scan.shuffle_write_bytes == 0
    # "g/agg" holds its own job (map + result stage) and the one under it
    assert (agg.jobs, again.jobs) == (2, 1)
    # the second collect's map stage is skipped: one stage, it reads the
    # shuffle the first job wrote and writes none
    assert again.stages == 1 and again.shuffle_write_bytes == 0
    assert again.shuffle_read_bytes == agg.shuffle_write_bytes > 0
    assert agg.shuffle_read_bytes == 2 * agg.shuffle_write_bytes
    assert agg.stages == 3
    assert 0 < agg.max_task_share <= 1
    everything = log.totals("g")
    assert everything.jobs == scan.jobs + agg.jobs
    assert everything.executor_cpu_s == pytest.approx(scan.executor_cpu_s + agg.executor_cpu_s)
