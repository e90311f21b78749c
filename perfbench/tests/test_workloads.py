"""Checks of the benchmark's inputs and metric catalogue that need no Spark
session: the generators are deterministic, the telemetry lines follow
``gen_telemetry``'s row rules and the line regex, and every per-layer metric
a workload emits is declared in BENCHMARK.json (and every declared one is
emitted by some workload)."""

from __future__ import annotations

import json
import os
import re

import gen
import workloads
from spans import EventLog, Span, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# emitted by PipelineWorkload.row_counts, which needs a session
ROW_COUNTS = {"grok.refused_rows", "filters.dropped_rows", "enrich.defaulted_rows",
              "router.unrouted_rows"} | {f"router.sent.{s}" for s in workloads.SINKS}
# emitted by run.measure_traced around the workload's own metrics
RUN_LEVEL = {"spark.cold_pass_s", "spark.launch_setup_s", "trace.untraced_wall_s",
             "trace.overhead_s"}


def test_telemetry_is_a_function_of_the_seed():
    a, b, c = gen.telemetry_table(3000, 5), gen.telemetry_table(3000, 5), gen.telemetry_table(3000, 6)
    assert a.equals(b) and not a.equals(c)
    assert a.column_names == ["doc_id", "tokens", "n_tok", "source", "raw"]
    assert a.column("doc_id")[7].as_py() == "doc0000000007"


def test_telemetry_follows_gen_telemetrys_row_rules():
    t = gen.telemetry_table(20000, 9)
    raw = t.column("raw").to_pylist()
    rx = re.compile(workloads.LINE_RX)
    assert all(rx.match(r) for r in raw)
    assert [rx.match(r).group(1) for r in raw[:5]] == ["DEBUG", "INFO", "WARN", "ERROR", "DEBUG"]
    assert raw[9].startswith("2024-01-01T00:00:09Z INFO svc=api-2 trace=")
    assert raw[9].endswith('msg="drain retry defer" k=9')
    src0 = t.column("source").to_pylist().count("src0") / len(raw)
    assert 0.32 < src0 < 0.36


def test_sweep_tables_are_a_function_of_the_seed():
    a, b = gen.testdata_tables(0.001, 3), gen.testdata_tables(0.001, 3)
    assert all(a[t].equals(b[t]) for t in a)
    assert a["events"].num_rows == 1000 and a["documents"].num_rows == 50


def _traced(paths: list[str], passes=("p1", "p2")) -> Tracer:
    tracer = Tracer(sc=None)
    t = 0.0
    for p in passes:
        for path in paths:
            tracer.spans.append(Span(p, path, t, t + 1.0 + len(path) / 100))
            t += 2.0
    return tracer


def _emitted() -> set[str]:
    log = EventLog.parse([])
    names = set()
    for name in ("pipeline_noop", "pipeline_commit"):
        wl = workloads.workloads()[name]
        wl.last_files, wl.last_bytes = (4, 1.5), 1000
        prefixes = ["prefix.sources", "prefix.grok", "prefix.enrich", "prefix.router"]
        if wl.commit:
            prefixes += ["prefix.processors", "prefix.aggregates"]
        io = ["pass/run_pipeline/tableio." + p for p in ("write", "lineage_readback", "metrics_append")]
        m = wl.layer_metrics(_traced(prefixes + ["pass"] + io), log)
        assert abs(m["trace.layer_sum_s"] - m["trace.wall_s"]) < 1e-9
        names |= set(m)
    sweep = workloads.SweepWorkload()
    sweep.input_rows = 10
    names |= set(sweep.layer_metrics(
        _traced(["pass"] + [f"pass/query.{k}" for k in workloads.SWEEP_KEYS]), log))
    return names


def test_every_per_layer_metric_is_declared_and_emitted():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {m["name"] for m in json.load(f)["per_layer"]}
    emitted = _emitted() | ROW_COUNTS | RUN_LEVEL
    assert emitted == declared
