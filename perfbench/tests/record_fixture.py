"""Re-record ``fixtures/eventlog.jsonl`` for test_spans.py.

    python3 perfbench/tests/record_fixture.py

Runs three job groups in a local[2] session with the event log on, then keeps
only the events and fields ``spans.EventLog`` reads (job start, stage
completion, task end), so the fixture is small and carries no host paths.
"""

from __future__ import annotations

import json
import operator
import os
import tempfile

from pyspark.sql import SparkSession

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "eventlog.jsonl")
KEEP = {
    "SparkListenerJobStart": ("Job ID", "Stage IDs"),
    "SparkListenerStageCompleted": (),
    "SparkListenerTaskEnd": ("Stage ID", "Stage Attempt ID", "Task Type", "Task End Reason", "Task Metrics"),
}


def trim(ev: dict) -> dict:
    kind = ev["Event"]
    out = {"Event": kind} | {k: ev[k] for k in KEEP[kind] if k in ev}
    if kind == "SparkListenerJobStart":
        out["Properties"] = {"spark.jobGroup.id": (ev.get("Properties") or {}).get("spark.jobGroup.id")}
    elif kind == "SparkListenerStageCompleted":
        info = ev["Stage Info"]
        out["Stage Info"] = {k: info[k] for k in ("Stage ID", "Stage Attempt ID", "Stage Name",
                                                  "Number of Tasks") if k in info}
        out["Stage Info"]["Stage Name"] = out["Stage Info"].get("Stage Name", "").split(" at ")[0]
    return out


def main() -> None:
    with tempfile.TemporaryDirectory() as tmp:
        spark = (
            SparkSession.builder.master("local[2]").appName("fixture")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{tmp}")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        sc = spark.sparkContext
        data = os.path.join(tmp, "data.parquet")
        spark.range(0, 1000, 1, 2).write.parquet(data)

        sc.setJobGroup("g/scan", "scan")
        spark.read.parquet(data).write.format("noop").mode("overwrite").save()
        pairs = sc.parallelize(range(1000), 2).map(lambda x: (x % 10, 1)).reduceByKey(operator.add, 2)
        sc.setJobGroup("g/agg", "aggregate")
        pairs.collect()
        sc.setJobGroup("g/agg/collect", "collect again; the map stage is reused")
        pairs.collect()
        app = sc.applicationId
        spark.stop()

        with open(os.path.join(tmp, app)) as f:
            events = [json.loads(line) for line in f if line.strip()]
    started = False
    with open(OUT, "w") as f:
        for ev in events:
            if ev["Event"] == "SparkListenerJobStart":
                started = started or (ev.get("Properties") or {}).get("spark.jobGroup.id") == "g/scan"
            if started and ev["Event"] in KEEP:
                f.write(json.dumps(trim(ev)) + "\n")


if __name__ == "__main__":
    main()
