"""spark-submit entrypoint for the flagship pipeline (north_rule packaging).

    spark-submit --master local[8] --driver-memory 4g \
        --py-files dist/pipeline.zip \
        jobs/pipeline_job.py --rows 100000 --output /tmp/otelspark_out

On a cluster the master/executors come from spark-submit; this script only
declares the job.  With --input it reads an existing sequences(+raw) table
(Iceberg when a catalog is configured, parquet otherwise); with --rows N it
generates the seeded synthetic input instead.  With --output it commits each
routed sink as a resumable snapshot group via TableIO (re-running the same
--run-id skips already-committed groups — the checkpoint/resume story);
without it, the routed frame is materialized through the noop sink
(pure-compute benchmark mode).  After a commit, ``per_sink`` holds the
counts of the committed data, read back once from the written files, so
the parse → enrich → route DAG runs once per run.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None, help="sequences table path (parquet dir)")
    ap.add_argument("--rows", type=int, default=1_000_000, help="synthesize N rows if no --input")
    ap.add_argument("--output", default=None, help="sink root; enables snapshot commits + resume")
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument(
        "--salt-buckets",
        type=int,
        default=None,
        help="override spec.salt_buckets, the salt width of the pre-write "
        "AQE rebalance on (sink, salt); the write's task and file count "
        "follow the data size, not this value.  0 = straight-through write "
        "(no pre-write shuffle — use when input partitions are already "
        "well distributed and local shuffle scratch is the constraint)",
    )
    ap.add_argument(
        "--config",
        default=None,
        help="YAML pipeline spec (routes/grok/relabel/attributes) — the "
        "`otelcol --config` analog; default spec when omitted",
    )
    args = ap.parse_args()

    # Under spark-submit the session already carries the submitted master;
    # builder.getOrCreate() attaches to it (never hardcode a master here).
    spark = (
        SparkSession.builder.appName("otel-collector-spark-job")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    # Fail-fast sizing check: local[k] with spark-submit's default 1g heap
    # cannot buffer k concurrent parquet writers (~128 MB row-group each).
    # Rule of thumb: >= 256 MB heap per executor thread (cluster executors
    # normally get 4-8 GB for 4-8 cores).
    import re as _re
    m = _re.match(r"local\[(\d+|\*)\]", spark.sparkContext.master or "")
    if m and args.output:
        import os as _os
        threads = _os.cpu_count() if m.group(1) == "*" else int(m.group(1))
        heap_mb = int(spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory() / 1e6)
        if heap_mb < 256 * threads:
            print(
                f"WARNING: {heap_mb} MB heap for {threads} local threads; "
                f"writes may OOM — pass --driver-memory {max(4, threads // 4)}g",
                file=sys.stderr,
            )

    from opentelemetry_collector_spark.plans.metrics import StageMetrics
    from opentelemetry_collector_spark.plans.pipeline import run_pipeline
    from opentelemetry_collector_spark.sources.synthetic import gen_lookup, gen_telemetry
    from opentelemetry_collector_spark.sources.tableio import ParquetSnapshotIO

    if args.input:
        records = spark.read.parquet(args.input)
    else:
        records = gen_telemetry(spark, args.rows, seed=args.seed, partitions=64)

    spec = None
    if args.config:
        from opentelemetry_collector_spark.plans.config import spec_from_yaml

        with open(args.config) as f:
            spec = spec_from_yaml(f.read())  # fail fast, before any Spark plan
    if args.salt_buckets is not None:
        from opentelemetry_collector_spark.plans.pipeline import PipelineSpec

        spec = spec or PipelineSpec()
        spec.salt_buckets = args.salt_buckets

    io = ParquetSnapshotIO(args.output) if args.output else None
    metrics = StageMetrics(run_id=args.run_id)
    t0 = time.monotonic()
    out = run_pipeline(
        spark, records, gen_lookup(spark), spec=spec, io=io, run_id=args.run_id, metrics=metrics
    )
    if io is None:
        out["tagged"].write.format("noop").mode("overwrite").save()
    src = {r["source"]: r["n_rows"] for r in out["source_counts"].collect()}
    snk = {r["sink"]: r["n_rows"] for r in out["sink_counts"].collect()}
    wall = time.monotonic() - t0
    total = sum(src.values())
    print(json.dumps({
        "rows": total,
        "wall_s": round(wall, 3),
        "seq_per_sec": round(total / wall, 1),
        "per_source": src,
        "per_sink": snk,
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
