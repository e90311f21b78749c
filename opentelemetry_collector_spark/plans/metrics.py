"""Observability: per-partition lineage + per-stage throughput (north_rule).

Collector parity target: obsreport (obsreport/obsreport_receiver.go,
obsreport_exporter.go ~approx) — every component reports counts; plus the
north_rule's "per-partition lineage and throughput metrics emitted to a
metrics table".

Design: lineage rows are computed **distributed** (groupBy spark_partition_id
— a tiny aggregate, not a collect of data rows); wall-clock is measured
driver-side around each materializing action; both land in one metrics table
with schema (run_id, stage, partition_id, rows_in, rows_out, wall_ms,
snapshot_id) per FIXTURES.md §5.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame

METRICS_SCHEMA = (
    "run_id string, stage string, partition_id int, rows_in long, rows_out long, "
    "wall_ms double, snapshot_id string"
)


def partition_lineage(df: DataFrame) -> DataFrame:
    """Rows per physical partition — the skew observatory.  Cheap: partial
    count per partition, one long per partition shuffled."""
    return df.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )


@dataclass
class StageMetrics:
    """Accumulates per-stage metric rows; flush to a DataFrame/table at end."""

    run_id: str
    rows: list[tuple] = field(default_factory=list)

    def record_stage(
        self,
        stage: str,
        df_out: DataFrame,
        rows_in: int | None = None,
        snapshot_id: str | None = None,
        with_lineage: bool = True,
    ) -> int:
        """Materialize df_out's partition lineage and record one metrics row
        per partition (+ a stage-total row with partition_id = -1)."""
        t0 = time.monotonic()
        if with_lineage:
            lineage = partition_lineage(df_out).collect()
            total = sum(r["n_rows"] for r in lineage)
        else:
            lineage = []
            total = df_out.count()
        wall_ms = (time.monotonic() - t0) * 1000.0
        for r in lineage:
            self.rows.append(
                (self.run_id, stage, int(r["partition_id"]), rows_in, int(r["n_rows"]), None, snapshot_id)
            )
        self.rows.append((self.run_id, stage, -1, rows_in, total, wall_ms, snapshot_id))
        return total

    def timeit(self, stage: str, fn, rows_in: int | None = None, rows_out: int | None = None):
        """Time an arbitrary action (e.g. a sink write) as one stage row."""
        t0 = time.monotonic()
        result = fn()
        wall_ms = (time.monotonic() - t0) * 1000.0
        self.rows.append((self.run_id, stage, -1, rows_in, rows_out, wall_ms, None))
        return result

    def to_df(self, spark: SparkSession) -> DataFrame:
        return local_frame(spark, self.rows, METRICS_SCHEMA)

    def throughput(self, stage: str) -> float | None:
        """rows/sec for a stage-total row (the bench headline)."""
        for run_id, st, pid, rin, rout, wall_ms, snap in self.rows:
            if st == stage and pid == -1 and wall_ms and rout:
                return rout / (wall_ms / 1000.0)
        return None
