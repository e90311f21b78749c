"""The flagship pipeline: parse → enrich → route → aggregate (north_star).

Collector analog, end to end (SURVEY.md §3.2): OTLP receiver → attributes/
span processors (regex extract) → resource processor (lookup enrich) →
fanoutconnector → per-exporter sinks, with obsreport counters at ingress and
egress.  Spark reading: one lazy DataFrame chain per stage, run once per
run.  Without ``io`` nothing is materialized here; the caller runs the
routed frame and the two count frames.  With a partitioned ``io`` the
chain runs once, in the sink write; the per-sink counts then come from one
columnar count readback of the written data (a driver-local frame), so
collecting ``sink_counts`` does not re-run parse → enrich → route.

Scale posture (the 100 TB story):

- parse/enrich are narrow (no shuffle): regexp_extract in codegen + a
  broadcast hash join.  The input scan is the only full pass.
- route is a single CASE-WHEN tag (one pass) + one ``partitionBy(sink)``
  write; only the non-partitioned fallback persists the routed frame for
  per-sink filtered writes.
- the pre-write shuffle is an AQE rebalance on the salted key
  ``(sink, salt)`` of ``salted_key``: the salt splits the zipf-head source
  so no writer owns 34 % of the data, and AQE sets the write's task and
  file count from the data size (coalescing small partitions, splitting
  big ones), not from ``salt_buckets``.
- aggregates are partial+final hash aggs (bytes moved ≈ #groups, not #rows).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..functions.grok import GrokPattern
from ..functions.hashing import salted_key
from ..operators.aggregates import counts_by_sink, counts_by_source
from ..operators.attraction import AttrAction, apply_actions
from ..operators.enrich import broadcast_enrich
from ..operators.relabel import RelabelRule, apply_relabel
from ..operators.router import Route, route_tag
from ..session import local_frame
from ..sources.tableio import TableIO
from .metrics import StageMetrics

# The flagship grok pattern over the synthetic raw lines (FIXTURES.md §2).
RAW_LINE_PATTERN = GrokPattern(
    r"^%{TIMESTAMP_ISO8601:ts} %{LOGLEVEL:level} svc=(?P<svc>[\w-]+) "
    r'trace=%{HEX:tid} msg="(?P<msg>[^"]*)" k=%{INT:k}$',
    types={"k": "int", "ts": "timestamp"},
)

DEFAULT_ROUTES = [
    Route("sink_hot", "source = 'src0'", 0),
    Route("sink_warm", "source IN ('src1','src2','src3')", 1),
    Route("sink_errors", "level = 'ERROR'", 2),
    Route("sink_default", "TRUE", 9),
]


@dataclass
class PipelineSpec:
    """Declarative pipeline config — the YAML service.pipelines analog."""

    routes: list[Route] = field(default_factory=lambda: list(DEFAULT_ROUTES))
    grok: GrokPattern = field(default_factory=lambda: RAW_LINE_PATTERN)
    raw_col: str = "raw"
    source_col: str = "source"
    id_col: str = "doc_id"
    size_col: str = "n_tok"
    # salt width of the committed write's rebalance key (sink, salt): how
    # many keys the zipf-head sink spreads over.  AQE sets the write's task
    # and file count from the data size, not from this; <= 0 writes
    # straight through with no shuffle.
    salt_buckets: int = 32
    lookup_defaults: dict[str, object] = field(default_factory=lambda: {"env": "unknown"})
    # optional processor chains, executed in collector order after parse:
    # relabel (receiver-side relabel_configs) then attributes (attraction)
    relabel: list[RelabelRule] = field(default_factory=list)
    attr_actions: list[AttrAction] = field(default_factory=list)
    # OTTL transform statements (contrib transformprocessor analog), applied
    # after attributes — parsed once, compiled to the same projection
    transform: list[str] = field(default_factory=list)
    # OTTL drop conditions (contrib filterprocessor analog), applied after
    # transform: a record is dropped when ANY condition is true; NULL keeps
    # (error_mode: ignore).  Compiles to one filter — pushdown-friendly.
    drop_conditions: list[str] = field(default_factory=list)
    # groupbyattrs processor analog: promote these attribute columns to a
    # synthetic resource — records get a deterministic resource_id as a
    # pure projection (no shuffle); applied after filters
    group_by_attrs: list[str] = field(default_factory=list)
    # ONE partitionBy(sink) write instead of cache + N filtered writes —
    # the only mode that holds at 10^12 rows (no full-dataset cache copy).
    single_pass_fanout: bool = True


def engine_columns(df: DataFrame, spec: "PipelineSpec") -> frozenset[str]:
    """Columns a Prometheus-style labelkeep/labeldrop must never remove:
    the engine's id/source/size/payload columns plus anything a route
    predicate references (conservative lexical scan of the SQL — an
    over-approximation intersected with real columns, so a stray keyword
    can only over-protect, never break)."""
    import re as _re

    referenced: set[str] = set()
    for rt in spec.routes:
        referenced |= set(_re.findall(r"[A-Za-z_][A-Za-z0-9_]*", rt.predicate))
    core = {spec.id_col, spec.source_col, spec.size_col, spec.raw_col, "tokens"}
    return frozenset((core | referenced) & set(df.columns))


def run_pipeline(
    spark: SparkSession,
    records: DataFrame,
    lookup: DataFrame,
    spec: PipelineSpec | None = None,
    io: TableIO | None = None,
    run_id: str = "run0",
    metrics: StageMetrics | None = None,
) -> dict[str, DataFrame]:
    """Execute the flagship job; returns the stage frames + aggregates.

    Returns keys: parsed, enriched, tagged, source_counts, sink_counts,
    metrics.  When ``io`` is given, each sink subset is committed as a
    snapshot group and the metrics table is appended (resumable via
    plans.ledger).  After a partitioned commit, ``sink_counts`` holds the
    counts of the committed data as a driver-local frame with the schema of
    ``counts_by_sink(tagged)``: collecting it launches no Spark job.  It
    stays the lazy ``counts_by_sink(tagged)`` frame without ``io``, on the
    non-partitioned fallback, and on a resume no-op whose data was cleaned.
    """
    spec = spec or PipelineSpec()
    metrics = metrics or StageMetrics(run_id=run_id)

    # --- parse (attributes/span processor analog; narrow, codegen) --------
    if spec.raw_col in records.columns:
        parsed = records.select("*", *spec.grok.columns(F.col(spec.raw_col)).values())
    else:
        parsed = records

    # --- optional processor chains (collector order: relabel → attributes);
    # both compile to pure column expressions, so the stage stays narrow ---
    if spec.relabel:
        parsed = apply_relabel(parsed, spec.relabel, protected=engine_columns(parsed, spec))
    if spec.attr_actions:
        parsed = apply_actions(parsed, spec.attr_actions)
    if spec.transform:
        from ..functions.ottl import apply_ottl

        parsed = apply_ottl(parsed, spec.transform)
    if spec.drop_conditions:
        from ..operators.filters import filter_ottl_drop

        parsed = filter_ottl_drop(parsed, spec.drop_conditions)
    if spec.group_by_attrs:
        from ..operators.router import group_by_attrs as _gba

        _, parsed = _gba(parsed, spec.group_by_attrs)

    # --- enrich (resource processor analog; broadcast hash join) ----------
    enriched = broadcast_enrich(parsed, lookup, on=spec.source_col, defaults=spec.lookup_defaults)

    # --- route (fanoutconnector analog; single-pass tag) ------------------
    tagged = route_tag(enriched, spec.routes)

    # --- aggregate (obsreport parity counters) -----------------------------
    src_counts = counts_by_source(records, spec.source_col, spec.size_col)
    sink_counts = counts_by_sink(tagged, "sink", spec.size_col)

    out = {
        "parsed": parsed,
        "enriched": enriched,
        "tagged": tagged,
        "source_counts": src_counts,
        "sink_counts": sink_counts,
        "metrics": metrics,
    }

    if io is not None:
        # Salt the routed write so the zipf-head source spreads across
        # writers (north_rule skew mandate): an AQE rebalance on the salted
        # key (sink, salt).  AQE coalesces small shuffle partitions and
        # splits oversized ones, so the task and file count follow the data
        # size, not ``salt_buckets``; the salt only keeps one sink from
        # hashing into one partition.  The hint names columns (it rejects
        # expressions), so the salt rides in a temporary column that no
        # user column can collide with, dropped before the write.
        # salt_buckets<=0 skips the shuffle entirely (straight-through
        # write): with the single-pass partitionBy(sink) writer every task
        # writes its own slice of every sink, so an already-well-distributed
        # input needs NO exchange — the trade is more, smaller files per
        # sink vs shuffle+sort scratch (~2× the dataset on local disk).
        if spec.salt_buckets > 0:
            taken = {c.lower() for c in tagged.columns}
            salt_col = "_salt"
            while salt_col in taken:
                salt_col = "_" + salt_col
            _, salt = salted_key(F.col("sink"), F.col(spec.id_col), spec.salt_buckets)
            salted = (
                tagged.select("*", salt.alias(salt_col))
                .hint("rebalance", "sink", salt_col)
                .drop(salt_col)
            )
        else:
            salted = tagged
        sinks = [r.sink for r in sorted(spec.routes, key=lambda x: x.priority)]
        if spec.single_pass_fanout and hasattr(io, "append_group_partitioned"):
            # 100 TB path: ONE partitionBy(sink) pass, no cache — every row
            # written exactly once; per-sink manifests keep resume semantics.
            commit = metrics.timeit(
                "write:fanout",
                lambda: io.append_group_partitioned(salted, "sink", sinks, run_id),
            )
            for s, snap in commit.snapshots.items():
                metrics.rows.append((run_id, f"commit:{s}", -1, None, None, None, snap))
            # sent per sink from the WRITTEN data: one columnar count
            # readback feeds both the lineage rows and ``sink_counts``, so
            # the parse/enrich DAG never runs a second time.  The read takes
            # the routed frame's types: a sink named "2024" stays a string,
            # and a commit with no partition dirs (empty input) reads as
            # zero rows instead of failing schema inference.  The commit
            # handle carries the data path (no IO-layout assumptions); a
            # resume no-op whose data was cleaned away returns None → the
            # lazy counts over ``tagged`` stay.
            if commit.data_dir is not None:
                read_schema = StructType(
                    [f for f in tagged.schema if f.name in ("sink", spec.size_col)]
                )
                written = spark.read.schema(read_schema).parquet(commit.data_dir)
                sent = counts_by_sink(written, "sink", spec.size_col).collect()
                for row in sent:
                    metrics.rows.append(
                        (run_id, f"lineage:{row['sink']}", -1, None, row["n_rows"], None, None)
                    )
                out["sink_counts"] = local_frame(spark, sent, sink_counts.schema)
        else:
            # fallback (non-partitioned IO): bounded-memory DISK_ONLY cache +
            # per-sink filtered writes — never MEMORY-pressure the executors
            # with a full copy of the routed frame.
            from pyspark.storagelevel import StorageLevel

            cached = salted.persist(StorageLevel.DISK_ONLY)
            for s in sinks:
                branch = cached.filter(F.col("sink") == s)
                snap = metrics.timeit(
                    f"write:{s}", lambda b=branch, t=s: io.append_group(b, t, f"{run_id}-{t}")
                )
                metrics.rows.append((run_id, f"commit:{s}", -1, None, None, None, snap))
            metrics.record_stage("routed:salted", cached)
            cached.unpersist()
        # north_rule: per-partition lineage + throughput land in a metrics
        # TABLE, not just the driver.
        io.append_group(metrics.to_df(spark), "_metrics", f"{run_id}-metrics")
    return out
