"""The benchmark's workloads: one pass of each, its correctness check, and
the layer metrics of a traced pass.

Every workload drives the engine from outside through its public
functions.  ``prepare`` writes the seeded input and computes the expected
answer with DuckDB, before any Spark session exists; ``register`` is the
session-side set-up; ``run_pass`` is the timed unit of work and returns the
errors its check found (an empty list is a correct pass).
"""

from __future__ import annotations

import dataclasses
import functools
import json
import operator
import os
import shutil
import statistics

import duckdb
import pyspark.sql.functions as F

import gen
from host import Meter
from spans import EventLog, NullTracer, Tracer, prefix_self_times

HERE = os.path.dirname(os.path.abspath(__file__))

# The line shape of the telemetry input, written independently of the
# engine's grok library (RE2 syntax); group 1 is the level.
LINE_RX = (
    r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:?\d{2})? "
    r"(TRACE|DEBUG|INFO|WARN|WARNING|ERROR|FATAL) svc=[\w-]+ trace=[0-9a-fA-F]+ "
    r'msg="[^"]*" k=[+-]?\d+$'
)
SINKS = ("sink_hot", "sink_warm", "sink_errors", "sink_default")
LAYERS = ("sources", "grok", "processors", "enrich", "router", "aggregates", "tableio")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def _duckdb():
    """A DuckDB connection with no more threads than this process may use."""
    return duckdb.connect(config={"threads": len(os.sched_getaffinity(0))})


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class PipelineWorkload:
    """The flagship ``run_pipeline`` job, one pass as ``jobs/pipeline_job.py``
    runs it: without a sink root the routed frame goes to the noop sink;
    with one (``commit``) every pass commits into a fresh root under a fresh
    run id, so an idempotent resume can never turn it into a no-op."""

    def __init__(self, rows: int, spec_file: str | None, sink_sql: str, drop_sql: str,
                 commit: bool) -> None:
        self.input_rows, self.commit = rows, commit
        self.spec_file, self.sink_sql, self.drop_sql = spec_file, sink_sql, drop_sql

    # ---- set-up -----------------------------------------------------------
    def prepare(self, work: str, seed: int, cores: int) -> None:
        self.work = work
        self.input_dir = os.path.join(work, "input")
        gen.write_telemetry(self.input_dir, self.input_rows, seed, files=2 * cores)
        con = _duckdb()
        rows = con.execute(f"""
            WITH p AS (
              SELECT source, n_tok,
                     CASE WHEN regexp_full_match(raw, $rx) THEN regexp_extract(raw, $rx, 1) END AS level
              FROM read_parquet('{self.input_dir}/*.parquet')),
            s AS (SELECT *, {self.sink_sql} AS sink, coalesce({self.drop_sql}, false) AS dropped FROM p)
            SELECT 'source', source, count(*), CAST(sum(n_tok) AS BIGINT) FROM s GROUP BY 2
            UNION ALL
            SELECT 'sink', sink, count(*), CAST(sum(n_tok) AS BIGINT) FROM s WHERE NOT dropped GROUP BY 2
        """, {"rx": LINE_RX}).fetchall()
        con.close()
        self.expected = {
            kind: {k: (n, t) for kd, k, n, t in rows if kd == kind}
            for kind in ("source", "sink")
        }

    def register(self, spark) -> None:
        from opentelemetry_collector_spark.plans.config import spec_from_yaml
        from opentelemetry_collector_spark.plans.pipeline import PipelineSpec
        from opentelemetry_collector_spark.sources.synthetic import gen_lookup

        self.records = spark.read.parquet(self.input_dir)
        self.lookup = gen_lookup(spark)
        if self.spec_file:
            with open(os.path.join(HERE, self.spec_file)) as f:
                self.spec = spec_from_yaml(f.read())
        else:
            self.spec = PipelineSpec()

    # ---- one pass ---------------------------------------------------------
    def _pipeline(self, spark, run_id: str, tracer, io=None) -> tuple[dict, dict]:
        from opentelemetry_collector_spark.plans.metrics import StageMetrics
        from opentelemetry_collector_spark.plans.pipeline import run_pipeline

        with tracer.span("run_pipeline"):
            out = run_pipeline(spark, self.records, self.lookup, spec=self.spec, io=io,
                               run_id=run_id, metrics=StageMetrics(run_id=run_id))
            if io is None:
                noop(out["tagged"])
        with tracer.span("aggregates.source_counts"):
            src = {r[0]: (r["n_rows"], r["n_tok_sum"]) for r in out["source_counts"].collect()}
        with tracer.span("aggregates.sink_counts"):
            snk = {r[0]: (r["n_rows"], r["n_tok_sum"]) for r in out["sink_counts"].collect()}
        self.last_out, self.last_sent = out, snk
        return src, snk

    def run_pass(self, spark, pass_no: int, tracer=NullTracer()) -> tuple[Meter, list[str]]:
        run_id = f"pass{pass_no}"
        root = os.path.join(self.work, "out", run_id) if self.commit else None
        io = _io(root, tracer) if self.commit else None
        with Meter() as meter, tracer.span("pass"):
            src, snk = self._pipeline(spark, run_id, tracer, io)
        errors = self.check(src, snk)
        if root:
            errors += self.check_commit(root, run_id)
            self.last_files = _file_stats(os.path.join(root, "_fanout"))
            self.last_bytes = _tree_bytes(root)
            shutil.rmtree(root, ignore_errors=True)
        return meter, errors

    def check(self, src: dict, snk: dict) -> list[str]:
        errors = []
        if src != self.expected["source"]:
            errors.append(f"source counts {src} != expected {self.expected['source']}")
        if snk != self.expected["sink"]:
            errors.append(f"sink counts {snk} != expected {self.expected['sink']}")
        return errors

    def check_commit(self, root: str, run_id: str) -> list[str]:
        """Read back every committed sink through its manifest, plus the
        ``_metrics`` group the run appended."""
        errors = []
        con = _duckdb()
        for sink in SINKS:
            manifest = os.path.join(root, sink, "_snapshots", f"{run_id}.json")
            if not os.path.exists(manifest):
                errors.append(f"{sink}: no manifest")
                continue
            with open(manifest) as f:
                m = json.load(f)
            want = self.expected["sink"].get(sink, (0, 0))[0]
            path = m.get("external_path", "")
            got = (
                con.execute(f"SELECT count(*) FROM read_parquet('{path}/*.parquet')").fetchone()[0]
                if os.path.isdir(path) else 0
            )
            if m.get("group_id") != run_id or got != want:
                errors.append(f"{sink}: group {m.get('group_id')} read back {got} rows, want {want}")
        # the engine's own obsreport rows: one lineage row per written sink,
        # counted from the data it committed
        mdir = os.path.join(root, "_metrics", "data", f"group={run_id}-metrics")
        if not os.path.exists(os.path.join(root, "_metrics", "_snapshots", f"{run_id}-metrics.json")):
            errors.append("_metrics: no manifest")
        else:
            lineage = dict(con.execute(f"""
                SELECT substr(stage, length('lineage:') + 1), rows_out
                FROM read_parquet('{mdir}/*.parquet') WHERE stage LIKE 'lineage:%'""").fetchall())
            want = {k: n for k, (n, _) in self.expected["sink"].items()}
            if lineage != want:
                errors.append(f"_metrics lineage {lineage} != expected {want}")
        con.close()
        return errors

    # ---- traced pass: cumulative prefixes, then the pass itself -----------
    def traced_pass(self, spark, pass_no: int, tracer: Tracer) -> tuple[Meter, list[str]]:
        """Each prefix is a frame ``run_pipeline`` itself returns, so the
        prefixes follow the engine's chain as it is: ``parsed`` of a spec
        without processors (scan + grok), then ``parsed`` (+ processors),
        ``enriched`` and ``tagged`` of the pass's own spec."""
        from opentelemetry_collector_spark.plans.pipeline import run_pipeline

        spec = self.spec
        with tracer.span("prefix.sources"):
            noop(self.records)
        grok_only = dataclasses.replace(spec, relabel=[], attr_actions=[], transform=[],
                                        drop_conditions=[], group_by_attrs=[])
        grokked = run_pipeline(spark, self.records, self.lookup, spec=grok_only)["parsed"]
        with tracer.span("prefix.grok"):
            noop(grokked)
        out = run_pipeline(spark, self.records, self.lookup, spec=spec)
        if grok_only != spec:
            with tracer.span("prefix.processors"):
                noop(out["parsed"])
        with tracer.span("prefix.enrich"):
            noop(out["enriched"])
        with tracer.span("prefix.router"):
            noop(out["tagged"])
        if self.commit:
            with tracer.span("prefix.aggregates"):
                self._pipeline(spark, f"prefix{pass_no}", tracer)
        self.last_grokked = grokked
        return self.run_pass(spark, pass_no, tracer)

    def layer_metrics(self, tracer: Tracer, log: EventLog) -> dict[str, float]:
        passes = sorted({s.pass_id for s in tracer.spans})
        top = "tableio" if self.commit else "aggregates"
        selves: dict[str, list[float]] = {layer: [] for layer in LAYERS}
        for p in passes:
            walls = {s.path[len("prefix."):]: s.seconds for s in tracer.spans
                     if s.pass_id == p and s.path.startswith("prefix.") and "/" not in s.path}
            walls[top] = next(s.seconds for s in tracer.spans if s.pass_id == p and s.path == "pass")
            for layer, v in prefix_self_times(walls, list(LAYERS)).items():
                selves[layer].append(v)
        m = {
            "sources.scan_s": median(selves["sources"]),
            "grok.parse_s": median(selves["grok"]),
            "processors.self_s": median(selves["processors"]),
            "enrich.self_s": median(selves["enrich"]),
            "router.self_s": median(selves["router"]),
            "aggregates.self_s": median(selves["aggregates"]),
            "tableio.self_s": median(selves["tableio"]),
        }
        m["trace.layer_sum_s"] = sum(m.values())
        m["trace.wall_s"] = median(tracer.durations("pass"))

        per_pass = [log.totals(f"{p}/pass") for p in passes]
        m.update(_spark_metrics(per_pass, self.input_rows))
        m["aggregates.jobs"] = median([
            log.totals(f"{p}/pass/aggregates.source_counts").jobs
            + log.totals(f"{p}/pass/aggregates.sink_counts").jobs for p in passes
        ])
        io_span = "pass/run_pipeline/tableio."
        for part in ("write", "lineage_readback", "metrics_append"):
            m[f"tableio.{part}_s"] = median(tracer.durations(io_span + part))
        if self.commit:
            n_files, max_ratio = self.last_files
            m.update({"tableio.files_written": n_files, "tableio.max_file_rows_ratio": max_ratio,
                      "tableio.bytes_written": self.last_bytes})
        return m

    def row_counts(self, spark) -> dict[str, float]:
        """The obsreport counts of the last traced pass, one action each over
        the parsed and the routed frame (outside every timed span)."""
        parsed_any = functools.reduce(
            operator.or_, [F.col(c).isNotNull() for c in self.spec.grok.group_index]
        )
        refused = self.last_grokked.agg(F.count_if(~parsed_any)).collect()[0][0]
        tagged = self.last_out["tagged"]
        n, defaulted, unrouted = tagged.agg(
            F.count(F.lit(1)), F.count_if(F.col("env") == "unknown"), F.count_if(F.col("sink").isNull())
        ).collect()[0]
        m = {
            "grok.refused_rows": refused,
            "filters.dropped_rows": self.input_rows - n,
            "enrich.defaulted_rows": defaulted,
            "router.unrouted_rows": unrouted,
        }
        for sink in SINKS:
            m[f"router.sent.{sink}"] = self.last_sent.get(sink, (0, 0))[0]
        return m


def _io(root: str, tracer):
    """A ``ParquetSnapshotIO`` whose two entry points are traced spans; the
    gap between them is the lineage readback ``run_pipeline`` does."""
    from opentelemetry_collector_spark.sources.tableio import ParquetSnapshotIO

    class TracedIO(ParquetSnapshotIO):
        readback = None

        def append_group_partitioned(self, df, part_col, tables, group_id):
            with tracer.span("tableio.write"):
                commit = super().append_group_partitioned(df, part_col, tables, group_id)
            self.readback = tracer.open("tableio.lineage_readback")
            return commit

        def append_group(self, df, table, group_id):
            if self.readback is not None:
                tracer.close(self.readback)
                self.readback = None
            with tracer.span("tableio.metrics_append"):
                return super().append_group(df, table, group_id)

    return TracedIO(root) if isinstance(tracer, Tracer) else ParquetSnapshotIO(root)


def _file_stats(root: str) -> tuple[int, float]:
    """(parquet files written, largest file's rows ÷ mean rows per file)."""
    import pyarrow.parquet as pq

    rows = [
        pq.read_metadata(os.path.join(d, f)).num_rows
        for d, _, files in os.walk(root) for f in files if f.endswith(".parquet")
    ]
    return len(rows), (max(rows) / statistics.mean(rows) if rows else 0.0)


def _tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root) for f in files if f.endswith(".parquet")
    )


def _spark_metrics(per_pass, input_rows: int) -> dict[str, float]:
    """Engine-wide task metrics of the pass span, median over passes."""
    def med(attr):
        return median([getattr(t, attr) for t in per_pass])

    return {
        "spark.jobs": med("jobs"),
        "spark.stages": med("stages"),
        "spark.single_task_stages": med("single_task_stages"),
        "spark.executor_cpu_s": med("executor_cpu_s"),
        "spark.gc_s": med("gc_s"),
        "spark.shuffle_read_bytes": med("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": med("shuffle_write_bytes"),
        "spark.spill_bytes": med("spill_bytes"),
        "spark.max_task_share": med("max_task_share"),
        "sources.rows_read_per_input_row": med("input_records") / input_rows,
    }


# --------------------------------------------------------------------------
# operator sweep
# --------------------------------------------------------------------------

SWEEP_KEYS = ("parse_grok", "graph_label_propagation", "token_kl_by_source", "pack_sequences")
SWEEP_SF = 0.01


class SweepWorkload:
    """Registry keys at a fixed scale factor; a pass runs every key once and
    collects its rows, clearing the cache between keys."""

    def prepare(self, work: str, seed: int, cores: int) -> None:
        from opentelemetry_collector_spark.queries import ORACLES
        from tools.check_oracle import normalize

        self.sf_dir = os.path.join(work, "input")
        self.input_rows = gen.write_testdata(self.sf_dir, SWEEP_SF, seed)
        con = _duckdb()
        for t in self.tables():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        self.expected = {}
        for k in SWEEP_KEYS:
            res = con.execute(ORACLES[k])
            self.expected[k] = normalize([d[0] for d in res.description], res.fetchall())
        con.close()

    def register(self, spark) -> None:
        from opentelemetry_collector_spark.sources.testdata import load_table

        for t in self.tables():
            load_table(spark, self.sf_dir, t)

    def tables(self) -> list[str]:
        return sorted(f[: -len(".parquet")] for f in os.listdir(self.sf_dir))

    def run_pass(self, spark, pass_no: int, tracer=NullTracer()) -> tuple[Meter, list[str]]:
        from opentelemetry_collector_spark.queries import QUERIES
        from tools.check_oracle import normalize

        got = {}
        with Meter() as meter, tracer.span("pass"):
            for k in SWEEP_KEYS:
                with tracer.span(f"query.{k}"):
                    df = QUERIES[k](spark, self.sf_dir)
                    got[k] = (df.columns, [tuple(r) for r in df.collect()])
                    spark.catalog.clearCache()
        errors = [f"{k}: differs from its oracle" for k, (cols, rows) in got.items()
                  if normalize(cols, rows) != self.expected[k]]
        return meter, errors

    traced_pass = run_pass

    def row_counts(self, spark) -> dict[str, float]:
        return {}

    def layer_metrics(self, tracer: Tracer, log: EventLog) -> dict[str, float]:
        passes = sorted({s.pass_id for s in tracer.spans})
        m = {"trace.wall_s": median(tracer.durations("pass"))}
        m["trace.layer_sum_s"] = sum(median(tracer.durations(f"pass/query.{k}")) for k in SWEEP_KEYS)
        m.update(_spark_metrics([log.totals(f"{p}/pass") for p in passes], self.input_rows))
        for k in SWEEP_KEYS:
            per = [log.totals(f"{p}/pass/query.{k}") for p in passes]
            m[f"query.{k}.wall_s"] = median(tracer.durations(f"pass/query.{k}"))
            m[f"query.{k}.executor_cpu_s"] = median([t.executor_cpu_s for t in per])
            m[f"query.{k}.shuffle_bytes"] = median([t.shuffle_write_bytes for t in per])
            m[f"query.{k}.max_task_share"] = median([t.max_task_share for t in per])
        return m


# The routes of each spec as first-match-wins SQL over (source, level).
DEFAULT_SINK_SQL = """CASE WHEN source = 'src0' THEN 'sink_hot'
    WHEN source IN ('src1','src2','src3') THEN 'sink_warm'
    WHEN level = 'ERROR' THEN 'sink_errors' ELSE 'sink_default' END"""
GOLDEN_SINK_SQL = """CASE WHEN source = 'src0' THEN 'sink_hot'
    WHEN source IN ('src1','src2') THEN 'sink_warm'
    WHEN level = 'ERROR' THEN 'sink_errors' ELSE 'sink_default' END"""


NOOP_ROWS = 200_000
COMMIT_ROWS = 50_000


def workloads() -> dict[str, object]:
    return {
        "pipeline_noop": PipelineWorkload(
            NOOP_ROWS, None, DEFAULT_SINK_SQL, "false", commit=False),
        "pipeline_commit": PipelineWorkload(
            COMMIT_ROWS, "pipeline_commit.yaml", GOLDEN_SINK_SQL,
            "level = 'TRACE'", commit=True),
        "operator_sweep": SweepWorkload(),
    }
