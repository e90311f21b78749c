"""End-to-end pipeline + resume ledger — mirrors the reference testbed
correctness flow (validator.assertSentRecdTracingDataEqual): every record
sent == received per sink, token arrays bit-equal, counts identical."""

import glob
import os
import re
from collections import Counter

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from opentelemetry_collector_spark.operators.aggregates import counts_by_sink
from opentelemetry_collector_spark.operators.router import Route
from opentelemetry_collector_spark.plans.ledger import run_with_resume
from opentelemetry_collector_spark.plans.metrics import StageMetrics, partition_lineage
from opentelemetry_collector_spark.plans.pipeline import DEFAULT_ROUTES, PipelineSpec, run_pipeline
from opentelemetry_collector_spark.sources.synthetic import (
    gen_lookup,
    gen_sequences,
    gen_telemetry,
)
from opentelemetry_collector_spark.sources.tableio import ParquetSnapshotIO

N = 4000


@pytest.fixture(scope="module")
def tel(spark):
    return gen_telemetry(spark, N, seed=42).cache()


def _collect_counting_jobs(spark, df, group):
    """(rows, Spark job ids) of one ``collect`` run under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "collect")
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rows, sc.statusTracker().getJobIdsForGroup(group)


def _rows(rows):
    return sorted((tuple(r) for r in rows), key=repr)


def test_generator_deterministic(spark):
    a = gen_sequences(spark, 500, 42).collect()
    b = gen_sequences(spark, 500, 42).collect()
    assert a == b
    # partitioning must not change values (content-addressed generator)
    c = gen_sequences(spark, 500, 42, partitions=7).orderBy("doc_id").collect()
    assert sorted(a, key=lambda r: r.doc_id) == c


def test_token_invariant(tel):
    assert tel.filter(F.size("tokens") != F.col("n_tok")).count() == 0


def test_source_skew_shape(tel):
    counts = {r.source: r.n for r in tel.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts["src0"] > counts["src9"] * 5  # zipf head ≈ 34% vs ≈ 3.4%


def test_pipeline_counts_and_row_equality(spark, tel):
    out = run_pipeline(spark, tel, gen_lookup(spark))
    sinks = {r.sink: r.n_rows for r in out["sink_counts"].collect()}
    assert sum(sinks.values()) == N
    # independent recomputation of expected per-sink counts (oracle-style)
    t = out["tagged"]
    hot = t.filter("source = 'src0'").count()
    assert sinks["sink_hot"] == hot
    # routed-row equality incl. exact token arrays: union of sinks ≅ input
    from opentelemetry_collector_spark.operators.router import union_sources

    branches = [t.filter(F.col("sink") == s).drop("sink") for s in sinks]
    union = union_sources(branches).select(*tel.columns)
    assert tel.exceptAll(union).count() == 0
    assert union.count() == tel.count()


def test_enrich_defaults_for_missing_dim(spark, tel):
    out = run_pipeline(spark, tel, gen_lookup(spark))
    env = {r.source: r.env for r in out["enriched"].select("source", "env").distinct().collect()}
    assert env["src9"] == "unknown"  # src9 has no lookup row
    assert env["src0"] == "prod"


def test_parse_stage_values(spark, tel):
    parsed = run_pipeline(spark, tel, gen_lookup(spark))["parsed"]
    row = parsed.filter("doc_id = 'doc0000000005'").collect()[0]
    # golden values recomputed from the FIXTURES.md formulas
    assert row.level == "INFO" and row.svc == "api-5" and row.k == 5
    assert row.ts is not None and len(row.tid) == 32


def test_snapshot_io_idempotent_and_resume(spark, tel, tmp_path):
    io = ParquetSnapshotIO(root=str(tmp_path))
    first = io.append_group(tel.limit(10), "t", "g1")
    again = io.append_group(tel.limit(10), "t", "g1")  # no-op, returns same snapshot
    assert first == again
    assert io.read(spark, "t").count() == 10

    with pytest.raises(RuntimeError):
        run_with_resume(spark, tel, io, "resum", n_groups=5, fail_after=2)
    assert len(io.committed_groups("resum")) == 2
    done = run_with_resume(spark, tel, io, "resum", n_groups=5)
    assert len(done) == 3
    got = io.read(spark, "resum")
    assert got.count() == N
    # exactly-once: no duplicated doc_ids after crash+resume
    assert got.select("doc_id").distinct().count() == N


def test_full_pipeline_with_sinks_and_metrics(spark, tel, tmp_path):
    io = ParquetSnapshotIO(root=str(tmp_path))
    m = StageMetrics(run_id="t1")
    run_pipeline(spark, tel, gen_lookup(spark), io=io, run_id="t1", metrics=m)
    total = sum(io.read(spark, s).count() for s in io_sinks(io))
    assert total == N
    mdf = m.to_df(spark)
    # single-pass fanout: one write stage, one commit row per sink
    assert mdf.filter("stage LIKE 'write:%'").count() == 1
    assert mdf.filter("stage LIKE 'commit:%'").count() == 4


def io_sinks(io):
    import os

    return [d for d in os.listdir(io.root) if d.startswith("sink_")]


def test_partition_lineage_counts(spark, tel):
    lineage = partition_lineage(tel.repartition(6))
    rows = lineage.collect()
    assert sum(r.n_rows for r in rows) == N
    assert len(rows) == 6


def test_pipeline_emits_metrics_table(spark, tmp_path):
    """north_rule: per-partition lineage + stage throughput written to a
    metrics table alongside the sinks."""
    from opentelemetry_collector_spark.plans.pipeline import run_pipeline
    from opentelemetry_collector_spark.sources.synthetic import gen_lookup, gen_telemetry
    from opentelemetry_collector_spark.sources.tableio import ParquetSnapshotIO

    io = ParquetSnapshotIO(str(tmp_path / "sinks"))
    run_pipeline(spark, gen_telemetry(spark, 1000, partitions=4), gen_lookup(spark),
                 io=io, run_id="mrun")
    m = io.read(spark, "_metrics")
    stages = {r["stage"] for r in m.select("stage").distinct().collect()}
    assert any(s.startswith("write:") for s in stages)
    assert any(s.startswith("commit:") for s in stages)
    # per-sink lineage from the written data sums to the input
    lineage_total = (
        m.filter("stage LIKE 'lineage:%'")
        .agg(F.sum("rows_out").alias("n")).collect()[0]["n"]
    )
    assert lineage_total == 1000
    # stage-total rows carry wall_ms (throughput derivable)
    assert m.filter("partition_id = -1 AND wall_ms IS NOT NULL").count() >= 1


def test_partitioned_fanout_resume_after_partial_commit(spark, tmp_path):
    """Crash between laying sink manifests: data written, only SOME sinks
    committed. Re-run must re-lay the remaining markers without duplicating
    rows (the data dir overwrite is idempotent; manifests gate visibility)."""
    import os

    from opentelemetry_collector_spark.plans.pipeline import run_pipeline
    from opentelemetry_collector_spark.sources.synthetic import gen_lookup, gen_telemetry
    from opentelemetry_collector_spark.sources.tableio import ParquetSnapshotIO

    io = ParquetSnapshotIO(str(tmp_path / "sinks"))
    tel = gen_telemetry(spark, 1000, partitions=4)
    run_pipeline(spark, tel, gen_lookup(spark), io=io, run_id="r1")
    # simulate the crash: delete two of the four sink manifests
    for sink in ("sink_warm", "sink_errors"):
        os.remove(str(tmp_path / "sinks" / sink / "_snapshots" / "r1.json"))
    with pytest.raises(FileNotFoundError):
        io.read(spark, "sink_warm")
    # resume: same run_id → rewrites data dir (idempotent) + re-lays markers
    run_pipeline(spark, tel, gen_lookup(spark), io=io, run_id="r1")
    total = sum(
        io.read(spark, s).count()
        for s in ("sink_hot", "sink_warm", "sink_errors", "sink_default")
    )
    assert total == 1000
    # fully-committed second resume is a pure no-op (snapshot ids unchanged)
    ids1 = {s: sorted(io.committed_groups(s)) for s in ("sink_hot", "sink_warm")}
    run_pipeline(spark, tel, gen_lookup(spark), io=io, run_id="r1")
    ids2 = {s: sorted(io.committed_groups(s)) for s in ("sink_hot", "sink_warm")}
    assert ids1 == ids2


def test_committed_but_empty_sink_reads_as_empty_frame(spark, tmp_path):
    """A sink whose route matched ZERO rows still commits a manifest but
    writes no partition dir; read() must return an empty typed frame, not
    crash (ADVICE r1: sink_errors on a clean run)."""
    from opentelemetry_collector_spark.sources.synthetic import gen_lookup, gen_telemetry

    io = ParquetSnapshotIO(str(tmp_path / "sinks"))
    spec = PipelineSpec(
        routes=[
            # impossible predicate → sink_never receives nothing
            __import__("opentelemetry_collector_spark.operators.router", fromlist=["Route"]).Route(
                "sink_never", "source = 'no_such_source'", 0
            ),
            __import__("opentelemetry_collector_spark.operators.router", fromlist=["Route"]).Route(
                "sink_all", "TRUE", 9
            ),
        ]
    )
    tel = gen_telemetry(spark, 200, partitions=2)
    run_pipeline(spark, tel, gen_lookup(spark), spec=spec, io=io, run_id="r1")
    empty = io.read(spark, "sink_never")
    assert empty.count() == 0
    # schema came from the commit manifest: data cols present and typed
    assert "doc_id" in empty.columns and "sink" in empty.columns
    assert io.read(spark, "sink_all").count() == 200


def test_fanout_commit_handle_carries_data_dir(spark, tmp_path):
    """append_group_partitioned returns the data path (no private-layout
    assumptions downstream); resume no-op with cleaned data returns None."""
    import shutil

    from opentelemetry_collector_spark.sources.synthetic import gen_lookup, gen_telemetry

    io = ParquetSnapshotIO(str(tmp_path / "sinks"))
    tel = gen_telemetry(spark, 100, partitions=2)
    out = run_pipeline(spark, tel, gen_lookup(spark), io=io, run_id="r1")
    sinks = ("sink_hot", "sink_warm", "sink_errors", "sink_default")
    tagged = out["tagged"]
    commit = io.append_group_partitioned(tagged, "sink", list(sinks), "r1")  # no-op
    assert commit.data_dir is not None and commit.data_dir.endswith("group=r1")
    # clean the fanout data, keep manifests → resume no-op reports None
    shutil.rmtree(commit.data_dir)
    commit2 = io.append_group_partitioned(tagged, "sink", list(sinks), "r1")
    assert commit2.data_dir is None and commit2.snapshots.keys() == commit.snapshots.keys()
    # and the full pipeline resume path survives the cleaned dir (no crash);
    # with no data to read back, sink_counts stays the lazy counts of tagged
    m = StageMetrics(run_id="r1")
    again = run_pipeline(spark, tel, gen_lookup(spark), io=io, run_id="r1", metrics=m)
    want = counts_by_sink(again["tagged"], "sink", "n_tok")
    got, jobs = _collect_counting_jobs(spark, again["sink_counts"], "sink_counts_resume")
    assert jobs != []
    assert again["sink_counts"].schema == want.schema
    assert _rows(got) == _rows(want.collect())
    assert sum(r["n_rows"] for r in got) == 100
    assert not any(st.startswith("lineage:") for _, st, *_ in m.rows)


def test_snapshot_time_travel_read(spark, tmp_path):
    """VERSION-AS-OF analog: reading a table at an earlier snapshot returns
    exactly the rows committed up to that point."""
    from opentelemetry_collector_spark.sources.synthetic import gen_sequences

    io = ParquetSnapshotIO(str(tmp_path / "t"))
    a = gen_sequences(spark, 100, seed=1, partitions=1)
    b = gen_sequences(spark, 50, seed=2, partitions=1)
    snap1 = io.append_group(a, "seqs", "g0")
    io.append_group(b, "seqs", "g1")
    assert io.read(spark, "seqs").count() == 150
    old = io.read(spark, "seqs", as_of_groups=io.groups_at("seqs", snap1))
    assert old.count() == 100
    log = io.snapshot_log("seqs")
    assert [m["group_id"] for m in log] == ["g0", "g1"]
    with pytest.raises(KeyError):
        io.groups_at("seqs", "snap-nope")


# Every sink name looks numeric, so partition-type inference on the written
# directories would read the sink column back as an int.
_NUMERIC_SINKS = PipelineSpec(
    routes=[
        Route("2024", "source = 'src0'", 0),
        Route("2025", "TRUE", 9),
    ]
)


@pytest.mark.parametrize(
    "case, spec",
    [
        ("default", None),
        ("one_partition", None),
        ("src9_only", None),
        ("numeric_sink", _NUMERIC_SINKS),
        ("empty", None),
        ("unparseable", None),
        ("null_source", None),
    ],
)
def test_committed_sink_counts_are_driver_local(spark, tel, tmp_path, case, spec):
    """After a commit, ``sink_counts`` holds the counts of the written data:
    the schema and rows of ``counts_by_sink(tagged)``, collected without a
    Spark job (the DAG is not re-run), and the same counts as the
    ``lineage:<sink>`` metric rows."""
    records = {
        "default": tel,
        "one_partition": gen_telemetry(spark, 500, seed=7, partitions=1),
        # src9 has no lookup row: every record takes the enrich default
        "src9_only": tel.filter("source = 'src9'"),
        "numeric_sink": tel,
        # writes no partition dir: the readback must not infer a schema
        "empty": tel.limit(0),
        # grok refuses every line: every parsed field is NULL
        "unparseable": tel.withColumn("raw", F.lit("not a log line")),
        "null_source": tel.withColumn(
            "source", F.when(F.col("source") != "src1", F.col("source"))
        ),
    }[case]
    io = ParquetSnapshotIO(str(tmp_path / "sinks"))
    m = StageMetrics(run_id="r1")
    out = run_pipeline(spark, records, gen_lookup(spark), spec=spec, io=io, run_id="r1", metrics=m)
    want = counts_by_sink(out["tagged"], "sink", "n_tok")

    got, jobs = _collect_counting_jobs(spark, out["sink_counts"], f"sink_counts_{case}")
    assert jobs == []
    assert out["sink_counts"].schema == want.schema
    assert _rows(got) == _rows(want.collect())
    lineage = {st[len("lineage:"):]: n for _, st, _, _, n, _, _ in m.rows if st.startswith("lineage:")}
    assert lineage == {r["sink"]: r["n_rows"] for r in got}
    if case == "numeric_sink":
        assert set(lineage) == {"2024", "2025"}
    if case == "src9_only":
        assert set(lineage) == {"sink_default", "sink_errors"}
    if case == "unparseable":  # level is NULL, so no record routes to sink_errors
        assert "sink_errors" not in lineage and sum(lineage.values()) == N
    if case == "empty":
        assert got == []
        for sink in ("sink_hot", "sink_warm", "sink_errors", "sink_default"):
            assert io.read(spark, sink).count() == 0


def _sql_plans(spark):
    """{execution id: formatted physical plan} of the SQL executions the
    session has run so far (final plans for adaptive ones)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    ex = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {
        ex.apply(i).executionId(): ex.apply(i).physicalPlanDescription()
        for i in range(ex.size())
    }


def _shuffle_exchanges(plan):
    """Arguments of every shuffle ``Exchange`` in a formatted plan's final
    tree (an adaptive plan's initial tree and broadcasts excluded)."""
    tree = plan.split("== Initial Plan ==")[0]
    ids = re.findall(r"(?<!Broadcast)Exchange \((\d+)\)", tree)
    return [
        re.search(rf"^\({i}\) Exchange\n(?:.*\n)*?Arguments: (.*)$", plan, re.M).group(1)
        for i in ids
    ]


@pytest.mark.parametrize(
    "case, salt_buckets",
    [("salted", 32), ("user_salt_column", 32), ("no_salt", 0)],
)
def test_committed_write_rebalances_on_salted_key(spark, tmp_path, case, salt_buckets):
    """The committed fan-out shuffles once, an AQE rebalance on (sink, salt):
    AQE sizes the write, the salt spreads every sink (the zipf-head one
    included) over several write tasks, the temporary salt column never
    reaches the committed data and never replaces a user column of the same
    name, and the rows and token arrays arrive unchanged."""
    records = gen_telemetry(spark, 20000, partitions=4)
    if case == "user_salt_column":
        records = records.withColumn("_salt", F.crc32("doc_id"))
    io = ParquetSnapshotIO(str(tmp_path / "sinks"))
    before = set(_sql_plans(spark))
    out = run_pipeline(
        spark, records, gen_lookup(spark), spec=PipelineSpec(salt_buckets=salt_buckets),
        io=io, run_id="r1",
    )
    tagged = out["tagged"]
    writes = [
        p for i, p in _sql_plans(spark).items()
        if i not in before and "InsertIntoHadoopFsRelationCommand" in p and "_fanout" in p
    ]
    assert len(writes) == 1
    exchanges = _shuffle_exchanges(writes[0])

    # every file holds exactly the routed columns: no salt, user columns kept
    files = glob.glob(str(tmp_path / "sinks" / "_fanout" / "**" / "part-*"), recursive=True)
    data_cols = set(tagged.columns) - {"sink"}
    for f in files:
        assert set(pq.read_schema(f).names) == data_cols

    cols = ["doc_id", F.xxhash64("tokens").alias("tok_hash")]
    if case == "user_salt_column":
        cols.append("_salt")
    want = tagged.select("sink", *cols)
    for s in (r.sink for r in DEFAULT_ROUTES):
        got = io.read(spark, s).select(F.lit(s).alias("sink"), *cols)
        assert _rows(got.collect()) == _rows(want.filter(F.col("sink") == s).collect())

    if salt_buckets <= 0:
        assert exchanges == []
        return
    assert len(exchanges) == 1
    key = re.match(
        r"hashpartitioning\(sink#\d+, (\w+)#\d+L?, \d+\), REBALANCE_PARTITIONS_BY_COL",
        exchanges[0],
    )
    assert key is not None, exchanges[0]
    assert key.group(1) not in data_cols
    # several tasks per sink, and no task near the zipf head's row share
    per_sink, per_task = Counter(), Counter()
    for f in files:
        n = pq.ParquetFile(f).metadata.num_rows
        per_sink[os.path.basename(os.path.dirname(f))] += n > 0
        per_task[re.search(r"part-(\d+)", os.path.basename(f)).group(1)] += n
    assert all(n > 1 for n in per_sink.values()), per_sink
    total = sum(per_task.values())
    head_share = tagged.filter("source = 'src0'").count() / total
    assert total == 20000 and max(per_task.values()) / total < head_share, per_task


def test_fallback_commit_writes_rebalanced_frame_without_salt(spark, tmp_path):
    """The non-partitioned fallback (DISK_ONLY persist + per-sink writes)
    consumes the same rebalanced frame: every sink's committed rows and
    token arrays equal its rows of ``tagged``, with no salt column."""
    io = ParquetSnapshotIO(str(tmp_path / "sinks"))
    records = gen_telemetry(spark, 2000, partitions=2)
    out = run_pipeline(
        spark, records, gen_lookup(spark), spec=PipelineSpec(single_pass_fanout=False),
        io=io, run_id="r1",
    )
    tagged = out["tagged"]
    cols = ["doc_id", F.xxhash64("tokens").alias("tok_hash")]
    for s in (r.sink for r in DEFAULT_ROUTES):
        got = io.read(spark, s)
        assert not [c for c in got.columns if "salt" in c]
        want = tagged.filter(F.col("sink") == s).select(*cols)
        assert _rows(got.select(*cols).collect()) == _rows(want.collect())
