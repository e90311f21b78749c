"""Physical-plan audits: the 100 TB properties, asserted.

Correctness tests prove the small-SF answers; these prove the PLAN is the
one that survives a 1000-executor 100 TB run — filters reach the parquet
scan, dims broadcast, the parse→enrich→route chain stays shuffle-free, and
hot expressions run inside whole-stage codegen.
"""

from __future__ import annotations

import contextlib
import io

import pyspark.sql.functions as F
import pytest

from opentelemetry_collector_spark.plans.pipeline import run_pipeline
from opentelemetry_collector_spark.queries import QUERIES
from opentelemetry_collector_spark.sources.synthetic import gen_lookup, gen_telemetry

SF = "/root/testdata/sf0.001"


def explain(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_scan_pushdown_and_pruning(spark):
    plan = explain(QUERIES["scan_sequences"](spark, SF))
    assert "PushedFilters" in plan and "n_chars" in plan.split("PushedFilters")[1].split("\n")[0]
    # column pruning: the 2 unused cols (text, lang) must not be read
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "text" not in read_schema and "lang" not in read_schema


def test_enrich_is_broadcast_join(spark):
    plan = explain(QUERIES["enrich_broadcast"](spark, SF), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pipeline_pre_route_is_shuffle_free(spark):
    """parse → enrich → route must be narrow: zero Exchange operators.

    At 10^12 rows a shuffle here would move the whole table; the only
    exchanges in the flagship job are the aggregates (bytes ≈ #groups) and
    the explicit salted pre-write repartition.
    """
    out = run_pipeline(spark, gen_telemetry(spark, 1000, partitions=4), gen_lookup(spark))
    plan = explain(out["tagged"], "simple")
    # no shuffle exchange anywhere pre-route; the lookup dim joins broadcast
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_driver_built_frames_are_local_relations(spark):
    """The lookup, route and ``_metrics`` frames are local relations: reading
    them (a broadcast, a write) starts no Python-worker task."""
    from opentelemetry_collector_spark.plans.metrics import StageMetrics
    from opentelemetry_collector_spark.sources.synthetic import gen_routes

    m = StageMetrics(run_id="r1")
    m.rows.append(("r1", "write:fanout", -1, None, 10, 1.5, None))
    for df in (gen_lookup(spark), gen_routes(spark), m.to_df(spark)):
        plan = explain(df, "simple")
        assert "LocalTableScan" in plan
        assert "ExistingRDD" not in plan


def test_pipeline_aggregates_are_partial_final(spark):
    out = run_pipeline(spark, gen_telemetry(spark, 1000, partitions=4), gen_lookup(spark))
    plan = explain(out["source_counts"], "simple")
    # partial_count before the exchange => map-side combine (bytes moved ≈ #groups)
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan


def test_tail_sample_is_semi_join(spark):
    plan = explain(QUERIES["tail_sample_semi_join"](spark, SF), "simple")
    assert "LeftSemi" in plan


def test_hot_path_in_whole_stage_codegen(spark):
    out = run_pipeline(spark, gen_telemetry(spark, 1000, partitions=4), gen_lookup(spark))
    # codegen explain mode works pre-execution even under AQE
    plan = explain(out["tagged"], "codegen")
    assert "Found" in plan and "WholeStageCodegen" in plan
    # no python UDF in the flagship hot path (pandas UDFs exist only in the
    # opt-in FNV parity sampler, not in parse/enrich/route)
    formatted = explain(out["tagged"])
    assert "BatchEvalPython" not in formatted and "ArrowEvalPython" not in formatted


@pytest.mark.parametrize("key", ["join_star_schema", "agg_rollup_counts", "win_cumulative_sum"])
def test_headline_queries_codegen_no_python(spark, key):
    plan = explain(QUERIES[key](spark, SF), "codegen")
    assert "WholeStageCodegen" in plan
    assert "BatchEvalPython" not in explain(QUERIES[key](spark, SF))


def test_star_join_broadcasts_small_dims(spark):
    """lineitem⋈orders is the big join; nation/region/customer dims must
    broadcast rather than shuffle at sf0.001."""
    plan = explain(QUERIES["join_star_schema"](spark, SF), "simple")
    assert "BroadcastHashJoin" in plan


def test_embedding_neardup_is_bucket_equi_join(spark):
    """The keyed embedding near-dup must be the LSH scale path: candidate
    generation is an equi-join on (band, sig) — a nested-loop/cartesian
    pair join here is the one plan that dies at 100 TB."""
    plan = explain(QUERIES["dedup_embedding_cosine"](spark, SF), "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_simhash_pairs_is_banded_equi_join(spark):
    plan = explain(QUERIES["dedup_simhash_pairs"](spark, SF), "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_salted_repartition_spreads_skew(spark):
    from opentelemetry_collector_spark.functions.hashing import salted_key

    df = gen_telemetry(spark, 20000, partitions=4)
    salted = df.repartition(16, *salted_key(F.col("source"), F.col("doc_id"), 16))
    sizes = (
        salted.groupBy(F.spark_partition_id().alias("p"))
        .count()
        .agg(F.max("count").alias("mx"), F.min("count").alias("mn"))
        .collect()[0]
    )
    # src0 alone is ~34% of rows; unsalted it would pin one partition at
    # >6800 rows. Salting must keep the max partition under 2x the mean.
    assert sizes["mx"] < 2 * (20000 / 16)


def test_bucketed_join_is_shuffle_free(spark):
    """Bucketed co-located join: both sides written bucketBy(8, key) →
    the equi-join plan has ZERO Exchange operators (the shuffle happened
    once at write time).  This is the §4 'bucketing for co-located joins'
    claim, asserted."""
    from opentelemetry_collector_spark.sources.bucketed import read_bucketed, write_bucketed

    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .selectExpr("l_orderkey AS k", "l_quantity")
    )
    od = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .selectExpr("o_orderkey AS k", "o_totalprice")
    )
    write_bucketed(li, "t_li_bucketed", "k", n_buckets=8)
    write_bucketed(od, "t_od_bucketed", "k", n_buckets=8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = read_bucketed(spark, "t_li_bucketed").join(
            read_bucketed(spark, "t_od_bucketed"), "k"
        )
        plan = explain(j, "simple")
        assert "Exchange hashpartitioning" not in plan
        assert "SortMergeJoin" in plan
        # sanity: the join still computes the right row count
        expect = (
            spark.read.parquet(f"{SF}/lineitem.parquet")
            .join(
                spark.read.parquet(f"{SF}/orders.parquet"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert j.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_od_bucketed")


# keys whose plans legitimately contain Python eval (Arrow kernels) or an
# intentional non-equi pair join (brute-force baseline)
_PYTHON_OK = {"mm_decode_features", "mm_resize", "pack_sequences", "corpus_prep_e2e"}
_NESTED_LOOP_OK = {
    "ann_cosine_topk",        # brute-force baseline: broadcast queries × all vectors
    "dedup_embedding_recall",  # recall audit: all-pairs GROUND TRUTH side, small-SF only
    "dedup_corpus_recall",     # recall audit: 1-row × 1-row count crossJoin
    "text_unigram_logprob",    # corpus-total scalar: 1-row broadcast into scoring frame
    "text_bigram_logprob",     # same 1-row corpus-total broadcast
    "text_bigram_kn",          # 1-row bigram-type-total broadcast (KN continuation)
    "text_ccnet_buckets",      # same scoring ladder underneath
    "corpus_prep_e2e",         # ladder recall/scalar joins (1-row broadcast)
    "text_dsir_weight",        # V / N_target / N_corpus: three 1-row broadcasts
    "text_dsir_weight_hashed",     # 1-row dense bucket-LM array broadcast
    "text_unigram_logprob_hashed",  # same 1-row dense-array + total broadcast
    "text_bm25_topk",         # (N, avgdl) corpus scalars: 1-row broadcast into hit stream
    "token_kl_by_source",     # grand-total scalar: 1-row broadcast into vocab-sized frame
    "token_pmi_topk",         # bigram-total scalar: 1-row broadcast into vocab-sized frame
    "ann_range_search",       # brute-force baseline: broadcast queries × all vectors
    "text_heldout_logprob",   # train-corpus-total scalar: 1-row broadcast into eval frame
    "events_cooccurrence_lift",  # basket-total scalar: 1-row broadcast into pair frame
    "sample_priority",        # τ = (k+1)-th priority: 1-row broadcast into the k kept rows
}


def test_all_keys_plan_hygiene(spark):
    """Blanket plan audit over EVERY queries() key at sf0.001: no
    row-at-a-time Python (BatchEvalPython) anywhere, Arrow kernels only in
    the declared multimodal/packing keys, and no cartesian/nested-loop
    joins outside the declared brute-force baseline."""
    failures = []
    for key, fn in sorted(QUERIES.items()):
        plan = explain(fn(spark, SF), "simple")
        if "BatchEvalPython" in plan:
            failures.append(f"{key}: row-at-a-time Python UDF in plan")
        if ("ArrowEvalPython" in plan or "MapInPandas" in plan or "FlatMapGroupsInPandas" in plan) and key not in _PYTHON_OK:
            failures.append(f"{key}: undeclared Python/Arrow stage")
        if ("CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan) and key not in _NESTED_LOOP_OK:
            failures.append(f"{key}: cartesian/nested-loop join")
    assert not failures, failures


def test_aqe_skew_join_splits_skewed_partition(spark):
    """SURVEY §4 claims AQE skewJoin covers the join side of the zipf head;
    assert it actually fires: a 90 %-one-key sort-merge join with
    test-scaled thresholds must show skew=true in the final adaptive plan
    (at 100 TB the same mechanism splits the hot source's shuffle
    partition instead of stalling one reducer)."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force sort-merge
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(100_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id") % 1000).alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(1_000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        j = big.join(dim, "k").groupBy().agg(F.sum("v").alias("sv"), F.count("*").alias("n"))
        [row] = j.collect()
        assert row.n == 100_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_map_only_keys_have_no_exchange(spark):
    """text_pii_redact / text_gopher_gates / bpe_encode /
    text_quality_classifier all claim 'rides the scan' (one codegen
    projection, zero shuffle) — assert no Exchange appears in their plans."""
    for key in (
        "text_pii_redact",
        "text_gopher_gates",
        "bpe_encode",
        "text_quality_classifier",
        "text_winnowing_fingerprint",
    ):
        plan = explain(QUERIES[key](spark, SF), "simple")
        assert "Exchange" not in plan, f"{key} shuffles:\n{plan}"
