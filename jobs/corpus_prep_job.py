"""spark-submit entrypoint for the LLM corpus-prep ladder.

    spark-submit --master local[8] --driver-memory 4g \
        --py-files dist/pipeline.zip \
        jobs/corpus_prep_job.py --input /data/documents --output /tmp/corpus_out

The deployable form of the value-checked `corpus_prep_e2e` driver key
(queries.py): benchmark decontamination → exact dedup → minhash-LSH
candidates → df-capped Jaccard verify → connected-components transitive
clustering → duplicate-span removal (df-capped digest table) → Gopher
quality gates → deterministic mixture rebalance → (optional) per-source
token-budget cut → (optional) fractional-epoch replication → leak-proof
hash split → greedy packing.  Every stage is the
same operator the driver gate value-checks at sf0.01; this script only
composes them over a real table and commits the artifacts:

    <output>/kept/        surviving doc ids + split + source (parquet)
    <output>/packed/      packed sequences (pack_id, grp, tokens)
    <output>/stats/       per (split, source) packing statistics
    <output>/order/       (--loader-order) deterministic weighted
                          source-interleave position per train doc
    <output>/manifest.json  row counts + config, for resume/audit

Like pipeline_job.py, the master comes from spark-submit — nothing here
hardcodes local mode, and every stage is shuffle-shaped for a real cluster
(broadcast bench shingles, candidates-only verify joins, two-phase prefix
sums — no driver-side loops over data)."""

from __future__ import annotations

import argparse
import json
import os
import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def build(
    spark: SparkSession,
    corpus: DataFrame,
    bench: DataFrame,
    *,
    max_len: int = 512,
    jaccard: float = 0.5,
    max_df: int = 64,
    dup_span_k: int = 8,
    dup_span_df: int = 2,
    dup_span_max_df: int = 64,
    dup_span_digest: str = "md5",
    pii_redact: bool = False,
    mixture: dict[str, float] | None = None,
    temperature_alpha: float | None = None,
    total_fraction: float = 0.5,
    budget: int | None = None,
    epochs: dict[str, float] | None = None,
    splits: dict[str, float] | None = None,
    vocab: int = 50257,
    dsir_source: str | None = None,
    dsir_min: float = 0.0,
    loader_order: bool = False,
) -> dict[str, DataFrame]:
    """Compose the ladder; returns {'kept', 'packed', 'stats'} DataFrames.

    Mirrors queries.corpus_prep_e2e stage-for-stage (that key is the
    oracle-checked contract for this composition); the extra optional
    stages are the oracle-checked sample_token_budget / sample_epoch_replicate
    operators slotted between mixture and split."""
    from opentelemetry_collector_spark.operators.components import connected_components
    from opentelemetry_collector_spark.operators.dedup import (
        contamination_pairs,
        dedup_keep_canonical,
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
        remove_duplicate_spans,
    )
    from opentelemetry_collector_spark.operators.packing import (
        pack_sequences,
        packing_stats,
    )
    from opentelemetry_collector_spark.operators.sampling import (
        epoch_replicate,
        hash_split,
        mixture_sample,
        temperature_sample,
        token_budget_sample,
    )
    from opentelemetry_collector_spark.operators.textstats import repetition_stats

    contam = (
        contamination_pairs(corpus, bench, "doc_id", "text", n=3, min_shared=2, mode="raw")
        .select(F.col("corpus_id").alias("doc_id"))
        .distinct()
    )
    clean = corpus.join(contam, "doc_id", "left_anti")

    surv = dedup_keep_canonical(clean, "doc_id", "text").persist()
    sig = minhash_signatures(surv, "doc_id", "text", k=16, mode="portable")
    cand = lsh_candidate_pairs(sig, bands=4, rows_per_band=4, mode="portable")
    pairs = ngram_jaccard_pairs(
        surv, "doc_id", "text", n=3, threshold=jaccard, mode="raw",
        candidates=cand, max_df=max_df,
    )
    comp = connected_components(pairs)
    drops = comp.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id")
    )
    kept = surv.join(drops, "doc_id", "left_anti")

    if dup_span_k:
        # duplicate-SPAN removal (Lee et al. 2021): strip >= k-word runs
        # shared by >= dup_span_df surviving docs before the quality gates.
        # dup_span_max_df is the broadcast hot-set clamp on the digest table
        # (identical output, no task pinned by a boilerplate digest at scale)
        spans = remove_duplicate_spans(
            kept, "doc_id", "text",
            k=dup_span_k, min_df=dup_span_df,
            max_df=max(dup_span_max_df, dup_span_df), with_text=True,
            digest=dup_span_digest,
        )
        kept = kept.select("doc_id", "source").join(
            spans.select(F.col("id").alias("doc_id"), F.col("clean_text").alias("text")),
            "doc_id",
        )

    if pii_redact:
        # scrub PII sentinels into the surviving text BEFORE the gates and
        # packing (standard pre-training order: dedup on raw text, ship
        # scrubbed text); one more map-only projection on the same frame
        from opentelemetry_collector_spark.functions.pii import redact_pii

        kept = kept.withColumn("text", redact_pii(F.col("text")))

    rep = repetition_stats(kept, "doc_id", "text")
    ok = rep.filter(
        (F.col("n_words") >= 10) & (F.col("dup_3gram_ratio") <= 0.3)
    ).select("doc_id")
    gated = kept.join(ok, "doc_id", "left_semi")

    if dsir_source:
        # DSIR data selection (textstats.dsir_weight): keep docs whose
        # average target-vs-corpus log-likelihood ratio clears the floor,
        # using the named source's own gated docs as the domain exemplar
        from opentelemetry_collector_spark.operators.textstats import dsir_weight

        exemplar = gated.filter(F.col("source") == dsir_source)
        weights_df = dsir_weight(
            gated.filter(F.col("source") != dsir_source), exemplar, "doc_id", "text"
        )
        keep_ids = weights_df.filter(F.col("avg_llr") >= dsir_min).select("doc_id")
        gated = gated.join(keep_ids, "doc_id", "left_semi").unionByName(exemplar)
    if mixture and temperature_alpha is not None:
        raise ValueError("--mixture and --temperature-alpha are exclusive: "
                         "explicit target weights vs n^alpha-derived weights")
    if mixture:
        gated = mixture_sample(
            gated, "source", "doc_id", mixture, total_fraction=total_fraction
        )
    elif temperature_alpha is not None:
        # alpha-sampling (mBERT/XLM-R): source share proportional to n^alpha,
        # weights derived from the GATED corpus counts (post-dedup/quality)
        gated = temperature_sample(
            gated, "source", "doc_id",
            alpha=temperature_alpha, total_fraction=total_fraction,
        )
    if budget:
        gated = token_budget_sample(
            gated.withColumn("_w", F.length("text").cast("long")),
            "source", "doc_id", "_w", budget,
        ).drop("_w", "cum_weight")
    if epochs:
        gated = epoch_replicate(gated, "source", "doc_id", epochs)

    # three outputs (kept, packed, stats) all materialize independently;
    # without this persist each write replays the entire ladder lineage
    split = hash_split(
        gated, "doc_id", splits or {"train": 0.8, "val": 0.1, "test": 0.05}
    ).filter(F.col("split").isNotNull()).persist()

    epoch_tag = (
        F.concat_ws("#", F.col("doc_id").cast("string"), F.col("epoch").cast("string"))
        if epochs
        else F.col("doc_id").cast("string")
    )
    docs = split.select(
        epoch_tag.alias("doc_id"),
        F.concat_ws("|", "split", "source").alias("grp"),
        F.transform(
            F.filter(F.split("text", " "), lambda x: x != F.lit("")),
            lambda x: F.pmod(F.xxhash64(x), F.lit(vocab)).cast("int"),
        ).alias("tokens"),
    )
    packed = pack_sequences(
        docs, max_len=max_len, salt_buckets=8, source_col="grp", salt_mode="portable"
    ).persist()  # stats folds over packed; don't re-pack
    stats = packing_stats(packed, max_len=max_len).select(
        F.substring_index("source", "|", 1).alias("split"),
        F.substring_index("source", "|", -1).alias("source"),
        "n_packs", "n_docs", "n_tok", "avg_fill",
    )
    kept_cols = ["doc_id", "source", "split"] + (["epoch"] if epochs else [])
    out = {"kept": split.select(*kept_cols), "packed": packed, "stats": stats}

    if loader_order:
        # deterministic training-loader order over the train split (the
        # oracle-checked mixture_interleave operator): every prefix of the
        # emitted order holds each source in ≈ its weight share.  Weights =
        # --mixture when given (pace the loader at the frozen mix;
        # explicit-zero sources are dropped upstream by mixture_sample, so
        # they are filtered here too rather than tripping the > 0 guard),
        # else the REALIZED per-source train counts — so temperature-alpha
        # and un-rebalanced skewed corpora interleave at their actual
        # shares instead of a blocky round-robin.  The per-source count
        # collect is #sources rows — config-sized, same bound as the
        # mixture count.  Epoch copies order under their epoch-tagged id,
        # so each copy gets its own slot.
        from opentelemetry_collector_spark.operators.sampling import (
            interleave_by_weight,
        )

        train = split.filter(F.col("split") == "train").select(
            epoch_tag.alias("oid"), "source"
        )
        if mixture:
            w = {s: v for s, v in mixture.items() if v > 0}
        else:
            w = {
                r.source: float(r["count"])
                for r in train.groupBy("source").count().collect()
            }
        out["order"] = interleave_by_weight(train, "source", "oid", w).select(
            "interleave_pos", F.col("oid").alias("doc_id"), "source"
        )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents table path (parquet dir/file)")
    ap.add_argument("--bench-input", default=None,
                    help="benchmark/eval documents to decontaminate against "
                         "(default: doc_id < --bench-max-id of --input)")
    ap.add_argument("--bench-max-id", type=int, default=20)
    ap.add_argument("--output", required=True, help="artifact root directory")
    ap.add_argument("--max-len", type=int, default=512)
    ap.add_argument("--dup-span-k", type=int, default=8,
                    help="duplicate-span removal window (words); 0 disables the stage")
    ap.add_argument("--dup-span-df", type=int, default=2,
                    help="min distinct docs sharing a k-word run for it to be excised")
    ap.add_argument("--dup-span-max-df", type=int, default=64,
                    help="broadcast hot-set clamp on the span digest table (skew control)")
    ap.add_argument("--dup-span-digest", default="md5", choices=["md5", "xxhash64"],
                    help="window digest fn; xxhash64 is the scale form (8-byte "
                         "longs through every shuffle), output-identical to md5")
    ap.add_argument("--pii-redact", action="store_true",
                    help="replace emails/SSNs/phones/IPv4s with typed "
                         "sentinels (functions.pii) before the quality gates")
    ap.add_argument("--mixture", default=None, help='JSON, e.g. {"src0":0.25,...}')
    ap.add_argument("--temperature-alpha", type=float, default=None,
                    help="alpha-sampling alternative to --mixture: source "
                         "share proportional to n^alpha (0.5 = sqrt flattening)")
    ap.add_argument("--total-fraction", type=float, default=0.5)
    ap.add_argument("--budget", type=int, default=None, help="per-source char budget")
    ap.add_argument("--epochs", default=None, help='JSON fractional epochs per source')
    ap.add_argument("--dsir-source", default=None,
                    help="source name used as the in-domain exemplar for DSIR selection")
    ap.add_argument("--dsir-min", type=float, default=0.0,
                    help="keep docs with avg target-vs-corpus log-likelihood ratio >= this")
    ap.add_argument("--loader-order", action="store_true",
                    help="emit <output>/order/: deterministic weighted "
                         "source-interleave position per train doc (the "
                         "training-loader order; weights = --mixture when "
                         "given, else each source's realized train-doc "
                         "count)")
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("corpus-prep-job")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    d = spark.read.parquet(args.input)
    if args.bench_input:
        bench, corpus = spark.read.parquet(args.bench_input), d
    else:
        bench = d.filter(F.col("doc_id") < args.bench_max_id)
        corpus = d.filter(F.col("doc_id") >= args.bench_max_id)

    t0 = time.time()
    out = build(
        spark, corpus, bench,
        max_len=args.max_len,
        dup_span_k=args.dup_span_k,
        dup_span_df=args.dup_span_df,
        dup_span_max_df=args.dup_span_max_df,
        dup_span_digest=args.dup_span_digest,
        pii_redact=args.pii_redact,
        mixture=json.loads(args.mixture) if args.mixture else None,
        temperature_alpha=args.temperature_alpha,
        total_fraction=args.total_fraction,
        budget=args.budget,
        epochs=json.loads(args.epochs) if args.epochs else None,
        dsir_source=args.dsir_source,
        dsir_min=args.dsir_min,
        loader_order=args.loader_order,
    )
    counts = {}
    for name, df in out.items():
        path = os.path.join(args.output, name)
        df.write.mode("overwrite").parquet(path)
        counts[name] = spark.read.parquet(path).count()
    manifest = {
        "input": args.input, "rows": counts, "wall_s": round(time.time() - t0, 2),
        "config": {k: v for k, v in vars(args).items()},
    }
    with open(os.path.join(args.output, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2)
    print(json.dumps(manifest))


if __name__ == "__main__":
    main()
