"""Deterministic seeded fixture generators (FIXTURES.md §1-4).

Collector analog: the host-metrics receiver generates rows locally on a
schedule (receiver/hostmetricsreceiver ~approx) and the goldendataset
generates combinatorial test traces (internal/goldendataset ~approx).  Here
every fixture is a pure function of (seed, row index) built from
``spark.range`` + column expressions — no driver-side loops, no RNG state —
so the same call regenerates bit-identical data at any scale and any
parallelism (row values never depend on partitioning).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from ..session import local_frame

VOCAB16 = (
    "scan parse route merge batch spill shuffle probe "
    "flush drain retry defer split salt prune emit"
).split()

LEVELS = ("DEBUG", "INFO", "WARN", "ERROR")

# zipf-ish source weights ∝ 1/(k+1), k = 0..9 (src0 ≈ 34 % of rows — the
# skew driver for the salting/AQE tests, SURVEY.md §4).
_W = [1.0 / (k + 1) for k in range(10)]
_CUM = [sum(_W[: k + 1]) / sum(_W) for k in range(10)]


def _u01(seed: int, tag: str, i: Column) -> Column:
    """Deterministic uniform [0,1) from (seed, tag, row index): pmod(xxhash64) / 1e6."""
    key = F.concat(F.lit(f"{seed}:{tag}:"), i.cast("string"))
    return F.pmod(F.xxhash64(key), F.lit(1_000_000)).cast("double") / 1_000_000.0


def zipf_source(seed: int, i: Column) -> Column:
    """Smallest k in 0..9 with cum_w[k] > u — FIXTURES.md §1 rule."""
    u = _u01(seed, "src", i)
    expr = F.lit("src9")
    for k in reversed(range(9)):
        expr = F.when(u < F.lit(_CUM[k]), F.lit(f"src{k}")).otherwise(expr)
    return expr


def gen_sequences(spark: SparkSession, n_rows: int, seed: int = 42, partitions: int | None = None) -> DataFrame:
    """The primary input table pinned by BASELINE.json input_hint:
    ``sequences(doc_id string, tokens array<int32>, n_tok int32, source string)``.

    tokens[j] = xxhash64(f"{seed}:tok:{i}:{j}") mod 50257, length in [8,128].
    Generated fully vectorized: ``transform(sequence(...))`` runs JVM-side in
    whole-stage codegen — this is what lets bench.py synthesize 10⁷ rows/sec.
    """
    rng = spark.range(0, n_rows, 1, partitions) if partitions else spark.range(n_rows)
    i = F.col("id")
    length = (F.lit(8) + F.pmod(F.xxhash64(F.concat(F.lit(f"{seed}:len:"), i.cast("string"))), F.lit(121))).cast("int")
    tok_key = F.concat(F.lit(f"{seed}:tok:"), i.cast("string"), F.lit(":"))
    tokens = F.transform(
        F.sequence(F.lit(0), length - 1),
        lambda j: F.pmod(F.xxhash64(F.concat(tok_key, j.cast("string"))), F.lit(50257)).cast("int"),
    )
    return rng.select(
        F.format_string("doc%010d", i).alias("doc_id"),
        tokens.alias("tokens"),
        zipf_source(seed, i).alias("source"),
    ).withColumn("n_tok", F.size("tokens").cast("int")).select("doc_id", "tokens", "n_tok", "source")


def gen_raw_lines(spark: SparkSession, n_rows: int, seed: int = 42, partitions: int | None = None) -> DataFrame:
    """Grok-stage input (FIXTURES.md §2): one syslog-ish line per row.

    ``{ts} {level} svc={svc} trace={tid} msg="{msg}" k={k}``
    """
    rng = spark.range(0, n_rows, 1, partitions) if partitions else spark.range(n_rows)
    i = F.col("id")
    ts = F.date_format(
        F.timestamp_seconds(F.unix_timestamp(F.lit("2024-01-01 00:00:00")) + i),
        "yyyy-MM-dd'T'HH:mm:ss'Z'",
    )
    level = F.element_at(F.array(*[F.lit(x) for x in LEVELS]), (i % 4 + 1).cast("int"))
    svc = F.concat(F.lit("api-"), (i % 7).cast("string"))
    half = F.lpad(F.lower(F.hex(F.xxhash64(F.concat(F.lit(f"{seed}:tid:"), i.cast("string"))))), 16, "0")
    tid = F.concat(half, half)
    vocab = F.array(*[F.lit(w) for w in VOCAB16])
    msg = F.concat_ws(
        " ",
        F.element_at(vocab, (i % 16 + 1).cast("int")),
        F.element_at(vocab, ((i + 1) % 16 + 1).cast("int")),
        F.element_at(vocab, ((i + 2) % 16 + 1).cast("int")),
    )
    raw = F.concat(
        ts, F.lit(" "), level, F.lit(" svc="), svc, F.lit(" trace="), tid,
        F.lit(' msg="'), msg, F.lit('" k='), (i % 100).cast("string"),
    )
    return rng.select(
        F.format_string("ln%08d", i).alias("line_id"),
        raw.alias("raw"),
        zipf_source(seed, i).alias("source"),
    )


def gen_telemetry(spark: SparkSession, n_rows: int, seed: int = 42, partitions: int | None = None) -> DataFrame:
    """Flagship pipeline input: one telemetry record per row — the sequences
    schema (doc_id, tokens, n_tok, source) plus the raw log body ``raw`` that
    the grok parse stage consumes.  Same (seed, i) rules as gen_sequences /
    gen_raw_lines, generated in a single range pass (one scan at bench scale).
    """
    seqs = gen_sequences(spark, n_rows, seed, partitions)
    # raw line regenerated from the same index encoded in doc_id — pure
    # column math, no join, so the composition is still a single narrow plan.
    i = F.substring("doc_id", 4, 10).cast("long")
    ts = F.date_format(
        F.timestamp_seconds(F.unix_timestamp(F.lit("2024-01-01 00:00:00")) + i),
        "yyyy-MM-dd'T'HH:mm:ss'Z'",
    )
    level = F.element_at(F.array(*[F.lit(x) for x in LEVELS]), (i % 4 + 1).cast("int"))
    svc = F.concat(F.lit("api-"), (i % 7).cast("string"))
    half = F.lpad(F.lower(F.hex(F.xxhash64(F.concat(F.lit(f"{seed}:tid:"), i.cast("string"))))), 16, "0")
    vocab = F.array(*[F.lit(w) for w in VOCAB16])
    msg = F.concat_ws(
        " ",
        F.element_at(vocab, (i % 16 + 1).cast("int")),
        F.element_at(vocab, ((i + 1) % 16 + 1).cast("int")),
        F.element_at(vocab, ((i + 2) % 16 + 1).cast("int")),
    )
    raw = F.concat(
        ts, F.lit(" "), level, F.lit(" svc="), svc, F.lit(" trace="), half, half,
        F.lit(' msg="'), msg, F.lit('" k='), (i % 100).cast("string"),
    )
    return seqs.withColumn("raw", raw)


def gen_lookup(spark: SparkSession) -> DataFrame:
    """Broadcast-enrich dimension (FIXTURES.md §3).

    Covers src0..src8 only — src9 deliberately missing so the left-join
    null path (``coalesce(env,'unknown')``) is exercised, mirroring the
    resource processor's insert-if-absent semantics.
    """
    rows = [
        (f"src{k}", "prod" if k % 2 == 0 else "staging", f"team{k % 3}", f"r{k % 4}")
        for k in range(9)
    ]
    return local_frame(spark, rows, "source string, env string, team string, region string")


def gen_routes(spark: SparkSession) -> DataFrame:
    """Router config table (FIXTURES.md §4): first-match-wins by priority."""
    rows = [
        ("sink_hot", "source = 'src0'", 0),
        ("sink_warm", "source IN ('src1','src2','src3')", 1),
        ("sink_errors", "level = 'ERROR'", 2),
        ("sink_default", "TRUE", 9),
    ]
    return local_frame(spark, rows, "sink string, predicate string, priority int")
