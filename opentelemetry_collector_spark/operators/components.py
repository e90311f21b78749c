"""Distributed connected components over near-dup pair graphs.

The corpus-clean pass (`dedup_corpus`) uses a greedy one-pass prune; real
100 TB dedup wants transitive CLUSTERS ("A≈B, B≈C ⇒ {A,B,C} is one group,
keep one member"), i.e. connected components of the candidate-pair graph.
The reference has no graph executor at all (engine extension, like asof).

Algorithm: min-label propagation with pointer jumping —

  1. every node starts labeled with itself;
  2. each round, a node takes the min of its own and its neighbors' labels
     (one equi-join edges⋈labels + one groupBy(node) min);
  3. then labels POINTER-JUMP (label(n) ← label(label(n)), one self-join) —
     this is the hash-to-min trick that collapses long chains in O(log d)
     rounds instead of O(d);
  4. stop when a round changes nothing.

Scale shape: every step is an equi-join or a keyed aggregation — shuffle
volume per round is O(|E| + |V|) narrow (node, label) rows, never the
payloads.  Each round ends in an eager ``localCheckpoint`` to cut lineage
(iterative plans otherwise grow exponentially); on a real cluster use
``spark.sparkContext.setCheckpointDir`` + ``.checkpoint()`` for the
fault-tolerant variant — same plan, durable shuffle files.

The DuckDB oracle computes min-reachable-label independently with a
recursive CTE, so the two engines implement the semantics independently.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 30,
) -> DataFrame:
    """(node, component): component = min node id reachable from ``node``
    in the undirected graph given by ``edges``.  Nodes are exactly the ids
    appearing in at least one edge (attach singletons afterwards with a
    left join + coalesce(component, id))."""
    und = edges.select(
        F.col(id_a).cast("long").alias("a"), F.col(id_b).cast("long").alias("b")
    )
    und = und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    und = und.localCheckpoint(eager=True)

    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    cur_sum = labels.agg(F.sum("comp").alias("s")).collect()[0]["s"]
    for _ in range(max_iters):
        nbr_min = (
            und.join(labels.select(F.col("node").alias("b"), "comp"), on="b")
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = labels.join(nbr_min, on="node", how="left").select(
            "node", F.least(F.col("comp"), F.coalesce("nbr_comp", "comp")).alias("comp")
        )
        # pointer jump: comp(n) ← comp(comp(n)); comp ids are themselves
        # nodes, and their labels only ever shrink, so this is monotone.
        # (A second jump per round — pointer doubling — measured faster on
        # chain-heavy graphs but SLOWER on real near-dup graphs, whose
        # clusters have diameter ≤2: the extra |V| self-join buys nothing.)
        jumped = stepped.alias("x").join(
            stepped.select(F.col("node").alias("comp"), F.col("comp").alias("jc")),
            on="comp",
            how="left",
        ).select("node", F.coalesce("jc", "comp").alias("comp"))
        # lazy localCheckpoint: the convergence aggregate right below is the
        # materializing action — eager=True would run a separate job first
        new = jumped.localCheckpoint(eager=False)
        # convergence: labels only ever DECREASE elementwise, so the label
        # sum is strictly monotone until fixpoint — one narrow aggregate
        # over the checkpointed frame beats a join-and-diff per round
        new_sum = new.agg(F.sum("comp").alias("s")).collect()[0]["s"]
        labels = new
        if new_sum == cur_sum:
            break
        cur_sum = new_sum
    else:
        # returning unconverged labels would silently split components —
        # downstream dedup would keep several "canonical" docs per cluster
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} iterations "
            "(pointer jumping needs ~log2(diameter) rounds — raise max_iters)"
        )
    return labels.select("node", "comp")


def pagerank_fixed(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = 1_000_000,
) -> DataFrame:
    """Fixed-iteration weighted PageRank with INTEGER-quantized ranks —
    the general iterative-graph computation the near-dup components above
    specialize (service-importance over a call graph, type-importance over
    an event transition graph).

    The recurrence is DEFINED over integers (the same trick as the
    IVF trainer's integer-quantized Lloyd steps): ranks start at
    ``scale``; each round every edge (s→d, w) contributes
    ``(damping_pct · r_s · w) div (100 · outw_s)`` and
    ``r'_d = ((100−damping_pct)·scale) div 100 + Σ contribs``.  Integer
    sums are order-independent, so the result is bit-exact at any
    parallelism and in any engine — no float-summation-order drift, which
    is what makes a value-checked oracle possible for an iterative
    algorithm.  (Bound: ``damping_pct · r · w`` must stay < 2⁶³ — with
    the default scale, safe for total graph mass ·max edge weight up to
    ~10¹¹.)  Dangling nodes simply don't distribute (their mass tele-
    ports); the teleport term is per-node constant, i.e. the standard
    un-normalized PageRank variant.

    Scale shape: edges (with their src out-weight attached) are
    repartitioned by src ONCE and persisted — every iteration reuses that
    co-location, so the per-round cost is one shuffle of the #nodes-sized
    rank frame to the edge partitions plus one combinable groupBy(dst);
    ranks are eagerly ``localCheckpoint``-ed per round to keep the plan
    bounded (on a real cluster: ``.checkpoint()`` to durable storage).
    Rounds are fixed (``iters``), the standard practice for ranking use
    (convergence-δ loops add a driver round-trip per round for little
    gain at damping 0.85).

    Returns (node, rank_int, rank = rank_int/scale)."""
    w_expr = (F.col(weight_col) if weight_col else F.lit(1)).cast("long")
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), w_expr.alias("w")
    )
    outw = e.groupBy("src").agg(F.sum("w").alias("ow"))
    e = e.join(outw, "src").repartition("src").persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    base = ((100 - damping_pct) * scale) // 100
    ranks = nodes.withColumn("r", F.lit(int(scale)).cast("long"))
    contrib_expr = F.expr(f"({damping_pct} * r * w) div (100 * ow)")
    for _ in range(iters):
        contrib = (
            e.join(ranks.select(F.col("node").alias("src"), "r"), "src")
            .select("dst", contrib_expr.alias("_c"))
            .groupBy("dst")
            .agg(F.sum("_c").alias("_cin"))
        )
        ranks = (
            nodes.join(contrib.select(F.col("dst").alias("node"), "_cin"), "node", "left")
            .select(
                "node",
                (F.lit(base) + F.coalesce("_cin", F.lit(0))).cast("long").alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    out = ranks.select(
        "node",
        F.col("r").alias("rank_int"),
        F.round(F.col("r") / F.lit(float(scale)), 6).alias("rank"),
    )
    e.unpersist()
    nodes.unpersist()
    return out


def label_propagation_fixed(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    iters: int = 3,
) -> DataFrame:
    """Fixed-iteration SYNCHRONOUS label propagation (Raghavan et al. 2007,
    public) with a deterministic tie-break — density-based community
    detection, the third member of the graph family (components = pure
    connectivity, PageRank = importance, LPA = communities: a bridge edge
    joins two components but does NOT merge two communities).

    Determinism (the property plain LPA lacks): labels start as node ids;
    each round every node adopts the neighbor label with the LARGEST
    incident weight sum, ties broken by SMALLEST label — an argmax over
    integer sums, so the result is bit-exact at any parallelism and in any
    engine, and an unrolled-CTE oracle can replay it.  Rounds are fixed
    (``iters``; sync LPA can oscillate on bipartite-ish graphs, so a
    convergence loop is deliberately NOT the contract — the round count
    is).  Edges are treated as undirected (symmetrized).  The nodes are the
    endpoints of non-self-loop edges: a node whose only edges are
    self-loops is absent from the result.

    Scale shape: per round one equi-join of the #nodes-row label frame
    against the symmetrized edge frame (repartitioned by node once,
    persisted, reused) + a two-level combinable aggregate ((node, label)
    weight sums → per-node max-struct argmax); labels eagerly
    ``localCheckpoint``-ed per round.

    Returns (node, community)."""
    w_expr = (F.col(weight_col) if weight_col else F.lit(1)).cast("long")
    e = edges.select(
        F.col(src_col).alias("a"), F.col(dst_col).alias("b"), w_expr.alias("w")
    )
    und = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"), "w"))
        .filter(F.col("a") != F.col("b"))
        .repartition("b")
        .persist()
    )
    nodes = und.select(F.col("a").alias("node")).distinct().persist()
    labels = nodes.withColumn("lbl", F.col("node"))
    for _ in range(iters):
        votes = (
            und.join(labels.select(F.col("node").alias("b"), "lbl"), "b")
            .groupBy(F.col("a").alias("node"), "lbl")
            .agg(F.sum("w").alias("_sw"))
        )
        # argmax by (weight sum, then smallest label), type-generic: peak
        # weight per node, then min label among the peak's ties — the same
        # deterministic peak pick as aggregates.hourly_profile
        peak = votes.groupBy("node").agg(F.max("_sw").alias("_mx"))
        best = (
            votes.join(peak, "node")
            .filter(F.col("_sw") == F.col("_mx"))
            .groupBy("node")
            .agg(F.min("lbl").alias("_bl"))
        )
        labels = (
            nodes.join(best, "node", "left")
            .select("node", F.coalesce("_bl", F.col("node")).alias("lbl"))
            .localCheckpoint(eager=True)
        )
    out = labels.select("node", F.col("lbl").alias("community"))
    und.unpersist()
    nodes.unpersist()
    return out
