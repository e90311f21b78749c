"""Text analysis for training-data pipelines (engine extension).

Not present in the reference (the collector moves opaque bodies); these are
the operations a 100 TB tokenized-corpus pipeline needs on the string side:
language ID, quality scoring, token counting, document fingerprinting.
Everything is built-in Spark expressions (codegen, no UDFs); the char-level
rolling hash is expressed with ``aggregate`` over ``sequence`` so it is also
reproducible in the DuckDB oracle — at scale you'd swap it for ``xxhash64``
(same API shape, noted per function).

Cache lifetime: the LM-score operators (``unigram_logprob``,
``bigram_logprob``, ``ccnet_buckets``, ``dsir_weight``) ``persist()``
vocabulary/score frames that feed multiple consumers inside one returned
plan.  The CALLER owns the cache lifetime — these frames are vocab-sized
(MEMORY_AND_DISK default, LRU-evicted under pressure) and are intentionally
not unpersisted here because the returned DataFrame is lazy: the caller
materializes it at an unknown later point, and an eager unpersist would
reintroduce the duplicate-subtree evaluation the persist exists to prevent.
Long-lived sessions sweeping many operators should call
``spark.catalog.clearCache()`` between sweeps (the oracle gate does).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# BPE-ish token regex: word pieces or single non-space punctuation.
BPE_TOKEN_RE = r"\w+|[^\w\s]"

# Tiny per-language stopword lists for the n-gram/stopword-ratio heuristic.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "is"],
    "es": ["el", "la", "de", "que", "y", "los"],
    "fr": ["le", "la", "de", "et", "les", "des"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
}

MOD = 1_000_000_007


def words(text: Column) -> Column:
    return F.split(text, " ")


def let(bound: Column, body) -> Column:
    """Let-binding for expression trees: evaluate ``bound`` ONCE and bind it
    as a lambda variable inside ``body`` — ``transform(array(x), v -> body)[0]``.

    Why this exists: staging an expensive array behind a column alias
    (``select(split(text).alias("_w"))`` then referencing ``_w``) is NOT a
    guaranteed single evaluation.  When a downstream FILTER references a
    derived column, ``PushDownPredicates`` substitutes the alias chain into
    the predicate with no cost guard — every ``element_at(_w, i)`` inside a
    shingle lambda becomes ``element_at(split(text), i)``, turning the O(n)
    shingle build into O(n²) re-splits evaluated in interpreted (non-codegen)
    HOF mode.  Observed live: the 1M-doc corpus scale probe pinned all 32
    cores in ``StringSplit.nullSafeEval`` under ``ConcatWs.eval`` inside a
    pushed ``dup_3gram_ratio`` predicate (thread dump, round 5).  A lambda
    variable is structural — no optimizer rule inlines through it — so the
    binding survives CollapseProject / predicate pushdown at any plan
    position."""
    return F.transform(F.array(bound), body)[0]


def token_count(text: Column) -> Column:
    """Whitespace token count (the fast path; == n_tok for pre-split corpora)."""
    return F.size(words(text))


def bpe_token_count(text: Column) -> Column:
    """BPE-ish upper bound: word pieces + punctuation as single tokens."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0))


def stopword_hits(text: Column, lang: str = "en") -> Column:
    """Count of stopword occurrences (word-boundary regex, case-insensitive)."""
    pat = r"(?i)\b(" + "|".join(STOPWORDS[lang]) + r")\b"
    return F.size(F.regexp_extract_all(text, F.lit(pat), 0))


def punct_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), 0))


def quality_score(text: Column) -> Column:
    """Heuristic quality in [0,1]: rewards stopword presence and sane word
    length, penalizes punctuation soup.  Deterministic arithmetic only —
    the same formula is the oracle."""
    n = token_count(text).cast("double")
    avg_wlen = (F.length(F.regexp_replace(text, " ", "")).cast("double") / n)
    stop_ratio = stopword_hits(text).cast("double") / n
    punct_ratio = punct_count(text).cast("double") / F.greatest(F.length(text).cast("double"), F.lit(1.0))
    score = (
        F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.4
        + F.when((avg_wlen >= 3.0) & (avg_wlen <= 10.0), 0.4).otherwise(0.0)
        + F.greatest(F.lit(0.0), F.lit(0.2) - punct_ratio * 2.0)
    )
    return F.round(score, 4)


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword-hit counts — the n-gram language-ID heuristic."""
    return {lang: stopword_hits(text, lang) for lang in STOPWORDS}


def lang_id(text: Column, min_hits: int = 1) -> Column:
    """argmax over language scores; 'und' when nothing clears min_hits.
    Deterministic tiebreak: language list order (en, es, fr, de)."""
    scores = lang_scores(text)
    best = F.lit("und")
    best_n = F.lit(min_hits - 1)
    # Process in declaration order with strictly-greater replacement ⇒ the
    # earliest language (en) wins ties — deterministic argmax.
    for lang in STOPWORDS:
        n = scores[lang]
        best = F.when(n >= F.greatest(best_n + 1, F.lit(min_hits)), F.lit(lang)).otherwise(best)
        best_n = F.greatest(n, best_n)
    return best


def fingerprint_md5(text: Column) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted word bag.
    Catches shuffled near-copies that exact-hash dedup misses."""
    return F.md5(F.array_join(F.array_sort(words(text)), " "))


def rolling_hash(text: Column) -> Column:
    """Char-level polynomial rolling hash mod 1e9+7 (oracle-portable).

    At 100 TB scale use ``xxhash64(text)`` instead (single JVM intrinsic);
    this form exists so the correctness gate can recompute it in DuckDB.
    """
    return F.aggregate(
        F.split(text, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: F.pmod(acc * 31 + F.ascii(ch), F.lit(MOD)),
    )


def word_codes(text: Column) -> Column:
    """array<long>: polynomial hash per word mod 1e9+7 — the portable word
    hash shared by minhash/simhash (operators.dedup).

    Chars come from ``split(w, '')`` (one pass) rather than indexed
    ``substring`` (which rescans the string per character — measured ~40%
    slower).  NB: this whole expression is a higher-order function, which
    blocks codegen subexpression elimination — callers that use the codes
    more than once MUST stage them behind a projection (see dedup.simhash)."""
    return F.transform(
        words(text),
        lambda w: F.aggregate(
            F.split(w, ""),
            F.lit(0).cast("long"),
            lambda acc, ch: F.pmod(acc * 31 + F.ascii(ch), F.lit(MOD)),
        ),
    )


def repetition_stats(df, id_col: str, text_col: str):
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1 quality
    heuristics — public): per-doc duplicate-word and duplicate-3-gram
    ratios, the standard "drop boilerplate/looping text" signals run before
    pretraining.

    One narrow map pass, no explode, no shuffle, no UDF.  The split words
    and the shingle array are LET-BOUND (see :func:`let`), not staged
    column aliases: a consumer that filters on a returned ratio (the
    corpus-prep ladder does) pushes its predicate through any staging
    projection and would re-split the text per shingle element — the O(n²)
    interpreted-eval trap the round-5 scale probe caught at 1M docs.
    Returns (id, n_words, uniq_word_ratio, dup_3gram_ratio)."""
    import pyspark.sql.functions as F

    def _over_shingles(w, sh):
        return F.struct(
            F.size(w).alias("n_words"),
            F.when(
                F.size(w) > 0, F.round(F.size(F.array_distinct(w)) / F.size(w), 4)
            ).otherwise(F.lit(None).cast("double")).alias("uniq_word_ratio"),
            F.when(
                F.size(sh) > 0,
                F.round(F.lit(1.0) - F.size(F.array_distinct(sh)) / F.size(sh), 4),
            ).otherwise(F.lit(0.0)).alias("dup_3gram_ratio"),
        )

    def _over_words(w):
        shingle = F.when(
            F.size(w) >= 3,
            F.transform(
                F.sequence(F.lit(0), F.size(w) - 3),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(w, (i + 1).cast("int")),
                    F.element_at(w, (i + 2).cast("int")),
                    F.element_at(w, (i + 3).cast("int")),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return let(shingle, lambda sh: _over_shingles(w, sh))

    stats = let(words(F.col(text_col)), _over_words)
    return df.select(F.col(id_col), stats.alias("_st")).select(
        F.col(id_col), F.col("_st.n_words"), F.col("_st.uniq_word_ratio"),
        F.col("_st.dup_3gram_ratio"),
    )


def token_entropy(df, id_col: str, text_col: str):
    """Per-document token-distribution stats for corpus quality filtering
    (engine extension): Shannon entropy of the whitespace-token distribution
    and type-token ratio.  H = log2(n) − (Σ c·log2 c)/n over per-token counts
    c — one explode + two hash aggregates; only (id, token) pairs and then
    (id, partials) shuffle, so the plan is linear in corpus size and never
    materializes a vocabulary per document."""
    import pyspark.sql.functions as F

    toks = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("tok")
    )
    per_tok = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    c = F.col("c")
    return per_tok.groupBy(id_col).agg(
        F.sum(c).alias("n_tok"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(
            F.log2(F.sum(c)) - F.sum(c * F.log2(c)) / F.sum(c), 4
        ).alias("entropy_bits"),
        F.round(F.count(F.lit(1)) / F.sum(c), 4).alias("type_token_ratio"),
    )


def unigram_logprob(df, id_col: str, text_col: str):
    """CCNet-style LM quality proxy (engine extension): score every document
    by the average log2-probability of its tokens under the corpus's own
    unigram distribution — boilerplate/common-word soup scores high, rare-
    token noise scores low, and extreme tails in either direction are the
    standard pretraining filter cut.

    Plan: one explode feeds BOTH the vocabulary aggregate and the scoring
    join (Catalyst reuses the scan); the per-token equi-join shuffles on the
    token — the vocabulary is zipfian but ≪ corpus, and at 100 TB you'd
    broadcast a df-capped head or bucket both sides.  The corpus-total token
    count is a 1-row aggregate broadcast into the scoring frame (declared
    1-row nested-loop — the scale-correct scalar pattern)."""
    import pyspark.sql.functions as F

    toks = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("tok")
    )
    # persist: the vocab feeds both the corpus-total aggregate and the
    # scoring join — vocab-sized (bounded, zipf head), so caching it costs
    # a dictionary and saves one full corpus explode per extra consumer
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).persist()
    # corpus total = Σ vocab counts: a vocab-sized aggregate, NOT a second
    # corpus-wide explode (the naive toks.count() form re-ran the explode)
    total = vocab.agg(F.sum("c").alias("nt"))
    scored = toks.join(vocab, "tok").join(F.broadcast(total))
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.round(
            F.sum(F.log2("c")) / F.count(F.lit(1)) - F.first(F.log2("nt")), 4
        ).alias("avg_logp"),
    )


def boilerplate_ratio(df, id_col: str, text_col: str, n: int = 3, min_df: int = 3):
    """Corpus-duplication exposure (RefinedWeb/C4-style boilerplate signal):
    per document, the fraction of its word n-gram shingles that appear in at
    least *min_df* DISTINCT documents.  High ratio = the document is mostly
    text repeated across the corpus (navigation chrome, license blocks,
    templated spam) — cut or down-weight before pretraining.

    Plan: shingles explode once; document frequency is a (shingle → distinct
    docs) aggregate re-joined to the exploded frame — both shuffles carry
    (doc, shingle-hash)-sized rows only, linear in corpus size."""
    import pyspark.sql.functions as F

    from .dedup import shingle_hashes

    sh = shingle_hashes(df.select(F.col(id_col), F.col(text_col)), id_col, text_col, n=n, mode="raw")
    per_doc = sh.distinct()  # set semantics: one row per (doc, shingle)
    dfreq = per_doc.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    joined = per_doc.join(dfreq, "h")
    return joined.groupBy(F.col("id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.when(F.col("df") >= min_df, 1).otherwise(0)).alias("n_boiler"),
        F.round(
            F.sum(F.when(F.col("df") >= min_df, 1).otherwise(0))
            / F.count(F.lit(1)),
            4,
        ).alias("boiler_ratio"),
    )


def bigram_logprob(df, id_col: str, text_col: str, lam: float = 0.75):
    """Interpolated bigram LM quality score (engine extension): score every
    document by the average log2-probability of its token bigrams under the
    corpus's own interpolated bigram/unigram model,
    p(w2|w1) = λ·c(w1,w2)/c(w1) + (1−λ)·c(w2)/N — the honest offline analog
    of CCNet's 5-gram KenLM perplexity filter (Wenzek et al. 2020, public):
    templated/boilerplate text scores high, shuffled-word noise low, even
    when a unigram model can't tell them apart.

    λ defaults to 0.75 (dyadic — exactly representable, so an independent
    engine reproduces the arithmetic bit-for-bit before the final round).

    Plan: bigrams come from one array transform + explode (no per-token
    self-join); corpus bigram and unigram vocabularies are two hash
    aggregates re-joined on (w1,w2)/w — every shuffle carries (doc, bigram)
    or vocab-sized rows, linear in corpus size.  The corpus-total token
    count is a 1-row broadcast (declared scalar pattern).  At 100 TB,
    df-cap or broadcast the zipf head of both vocabularies."""
    import pyspark.sql.functions as F

    staged = df.select(F.col(id_col), words(F.col(text_col)).alias("_w"))
    w = F.col("_w")
    toks = staged.select(F.col(id_col), F.explode(w).alias("tok"))
    # persist: the unigram vocab has THREE consumers (c_w1 join, c_w2 join,
    # corpus total) — uncached it re-runs the corpus explode per consumer;
    # cached it is a bounded dictionary
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c1")).persist()
    # corpus total from the unigram vocab (vocab-sized aggregate), not a
    # second corpus-wide explode
    total = uni.agg(F.sum("c1").alias("nt"))
    bigrams = staged.filter(F.size(w) >= 2).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(w) - 2),
                lambda i: F.struct(
                    F.element_at(w, (i + 1).cast("int")).alias("w1"),
                    F.element_at(w, (i + 2).cast("int")).alias("w2"),
                ),
            )
        ).alias("_bg"),
    ).select(F.col(id_col), F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))
    bic = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    scored = (
        bigrams.join(bic, ["w1", "w2"])
        .join(uni.select(F.col("tok").alias("w1"), F.col("c1").alias("c_w1")), "w1")
        .join(uni.select(F.col("tok").alias("w2"), F.col("c1").alias("c_w2")), "w2")
        .join(F.broadcast(total))
    )
    lp = F.log2(
        F.lit(lam) * F.col("c2") / F.col("c_w1")
        + F.lit(1.0 - lam) * F.col("c_w2") / F.col("nt")
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg(lp), 4).alias("avg_logp2"),
    )


def ccnet_buckets(df, id_col: str, text_col: str, lang_col: str = "lang", lam: float = 0.75):
    """CCNet head/middle/tail quality buckets (Wenzek et al. 2020, public):
    score every doc with the interpolated bigram LM (:func:`bigram_logprob`),
    then split each LANGUAGE into score tertiles — 'head' = most probable
    under the corpus LM (cleanest), 'tail' = least.  CCNet keeps head+middle
    for pretraining; the bucket column is the knob.

    Thresholds are exact per-language percentiles of the ROUNDED score,
    themselves rounded to 4 decimals, so an independent engine running the
    same linear-interpolation quantile reproduces the assignment.  Plan:
    the bigram-score ladder + one #languages-row aggregate broadcast back —
    one extra narrow join over (doc, lang, score) rows."""
    import pyspark.sql.functions as F

    # persist: `scored` (one narrow row per doc) feeds BOTH the threshold
    # aggregate and the bucket assignment — without it the entire bigram
    # ladder (two corpus explodes + three joins) evaluates twice
    scored = bigram_logprob(df, id_col, text_col, lam=lam).join(
        df.select(F.col(id_col), F.col(lang_col)), id_col
    ).persist()
    thr = scored.groupBy(lang_col).agg(
        F.round(F.percentile("avg_logp2", F.lit(1.0 / 3.0)), 4).alias("_t1"),
        F.round(F.percentile("avg_logp2", F.lit(2.0 / 3.0)), 4).alias("_t2"),
    )
    s = F.col("avg_logp2")
    bucket = (
        F.when(s >= F.col("_t2"), "head")
        .when(s >= F.col("_t1"), "middle")
        .otherwise("tail")
    )
    return (
        scored.join(F.broadcast(thr), lang_col)
        .select(F.col(id_col), F.col(lang_col), s.alias("avg_logp2"), bucket.alias("bucket"))
    )


def dsir_weight(corpus, target, id_col: str, text_col: str):
    """DSIR-style importance weight (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", public): score every corpus
    document by the average per-token log-likelihood ratio between a TARGET
    corpus's unigram LM and the corpus's own — the hashed-ngram importance
    weight DSIR resamples by, with add-one smoothing over the union
    vocabulary so unseen tokens are defined on both sides.

    avg_llr = mean over tokens w of
        log2((c_target(w)+1)/(N_target+V)) − log2((c_corpus(w)+1)/(N_corpus+V))

    High = looks like the target domain; low = out-of-domain.  All counts
    are exact integers and the only floats are the two log2s and the final
    4-decimal round, so an independent engine reproduces the score.

    Plan: one corpus explode feeds the corpus vocab AND the scoring join
    (vocab persisted — bounded); the target vocab is its own aggregate
    (target ≪ corpus: an exemplar set, not a second 100 TB table); V and
    the two totals are 1-row/vocab-sized aggregates broadcast into the
    scoring frame (declared scalar pattern).  Returns (id, n_tok, avg_llr)."""
    import pyspark.sql.functions as F

    toks = corpus.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("tok"))
    voc_c = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cc")).persist()
    voc_t = (
        target.select(F.explode(words(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("ct"))
        .persist()
    )
    union_v = (
        voc_c.select("tok").unionByName(voc_t.select("tok")).distinct()
        .agg(F.count(F.lit(1)).alias("v"))
    )
    n_c = voc_c.agg(F.sum("cc").alias("nc"))
    n_t = voc_t.agg(F.sum("ct").alias("nt"))
    scored = (
        toks.join(voc_c, "tok")                       # every corpus token has cc
        .join(voc_t, "tok", "left")                   # missing in target → ct NULL
        .join(F.broadcast(union_v))
        .join(F.broadcast(n_c))
        .join(F.broadcast(n_t))
    )
    llr = F.log2(
        (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
        / (F.col("nt") + F.col("v")).cast("double")
    ) - F.log2((F.col("cc") + 1).cast("double") / (F.col("nc") + F.col("v")).cast("double"))
    # integer-quantize the per-token ratio to micros before summing: float
    # addition is order-sensitive at the final rounding boundary, integer
    # sums are exact on every engine (each token's llr is itself a pure
    # function of vocab counts, so the quantization is deterministic)
    q = F.round(llr * F.lit(1e6), 0).cast("long")
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tok"),
        # + 0.0 collapses IEEE negative zero (an avg of tiny negatives can
        # round to -0.0, which canonicalizes as '-0.000000' ≠ '0.000000')
        (F.round(F.sum(q) / F.lit(1e6) / F.count(F.lit(1)), 4) + F.lit(0.0)).alias(
            "avg_llr"
        ),
    )


def bucket_code(word: Column, n_buckets: int) -> Column:
    """Portable hashed-ngram bucket: polynomial char hash mod 1e9+7, folded
    into ``n_buckets`` — the DSIR paper's fixed hash space (Xie et al. 2023
    §2.2 use hashed n-grams into 10k buckets).  Same char fold as
    :func:`word_codes`, so the DuckDB oracle replays it with list_reduce."""
    return F.pmod(
        F.aggregate(
            F.split(word, ""),
            F.lit(0).cast("long"),
            lambda acc, ch: F.pmod(acc * 31 + F.ascii(ch), F.lit(MOD)),
        ),
        F.lit(n_buckets),
    )


def _bucket_lm(df, text_col: str, n_buckets: int):
    """(b, c): bucket-count LM over one corpus — explode + hash aggregate.
    Map-side partial combine means the Exchange carries ≤ n_buckets rows per
    task no matter how big or skewed the corpus is."""
    return (
        df.select(F.explode(words(F.col(text_col))).alias("_wd"))
        .select(bucket_code(F.col("_wd"), n_buckets).alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _dense_q_array(entries, n_buckets: int, q_col: str = "q") -> "DataFrame":
    """Fold a (b, q) bucket table into ONE row holding a dense array<long>
    indexed by bucket — the broadcastable literal form of a fixed-size LM.
    Buckets absent from ``entries`` fill with 0; scoring never looks them up
    (every scored token's bucket is in the corpus LM by construction)."""
    qmap = entries.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("b").cast("int").alias("b"), F.col(q_col)))
        ).alias("_m")
    )
    return qmap.select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_buckets - 1)),
            lambda i: F.coalesce(F.element_at(F.col("_m"), i), F.lit(0).cast("long")),
        ).alias("_qs")
    )


def dsir_weight_hashed(corpus, target, id_col: str, text_col: str, n_buckets: int = 10_000):
    """DSIR importance weight over a FIXED hashed-bucket space — the paper's
    actual construction (Xie et al. 2023 §2.2: hash features into B≈10k
    buckets, fit the two bag-of-buckets LMs, weight = likelihood ratio).

    avg_llr = mean over tokens w, b = hash(w) mod B, of
        log2((c_target(b)+1)/(N_target+B)) − log2((c_corpus(b)+1)/(N_corpus+B))

    Same smoothing shape as :func:`dsir_weight` but over the fixed B-bucket
    space, so V = B is a plan-time constant and BOTH LMs are bounded tables.

    The 100 TB win over :func:`dsir_weight`: the full corpus stream never
    shuffles.  The two LM builds are hash aggregates whose Exchanges carry
    ≤ B rows per task (map-side combine); the per-bucket log-ratio is
    micro-quantized to int64 (deterministic per bucket — the same
    order-insensitive integer-sum trick as the exact variant) and folded
    into ONE dense array<long> row, broadcast into the scoring pass
    (1-row nested-loop — the declared scalar pattern).  Scoring is then a
    pure codegen projection per document — transform tokens → buckets →
    element_at into the array (O(1) dense index, not a map scan) →
    integer-sum fold — with NO explode, NO token join, and NO groupBy: the
    plan has no Exchange anywhere on the corpus side (pytest-asserted).

    Returns (id, n_tok, avg_llr) — same schema as :func:`dsir_weight`."""
    cc = _bucket_lm(corpus, text_col, n_buckets).persist()  # B-row dictionary
    ct = _bucket_lm(target, text_col, n_buckets).persist()
    nc = cc.agg(F.sum("c").alias("nc"))
    nt = ct.agg(F.sum("c").alias("nt"))
    entries = (
        cc.join(ct.withColumnRenamed("c", "_ct"), "b", "left")
        .join(F.broadcast(nc))
        .join(F.broadcast(nt))
        .select(
            "b",
            F.round(
                (
                    F.log2(
                        (F.coalesce(F.col("_ct"), F.lit(0)) + 1).cast("double")
                        / (F.col("nt") + n_buckets).cast("double")
                    )
                    - F.log2(
                        (F.col("c") + 1).cast("double")
                        / (F.col("nc") + n_buckets).cast("double")
                    )
                )
                * F.lit(1e6),
                0,
            ).cast("long").alias("q"),
        )
    )
    qs = _dense_q_array(entries, n_buckets)
    staged = corpus.select(F.col(id_col), words(F.col(text_col)).alias("_w"))
    scored = staged.join(F.broadcast(qs))
    sum_q = F.aggregate(
        F.transform(
            F.col("_w"),
            lambda wd: F.element_at(F.col("_qs"), (bucket_code(wd, n_buckets) + 1).cast("int")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return scored.select(
        F.col(id_col),
        F.size("_w").cast("long").alias("n_tok"),
        (F.round(sum_q / F.lit(1e6) / F.size("_w"), 4) + F.lit(0.0)).alias("avg_llr"),
    )


def unigram_logprob_hashed(df, id_col: str, text_col: str, n_buckets: int = 10_000):
    """:func:`unigram_logprob` over the same fixed hashed-bucket space as
    :func:`dsir_weight_hashed` — the corpus unigram LM becomes a bounded
    B-bucket table folded into one broadcast array<long> of micro-quantized
    log2-counts, and scoring is a pure codegen projection: no token-keyed
    shuffle of the corpus stream, no per-doc groupBy (the doc's own token
    array is folded in place).  Bucket collisions merge rare tokens' counts
    — the standard hashed-feature trade (Xie et al. 2023 accept it at B=10k).

    avg_logp = (Σ_w round(log2(c(b(w)))·1e6)/1e6) / n − log2(N)

    Returns (id, n_tok, avg_logp) — same shape as :func:`unigram_logprob`."""
    cb = _bucket_lm(df, text_col, n_buckets).persist()
    total = cb.agg(F.sum("c").alias("ntot"))
    entries = cb.select("b", F.round(F.log2("c") * F.lit(1e6), 0).cast("long").alias("q"))
    qs = _dense_q_array(entries, n_buckets)
    staged = df.select(F.col(id_col), words(F.col(text_col)).alias("_w"))
    scored = staged.join(F.broadcast(qs)).join(F.broadcast(total))
    sum_q = F.aggregate(
        F.transform(
            F.col("_w"),
            lambda wd: F.element_at(F.col("_qs"), (bucket_code(wd, n_buckets) + 1).cast("int")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return scored.select(
        F.col(id_col),
        F.size("_w").cast("long").alias("n_tok"),
        (
            F.round(sum_q / F.lit(1e6) / F.size("_w") - F.log2("ntot"), 4) + F.lit(0.0)
        ).alias("avg_logp"),
    )


def quality_classifier_score(
    df,
    id_col: str,
    text_col: str,
    n_buckets: int = 4096,
    weights=None,
    bias_q: int = 0,
):
    """fastText-style LINEAR quality-classifier inference (Joulin et al.
    2016 "Bag of Tricks for Efficient Text Classification", public — the
    CCNet / LLaMA corpus-filter shape): logit = bias + mean over words of
    weight[hash(word) mod B].

    Engine shape — the production inference path for a trained filter at
    100 TB: the weight vector is a plan-time DENSE ARRAY LITERAL of B
    micro-quantized int64s (a trained model's weights drop into the same
    literal unchanged), and scoring is a pure codegen projection per
    document — transform words → buckets → element_at (O(1) dense index) →
    exact integer fold.  NO explode, NO join, NO groupBy, NO shuffle: the
    classifier rides the scan, so filtering 10^12 docs costs one pass.

    ``weights`` is a length-B list of micro-quantized int64 (value·10⁶).
    Default None uses a deterministic LCG placeholder
    w_b = ((48271·b + 11) mod 2000001) − 10⁶  ∈ [−10⁶, 10⁶]
    — no trained artifact ships in this sandbox (declared seam, same
    policy as the multimodal codec stub); everything around the weights is
    the real inference plan.  ``bias_q`` is the micro-quantized bias.

    Sums are exact integers (order-independent across engines/partitions);
    the only float is the final correctly-rounded division.  An empty text
    is ONE empty token under the engine's split convention (both engines
    agree), scoring weight[bucket_code("")] like any other word.

    Returns (id, n_tok, logit, keep) with
    logit = round((Σ_w q[b(w)] + n·bias_q) / (max(n,1)·10⁶), 4) and
    keep = logit ≥ 0 (threshold on the ROUNDED value, so an independent
    engine lands on the same side)."""
    import numpy as np

    if weights is None:
        w = (48271 * np.arange(n_buckets, dtype=np.int64) + 11) % 2000001 - 1000000
    else:
        w = np.asarray(weights, dtype=np.int64)
        if len(w) != n_buckets:
            raise ValueError(f"weights must have length {n_buckets}, got {len(w)}")
    ws = F.lit(w)
    staged = df.select(F.col(id_col), words(F.col(text_col)).alias("_w"))
    sum_q = F.aggregate(
        F.transform(
            F.col("_w"),
            lambda wd: F.element_at(ws, (bucket_code(wd, n_buckets) + 1).cast("int")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n = F.size("_w").cast("long")
    logit = F.round(
        (sum_q + n * F.lit(int(bias_q))) / (F.greatest(n, F.lit(1)) * F.lit(1e6)), 4
    ) + F.lit(0.0)
    return staged.select(
        F.col(id_col),
        n.alias("n_tok"),
        logit.alias("logit"),
        (logit >= 0).alias("keep"),
    )


# Gopher rule-set stopwords (Rae et al. 2021 §A1.1): keep needs >= 2 DISTINCT.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_gates(
    df,
    id_col: str,
    text_col: str,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_wlen: float = 3.0,
    max_mean_wlen: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
):
    """Full Gopher quality rule table (Rae et al. 2021 §A1.1), one row per doc.

    The repetition rules live in ``repetition_stats`` (dup-word / dup-3-gram
    ratios); this is the complementary document-shape rule family:

    - word count in [min_words, max_words]
    - mean word length in [min_mean_wlen, max_mean_wlen]
    - symbol-to-word ratio (``#`` and ``...``) <= max_symbol_ratio
    - fraction of words containing an alphabetic char >= min_alpha_frac
    - at least ``min_stopwords`` DISTINCT Gopher stopwords present

    (The bullet-/ellipsis-LINE rules are omitted: the corpus tables carry
    single-line bodies — documented deviation, not an approximation.)

    Pure codegen over ONE staged split array — no explode, no shuffle, no
    UDF: at 100 TB this is a map-only projection.  Thresholds compare
    against values rounded to 4 decimals so an independent engine lands on
    the same side of every gate.  Returns (id, n_words, mean_word_len,
    symbol_ratio, alpha_frac, n_stop, keep).
    """
    w = F.filter(words(F.col(text_col)), lambda x: x != F.lit(""))
    staged = df.select(F.col(id_col), w.alias("_w"), F.col(text_col).alias("_t"))
    n = F.size("_w")
    nd = F.greatest(n, F.lit(1)).cast("double")
    mean_wlen = F.round(
        F.aggregate(F.col("_w"), F.lit(0).cast("long"), lambda a, x: a + F.length(x))
        / nd,
        4,
    )
    symbol_ratio = F.round(
        (F.regexp_count(F.col("_t"), F.lit("#"))
         + F.regexp_count(F.col("_t"), F.lit(r"\.\.\."))).cast("double") / nd,
        4,
    )
    alpha_frac = F.round(
        F.size(F.filter(F.col("_w"), lambda x: x.rlike("[A-Za-z]"))).cast("double")
        / nd,
        4,
    )
    n_stop = F.size(
        F.array_intersect(
            F.transform(F.col("_w"), F.lower),
            F.lit(GOPHER_STOPWORDS),
        )
    )
    keep = (
        (n >= min_words)
        & (n <= max_words)
        & (mean_wlen >= min_mean_wlen)
        & (mean_wlen <= max_mean_wlen)
        & (symbol_ratio <= max_symbol_ratio)
        & (alpha_frac >= min_alpha_frac)
        & (n_stop >= min_stopwords)
    )
    return staged.select(
        F.col(id_col),
        n.alias("n_words"),
        mean_wlen.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_frac.alias("alpha_frac"),
        n_stop.alias("n_stop"),
        keep.alias("keep"),
    )


def source_token_kl(df, source_col: str = "source", text_col: str = "text"):
    """Per-source token-distribution drift: KL(P_source ‖ P_corpus) in nats
    over the whitespace-unigram distribution — the mixture diagnostic a
    data-mixing run consults before reweighting sources (the drift signal
    behind DoReMi/DSIR-style selection, Xie et al. 2023, public).

    Scale shape: ONE corpus-stream explode feeding a map-side-combinable
    (source, tok) count; every later frame is vocabulary-sized
    (|V|·#sources rows) or smaller, so the tok-keyed join shuffles the
    vocabulary, never the corpus.  The per-source totals (#sources rows)
    and the grand total (1 row) ride the declared broadcast patterns.
    The log's numerator and denominator are products of counts < 2^53,
    so each is exact in a double.

    Returns (source, n_toks, n_distinct_toks, kl_nats)."""
    import pyspark.sql.functions as F

    toks = df.select(
        F.col(source_col).alias("source"),
        F.explode(words(F.col(text_col))).alias("tok"),
    ).filter(F.col("tok") != "")
    # persist: the (source, tok) count frame has three consumers (global
    # marginal, per-source totals, the scoring join); callers materialize
    # the returned #sources-row frame immediately, so lifetime is short
    st = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c_st")).persist()
    g = st.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    ns = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    tot = st.agg(F.sum("c_st").alias("n"))
    term = (F.col("c_st") / F.col("n_s")) * F.log(
        (F.col("c_st").cast("double") * F.col("n")) / (F.col("n_s").cast("double") * F.col("c_t"))
    )
    return (
        st.join(g, "tok")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.max("n_s").alias("n_toks"),
            F.count(F.lit(1)).alias("n_distinct_toks"),
            F.round(F.sum(term), 6).alias("kl_nats"),
        )
    )


def winnow_fingerprints(text: Column, w: int = 4) -> Column:
    """Winnowing document fingerprint (Schleimer, Wilkerson & Aiken 2003,
    SIGMOD — the MOSS algorithm, public): over the sequence of word-3-gram
    hashes, slide a window of ``w`` consecutive hashes and select each
    window's minimum; the DISTINCT selected set is the fingerprint.
    Guarantees any shared run of ≥ w+2 words between two documents shares a
    fingerprint, with ~2/(w+1) selection density — the local-minima trick
    that makes substring-level matching index-sized instead of text-sized.

    Pure codegen array ops, zero shuffle, zero Python; hashes are the
    portable mod-1e9+7 word-3-gram polynomials (see ``word_codes``) so the
    DuckDB oracle regenerates the selection bit-for-bit.  Returns the
    sorted distinct fingerprint array (array<long>)."""
    import pyspark.sql.functions as F

    def _select(hs: Column) -> Column:
        wins = (
            F.when(
                F.size(hs) >= w,
                F.transform(
                    F.sequence(F.lit(0), F.size(hs) - w),
                    lambda i: F.array_min(F.slice(hs, (i + 1).cast("int"), w)),
                ),
            )
            .when(F.size(hs) >= 1, F.array(F.array_min(hs)))
            .otherwise(F.array().cast("array<bigint>"))
        )
        return F.array_sort(F.array_distinct(wins))

    def _hashes(codes: Column) -> Column:
        return F.when(
            F.size(codes) >= 3,
            F.transform(
                F.sequence(F.lit(1), F.size(codes) - 2),
                lambda i: F.pmod(
                    F.pmod(
                        F.element_at(codes, i.cast("int")) * 31
                        + F.element_at(codes, (i + 1).cast("int")),
                        F.lit(MOD),
                    )
                    * 31
                    + F.element_at(codes, (i + 2).cast("int")),
                    F.lit(MOD),
                ),
            ),
        ).otherwise(F.array().cast("array<bigint>"))

    # let-bind both arrays: codes feed 3 element_at references per shingle
    # and hs feeds size + slice per window — HOFs block CSE and a staged
    # alias inlines through pushed predicates (see ``let``)
    return let(word_codes(text), lambda codes: let(_hashes(codes), _select))


def pmi_topk(df, text_col: str, k: int = 50, min_count: int = 5):
    """Collocation mining: top-k adjacent token pairs by pointwise mutual
    information, PMI(w1,w2) = log2(c(w1,w2)·N / (c(w1)·c(w2))) (Church &
    Hanks 1990, public) with a ``min_count`` support floor — the standard
    pass for discovering multi-word expressions worth atomizing before
    tokenizer training (complements ``bpe_pair_topk``, which ranks by raw
    pair frequency and so surfaces frequent-but-unsurprising pairs).

    Determinism/parity: the PMI argument is formed as two exact-int64
    products, c2·N and c(w1)·c(w2), each cast to double only for the final
    division+log2, then rounded to 9 decimals — so an independent engine
    reproduces the ranking bit-for-bit (c2·N overflows int64 past ~10^9.5
    tokens with c2 near N; at that scale flip the two casts to double first,
    losing only sub-round-off precision).  Ties break on (w1, w2).

    Plan shape: one explode feeds the unigram hash aggregate (vocab-sized
    after map-side combine); bigrams come from an array transform + explode
    feeding the bigram hash aggregate; the ``min_count`` HAVING cut happens
    BEFORE any join, so both PMI joins carry only (surviving bigram) ×
    (vocab) rows — never the corpus stream (contrast ``bigram_logprob``,
    which must score every document and so joins the full stream).  N is a
    1-row broadcast (declared scalar pattern).  Final top-k sorts the
    surviving-bigram table only.
    """
    staged = df.select(words(F.col(text_col)).alias("_w"))
    w = F.col("_w")
    uni = (
        staged.select(F.explode(w).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c1"))
        .persist()  # three consumers: c_w1 join, c_w2 join, corpus total
    )
    total = uni.agg(F.sum("c1").alias("nt"))
    bigrams = staged.filter(F.size(w) >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(w) - 2),
                lambda i: F.struct(
                    F.element_at(w, (i + 1).cast("int")).alias("w1"),
                    F.element_at(w, (i + 2).cast("int")).alias("w2"),
                ),
            )
        ).alias("_bg")
    ).select(F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))
    bic = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
        .filter(F.col("c2") >= min_count)
    )
    scored = (
        bic.join(uni.select(F.col("tok").alias("w1"), F.col("c1").alias("c_w1")), "w1")
        .join(uni.select(F.col("tok").alias("w2"), F.col("c1").alias("c_w2")), "w2")
        .join(F.broadcast(total))
    )
    pmi = F.round(
        F.log2(
            (F.col("c2") * F.col("nt")).cast("double")
            / (F.col("c_w1") * F.col("c_w2")).cast("double")
        ),
        9,
    )
    return (
        scored.select("w1", "w2", "c2", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(k)
    )


def zipf_slope_by_source(df, source_col: str = "source", text_col: str = "text"):
    """Per-source Zipf fit: OLS slope of ln(frequency) on ln(rank) over the
    source's whitespace-unigram vocabulary — the corpus-health audit that
    flags a source whose token distribution is un-natural (templated spam
    reads flat, slope → 0; boilerplate-dominated dumps read steep,
    slope ≪ −1; natural language sits near −1, Zipf 1949 / Piantadosi 2014,
    public).  Ranking ties break (count DESC, token ASC) so the fit is
    deterministic across engines and reruns.

    Scale shape: the corpus stream collapses to a map-side-combinable
    (source, token) hash aggregate before anything else; the per-source
    rank is a Window over THE VOCAB TABLE ONLY (Heaps-law bounded, does not
    grow with corpus size — the same documented exception as
    ``packing.token_coverage_curve``), and the fit itself is one hash
    aggregate of covar/var moments, #sources output rows.  Nothing
    corpus-sized ever shuffles twice.

    Returns (source, n_types, n_toks, zipf_slope, zipf_intercept)."""
    from pyspark.sql import Window

    uni = (
        df.select(F.col(source_col).alias("source"), F.explode(words(F.col(text_col))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("tok"))
    ranked = uni.select(
        "source",
        F.col("n"),
        F.log(F.row_number().over(w).cast("double")).alias("lx"),
        F.log(F.col("n").cast("double")).alias("ly"),
    )
    slope = F.covar_pop("ly", "lx") / F.var_pop("lx")
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("n").alias("n_toks"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(F.avg("ly") - slope * F.avg("lx"), 6).alias("zipf_intercept"),
    )


def hapax_stats_by_source(df, source_col: str = "source", text_col: str = "text"):
    """Per-source hapax-legomena audit: the share of vocabulary types seen
    exactly once (and twice — dis legomena), the classic vocabulary-tail
    health check (Baayen, *Word Frequency Distributions* 2001, public): a
    natural-text source runs ~40-60 % hapax; near-zero means templated /
    deduplicated-to-death text, near-one means OCR noise or binary junk.
    Feeds tokenizer sizing next to ``packing.token_coverage_curve``.

    Scale shape: one explode → (source, token) map-side-combined count,
    then one #vocab-row aggregate down to #sources rows.  The corpus
    stream shuffles once, pre-reduced to distinct (source, token) pairs.

    Returns (source, n_types, n_hapax, n_dis, hapax_rate, hapax_tok_share)."""
    uni = (
        df.select(F.col(source_col).alias("source"), F.explode(words(F.col(text_col))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    hapax = F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
    return uni.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_types"),
        hapax.alias("n_hapax"),
        F.sum(F.when(F.col("n") == 2, 1).otherwise(0)).alias("n_dis"),
        F.round(hapax.cast("double") / F.count(F.lit(1)), 6).alias("hapax_rate"),
        F.round(hapax.cast("double") / F.sum("n"), 6).alias("hapax_tok_share"),
    )


def ngram_novelty_by_source(
    df, id_col: str, text_col: str, source_col: str = "source", n: int = 3
):
    """Per-source n-gram novelty (the memorization/diversity audit run on
    pretraining mixes, cf. the novel-n-gram curves in Muennighoff et al.
    2023 "Scaling Data-Constrained LMs", public): attribute every distinct
    corpus shingle to its FIRST document (min doc id — deterministic,
    engine-portable), then report per source how much of its shingle mass
    is first-seen-here vs repeated from elsewhere.  A source whose novelty
    collapses is re-crawled / duplicated content; one near 1.0 carries the
    mix's diversity.

    Scale shape: identical frames to ``boilerplate_ratio`` — the (doc,
    shingle) explode is reduced to distinct pairs, the first-owner table is
    a map-side-combinable min aggregate, and the re-join shuffles shingle-
    keyed pre-aggregated rows (zipf-skewed keys ride AQE skew-join, the
    same accepted shape).  Everything after is #sources rows.

    Returns (source, n_docs, n_shingle_occ, n_novel, novelty_rate)."""
    from .dedup import shingle_hashes

    sh = shingle_hashes(
        df.select(F.col(id_col), F.col(text_col)), id_col, text_col, n=n, mode="raw"
    ).distinct()
    first = sh.groupBy("h").agg(F.min("id").alias("_first"))
    src = df.select(F.col(id_col).alias("id"), F.col(source_col).alias("source"))
    joined = sh.join(first, "h").join(src, "id")
    novel = F.sum(F.when(F.col("id") == F.col("_first"), 1).otherwise(0))
    return joined.groupBy("source").agg(
        F.countDistinct("id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_shingle_occ"),
        novel.alias("n_novel"),
        F.round(novel.cast("double") / F.count(F.lit(1)), 6).alias("novelty_rate"),
    )


def compression_ratio_by_source(df, source_col: str = "source", text_col: str = "text"):
    """Per-source tokenizer-compression audit: characters per whitespace
    token and per BPE-ish token (the ``\\w+|[^\\w\\s]`` piece regex) — the
    fertility number a tokenizer rollout watches per source/language (a
    source whose chars-per-token collapses is code/binary junk; one that
    balloons is unsegmented text the tokenizer will shred into bytes).

    One narrow codegen projection (length + two token counts per row, no
    explode) feeding a map-side-combinable per-source aggregate — the
    cheapest possible full-corpus pass.

    Returns (source, n_docs, n_chars, n_ws_tok, n_bpe_tok,
    chars_per_ws_tok, chars_per_bpe_tok, bpe_per_ws)."""
    per = df.select(
        F.col(source_col).alias("source"),
        F.length(text_col).alias("_c"),
        token_count(F.col(text_col)).cast("long").alias("_w"),
        bpe_token_count(F.col(text_col)).cast("long").alias("_b"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_c").alias("n_chars"),
        F.sum("_w").alias("n_ws_tok"),
        F.sum("_b").alias("n_bpe_tok"),
        F.round(F.sum("_c").cast("double") / F.sum("_w"), 6).alias("chars_per_ws_tok"),
        F.round(F.sum("_c").cast("double") / F.sum("_b"), 6).alias("chars_per_bpe_tok"),
        F.round(F.sum("_b").cast("double") / F.sum("_w"), 6).alias("bpe_per_ws"),
    )


def bigram_entropy_by_source(df, source_col: str = "source", text_col: str = "text"):
    """Per-source sequencing-health entropies over whitespace bigrams:
    unigram entropy H(w) and conditional bigram entropy H(w2|w1) =
    −Σ p(w1,w2)·log2(c(w1,w2)/c(w1·)) — the pair a corpus audit reads
    together (H(w) flags vocabulary collapse; H(w2|w1) ≈ H(w) means
    word-salad with no sequential structure, H(w2|w1) ≈ 0 means templated
    text; natural language sits well between).  The left marginal c(w1·)
    comes from the bigram table itself, so the estimate is self-consistent.

    Scale shape: one staged-array explode per document feeding a map-side-
    combinable (source, w1, w2) count; every later frame is vocab²-sized or
    smaller (marginals, per-source totals), re-joined on vocabulary keys
    under AQE skew-join like the LM-score operators.  Entropy terms are
    ratios of exact integer counts.

    Returns (source, n_tok, n_bigrams, n_distinct_bigrams, h_unigram,
    h_bigram_cond)."""
    staged = df.select(
        F.col(source_col).alias("source"), words(F.col(text_col)).alias("_w")
    )
    w = F.col("_w")
    uni = (
        staged.select("source", F.explode(w).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c1"))
        .persist()
    )
    n_tok = uni.groupBy("source").agg(F.sum("c1").alias("nt"))
    h_uni = (
        uni.join(n_tok, "source")
        .groupBy("source")
        .agg(
            (-F.sum(
                (F.col("c1") / F.col("nt"))
                * F.log2(F.col("c1").cast("double") / F.col("nt"))
            )).alias("h_unigram"),
        )
    )
    bi = (
        staged.filter(F.size(w) >= 2)
        .select(
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size(w) - 2),
                    lambda i: F.struct(
                        F.element_at(w, (i + 1).cast("int")).alias("w1"),
                        F.element_at(w, (i + 2).cast("int")).alias("w2"),
                    ),
                )
            ).alias("p"),
        )
        .select("source", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("source", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
        .persist()
    )
    left = bi.groupBy("source", "w1").agg(F.sum("c2").alias("cl"))
    per_src = bi.groupBy("source").agg(
        F.sum("c2").alias("nb"), F.count(F.lit(1)).alias("ndb")
    )
    h_bi = (
        bi.join(left, ["source", "w1"])
        .join(per_src, "source")
        .groupBy("source")
        .agg(
            F.min("nb").alias("n_bigrams"),
            F.min("ndb").alias("n_distinct_bigrams"),
            (-F.sum(
                (F.col("c2") / F.col("nb"))
                * F.log2(F.col("c2").cast("double") / F.col("cl"))
            )).alias("h_bigram_cond"),
        )
    )
    return (
        n_tok.join(h_uni, "source")
        .join(h_bi, "source")
        .select(
            "source",
            F.col("nt").alias("n_tok"),
            "n_bigrams",
            "n_distinct_bigrams",
            F.round("h_unigram", 6).alias("h_unigram"),
            F.round("h_bigram_cond", 6).alias("h_bigram_cond"),
        )
    )


def heldout_unigram_eval(train_df, eval_df, text_col: str, group_col: str):
    """Held-out LM evaluation: fit the unigram LM on the TRAIN split only,
    score the EVAL split per group — the train/valid generalization check
    :func:`unigram_logprob` (which scores the corpus under its own
    distribution) cannot give.  Reports per group the held-out token count,
    the OOV rate against the train vocabulary (the coverage half of the
    eval), and the mean log2-probability of the in-vocab tokens (the fit
    half).

    Plan shape: train explode → vocab aggregate (zipf-bounded, persisted —
    it feeds both the corpus total and the scoring join); eval explode
    LEFT-joins the vocab on the token (OOV = null count) and the corpus
    total rides in as the 1-row broadcast scalar.  Both shuffles carry
    (group, token)-sized rows; at 100 TB broadcast a df-capped vocab head
    or use the hashed-bucket variant exactly as unigram_logprob_hashed."""
    import pyspark.sql.functions as F

    toks_tr = train_df.select(F.explode(words(F.col(text_col))).alias("tok"))
    vocab = toks_tr.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).persist()
    total = vocab.agg(F.sum("c").alias("nt"))
    toks_ev = eval_df.select(
        F.col(group_col), F.explode(words(F.col(text_col))).alias("tok")
    )
    j = toks_ev.join(vocab, "tok", "left").join(F.broadcast(total))
    in_v = F.col("c").isNotNull()
    return j.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.round(F.avg(F.col("c").isNull().cast("double")), 6).alias("oov_rate"),
        F.round(
            F.sum(F.when(in_v, F.log2("c"))) / F.sum(in_v.cast("double"))
            - F.first(F.log2("nt")),
            4,
        ).alias("avg_logp"),
    )


def kn_bigram_logprob(df, id_col: str, text_col: str, discount: float = 0.75):
    """Interpolated Kneser–Ney bigram LM quality score (Kneser & Ney 1995;
    Chen & Goodman 1999, public) — the industry-standard smoother behind
    KenLM, next to :func:`bigram_logprob`'s simple interpolation:

        p(w2|w1) = (c(w1,w2) − D)/c(w1·) + D·N1+(w1,·)/c(w1·) · P_cont(w2)
        P_cont(w2) = N1+(·,w2) / |bigram types|

    where c(w1·) is the bigram-context total (so the distribution
    normalizes exactly), N1+(w1,·) counts distinct continuations of w1,
    and the continuation probability P_cont ranks words by how many
    DISTINCT contexts they follow — the KN insight that downweights words
    frequent only inside one collocation ("Francisco").  D defaults to
    0.75 (dyadic — exactly representable, engine-exact arithmetic before
    the final round).  Self-scored, so every doc bigram has c ≥ 1 > D and
    the max(·−D, 0) clamp is vacuous — no unseen-bigram branch needed.

    Plan (same linear shape as bigram_logprob): one bigram explode feeds
    the persisted (w1,w2) count table, whose THREE derived frames are all
    vocabulary-sized hash aggregates — context totals + forward
    continuation counts by w1, backward continuation counts by w2, and
    the 1-row bigram-type total (declared scalar broadcast); the doc
    bigram stream equi-joins them back (zipf-skewed keys — AQE skew-join,
    same accepted shape as the other LM scorers).  Docs with < 2 tokens
    drop out."""
    import pyspark.sql.functions as F

    staged = df.select(F.col(id_col), words(F.col(text_col)).alias("_w"))
    w = F.col("_w")
    bigrams = staged.filter(F.size(w) >= 2).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(w) - 2),
                lambda i: F.struct(
                    F.element_at(w, (i + 1).cast("int")).alias("w1"),
                    F.element_at(w, (i + 2).cast("int")).alias("w2"),
                ),
            )
        ).alias("_bg"),
    ).select(F.col(id_col), F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))
    # persist: the bigram count table has three aggregate consumers below —
    # caller-owned lifetime, same contract as the other vocab caches
    bic = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2")).persist()
    ctx = bic.groupBy("w1").agg(
        F.sum("c2").alias("cw1"), F.count(F.lit(1)).alias("n1f")
    )
    cont = bic.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    btypes = bic.agg(F.count(F.lit(1)).alias("bt"))
    scored = (
        bigrams.join(bic, ["w1", "w2"])
        .join(ctx, "w1")
        .join(cont, "w2")
        .join(F.broadcast(btypes))
    )
    d = F.lit(float(discount))
    lp = F.log2(
        (F.col("c2").cast("double") - d) / F.col("cw1")
        + d * F.col("n1f") / F.col("cw1")
        * (F.col("n1b").cast("double") / F.col("bt"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg(lp), 4).alias("avg_logp2"),
    )
