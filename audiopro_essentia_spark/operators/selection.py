"""Data selection for training corpora: DSIR importance resampling and
BM25 lexical retrieval.

DSIR (Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling", arXiv:2302.03169 — public method, independent implementation):
score every raw document by how target-like its hashed n-gram profile is,
log w(doc) = sum over the doc's hashed features of (ln p_target[h] -
ln q_raw[h]), where p/q are add-alpha-smoothed bucket distributions fit on
the target / raw split of the same corpus. The analog in the reference
pipeline is its source-validation gate (reference
src/audiopro/audio/validator.py) — a binary keep/drop; DSIR generalizes it
to a calibrated, distribution-level keep score.

BM25 (Robertson & Zaragoza 2009, Okapi BM25 — public formula): classic
lexical top-k retrieval, the exact-match complement of the ANN suite
(operators/similarity.py). Used in data pipelines for eval-set
decontamination-by-retrieval and targeted corpus audits ("show me the
docs that match this benchmark prompt").

Scale design (both):
- Feature/token extraction is narrow JVM codegen (split + explode), no
  Python anywhere.
- Every model-side table is BOUNDED and broadcast: DSIR's bucket
  distribution is n_buckets rows (512 here, 10^4-10^5 in production —
  still trivially broadcastable); BM25's query-term table is
  |queries|*|terms| rows.
- Per-doc scores are ONE groupBy(doc) sum — a single linear shuffle over
  the exploded features; df/tf stats are the same shape.
- Log-weights are accumulated as exact INTEGER micro-nats
  (round(lr*1e6) per bucket, then BIGINT sum): float summation order
  differs between engines and between Spark partitionings, integers
  don't — the score is bit-stable at any scale and the DuckDB twin
  matches exactly, no round-6 truce needed.
- BM25 top-k per query goes through the two-phase salted window
  (operators/skew.py capped_top_n), so a query matching 10^9 docs at
  100 TB never funnels through one reducer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import nonempty_words, portable_hash32
from .skew import capped_top_n

# Smoothing for the bucket distributions. alpha=0.5 (Jeffreys) keeps
# never-seen buckets finite on both sides of the log-ratio.
DSIR_ALPHA = 0.5
DSIR_BUCKETS = 512

BM25_K1 = 1.2
BM25_B = 0.75
# integer micro-units: exact cross-engine accumulation (see module doc)
_MICRO = 1e6


def _doc_features(
    df: DataFrame, text_col: str, id_col: str, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(id, *carry, feat): unigrams + adjacent-bigram strings, empties
    dropped. Bigrams via zip_with(ws[:-1], ws[1:]) — one pass, no
    posexplode. `carry` columns ride each feature row unchanged (r6:
    lets dsir tag the class inline instead of joining it back on)."""
    ws = nonempty_words(F.col(text_col))
    cc = [F.col(c) for c in carry]
    unis = df.select(F.col(id_col), *cc, F.explode(ws).alias("feat"))
    n = F.size(ws)
    bis = df.select(
        F.col(id_col),
        *cc,
        F.explode(
            F.when(
                n >= 2,
                F.zip_with(
                    F.slice(ws, 1, n - 1),
                    F.slice(ws, 2, n - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("feat"),
    )
    return unis.unionByName(bis)


def dsir_bucket(feat: Column, n_buckets: int = DSIR_BUCKETS) -> Column:
    """Hashed-feature bucket in [0, n_buckets) via the portable md5 hash
    (cross-engine; F.hash would not survive the DuckDB twin)."""
    return F.pmod(portable_hash32(feat), F.lit(n_buckets))


def dsir_importance(
    df: DataFrame,
    is_target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
    alpha: float = DSIR_ALPHA,
) -> DataFrame:
    """(id, n_feats, dsir_weight_micro, keep): per-document DSIR
    importance log-weight in integer micro-nats.

    is_target marks the in-domain exemplar docs (the distribution you
    want more of); the raw side is everything else. Both distributions
    are fit over hashed unigram+bigram buckets with add-alpha smoothing:

        lr[b] = ln((n_p[b]+a)/(N_p+a*B)) - ln((n_q[b]+a)/(N_q+a*B))

    rounded ONCE per bucket to integer micro-nats; a doc's weight is the
    exact integer sum of lr over its features (with multiplicity).
    keep = weight > 0 ("more target-like than raw-like") — the
    deterministic selection rule; production resampling would draw
    against softmax(weight) instead, but the weights are the hard part.

    Docs with zero features (empty/whitespace text) keep weight 0 via
    the left join + coalesce — they are never silently dropped.
    """
    # the class tag rides each feature row inline (carry=) instead of
    # being joined back on id — same tag values (is_target is a per-row
    # expression of df's columns), one join fewer.
    base = df.select(F.col(id_col), F.col(text_col), is_target.alias("_is_tgt"))
    feats = _doc_features(
        base, text_col, id_col, carry=("_is_tgt",)
    ).withColumn("_b", dsir_bucket(F.col("feat"), n_buckets))
    fb = feats

    # one shuffle: per-bucket counts for BOTH classes (conditional sums)
    counts = fb.groupBy("_b").agg(
        F.sum(F.when(F.col("_is_tgt"), 1).otherwise(0)).alias("_np"),
        F.sum(F.when(F.col("_is_tgt"), 0).otherwise(1)).alias("_nq"),
    )
    # class totals from the already-aggregated n_buckets-row table —
    # N_p = sum over buckets of n_p exactly (BIGINT), so aggregating fb
    # again (the previous form) was a whole extra corpus-wide
    # explode+hash pass for the same two integers. An unpartitioned
    # window keeps counts a SINGLE plan consumer (a second branch would
    # duplicate the bucket exchange in the static plan): moving the
    # n_buckets-row table to one partition is deliberate and tiny —
    # the same pattern as pack_shards' bucket-offset table.
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ab = float(alpha) * n_buckets
    lr = counts.select(
        "_b",
        F.round(
            (
                F.log(
                    (F.col("_np") + alpha)
                    / (F.sum("_np").over(wall) + ab)
                )
                - F.log(
                    (F.col("_nq") + alpha)
                    / (F.sum("_nq").over(wall) + ab)
                )
            )
            * _MICRO
        )
        .cast("long")
        .alias("_lr_micro"),
    )
    # bucket table is bounded (n_buckets rows) -> broadcast into the
    # per-feature stream; never a shuffle on the corpus side
    doc_w = (
        feats.join(F.broadcast(lr), "_b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("_lr_micro").alias("dsir_weight_micro"),
        )
    )
    return (
        df.select(id_col)
        .join(doc_w, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
            F.coalesce("dsir_weight_micro", F.lit(0))
            .cast("long")
            .alias("dsir_weight_micro"),
            (F.coalesce("dsir_weight_micro", F.lit(0)) > 0).alias("keep"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """(query_id, doc_id, n_hit_terms, score_micro, rank): Okapi BM25
    top-k docs per query.

    queries: (query_id, query) — a SMALL table (eval prompts, audit
    probes); it is broadcast, duplicate terms within one query are
    deduped (standard bag-of-query-terms BM25 scores each distinct term
    once).

        idf(t)  = ln(1 + (N - df + 0.5)/(df + 0.5))
        s(t, D) = idf * tf*(k1+1) / (tf + k1*(1 - b + b*|D|/avgdl))

    Per-term scores are rounded ONCE to integer micro-units and summed
    exactly (see module doc), so ranking ties are engine-independent and
    broken on doc_id. Only docs containing >=1 query term ever leave the
    scan (inner join on the broadcast term list = the inverted-index
    probe); the final per-query top-k runs through the two-phase salted
    window so a hot query never serializes on one reducer.
    """
    ws = nonempty_words(F.col(text_col))
    toks = docs.select(
        F.col(id_col), F.size(ws).alias("_dl"), F.explode(ws).alias("term")
    )
    qterms = queries.select(
        "query_id",
        F.explode(
            nonempty_words(F.col("query"))
        ).alias("term"),
    ).distinct()
    qterm_set = qterms.select("term").distinct()
    # the inverted-index probe runs BELOW the tf aggregate: term is a
    # grouping key, so broadcast-filtering the exploded tokens first
    # yields bit-identical (doc, term) counts while the corpus-wide
    # groupBy shrinks to matching tokens only (Catalyst will not push a
    # broadcast join under an aggregate on its own — measured: the old
    # tf-then-join form shuffled every (doc, term) pair of the corpus).
    # Everything downstream — including document frequency — is bounded
    # by |query terms| x matching docs, never the whole vocab.
    # _dl is constant within a doc; min() (not first()) keeps the
    # aggregate order-insensitive and mirrors the DuckDB twin exactly
    tfq = (
        toks.join(F.broadcast(qterm_set), "term")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("_tf"), F.min("_dl").alias("_dl"))
    )
    # df(t) = #docs containing t = tf rows per term (tf is distinct on
    # (doc, term)). r6: computed as ONE window count over tfq instead of
    # a separate aggregate joined back — the aggregate-and-join form
    # made tfq a TWO-consumer subtree, so Catalyst re-ran the whole
    # corpus token pass (explode + probe + tf aggregate) once per branch
    # (measured: a duplicate 20.2 s single-task stage at sf1.0). The
    # window shuffles only the bounded probed tfq rows by term; every
    # tfq row's term exists, so count(*) over (partition by term) is
    # row-for-row identical to the old inner join's _df.
    w_term = Window.partitionBy("term")
    tfq = tfq.withColumn("_df", F.count(F.lit(1)).over(w_term))
    # N / avgdl over the WHOLE corpus (standard BM25 statistics).
    # avgdl as exact-BIGINT-sum / exact-count: one IEEE division both
    # engines compute identically (avg()'s internal accumulation order
    # is engine-dependent)
    stats = docs.select(F.size(ws).alias("_dl")).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        (
            F.sum("_dl").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("_avgdl"),
    )
    hits = tfq.join(F.broadcast(qterms), "term").crossJoin(
        F.broadcast(stats)
    )
    idf = F.log(
        1.0 + (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
    )
    denom = F.col("_tf") + k1 * (1.0 - b + b * F.col("_dl") / F.col("_avgdl"))
    term_score = idf * F.col("_tf") * (k1 + 1.0) / denom
    scored = (
        hits.withColumn(
            "_s_micro", F.round(term_score * _MICRO).cast("long")
        )
        .groupBy("query_id", id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
            F.sum("_s_micro").alias("score_micro"),
        )
    )
    return capped_top_n(
        scored,
        n=k,
        group_col="query_id",
        order_col="score_micro",
        id_col=id_col,
    ).select(
        "query_id",
        id_col,
        "n_hit_terms",
        "score_micro",
        F.col("rank").cast("int").alias("rank"),
    )


# RRF's rank-discount constant from the original paper (Cormack, Clarke
# & Buettcher, SIGIR 2009): k=60 was tuned once and is the near-universal
# default in production hybrid-search stacks.
RRF_K = 60


def rrf_fuse(
    ranked,
    k_const: int = RRF_K,
    topk: int = 10,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """(query_id, doc_id, n_systems, rrf_micro, rank): Reciprocal Rank
    Fusion (Cormack, Clarke & Buettcher, SIGIR 2009 — public formula)
    over N independently ranked retrieval lists:

        RRF(q, d) = sum over systems s of 1 / (k_const + rank_s(q, d))

    The standard hybrid-retrieval combiner: fuse BM25 lexical ranks with
    embedding-cosine ANN ranks (or any mix of rankers) using only RANK
    positions, so wildly different score scales (integer-micro BM25 vs
    round-6 cosine) need no calibration. A doc missing from a list simply
    contributes nothing for it (the standard convention).

    Input contract: each element of `ranked` is (query_col, id_col,
    rank_col) with rank >= 1 and at most ONE row per (query, id) — the
    shape every top-k in this repo emits (bm25_topk, brute_force_topk,
    ivf_topk, lsh_topk, pq_topk). Both violations fail LOUD at execution
    (a NULL/zero rank or a duplicated row would silently inflate the
    fused score). Column types must already agree across lists (callers
    cast ids once, as the driver entries do).

    Exactness (the DSIR/BM25/drift micro-unit discipline): each
    contribution is ONE IEEE division of two exactly-representable
    doubles (1e6 / (k_const + rank)) rounded ONCE to an integer
    micro-unit (round() on an exact double rounds decimal-half ties
    away from zero in both Spark and DuckDB), then summed as exact
    BIGINTs — the fused score and therefore the final ranking are
    bit-stable across engines, partitionings, and retries. Ties in
    rrf_micro break on id ASC.

    Scale shape: the inputs are already per-query top-K lists (bounded:
    |queries| x K x n_systems rows — never corpus-scale), so the fusion
    is ONE map-side-combinable groupBy on (query, id) over a tiny table;
    the final per-query top-k goes through the two-phase salted window
    (skew.capped_top_n) like every other top-k here, so even a
    pathological million-way fusion of one hot query never funnels
    through a single reducer. The expensive work stays in the upstream
    retrievers, which keep their own 100-TB shapes.

    Reference analog: the reference ranks/selects features per document
    with fixed single-signal thresholds (src/audiopro/audio/validator.py);
    RRF is the multi-signal ensemble generalization a curation pipeline
    needs once more than one retriever scores the same corpus.
    """
    ranked = list(ranked)
    if not ranked:
        raise ValueError("rrf_fuse needs >= 1 ranked DataFrame")
    if k_const < 1:
        raise ValueError(f"k_const must be >= 1, got {k_const}")
    if topk < 1:
        raise ValueError(f"topk must be >= 1, got {topk}")
    parts = []
    for i, df in enumerate(ranked):
        rnk = F.col(rank_col)
        contrib = F.round(
            F.lit(float(_MICRO)) / (F.lit(float(k_const)) + rnk.cast("double"))
        ).cast("long")
        guarded = F.when(
            rnk.isNull() | (rnk < 1),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"rrf_fuse: NULL or < 1 {rank_col} in ranked list "
                        f"{i} for {id_col}="
                    ),
                    F.coalesce(F.col(id_col).cast("string"), F.lit("NULL")),
                )
            ).cast("long"),
        ).otherwise(contrib)
        parts.append(
            df.select(
                F.col(query_col),
                F.col(id_col),
                F.lit(i).alias("_sys"),
                guarded.alias("_c_micro"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    agg = u.groupBy(query_col, id_col).agg(
        F.count(F.lit(1)).cast("long").alias("_n_rows"),
        F.count_distinct("_sys").cast("long").alias("_n_sys"),
        F.sum("_c_micro").alias("rrf_micro"),
    )
    # a (query, id) duplicated WITHIN one list double-counts its
    # contribution — fail loud with the offending id rather than emit a
    # silently inflated fusion score
    n_sys = F.when(
        F.col("_n_rows") != F.col("_n_sys"),
        F.raise_error(
            F.concat(
                F.lit(
                    "rrf_fuse: duplicate (query, id) row within one "
                    f"ranked list for {id_col}="
                ),
                F.coalesce(F.col(id_col).cast("string"), F.lit("NULL")),
            )
        ).cast("long"),
    ).otherwise(F.col("_n_rows"))
    fused = agg.select(
        F.col(query_col),
        F.col(id_col),
        n_sys.alias("n_systems"),
        F.col("rrf_micro").cast("long").alias("rrf_micro"),
    )
    return capped_top_n(
        fused,
        n=topk,
        group_col=query_col,
        order_col="rrf_micro",
        id_col=id_col,
    ).select(
        query_col,
        id_col,
        "n_systems",
        "rrf_micro",
        F.col("rank").cast("int").alias("rank"),
    )
