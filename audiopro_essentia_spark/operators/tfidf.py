"""TF-IDF top-terms per document — the keyword/feature-extraction step of
a text pipeline (smooth-idf formula as published in scikit-learn docs:
idf = ln((N+1)/(df+1)) + 1; independent re-implementation).

Scale design: every stage is a linear shuffle —
  tokens -> (doc, term) count        [shuffle on (doc, term)]
  -> per-term document frequency     [shuffle on term; map-side combine]
  -> score join back on term         [same key, AQE-planned]
  -> top-k per doc via row_number    [shuffle on doc]
The corpus size N is a one-row aggregate broadcast into the plan (never a
driver-side collect in the query path). Ranking orders by the ROUND-6
score (then term) so the tie-break is reproducible across engines — the
DuckDB twin ranks on the identically rounded value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import nonempty_words, words


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """(id, term, rank, score): the k highest-tf-idf terms per document."""
    # drop empty-string tokens (consecutive/leading/trailing spaces):
    # '' would otherwise get a df count and — sorting before every real
    # term — could claim a top-k slot on ties.
    tokens = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("term")
    ).where(F.col("term") != "")
    tf = tokens.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("_tf"))
    # df(t) as ONE window count over tf (r6): the aggregate-and-join
    # form made tf a two-consumer subtree, so the whole corpus
    # explode + tf pass ran once per branch; every tf row's term exists,
    # so count(*) over (partition by term) is row-for-row identical to
    # the old inner join's _df (the bm25 dfreq lesson).
    tf = tf.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    n = df.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    scored = (
        tf.crossJoin(F.broadcast(n))
        .select(
            F.col(id_col),
            "term",
            F.round(
                F.col("_tf")
                * (F.log((F.col("_n") + 1.0) / (F.col("_df") + 1.0)) + 1.0),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", F.col("rank").cast("int").alias("rank"), "score")
    )


def bigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
) -> DataFrame:
    """Self-trained BIGRAM LM score per doc — the next step up from
    unigram_surprisal toward KenLM-style perplexity filtering, still with
    no external model: avg_logloss = -mean over a doc's bigrams (w1,w2)
    of ln P(w2|w1), with add-alpha smoothing over the corpus vocab,
    P = (c(w1,w2) + alpha) / (c(w1) + alpha*V).

    Docs with < 2 words appear with n_bigrams=0 and NULL avg_logloss
    (nothing to score — dropping them silently would make the downstream
    quality gate's coverage lie).

    Scale shape: two count aggregates with map-side combine (bigrams,
    unigrams), a 1-row broadcast vocab size, one join of the bigram
    stream back on its two keys, one per-doc mean — all linear shuffles,
    no windows.

    Accumulation: each bigram's log-prob is rounded ONCE to integer
    micro-nats and summed as exact BIGINTs (same discipline as
    selection.py DSIR/BM25) — float avg() summation order is engine- and
    partitioning-dependent, integer sums are not, so the score is
    bit-stable at any scale; the single float division by n_bigrams
    happens once per doc on the exact integer sum, IN MICRO UNITS with
    SCALE-0 rounding: avg_micro = round(-sm / n). The old form rounded
    (-sm/1e6)/n with round(x, 6), and -sm/(1e6 n) lands on an EXACT
    6-decimal half whenever n | 2*sm with odd quotient — a real sf0.1
    doc (n=10, sm -> 3.4144135) split the engines (Spark HALF_UP
    3.414413 vs DuckDB 3.414414; caught by the r5 sf0.1 full-surface
    sweep, pinned by test). round() at scale 0 ties AWAY FROM ZERO in
    both engines — the CLAUDE.md SAMPLE_KEY recipe."""
    cw = nonempty_words(F.col(text_col))
    # the word arrays feed THREE consumers (bigram explode, unigram
    # explode, and the per-doc score join-back): materialize them once
    base = df.select(F.col(id_col), cw.alias("_ws")).localCheckpoint(
        eager=False
    )
    n1 = F.greatest(F.size("_ws") - 1, F.lit(0))
    bg = base.select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.slice(F.col("_ws"), 1, n1),
                F.slice(F.col("_ws"), 2, n1),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("_bg"),
    ).select(
        F.col(id_col),
        F.col("_bg.w1").alias("_w1"),
        F.col("_bg.w2").alias("_w2"),
    )
    bc = bg.groupBy("_w1", "_w2").agg(F.count(F.lit(1)).alias("_cb"))
    uc = base.select(F.col(id_col), F.explode("_ws").alias("_w1")).groupBy(
        "_w1"
    ).agg(F.count(F.lit(1)).alias("_c1"))
    vocab = uc.agg(F.count(F.lit(1)).cast("double").alias("_v"))
    scored = (
        bg.join(bc, ["_w1", "_w2"])
        .join(uc, "_w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(id_col),
            F.round(
                F.log(
                    (F.col("_cb") + F.lit(alpha))
                    / (F.col("_c1") + F.lit(alpha) * F.col("_v"))
                )
                * F.lit(1e6)
            )
            .cast("long")
            .alias("_lp_micro"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("_lp_micro").alias("_sm"),
        )
        .select(
            F.col(id_col),
            "n_bigrams",
            (
                F.round(
                    -F.col("_sm").cast("double")
                    / F.col("n_bigrams").cast("double")
                )
                .cast("long")
                .cast("double")
                / F.lit(1e6)
            ).alias("avg_logloss"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias(
                "n_bigrams"
            ),
            "avg_logloss",
        )
    )


def unigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Self-trained unigram LM score per doc: avg_logloss = -mean over
    tokens of ln P(w), with P(w) = corpus count(w) / corpus tokens — the
    relational approximation of perplexity-based quality filtering (LM
    scoring as in public corpus reports, reduced to the unigram case so
    it needs NO external model: the corpus scores itself).

    High surprisal = rare-token soup (noise, boilerplate hashes); low =
    repetitive/common text. Scale shape: one (word) count aggregate with
    map-side combine, a broadcast one-row total, then a shuffle join of
    the token stream back on word and a per-doc mean — all linear.

    Determinism: each token's ln P(w) is rounded ONCE to integer
    micro-nats and summed as exact BIGINTs (the bigram_surprisal/DSIR
    rule — avg() exposes an engine/partitioning-dependent float
    accumulation order to the round-6 oracle hash); the mean is one
    final division of exact integers in MICRO units with SCALE-0
    rounding (round(-sm / n) / 1e6 — the bigram_surprisal tie fix:
    -sm/(1e6 n) can land on an exact 6-decimal half where engines'
    round(x, 6) tie rules split; scale-0 round() ties away from zero
    in both)."""
    tok = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("_w")
    ).where(F.col("_w") != "")
    wc = tok.groupBy("_w").agg(F.count(F.lit(1)).alias("_c"))
    # total token count from the ALREADY-aggregated (tiny) word-count
    # table — summing tok again would be a third full pass over the
    # heaviest intermediate
    total = wc.agg(F.sum("_c").cast("double").alias("_n"))
    scored = tok.join(wc, "_w").crossJoin(F.broadcast(total))
    term = F.round(F.log(F.col("_c") / F.col("_n")) * F.lit(1e6)).cast("long")
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(term).alias("_sm"),
        )
        .select(
            id_col,
            "n_words",
            (
                F.round(
                    -F.col("_sm").cast("double")
                    / F.col("n_words").cast("double")
                )
                .cast("long")
                .cast("double")
                / F.lit(1e6)
            ).alias("avg_logloss"),
        )
    )


def npmi_collocations(
    df: DataFrame,
    min_count: int = 5,
    top_k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """NPMI collocation mining (Church-Hanks PMI, Bouma-normalized to
    [-1, 1]) — the phrase detector every tokenizer/vocab pipeline runs
    before merging multiwords: rank adjacent word pairs by
    npmi = pmi / (-ln p(xy)), pmi = ln( p(xy) / (p(x) p(y)) ), with
    p(xy) = c_xy / N2 over bigram positions and p(x) = c_x / N1 over
    unigram positions. Words are exact byte strings (normalize
    upstream), the line_scrub rule.

    Exactness (the DSIR/BM25/drift micro-nat discipline): every ln is
    taken on an exact BIGINT count, rounded ONCE to integer micro-nats,
    and combined with exact BIGINT adds —
    pmi_micro = r(ln c_xy) + 2 r(ln N1) - r(ln c_x) - r(ln c_y)
    - r(ln N2), denom_micro = r(ln N2) - r(ln c_xy) — so the only
    float steps are one correctly-rounded division of two BIGINTs and
    the round-6. Degenerate pairs with denom_micro <= 0 (a bigram that
    IS the whole corpus) are excluded; min_count excludes the hapax
    noise NPMI is notoriously drunk on.

    Scale shape: THREE corpus scans total, none wasted. The first form
    of this operator paid FIVE — Catalyst re-ran the unigram
    explode+aggregate subtree for each of its three consumers (w1 join,
    w2 join, N1 total) and the bigram subtree for both of its two (the
    multi-consumer recompute rule in CLAUDE.md, no ReusedExchange
    without identical exchange keys). Now: the corpus totals come from
    ONE narrow two-sum aggregate (N1 = sum(size(ws)), N2 =
    sum(max(size-1, 0)) — exactly the sums of the per-type counts, no
    explode needed), the vocab-bounded unigram table is
    localCheckpoint'ed once and feeds both joins, and the bigram
    aggregate has a single consumer. Both count aggregates are
    map-side-combinable; the min_count filter cuts the hapax tail
    BEFORE the two unigram joins (at web scale that is most of the
    mass); totals are 1-row broadcast aggregates; the global top-k is
    orderBy+limit = TakeOrderedAndProject (per-partition partial top-k,
    merged on the driver — never a full sort), with the
    (npmi DESC, w1, w2) total order making the cut deterministic."""
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    cw = nonempty_words(F.col(text_col))
    # the word arrays feed three consumers (bigram explode, unigram
    # explode, narrow totals aggregate): materialize them once
    base = df.select(F.col(id_col), cw.alias("_ws")).localCheckpoint(
        eager=False
    )
    nb = F.greatest(F.size("_ws") - 1, F.lit(0))
    bg = base.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("_ws"), 1, nb),
                F.slice(F.col("_ws"), 2, nb),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("_bg")
    ).select(F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_count"))
    # vocab-bounded; checkpointed so its TWO join consumers don't each
    # re-run the corpus explode+aggregate (measured: 3 scans -> 1)
    uc = (
        base.select(F.explode("_ws").alias("_w"))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint()
    )
    # N1/N2 from one NARROW aggregate (no explode): the sum of unigram
    # counts IS the total word positions, the sum of bigram counts IS
    # the total adjacent positions — exact BIGINTs either way
    totals = base.agg(
        F.sum(F.size("_ws")).cast("long").alias("_n1"),
        F.sum(F.greatest(F.size("_ws") - 1, F.lit(0))).cast("long").alias("_n2"),
    )

    def mnat(c: Column) -> Column:
        return F.round(F.log(c.cast("double")) * F.lit(1e6)).cast("long")

    j = (
        bc.where(F.col("pair_count") >= min_count)
        .join(uc.select(F.col("_w").alias("w1"), F.col("_c").alias("c1")), "w1")
        .join(uc.select(F.col("_w").alias("w2"), F.col("_c").alias("c2")), "w2")
        .crossJoin(F.broadcast(totals))
    )
    pmi_micro = (
        mnat(F.col("pair_count"))
        + F.lit(2) * mnat(F.col("_n1"))
        - mnat(F.col("c1"))
        - mnat(F.col("c2"))
        - mnat(F.col("_n2"))
    )
    denom_micro = mnat(F.col("_n2")) - mnat(F.col("pair_count"))
    out = j.select(
        "w1",
        "w2",
        F.col("pair_count").cast("long").alias("pair_count"),
        F.col("c1").cast("long").alias("c1"),
        F.col("c2").cast("long").alias("c2"),
        pmi_micro.alias("pmi_micro"),
        denom_micro.alias("_dn"),
    ).where(F.col("_dn") > 0)
    return (
        out.select(
            "w1", "w2", "pair_count", "c1", "c2", "pmi_micro",
            F.round(
                F.col("pmi_micro").cast("double")
                / F.col("_dn").cast("double"),
                6,
            ).alias("npmi"),
        )
        .orderBy(F.desc("npmi"), "w1", "w2")
        .limit(top_k)
    )
