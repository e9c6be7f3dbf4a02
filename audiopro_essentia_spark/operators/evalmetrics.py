"""Model-evaluation metrics over distributed score tables.

auc_mann_whitney: exact tie-corrected ROC AUC — the calibration
primitive behind every quality-classifier threshold decision (which
cut of the fasttext-shaped quality score keeps 30% of the corpus?
what does the gopher gate's score actually separate?). AUC equals the
Mann-Whitney U statistic normalized by P*N; with ties each pos-neg
pair at the SAME score contributes 1/2, so working in doubled units
keeps everything an exact BIGINT:

    2U = SUM over distinct scores v (ascending):
             pos_v * (2 * neg_below_v + neg_v)
    auc = round(2U / (2 * P * N), 6)

— one IEEE division of two exact BIGINTs at the end (the DSIR/BM25
integer-unit discipline). Exact while 2*P*N < 2^63, i.e. up to ~2e9
rows per group.

pr_curve: the operating-point view of the same histogram — exact
(tp, fp, precision, recall) at EVERY distinct score threshold
(predict positive iff score >= v), sharing the identical prefix
machinery, so one more metric costs zero new corpus passes.

Scale shape (both): the per-(group, score) histogram is ONE map-side-
combinable aggregate; the cumulative prefixes are NEVER a single-
partition global window — scores are range-bucketed by a monotone
equal-width map (bounds from a 1-row-per-group min/max aggregate) and
the prefix runs two-phase exactly like epoch_shuffle
(operators/shuffle.py): per-bucket window + tiny per-group bucket
offset table broadcast back. Bucketing is order-preserving, so the
DuckDB twins are the plain one-window form with identical output.

Reference analog: the reference's monitoring aggregates grade signal
quality (aggregates.py trim stats); these grade the GRADERS.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _hist_prefix(
    per: DataFrame,
    g: list[str],
    n_buckets: int,
) -> DataFrame:
    """Two-phase bucketed prefix over a pre-built distinct-value
    histogram `per` = (g..., _s, pos, neg): returns the same rows plus
    EXCLUSIVE below-prefixes (cpos, cneg) of both count columns,
    ordered by _s within each group — never a corpus-scale
    single-partition window (docstring above). Shared by
    auc_mann_whitney / pr_curve (via _score_prefix) and ks_drift
    (which builds its histogram from a group-vs-baseline join)."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    # two consumers below (bounds + bucket join) -> checkpoint so the
    # upstream aggregate runs once (multi-consumer recompute rule)
    perc = per.localCheckpoint(eager=False)
    bounds = perc.groupBy(*g).agg(
        F.min("_s").alias("_lo"), F.max("_s").alias("_hi")
    )
    withb = (
        perc.join(F.broadcast(bounds), g)
        if g
        else perc.crossJoin(F.broadcast(bounds))
    )
    # monotone equal-width bucket: ONLY placement, never the result —
    # any weakly-monotone map gives the same prefixes (the epoch_shuffle
    # order-preserving-bucket argument), so IEEE rounding is harmless
    nb = int(n_buckets)
    wb = (
        F.when(F.col("_hi") == F.col("_lo"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(nb - 1),
                F.floor(
                    (F.col("_s") - F.col("_lo"))
                    / (F.col("_hi") - F.col("_lo"))
                    * nb
                ),
            )
        )
        .cast("int")
    )
    bk = withb.select(*g, "_s", "pos", "neg", wb.alias("_b"))
    # phase 1: within-bucket running sums (parallel windows, ONE sort
    # serves both classes)
    w_intra = Window.partitionBy(*g, "_b").orderBy("_s")
    intra = bk.select(
        *g,
        "_s",
        "pos",
        "neg",
        "_b",
        (F.sum("pos").over(w_intra) - F.col("pos")).alias("_ip"),
        (F.sum("neg").over(w_intra) - F.col("neg")).alias("_in"),
    )
    # phase 2: tiny (group x bucket) offset table, exclusive prefix,
    # broadcast back — never a corpus-scale global window
    totals = bk.groupBy(*g, "_b").agg(
        F.sum("pos").alias("_bp"), F.sum("neg").alias("_bn")
    )
    w_b = (
        Window.partitionBy(*g)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = totals.select(
        *g,
        "_b",
        F.coalesce(F.sum("_bp").over(w_b), F.lit(0)).alias("_op"),
        F.coalesce(F.sum("_bn").over(w_b), F.lit(0)).alias("_on"),
    )
    return (
        intra.join(F.broadcast(offs), [*g, "_b"])
        .select(
            *g,
            "_s",
            "pos",
            "neg",
            (F.col("_op") + F.col("_ip")).cast("long").alias("cpos"),
            (F.col("_on") + F.col("_in")).cast("long").alias("cneg"),
        )
    )


def _score_prefix(
    df: DataFrame,
    score_col: str,
    label_col: str,
    g: list[str],
    n_buckets: int,
) -> DataFrame:
    """(g..., _s, pos, neg, cpos, cneg): the validated distinct-score
    histogram with EXCLUSIVE below-prefixes of both classes, computed
    with the two-phase bucketed prefix (docstring above). The shared
    engine of auc_mann_whitney and pr_curve."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    y0 = F.col(label_col).cast("long")
    y = (
        F.when(
            y0.isNull() | ~y0.isin(0, 1),
            F.raise_error(
                F.concat(
                    F.lit(f"evalmetrics: NULL or non-binary {label_col}="),
                    # concat of a NULL operand nulls the whole message
                    F.coalesce(F.col(label_col).cast("string"), F.lit("NULL")),
                )
            ).cast("long"),
        )
        .otherwise(y0)
        .alias("_y")
    )
    s0 = F.col(score_col).cast("double")
    s = (
        F.when(
            s0.isNull() | F.isnan(s0),
            F.raise_error(
                F.lit(f"evalmetrics: NULL or NaN {score_col}")
            ).cast("double"),
        )
        .otherwise(s0)
        .alias("_s")
    )
    b = df.select(*g, s, y)
    # distinct-score histogram: ONE map-side-combinable aggregate
    per = b.groupBy(*g, "_s").agg(
        F.sum("_y").cast("long").alias("pos"),
        (F.count(F.lit(1)) - F.sum("_y")).cast("long").alias("neg"),
    )
    return _hist_prefix(per, g, n_buckets)


def auc_mann_whitney(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    group_cols: list[str] | None = None,
    n_buckets: int = 1024,
) -> DataFrame:
    """(group..., n_pos, n_neg, auc) — exact tie-corrected AUC per
    group (one global row when group_cols is None/empty).

    NULL/NaN scores and NULL/non-binary labels fail LOUD at execution
    with the offending value (silently dropping rows skews the metric
    — pre-filter explicitly if exclusion is intended; the pack_shards
    raise_error rationale). One-class groups (P == 0 or N == 0) are a
    legitimate state: auc is NULL with both counts visible."""
    g = list(group_cols or [])
    pre = _score_prefix(df, score_col, label_col, g, n_buckets)
    out = pre.groupBy(*g).agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
        F.sum(F.col("pos") * (2 * F.col("cneg") + F.col("neg")))
        .cast("long")
        .alias("_u2"),
    )
    return out.select(
        *g,
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(
                F.col("_u2")
                / (F.lit(2).cast("long") * F.col("n_pos") * F.col("n_neg")),
                6,
            ),
        ).alias("auc"),
    )


def pr_curve(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    group_cols: list[str] | None = None,
    n_buckets: int = 1024,
) -> DataFrame:
    """(group..., score, tp, fp, precision, recall) — the exact
    operating point at EVERY distinct score threshold (predict
    positive iff score >= v): tp/fp are exact BIGINTs from the shared
    below-prefix histogram (tp = P - pos_below, fp = N - neg_below),
    precision = tp/(tp+fp) (the denominator counts at least the
    threshold row itself, never zero), recall = tp/P (NULL when the
    group has no positives). Two IEEE divisions + round-6 per row —
    bit-stable cross-engine. Same validation contract and scale shape
    as auc_mann_whitney; the per-group totals are one more consumer of
    the checkpointed histogram, so the corpus still gets scanned
    exactly once."""
    g = list(group_cols or [])
    pre = _score_prefix(df, score_col, label_col, g, n_buckets)
    # pre is post-checkpoint plumbing over a bounded table, but it is
    # consumed twice below (totals + rows) — checkpoint the distinct-
    # score-sized result so the prefix joins run once
    prec_df = pre.localCheckpoint(eager=False)
    tot = prec_df.groupBy(*g).agg(
        F.sum("pos").cast("long").alias("_p"),
        F.sum("neg").cast("long").alias("_n"),
    )
    j = (
        prec_df.join(F.broadcast(tot), g)
        if g
        else prec_df.crossJoin(F.broadcast(tot))
    )
    tp = (F.col("_p") - F.col("cpos")).cast("long")
    fp = (F.col("_n") - F.col("cneg")).cast("long")
    return j.select(
        *g,
        F.col("_s").alias("score"),
        tp.alias("tp"),
        fp.alias("fp"),
        F.round(tp / (tp + fp), 6).alias("precision"),
        F.when(F.col("_p") > 0, F.round(tp / F.col("_p"), 6)).alias(
            "recall"
        ),
    )


_MICRO = 1_000_000


def calibration_report(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    group_cols: list[str] | None = None,
    n_bins: int = 10,
) -> DataFrame:
    """(group..., bin, cnt, n_pos, mean_score, pos_frac, gap, brier,
    ece) — the reliability diagram plus its two scalar summaries, for
    a probabilistic score in [0, 1] (is the quality classifier's 0.8
    actually an 80% keep-rate?).

    Exactness: the score is quantized ONCE to integer micro-units
    m = CAST(round(s * 1e6) AS BIGINT) (round on the exact double ties
    away from zero in BOTH engines — the cross-engine sample-key
    recipe); every downstream quantity is exact integer arithmetic on
    m until the final round-6 divisions:

      bin        = least(n_bins-1, (m * n_bins) div 1e6)
      mean_score = sum(m) / (cnt * 1e6)
      pos_frac   = n_pos / cnt
      gap        = |sum(m) - n_pos * 1e6| / (cnt * 1e6)
      brier      = sum((m - y*1e6)^2) / (N * 1e12)   [of the QUANTIZED
                   score — self-consistent and bit-stable cross-engine]
      ece        = sum_bins |sum(m) - n_pos*1e6| / (N * 1e6)

    The per-row square is <= 1e12, so the per-bin sum is carried as
    DECIMAL (exact to 1e30 rows); sum(m) and the ece numerator stay
    BIGINT-exact to ~9e12 rows per group. The final divisions divide
    one correctly-rounded double by another built from the same exact
    integers in both engines, then round-6 — bit-stable.

    NULL/NaN/out-of-[0,1] scores and NULL/non-binary labels fail LOUD
    with the offending value (silent drops skew calibration —
    pre-filter explicitly if exclusion is intended). Empty bins are
    simply absent (densify downstream if a plot needs them).

    Scale shape: ONE map-side-combinable groupBy(group, bin) aggregate
    is the only corpus-scale pass; the per-group summary aggregates
    <= n_bins rows per group and is broadcast back. Zero windows, zero
    Python.
    """
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    g = list(group_cols or [])
    y0 = F.col(label_col).cast("long")
    y = (
        F.when(
            y0.isNull() | ~y0.isin(0, 1),
            F.raise_error(
                F.concat(
                    F.lit(f"calibration: NULL or non-binary {label_col}="),
                    F.coalesce(F.col(label_col).cast("string"), F.lit("NULL")),
                )
            ).cast("long"),
        )
        .otherwise(y0)
        .alias("_y")
    )
    s0 = F.col(score_col).cast("double")
    m = (
        F.when(
            s0.isNull() | F.isnan(s0) | (s0 < 0) | (s0 > 1),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"calibration: NULL/NaN/out-of-[0,1] {score_col}="
                    ),
                    F.coalesce(s0.cast("string"), F.lit("NULL")),
                )
            ).cast("long"),
        )
        .otherwise(F.round(s0 * _MICRO).cast("long"))
        .alias("_m")
    )
    nb = int(n_bins)
    b = df.select(*g, m, y).select(
        *g,
        F.least(
            F.lit(nb - 1).cast("long"),
            F.expr(f"(_m * {nb}) div {_MICRO}"),
        ).alias("bin"),
        "_m",
        "_y",
        (F.col("_m") - F.col("_y") * _MICRO).alias("_d"),
    )
    # the ONLY corpus-scale pass — map-side combinable; 2 consumers
    # (rows + group summary) -> checkpoint (multi-consumer rule)
    per = b.groupBy(*g, "bin").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("_y").cast("long").alias("n_pos"),
        F.sum("_m").cast("long").alias("_sm"),
        F.sum((F.col("_d") * F.col("_d")).cast("decimal(20,0)")).alias(
            "_sq"
        ),
    ).localCheckpoint(eager=False)
    gapn = F.abs(F.col("_sm") - F.col("n_pos") * _MICRO)
    tot = per.groupBy(*g).agg(
        F.sum("cnt").cast("long").alias("_n_all"),
        F.sum("_sq").alias("_sq_all"),
        F.sum(gapn).cast("long").alias("_ece_num"),
    )
    j = (
        per.join(F.broadcast(tot), g)
        if g
        else per.crossJoin(F.broadcast(tot))
    )
    return j.select(
        *g,
        "bin",
        "cnt",
        "n_pos",
        F.round(F.col("_sm") / (F.col("cnt") * _MICRO), 6).alias(
            "mean_score"
        ),
        F.round(F.col("n_pos") / F.col("cnt"), 6).alias("pos_frac"),
        F.round(gapn / (F.col("cnt") * _MICRO), 6).alias("gap"),
        F.round(
            F.col("_sq_all").cast("double")
            / (F.col("_n_all").cast("double") * F.lit(1e12)),
            6,
        ).alias("brier"),
        F.round(
            F.col("_ece_num") / (F.col("_n_all") * _MICRO), 6
        ).alias("ece"),
    )


def spearman_rho(
    df: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
    group_cols: list[str] | None = None,
    n_buckets: int = 1024,
) -> DataFrame:
    """(group..., n, rho) — exact Spearman rank correlation between
    two value columns per group, with the standard average-rank tie
    handling: the monotone-agreement monitor of the eval family (do
    two quality signals ORDER the corpus the same way? — ks_drift
    compares a signal across groups; this compares two signals on the
    same rows, robust to any monotone recalibration that would fool
    Pearson on raw values).

    Exactness: average ranks are carried as DOUBLED integer ranks
    d = 2*below + cnt + 1 (an exact BIGINT straight off the
    distinct-value histogram prefix — below counts strictly-smaller
    rows, cnt the tie class), so Pearson-on-ranks runs on exact
    integers: per-row products are cast to DECIMAL at the sum
    (Spark DECIMAL carry / DuckDB HUGEINT — the calibration recipe),
    and

        rho = (n*Sxy - Sx*Sy)
              / (sqrt(n*Sxx - Sx^2) * sqrt(n*Syy - Sy^2))

    is evaluated as exact integer numerator/denominators correctly
    rounded ONCE to double, two IEEE sqrt (correctly rounded by the
    standard in both engines), one multiply, one divide, round-6 —
    bit-stable cross-engine and partitioning-free. Exact while
    4n^4 < 1.7e38, i.e. up to ~1e9 rows per group (the AUC-style
    documented bound). Constant columns (zero rank variance) give
    NULL rho with n visible; groups need no minimum size.

    NULL/NaN values fail LOUD (a silently-dropped row shifts every
    rank below it — pre-filter explicitly if exclusion is intended).

    Scale shape: two map-side-combinable (group, value) histograms
    (bounded by distinct values), each prefixed with the epoch_shuffle
    two-phase bucketed engine (_hist_prefix — never a corpus-scale
    single-partition window); doubled ranks join back to rows via two
    hash equi-joins on (group, value); ONE final map-side-combinable
    aggregate. Three corpus-scale passes total, zero Python, zero
    corpus-scale sorts."""
    g = list(group_cols or [])

    def _val(col: str, alias: str):
        v0 = F.col(col).cast("double")
        return (
            F.when(
                v0.isNull() | F.isnan(v0),
                F.raise_error(
                    F.lit(f"spearman_rho: NULL or NaN {col}")
                ).cast("double"),
            )
            .otherwise(v0)
            .alias(alias)
        )

    b = df.select(*g, _val(x_col, "_x"), _val(y_col, "_y"))

    def _dranks(col: str, alias: str) -> DataFrame:
        per = (
            b.groupBy(*g, F.col(col).alias("_s"))
            .agg(F.count(F.lit(1)).cast("long").alias("pos"))
            .withColumn("neg", F.lit(0).cast("long"))
        )
        pre = _hist_prefix(per, g, n_buckets)
        return pre.select(
            *g,
            F.col("_s").alias(col),
            (2 * F.col("cpos") + F.col("pos") + 1).alias(alias),
        )

    j = b.join(_dranks("_x", "_dx"), [*g, "_x"]).join(
        _dranks("_y", "_dy"), [*g, "_y"]
    )
    dx, dy = F.col("_dx"), F.col("_dy")
    agg = j.groupBy(*g).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dx.cast("decimal(20,0)")).alias("_sx"),
        F.sum(dy.cast("decimal(20,0)")).alias("_sy"),
        F.sum((dx * dx).cast("decimal(20,0)")).alias("_sxx"),
        F.sum((dy * dy).cast("decimal(20,0)")).alias("_syy"),
        F.sum((dx * dy).cast("decimal(20,0)")).alias("_sxy"),
    )
    d38 = "decimal(38,0)"
    nn = F.col("n").cast(d38)
    num = nn * F.col("_sxy").cast(d38) - F.col("_sx").cast(d38) * F.col(
        "_sy"
    ).cast(d38)
    den1 = nn * F.col("_sxx").cast(d38) - F.col("_sx").cast(d38) * F.col(
        "_sx"
    ).cast(d38)
    den2 = nn * F.col("_syy").cast(d38) - F.col("_sy").cast(d38) * F.col(
        "_sy"
    ).cast(d38)
    return agg.where(F.col("n") > 0).select(
        *g,
        "n",
        F.when(
            (den1 > 0) & (den2 > 0),
            F.round(
                num.cast("double")
                / (
                    F.sqrt(den1.cast("double"))
                    * F.sqrt(den2.cast("double"))
                ),
                6,
            ),
        ).alias("rho"),
    )


def cohen_kappa(
    df: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group..., n, po, pe, kappa) — exact chance-corrected
    inter-rater agreement (Cohen 1960) between two categorical label
    columns per group: the agreement tier of the eval family (auc
    grades one scorer against truth; this grades two LABELERS against
    each other — heuristic gate vs classifier, classifier vs ground
    truth — discounting the agreement two biased raters get for free).

        po    = diag / n                 (observed agreement)
        pe    = sum_cat row_a * col_b / n^2   (chance agreement)
        kappa = (po - pe) / (1 - pe)
              = (n*diag - sum_cat ra*cb) / (n^2 - sum_cat ra*cb)

    Exactness: the confusion matrix, marginals and every product are
    exact integers (Spark DECIMAL(38,0) carry / DuckDB HUGEINT — the
    calibration recipe), so both engines correctly-round the same
    exact integers to double before ONE division + round-6 per output
    column — bit-stable to ~1e12 rows per group (n^2 < 1e38/#cats).
    Both-raters-constant-and-equal groups (pe = 1) give NULL kappa
    with n/po/pe visible. Labels compare as STRINGS — pass string or
    integer categories, never raw doubles (cross-engine float
    rendering is NOT portable: the sample-key E-notation hazard).
    NULL labels fail LOUD (a silently-dropped row biases agreement —
    pre-filter explicitly if exclusion is intended).

    Scale shape: ONE map-side-combinable groupBy(group, a, b) corpus
    pass builds the confusion matrix (bounded by groups x |A| x |B|,
    checkpointed for its three consumers); totals, marginals and the
    category-granularity marginal join all run on that bounded table.
    Zero windows, zero Python."""
    g = list(group_cols or [])

    def _lab(col: str, alias: str):
        c = F.col(col)
        return (
            F.when(
                c.isNull(),
                F.raise_error(
                    F.lit(f"cohen_kappa: NULL {col}")
                ).cast("string"),
            )
            .otherwise(c.cast("string"))
            .alias(alias)
        )

    b = df.select(*g, _lab(a_col, "_a"), _lab(b_col, "_b"))
    # internal constant key so the global mode reuses the grouped
    # join plumbing (an empty marginal-intersection would otherwise
    # turn a crossJoin into a dropped result row)
    gg = g
    if not g:
        b = b.withColumn("_g0", F.lit(0))
        gg = ["_g0"]
    conf = (
        b.groupBy(*gg, "_a", "_b")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        .localCheckpoint(eager=False)
    )
    tot = conf.groupBy(*gg).agg(
        F.sum("_c").cast("long").alias("n"),
        F.sum(F.when(F.col("_a") == F.col("_b"), F.col("_c")).otherwise(0))
        .cast("long")
        .alias("_diag"),
    )
    ra = conf.groupBy(*gg, F.col("_a").alias("_cat")).agg(
        F.sum("_c").cast("long").alias("_ra")
    )
    cb = conf.groupBy(*gg, F.col("_b").alias("_cat")).agg(
        F.sum("_c").cast("long").alias("_cb")
    )
    d38 = "decimal(38,0)"
    pe = (
        ra.join(cb, [*gg, "_cat"])
        .groupBy(*gg)
        .agg(
            F.sum(F.col("_ra").cast(d38) * F.col("_cb").cast(d38)).alias(
                "_pen"
            )
        )
    )
    j = tot.join(pe, gg, "left").withColumn(
        "_pen", F.coalesce(F.col("_pen").cast(d38), F.lit(0).cast(d38))
    )
    nn = F.col("n").cast(d38)
    num = nn * F.col("_diag").cast(d38) - F.col("_pen")
    den = nn * nn - F.col("_pen")
    return j.select(
        *g,
        "n",
        F.round(F.col("_diag") / F.col("n"), 6).alias("po"),
        F.round(F.col("_pen").cast("double") / (nn * nn).cast("double"), 6)
        .alias("pe"),
        F.when(
            den > 0, F.round(num.cast("double") / den.cast("double"), 6)
        ).alias("kappa"),
    )


MAX_REL = 30  # gain = 2^rel - 1: k * (2^30) * 1e6 < 2^63 stays exact


def ndcg_weights(k: int) -> list[int]:
    """Micro-unit DCG position discounts w_i = round(1e6 / log2(i+1))
    for i = 1..k, computed ONCE driver-side and embedded as literals in
    BOTH engines (the twiddle/mel-literal rule: never call a
    transcendental in SQL — log2 is not guaranteed identical across
    engines, a shared literal is). Shared with duck_twins."""
    return [round(1_000_000 / math.log2(i + 1)) for i in range(1, k + 1)]


def ranking_report(
    df: DataFrame,
    order_col: str = "score",
    rel_col: str = "rel",
    tie_col: str = "tie",
    query_cols: list[str] | None = None,
    k: int = 10,
) -> DataFrame:
    """(query..., n_items, n_rel, ndcg, mrr, ap) — exact graded
    retrieval-quality metrics at cutoff k per query: the ranking tier
    of the eval family (auc grades a score as a classifier; this
    grades a RANKED LIST against graded relevance — the measurement
    behind every bm25 / ANN / RRF quality claim).

      rank i   = row_number by (order DESC, tie ASC) within the query
                 — tie_col must make the sort key unique (an ambiguous
                 ranking is engine/partitioning-dependent, so
                 duplicate (order, tie) pairs fail LOUD)
      gain     = 2^rel - 1  (rel an integer grade in [0, 30])
      DCG@k    = sum_{i<=k} gain_i * w_i   [w_i = round(1e6/log2(i+1)),
                 driver-side literals — exact BIGINT micro-units]
      nDCG     = DCG / IDCG (IDCG over the rel-DESC ideal order; equal
                 grades are interchangeable so ties cost nothing);
                 NULL when the query has no relevant item
      MRR@k    = 1 / (first rank <= k with rel > 0), 0.0 if none —
                 one IEEE division of two small exact ints
      AP@k     = (sum_{i<=k, rel_i>0} (1e6 * hits_i) div i)
                   div least(n_rel, k)   [exact truncated micro-units,
                 div == DuckDB // on non-negative operands];
                 NULL when the query has no relevant item

    NULL/NaN order values and NULL / negative / > 30 relevance grades
    fail LOUD with the offending value (a silently-dropped candidate
    shifts every downstream rank).

    Scale shape: ranking-eval input is per-query bounded by
    construction (candidate lists come from top-k retrieval), so the
    per-query windows are embarrassingly parallel — ONE hash exchange
    on the query key, two Sorts (ranked + ideal orders; row_number,
    running hits and the dup guard share one window spec), then one
    map-side-combinable groupBy. Zero Python, zero corpus-scale
    single-partition windows, no joins."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    g = list(query_cols or [])
    r0 = F.col(rel_col).cast("long")
    rel = (
        F.when(
            r0.isNull() | (r0 < 0) | (r0 > MAX_REL),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"ranking_report: NULL/negative/>{MAX_REL}"
                        f" {rel_col}="
                    ),
                    F.coalesce(F.col(rel_col).cast("string"), F.lit("NULL")),
                )
            ).cast("long"),
        )
        .otherwise(r0)
        .alias("_r")
    )
    s0 = F.col(order_col).cast("double")
    s = (
        F.when(
            s0.isNull() | F.isnan(s0),
            F.raise_error(
                F.lit(f"ranking_report: NULL or NaN {order_col}")
            ).cast("double"),
        )
        .otherwise(s0)
        .alias("_s")
    )
    b = df.select(*g, s, F.col(tie_col).alias("_t"), rel)
    w_rank = Window.partitionBy(*g).orderBy(
        F.col("_s").desc(), F.col("_t").asc()
    )
    w_ideal = Window.partitionBy(*g).orderBy(
        F.col("_r").desc(), F.col("_t").asc()
    )
    hit = (F.col("_r") > 0).cast("long")
    dup = (F.lag("_s").over(w_rank) == F.col("_s")) & (
        F.lag("_t").over(w_rank).eqNullSafe(F.col("_t"))
    )
    gain = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_r AS INT))") - 1
    wts = F.array(*[F.lit(w).cast("long") for w in ndcg_weights(k)])
    ranked = b.select(
        *g,
        "_r",
        F.when(
            F.coalesce(dup, F.lit(False)),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"ranking_report: duplicate ({order_col},"
                        f" {tie_col}) sort key "
                    ),
                    F.col("_s").cast("string"),
                )
            ).cast("int"),
        )
        .otherwise(F.row_number().over(w_rank))
        .alias("_i"),
        F.sum(hit).over(w_rank).cast("long").alias("_hits"),
        F.row_number().over(w_ideal).alias("_j"),
        gain.alias("_g"),
    )
    in_k = F.col("_i") <= k
    out = ranked.groupBy(*g).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum((F.col("_r") > 0).cast("long")).cast("long").alias("n_rel"),
        F.sum(
            F.when(in_k, F.col("_g") * F.element_at(wts, F.col("_i")))
            .otherwise(0)
        )
        .cast("long")
        .alias("_dcg"),
        F.sum(
            F.when(
                F.col("_j") <= k,
                F.col("_g") * F.element_at(wts, F.col("_j")),
            ).otherwise(0)
        )
        .cast("long")
        .alias("_idcg"),
        F.min(F.when(in_k & (F.col("_r") > 0), F.col("_i"))).alias("_fr"),
        F.sum(
            F.when(
                in_k & (F.col("_r") > 0),
                F.expr("(_hits * 1000000) div _i"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("_apn"),
    )
    # a global aggregate over an empty frame yields one all-zero row in
    # both engines — an eval "report" for zero candidates is noise, not
    # a result (the funnel_counts empty-frame rule)
    return out.where(F.col("n_items") > 0).select(
        *g,
        "n_items",
        "n_rel",
        F.when(
            F.col("_idcg") > 0, F.round(F.col("_dcg") / F.col("_idcg"), 6)
        ).alias("ndcg"),
        F.when(F.col("_fr").isNotNull(), F.round(F.lit(1.0) / F.col("_fr"), 6))
        .otherwise(F.lit(0.0))
        .alias("mrr"),
        F.when(
            F.col("n_rel") > 0,
            F.round(
                F.expr(f"_apn div least(n_rel, {int(k)})") / F.lit(1e6), 6
            ),
        ).alias("ap"),
    )


def ks_drift(
    df: DataFrame,
    value_col: str,
    group_col: str,
    baseline,
    n_buckets: int = 1024,
) -> DataFrame:
    """(group, n, n_base, ks) — the exact two-sample Kolmogorov-
    Smirnov distance D = sup_v |F_g(v) - F_base(v)| of every group's
    value distribution against one designated baseline group: the
    distribution-shape drift monitor that PSI's fixed binning can't
    see (drift_psi needs bins chosen up front; KS is binning-free and
    sensitive anywhere on the CDF). Reject H0 at level alpha when
    D > c(alpha) * sqrt((n + n_base) / (n * n_base)) — the critical-
    value comparison is left to the caller.

    Exactness: the inclusive CDF counts are exact BIGINTs from the
    distinct-value histogram; each CDF value is ONE correctly-rounded
    IEEE division of two exact BIGINTs, so both engines compute the
    identical set of doubles, the identical |difference|s, the
    identical max, and the identical round-6 — bit-stable without any
    integer-product overflow concern.

    NULL/NaN values and NULL groups fail LOUD (a silently-dropped
    tail IS drift); a present-but-empty comparison set returns zero
    rows; a MISSING baseline group fails loud in-plan (named guard).
    The baseline group itself is excluded from the output (D = 0).

    Scale shape: ONE map-side-combinable (group, value) histogram is
    the only corpus-scale pass (checkpointed for its two consumers);
    the baseline histogram is replicated per comparison group at
    HISTOGRAM granularity (bounded by distinct values, never corpus
    rows) via a tiny broadcast group list; prefixes run the
    epoch_shuffle two-phase bucketed form (_hist_prefix) — never a
    corpus-scale single-partition window.
    """
    gcol = F.col(group_col)
    gv = (
        F.when(
            gcol.isNull(),
            F.raise_error(
                F.lit(f"ks_drift: NULL {group_col}")
            ).cast("string"),
        )
        .otherwise(gcol.cast("string"))
        .alias(group_col)
    )
    v0 = F.col(value_col).cast("double")
    v = (
        F.when(
            v0.isNull() | F.isnan(v0),
            F.raise_error(
                F.lit(f"ks_drift: NULL or NaN {value_col}")
            ).cast("double"),
        )
        .otherwise(v0)
        .alias("_s")
    )
    # the ONLY corpus-scale pass; 2 consumers (baseline + others)
    hist = (
        df.select(gv, v)
        .groupBy(group_col, "_s")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        .localCheckpoint(eager=False)
    )
    base_lit = F.lit(str(baseline))
    base = hist.filter(gcol == base_lit).select(
        "_s", F.col("_c").alias("neg")
    )
    oth = hist.filter(gcol != base_lit).select(
        group_col, "_s", F.col("_c").alias("pos")
    )
    grps = oth.select(group_col).distinct()
    # baseline histogram x tiny group list: histogram-granularity
    # replication, the broadcast side is the GROUP LIST (bounded)
    rep = base.crossJoin(F.broadcast(grps)).select(
        group_col, "_s", "neg"
    )
    merged = (
        oth.join(rep, [group_col, "_s"], "full_outer")
        .select(
            group_col,
            "_s",
            F.coalesce(F.col("pos"), F.lit(0)).cast("long").alias("pos"),
            F.coalesce(F.col("neg"), F.lit(0)).cast("long").alias("neg"),
        )
    )
    # pre is consumed twice (totals + rows) -> checkpoint the bounded
    # histogram-sized result; totals are tiny and broadcast back (the
    # pr_curve pattern — never a per-group unbounded window)
    pre = _hist_prefix(merged, [group_col], n_buckets).localCheckpoint(
        eager=False
    )
    tot = pre.groupBy(group_col).agg(
        F.sum("pos").cast("long").alias("_n"),
        F.sum("neg").cast("long").alias("_nb"),
    )
    j = pre.join(F.broadcast(tot), group_col)
    # inclusive CDF counts: exact BIGINTs; each CDF one IEEE division.
    # try_divide: ANSI raises DIVIDE_BY_ZERO on ANY /0 (even doubles),
    # which would preempt the NAMED missing-baseline guard below —
    # try_divide yields NULL, max() skips it, the guard then raises.
    # On a present baseline it is the identical correctly-rounded
    # division, so cross-engine bit-parity is unchanged.
    cg = (F.col("cpos") + F.col("pos")).cast("double")
    cb = (F.col("cneg") + F.col("neg")).cast("double")
    out = j.groupBy(group_col).agg(
        F.max("_n").alias("n"),
        F.max("_nb").alias("n_base"),
        F.max(
            F.abs(
                F.try_divide(cg, F.col("_n").cast("double"))
                - F.try_divide(cb, F.col("_nb").cast("double"))
            )
        ).alias("_d"),
    )
    return out.select(
        group_col,
        "n",
        "n_base",
        F.when(
            F.col("n_base") == 0,
            F.raise_error(
                F.lit(
                    f"ks_drift: baseline group {baseline!r} not found in"
                    f" {group_col}"
                )
            ).cast("double"),
        )
        .otherwise(F.round(F.col("_d"), 6))
        .alias("ks"),
    )


def isotonic_calibrate(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    group_cols: list[str] | None = None,
    n_bins: int = 100,
) -> DataFrame:
    """(group..., bin, cnt, n_pos, pos_frac, iso_p) — isotonic (PAV)
    calibration of a probabilistic score in [0, 1] per group: the
    monotone-nondecreasing step function closest (weighted L2) to the
    per-bin empirical positive rates. The POST-HOC CALIBRATOR
    companion of calibration_report (which measures miscalibration;
    this repairs it): map any raw score to iso_p of its bin and the
    output probabilities are monotone in the score and match observed
    frequencies as closely as monotonicity allows.

    Exactness: scores quantize ONCE to integer micro-units and bin
    exactly like calibration_report (bin = least(n_bins-1,
    (m * n_bins) div 1e6)). The fit is evaluated through the minimax
    identity of isotonic regression (Robertson-Wright-Dykstra 1988 —
    PAV's output in closed form):

        iso(b) = max_{i <= b} min_{j >= b} rate(i..j),
        rate(i, j) = (1e6 * pos(i..j)) div n(i..j)

    with every windowed rate TRUNCATED to integer micro-units BEFORE
    the min/max (truncating div == DuckDB // on the non-negative
    operands). floor-scaling is weakly monotone, and min/max commute
    with weakly monotone maps over finite sets, so the result is
    EXACTLY floor(1e6 * true_PAV_fit) — bit-stable cross-engine and
    partitioning-free, with monotonicity inherited from the true fit
    (pytest pins the operator against an independent Fraction-exact
    PAV stack mirror). Empty bins are simply absent (the fit lives on
    the observed support; look up a raw score by its bin with the
    same bin formula and take the nearest occupied bin below/above).

    NULL/NaN/out-of-[0,1] scores and NULL/non-binary labels fail LOUD
    (silent drops skew the fit). Empty frames return zero rows.

    Scale shape: ONE map-side-combinable groupBy(group, bin)
    aggregate is the only corpus-scale pass. Everything downstream
    lives on the BOUNDED bin table: per-group prefix windows over
    <= n_bins rows, an (i <= j) pair expansion of <= n_bins^2 rows
    per group, one suffix-min window partitioned by (group, i), one
    final groupBy — zero Python, no corpus-scale windows or joins."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    g = list(group_cols or [])
    y0 = F.col(label_col).cast("long")
    y = (
        F.when(
            y0.isNull() | ~y0.isin(0, 1),
            F.raise_error(
                F.concat(
                    F.lit(f"isotonic: NULL or non-binary {label_col}="),
                    F.coalesce(F.col(label_col).cast("string"), F.lit("NULL")),
                )
            ).cast("long"),
        )
        .otherwise(y0)
        .alias("_y")
    )
    s0 = F.col(score_col).cast("double")
    m = (
        F.when(
            s0.isNull() | F.isnan(s0) | (s0 < 0) | (s0 > 1),
            F.raise_error(
                F.concat(
                    F.lit(f"isotonic: NULL/NaN/out-of-[0,1] {score_col}="),
                    F.coalesce(s0.cast("string"), F.lit("NULL")),
                )
            ).cast("long"),
        )
        .otherwise(F.round(s0 * _MICRO).cast("long"))
        .alias("_m")
    )
    nb = int(n_bins)
    rows = df.select(*g, m, y).select(
        *g,
        F.least(
            F.lit(nb - 1).cast("long"),
            F.expr(f"(_m * {nb}) div {_MICRO}"),
        ).alias("bin"),
        "_y",
    )
    # the ONLY corpus-scale pass; 2 consumers (pairs + final join-back)
    per = (
        rows.groupBy(*g, "bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("_y").cast("long").alias("n_pos"),
        )
        .localCheckpoint(eager=False)
    )
    # inclusive prefixes over the bounded (<= n_bins rows/group) table
    w = Window.partitionBy(*g).orderBy("bin")
    pre = per.select(
        *g,
        "bin",
        "cnt",
        "n_pos",
        F.sum("cnt").over(w).cast("long").alias("_cn"),
        F.sum("n_pos").over(w).cast("long").alias("_cp"),
    )
    li = pre.select(
        *g,
        F.col("bin").alias("_i"),
        (F.col("_cn") - F.col("cnt")).alias("_eni"),  # exclusive
        (F.col("_cp") - F.col("n_pos")).alias("_epi"),
    )
    rj = pre.select(
        *g,
        F.col("bin").alias("_j"),
        F.col("_cn").alias("_cnj"),
        F.col("_cp").alias("_cpj"),
    )
    pairs = (
        (li.join(rj, g) if g else li.crossJoin(rj))
        .where(F.col("_i") <= F.col("_j"))
        .select(
            *g,
            "_i",
            "_j",
            F.expr(
                f"({_MICRO} * (_cpj - _epi)) div (_cnj - _eni)"
            ).alias("_a"),
        )
    )
    ws = (
        Window.partitionBy(*g, "_i")
        .orderBy(F.col("_j").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sfx = pairs.select(
        *g, "_i", "_j", F.min("_a").over(ws).alias("_mi")
    )
    iso = sfx.groupBy(*g, "_j").agg(
        F.max("_mi").cast("long").alias("_iso")
    ).withColumnRenamed("_j", "bin")
    return per.join(iso, [*g, "bin"]).select(
        *g,
        "bin",
        "cnt",
        "n_pos",
        F.round(
            F.col("n_pos").cast("double") / F.col("cnt").cast("double"), 6
        ).alias("pos_frac"),
        F.round(F.col("_iso").cast("double") / 1e6, 6).alias("iso_p"),
    )


def mutual_information(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group..., n, x_levels, y_levels, mi, hx, hy, nmi) — mutual
    information I(X; Y) in nats between two categorical columns per
    group, with both marginal entropies and the normalized mutual
    information nmi = I / sqrt(H(X) * H(Y)): the model-free dependence
    monitor behind feature-relevance ranking and LABEL-LEAKAGE
    detection (a feature with nmi ~ 1 against the label IS the label
    in disguise — the bug target_encode_loo exists to prevent, here
    measured for any column pair). Continuous features are binned by
    the caller first (the calibration_report / isotonic bin recipe or
    quantile_normalize's micro-grid).

    Exactness (the kl_drift / bigram_surprisal micro-nat discipline):
    the joint histogram, marginals and totals are exact BIGINTs from
    ONE corpus pass; each cell's term

        (n_xy / N) * ln((n_xy * N) / (n_x * n_y))

    and each marginal's entropy term -(n_x/N) ln(n_x/N) is evaluated
    on doubles BUILT from those exact integers in the same expression
    order in both engines, rounded ONCE to integer micro-nats, and
    summed as exact BIGINTs — never an engine-order float sum. mi/hx/
    hy are the micro-nat integers divided by 1e6 (an exact <=6-decimal
    rendering); nmi is one correctly-rounded division after two IEEE
    sqrt (correctly rounded by the standard in both engines) + round-6.
    Constant columns (H = 0) give NULL nmi with mi/hx/hy visible.
    Micro-nat rounding can leave mi a few negative micro-nats on
    independent columns — report as-is (the kl_drift convention).

    NULL X or Y values fail LOUD (a silently-dropped row changes every
    cell). Empty frames return zero rows.

    Scale shape: ONE map-side-combinable groupBy(group, x, y) corpus
    pass builds the bounded |X|*|Y| cell table (checkpointed — four
    consumers); marginals and totals aggregate THAT table; the term
    joins run on bounded tables. Zero windows, zero Python."""
    g = list(group_cols or [])

    def val(col):
        c0 = F.col(col)
        return (
            F.when(
                c0.isNull(),
                F.raise_error(
                    F.lit(f"mutual_information: NULL {col}")
                ).cast(dict(df.dtypes)[col]),
            )
            .otherwise(c0)
        )

    rows = df.select(*g, val(x_col).alias("_x"), val(y_col).alias("_y"))
    cells = (
        rows.groupBy(*g, "_x", "_y")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        .localCheckpoint(eager=False)
    )
    mx = cells.groupBy(*g, "_x").agg(F.sum("_c").cast("long").alias("_nx"))
    my = cells.groupBy(*g, "_y").agg(F.sum("_c").cast("long").alias("_ny"))
    tot = cells.groupBy(*g).agg(F.sum("_c").cast("long").alias("_n"))

    def bj(left, right, keys):
        return (
            left.join(F.broadcast(right), keys)
            if keys
            else left.crossJoin(F.broadcast(right))
        )

    terms = bj(
        cells.join(mx, [*g, "_x"]).join(my, [*g, "_y"]), tot, g
    )
    mi_term = (
        F.col("_c").cast("double") / F.col("_n").cast("double")
    ) * F.log(
        (F.col("_c").cast("double") * F.col("_n").cast("double"))
        / (F.col("_nx").cast("double") * F.col("_ny").cast("double"))
    )
    mi_t = terms.groupBy(*g).agg(
        F.max("_n").alias("_n"),
        F.sum(F.round(mi_term * F.lit(1e6)).cast("long")).alias("_mi_u"),
    ).where(F.col("_n").isNotNull())

    def ent(marg, cnt, name, lvl):
        p = F.col(cnt).cast("double") / F.col("_n").cast("double")
        t = -(p * F.log(p))
        return (
            bj(marg, tot, g)
            .groupBy(*g)
            .agg(
                F.sum(F.round(t * F.lit(1e6)).cast("long")).alias(name),
                F.count(F.lit(1)).cast("long").alias(lvl),
            )
            .where(F.col(name).isNotNull())
        )

    hx_t = ent(mx, "_nx", "_hx_u", "x_levels")
    hy_t = ent(my, "_ny", "_hy_u", "y_levels")
    out = bj(bj(mi_t, hx_t, g), hy_t, g)
    return out.select(
        *g,
        F.col("_n").alias("n"),
        "x_levels",
        "y_levels",
        F.round(F.col("_mi_u").cast("double") / 1e6, 6).alias("mi"),
        F.round(F.col("_hx_u").cast("double") / 1e6, 6).alias("hx"),
        F.round(F.col("_hy_u").cast("double") / 1e6, 6).alias("hy"),
        F.when(
            (F.col("_hx_u") > 0) & (F.col("_hy_u") > 0),
            F.round(
                F.col("_mi_u").cast("double")
                / (
                    F.sqrt(F.col("_hx_u").cast("double"))
                    * F.sqrt(F.col("_hy_u").cast("double"))
                ),
                6,
            ),
        ).alias("nmi"),
    )


def chi2_assoc(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group..., n, x_levels, y_levels, dof, chi2, cramers_v) —
    Pearson's chi-square test of independence between two categorical
    columns per group, with Cramér's V = sqrt(chi2 / (n * min(r-1,
    c-1))) as the [0, 1] effect size: the frequentist sibling of
    mutual_information (nmi measures dependence in nats; V puts it on
    a bounded scale comparable ACROSS tables of different size — the
    standard screen for redundant categorical features and
    stratification imbalance, and the multi-level generalization of
    benford_test's single-margin chi2). Continuous features are binned
    first (quantile_bin is the exact-rank recipe).

    Exactness: the joint histogram, marginals and totals are exact
    BIGINTs from ONE corpus pass. The full-table chi-square folds over
    OBSERVED cells only via the zero-cell identity

        chi2 = sum_all (o-e)^2/e  =  n + sum_obs [(o-e)^2/e - e]

    (the unobserved cells contribute exactly their expectations, which
    total n minus the observed cells' expectations — no r*c dense
    expansion is ever built). Each observed cell's term is evaluated
    on doubles BUILT from the exact integers in the same expression
    order both engines (e = nx*ny/n, then (o-e)^2/e - e), rounded ONCE
    to integer micro-units, and summed exactly with n*1e6 added as an
    integer — never an engine-order float sum. Micro rounding can
    leave chi2 a few negative micro-units on independent columns
    (reported as-is, the kl_drift convention); cramers_v floors the
    radicand at zero and is NULL when min(r, c) < 2 (dof = 0 — a
    constant column has no association to measure). NULL X or Y
    values fail LOUD; empty frames return zero rows.

    Scale shape: ONE map-side-combinable groupBy(group, x, y) corpus
    pass builds the bounded |X|*|Y| cell table; marginals and totals
    aggregate THAT table; the term join runs on bounded tables with
    broadcast totals. Zero windows, zero Python."""
    g = list(group_cols or [])

    def val(col):
        c0 = F.col(col)
        return F.when(
            c0.isNull(),
            F.raise_error(F.lit(f"chi2_assoc: NULL {col}")).cast(
                dict(df.dtypes)[col]
            ),
        ).otherwise(c0)

    rows = df.select(*g, val(x_col).alias("_x"), val(y_col).alias("_y"))
    cells = (
        rows.groupBy(*g, "_x", "_y")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        .localCheckpoint(eager=False)
    )
    mx = cells.groupBy(*g, "_x").agg(F.sum("_c").cast("long").alias("_nx"))
    my = cells.groupBy(*g, "_y").agg(F.sum("_c").cast("long").alias("_ny"))
    lx = mx.groupBy(*g).agg(F.count(F.lit(1)).cast("long").alias("_lx"))
    ly = my.groupBy(*g).agg(F.count(F.lit(1)).cast("long").alias("_ly"))
    tot = cells.groupBy(*g).agg(F.sum("_c").cast("long").alias("_n"))

    def bj(left, right, keys):
        return (
            left.join(F.broadcast(right), keys)
            if keys
            else left.crossJoin(F.broadcast(right))
        )

    terms = bj(
        cells.join(mx, [*g, "_x"]).join(my, [*g, "_y"]), tot, g
    )
    e = (
        F.col("_nx").cast("double") * F.col("_ny").cast("double")
    ) / F.col("_n").cast("double")
    o = F.col("_c").cast("double")
    term = (o - e) * (o - e) / e - e
    agg = terms.groupBy(*g).agg(
        F.max("_n").alias("_n"),
        (
            F.sum(F.round(term * F.lit(1e6)).cast("long"))
            + F.max("_n") * F.lit(1_000_000).cast("long")
        ).alias("_chi2_u"),
    ).where(F.col("_n").isNotNull())
    out = bj(bj(agg, lx, g), ly, g)
    k = F.least(F.col("_lx") - 1, F.col("_ly") - 1)
    return out.select(
        *g,
        F.col("_n").alias("n"),
        F.col("_lx").alias("x_levels"),
        F.col("_ly").alias("y_levels"),
        ((F.col("_lx") - 1) * (F.col("_ly") - 1)).cast("long").alias("dof"),
        F.round(F.col("_chi2_u").cast("double") / 1e6, 6).alias("chi2"),
        F.when(
            k >= 1,
            # scale-0 micro rounding (CLAUDE.md half-tie rule), not
            # round(x, 6): sqrt output is an arbitrary double
            F.round(
                F.sqrt(
                    F.greatest(
                        F.col("_chi2_u"), F.lit(0).cast("long")
                    ).cast("double")
                    / 1e6
                    / (F.col("_n").cast("double") * k.cast("double"))
                )
                * F.lit(1e6)
            ).cast("long").cast("double")
            / 1e6,
        ).alias("cramers_v"),
    )


def _pair_clip_arrow(rows, g, ns):
    """ONE mapInArrow batch pass computing, per pair row, the word-array
    lengths and the exact clipped n-gram overlaps sum_g min(c_g, r_g)
    for each n in `ns` — the BLEU/ROUGE per-pair multiset clip with
    ZERO gram shuffle (r6; guide §4.2 "heavy lifting in native code
    inside the UDF" + §2.3 "aggregate before you shuffle"). Input
    `rows` must carry (*g, _id string, _wc array<string>, _wr
    array<string>); output is (_id, *g, _lc, _lr, _po{n}...).

    Counts are Counters of word TUPLES — injective (words cannot
    contain the space separator), so every integer equals what the
    former (group, id, n, gram) gram-string count aggregate produced.
    A pure-SQL row-local fold was tried first and REJECTED: Catalyst
    evaluates higher-order-function lambdas interpreted, and the
    struct-accumulator fold measured 1.29x SLOWER than the explode it
    replaced; the Arrow batch path wins because the per-row work stays
    in C-implemented Counter/zip machinery."""
    import pyarrow as pa

    gcols = list(g)
    ns_ = [int(n) for n in ns]
    out_names = ["_id"] + gcols + ["_lc", "_lr"] + [
        f"_po{n}" for n in ns_
    ]
    gtypes = dict(rows.dtypes)
    out_schema = ", ".join(
        ["_id string"]
        + [f"`{c}` {gtypes[c]}" for c in gcols]
        + ["_lc long", "_lr long"]
        + [f"_po{n} long" for n in ns_]
    )

    def _clip_batches(it):
        from collections import Counter

        for batch in it:
            wc = batch.column("_wc").to_pylist()
            wr = batch.column("_wr").to_pylist()
            n_rows = len(wc)
            lc = [len(w) for w in wc]
            lr = [len(w) for w in wr]
            os_ = [[0] * n_rows for _ in ns_]
            for i in range(n_rows):
                a, b = wc[i], wr[i]
                for k, n in enumerate(ns_):
                    if len(a) < n or len(b) < n:
                        continue
                    ca = Counter(zip(*[a[j:] for j in range(n)]))
                    cb = Counter(zip(*[b[j:] for j in range(n)]))
                    os_[k][i] = sum(
                        min(v, cb[t]) for t, v in ca.items() if t in cb
                    )
            arrays = [batch.column("_id")]
            arrays += [batch.column(c) for c in gcols]
            arrays += [
                pa.array(lc, type=pa.int64()),
                pa.array(lr, type=pa.int64()),
            ]
            arrays += [pa.array(o, type=pa.int64()) for o in os_]
            yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    return rows.mapInArrow(_clip_batches, out_schema)


def bleu_eval(
    df: DataFrame,
    id_col: str,
    cand_col: str,
    ref_col: str,
    group_cols: list[str] | None = None,
    max_n: int = 4,
) -> DataFrame:
    """(group..., n_pairs, cand_len, ref_len, p1..p{max_n}, bp, bleu)
    — corpus-level BLEU (Papineni et al. ACL 2002) over paired
    candidate/reference texts per group: clipped modified n-gram
    precisions p_n = sum_pairs sum_g min(c_g, r_g) / sum_pairs
    (len_c - n + 1), brevity penalty BP = min(1, exp(1 - R/C)) on the
    CORPUS lengths, bleu = BP * exp(mean_n ln p_n). The
    text-GENERATION eval tier (summaries, translations, synthetic
    rewrites scored against references) the classifier-eval family
    (auc/pr/calibration) does not cover. Corpus-level by definition —
    per-sentence BLEU is the known-degenerate variant (zero whenever
    any p_n is 0); group it by slice instead.

    Conventions pinned: whitespace nonempty-word tokens (the corpus
    tokenizer contract); clipping is per-PAIR multiset min, summed
    exactly; any O_n == 0 or T_n == 0 makes bleu exactly 0.0 (the
    unsmoothed original — smoothing variants change the metric, so
    refusing silently to smooth is the honest default); a group with
    zero candidate tokens (C == 0) yields NULL bleu/bp with counts
    visible. NULL id/cand/ref fail LOUD (a dropped pair changes every
    precision), and so do DUPLICATE ids within a group: gram counts
    key on (group, id, n, gram), so two pairs sharing an id would
    clip as min(sum c, sum r) instead of the sum of per-pair mins —
    silently wrong precisions (ADVICE r4; detected as
    count != count_distinct(id) riding the consumed n_pairs column).

    Exactness: all counts (O_n, T_n, C, R) are exact BIGINTs; p_n are
    single correctly-rounded divisions; the BLEU chain ln/exp runs on
    IDENTICAL doubles in a fixed fold order in both engines (libm
    ulp noise is absorbed by the scale-0 micro rounding — the
    kaplan_meier exp precedent); outputs micro-rounded once.

    Scale shape: EVERYTHING row-local until one bounded per-group
    aggregate. The clip is per PAIR, so it never needs a gram shuffle:
    one mapInArrow batch pass computes each row's lengths and clipped
    overlaps o_1..o_max_n (exact Counter-of-word-tuples intersection —
    injective, so the integers equal the gram-string aggregate's), and
    the per-group aggregate folds them with the T_n totals. No
    token-scale Exchange exists in the plan; the Arrow pass ships only
    the two word arrays + id/group. Zero joins, zero windows."""
    if not (1 <= int(max_n) <= 4):
        raise ValueError(
            f"bleu_eval: max_n must be in [1, 4], got {max_n}"
        )
    mn = int(max_n)
    g = list(group_cols or [])
    from ..functions.text import nonempty_words

    def val(col, as_str=False):
        c0 = F.col(col)
        t = "string" if as_str else dict(df.dtypes)[col]
        out = F.when(
            c0.isNull(),
            F.raise_error(F.lit(f"bleu_eval: NULL {col}")).cast(t),
        ).otherwise(c0.cast(t) if as_str else c0)
        return out

    rows = df.select(
        *g,
        val(id_col, as_str=True).alias("_id"),
        nonempty_words(val(cand_col)).alias("_wc"),
        nonempty_words(val(ref_col)).alias("_wr"),
    )

    # Per-pair clipped overlaps via ONE mapInArrow batch pass
    # (_pair_clip_arrow; r6 wave 6, guide §4.2 + §2.3): the clip
    # sum_g min(c_g, r_g) combines only the two texts of one row (ids
    # unique per group — the dup-id fail-loud below), so it never needs
    # the former token-scale (group, id, n, gram) explode + exchange
    # (~2(max_n) gram rows per token, the dominant cost). The only
    # shuffle left is the bounded per-group aggregate.
    mapped = _pair_clip_arrow(rows, g, list(range(1, mn + 1)))

    len_aggs = [
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        # dup-id detector: per-pair clips would merge across rows
        # sharing an id (min of sums != sum of per-pair mins).
        # Counted here and failed LOUD on the CONSUMED n_pairs column
        # below (a guard on a column nothing consumes is pruned by
        # Catalyst — pinned hazard).
        F.count_distinct(F.col("_id")).cast("long").alias("_nid"),
        F.sum(F.col("_lc")).cast("long").alias("cand_len"),
        F.sum(F.col("_lr")).cast("long").alias("ref_len"),
    ]
    for n in range(1, mn + 1):
        len_aggs.append(
            F.sum(
                F.greatest(F.col("_lc") - (n - 1), F.lit(0))
            ).cast("long").alias(f"_t{n}")
        )
        len_aggs.append(
            F.sum(F.col(f"_po{n}")).cast("long").alias(f"_o{n}")
        )
    piv = mapped.groupBy(*g).agg(*len_aggs)
    on_cols = [
        F.coalesce(F.col(f"_o{n}"), F.lit(0).cast("long"))
        for n in range(1, mn + 1)
    ]
    c_d = F.col("cand_len").cast("double")
    r_d = F.col("ref_len").cast("double")
    ok = F.col("cand_len") > 0
    pos = ok
    for n in range(1, mn + 1):
        pos = pos & (on_cols[n - 1] > 0) & (F.col(f"_t{n}") > 0)
    s = None
    for n in range(1, mn + 1):
        term = F.log(
            on_cols[n - 1].cast("double") / F.col(f"_t{n}").cast("double")
        ) * (F.lit(1.0) / F.lit(float(mn)))
        s = term if s is None else s + term
    bp = F.when(
        c_d >= r_d, F.lit(1.0)
    ).otherwise(F.exp(F.lit(1.0) - r_d / c_d))

    def rnd(e):
        return F.round(e * F.lit(1e6)).cast("long").cast("double") / F.lit(
            1e6
        )

    outs = []
    for n in range(1, mn + 1):
        outs.append(
            F.when(
                ok & (F.col(f"_t{n}") > 0),
                rnd(
                    on_cols[n - 1].cast("double")
                    / F.col(f"_t{n}").cast("double")
                ),
            ).alias(f"p{n}")
        )
    n_pairs_guarded = (
        F.when(
            F.col("n_pairs") != F.col("_nid"),
            F.raise_error(
                F.lit(
                    "bleu_eval: duplicate id within a group — gram "
                    "counts would merge across pairs before clipping "
                    "(min of sums != sum of per-pair mins); make "
                    f"{id_col} unique per group"
                )
            ).cast("long"),
        )
        .otherwise(F.col("n_pairs"))
        .alias("n_pairs")
    )
    return piv.where(F.col("n_pairs") > 0).select(
        *g,
        n_pairs_guarded,
        "cand_len",
        "ref_len",
        *outs,
        F.when(ok, rnd(bp)).alias("bp"),
        F.when(pos, rnd(bp * F.exp(s)))
        .when(ok, F.lit(0.0))
        .alias("bleu"),
    )


def rouge_n(
    df: DataFrame,
    id_col: str,
    cand_col: str,
    ref_col: str,
    group_cols: list[str] | None = None,
    n: int = 2,
) -> DataFrame:
    """(group..., n_pairs, overlap, cand_grams, ref_grams, precision,
    recall, f1) — micro-averaged corpus ROUGE-N (Lin 2004) over
    paired candidate/reference texts per group: clipped n-gram
    overlap (per-pair multiset min, the bleu_eval clipping) divided
    by the REFERENCE gram total (recall — ROUGE's defining
    orientation, what BLEU's precision misses: a candidate that
    drops half the reference still gets perfect BLEU precisions),
    plus the precision and F1 companions. Micro-averaged (corpus
    count sums, not a mean of per-pair scores — original ROUGE
    macro-averages sentences; group by id for the per-doc form, the
    docstring's contract makes the choice explicit).

    Exactness: overlap and totals are exact BIGINTs from the
    bleu_eval machinery shape; precision/recall are single
    correctly-rounded divisions; f1 = 2pr/(p+r) on raw doubles in
    fixed order; outputs micro-rounded (scale-0). Zero denominators
    give NULL (and f1 NULL unless both precisions exist and p+r > 0).
    NULL id/cand/ref fail LOUD; duplicate ids within a group fail
    LOUD too (the bleu_eval clipping-merge hazard — per-id gram
    counts would merge across pairs before the min).

    Scale shape: everything row-local until one bounded per-group
    aggregate — the per-pair clip folds inside one mapInArrow batch
    pass (_pair_clip_arrow; exact Counter-of-word-tuples counts), so
    no token-scale Exchange exists in the plan. Zero joins, zero
    windows."""
    if not (1 <= int(n) <= 4):
        raise ValueError(f"rouge_n: n must be in [1, 4], got {n}")
    nn = int(n)
    g = list(group_cols or [])
    from ..functions.text import nonempty_words

    def val(col, as_str=False):
        c0 = F.col(col)
        t = "string" if as_str else dict(df.dtypes)[col]
        return F.when(
            c0.isNull(),
            F.raise_error(F.lit(f"rouge_n: NULL {col}")).cast(t),
        ).otherwise(c0.cast(t) if as_str else c0)

    # same shape as bleu_eval: compute the per-pair clip in ONE
    # mapInArrow batch pass (_pair_clip_arrow — zero gram shuffle; the
    # former two gram-count aggregates + their equi-join are gone), fold
    # everything in one bounded per-group aggregate.
    rows = df.select(
        *g,
        val(id_col, as_str=True).alias("_id"),
        nonempty_words(val(cand_col)).alias("_wc"),
        nonempty_words(val(ref_col)).alias("_wr"),
    )
    mapped = _pair_clip_arrow(rows, g, [nn])

    piv = mapped.groupBy(*g).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        # same dup-id hazard as bleu_eval: per-pair clips would merge
        # across rows sharing an id — detected here, failed LOUD on
        # the consumed n_pairs below
        F.count_distinct(F.col("_id")).cast("long").alias("_nid"),
        F.sum(F.greatest(F.col("_lc") - (nn - 1), F.lit(0)))
        .cast("long")
        .alias("cand_grams"),
        F.sum(F.greatest(F.col("_lr") - (nn - 1), F.lit(0)))
        .cast("long")
        .alias("ref_grams"),
        F.sum(F.col(f"_po{nn}")).cast("long").alias("_o"),
    )
    o = F.coalesce(F.col("_o"), F.lit(0).cast("long"))

    def rnd(e):
        return F.round(e * F.lit(1e6)).cast("long").cast("double") / F.lit(
            1e6
        )

    p_raw = o.cast("double") / F.col("cand_grams").cast("double")
    r_raw = o.cast("double") / F.col("ref_grams").cast("double")
    both = (F.col("cand_grams") > 0) & (F.col("ref_grams") > 0)
    n_pairs_guarded = (
        F.when(
            F.col("n_pairs") != F.col("_nid"),
            F.raise_error(
                F.lit(
                    "rouge_n: duplicate id within a group — gram "
                    "counts would merge across pairs before clipping; "
                    f"make {id_col} unique per group"
                )
            ).cast("long"),
        )
        .otherwise(F.col("n_pairs"))
        .alias("n_pairs")
    )
    return piv.where(F.col("n_pairs") > 0).select(
        *g,
        n_pairs_guarded,
        o.alias("overlap"),
        "cand_grams",
        "ref_grams",
        F.when(F.col("cand_grams") > 0, rnd(p_raw)).alias("precision"),
        F.when(F.col("ref_grams") > 0, rnd(r_raw)).alias("recall"),
        F.when(
            both & (o > 0),
            rnd(
                F.lit(2.0) * p_raw * r_raw / (p_raw + r_raw)
            ),
        )
        .when(both, F.lit(0.0))
        .alias("f1"),
    )


def pref_winrate(
    df: DataFrame,
    a_col: str,
    b_col: str,
    winner_col: str,
    group_cols: list[str] | None = None,
    z: float = 1.96,
) -> DataFrame:
    """(group..., lo, hi, n, wins_lo, wins_hi, ties, p_lo, wilson_lo,
    wilson_hi) — pairwise win rates over preference comparisons
    (model-A-vs-model-B judgments, the raw material of RLHF reward
    data and LLM-judge evals), with the Wilson score interval (Wilson
    1927 — the binomial interval that behaves at small n and extreme
    p, unlike the Wald interval's zero-width collapse): per unordered
    pair, p_lo = wins_lo / decided and the z-interval around it.
    A pair whose interval contains 0.5 is NOT settled — shipping a
    "preferred model" off a raw win rate at n = 7 is the mistake this
    operator exists to flag.

    Conventions: comparisons are rows (a, b, winner) with winner
    equal to a's value, b's value, or NULL for a tie/abstention; any
    other winner fails LOUD (a typo'd winner silently becoming a tie
    would bias every rate). Pairs canonicalize to (lo, hi) =
    (least, greatest) by string order so (a, b) and (b, a) rows
    merge; self-pairs (a == b) fail LOUD. Ties count in n but not in
    the rate (the decided-games convention; report them — a judge
    that ties 80% of the time is its own finding).

    Exactness: counts are exact BIGINTs from ONE map-side-combinable
    pass; p_lo is one correctly-rounded division; the Wilson chain is
    evaluated on doubles built from exact integers with z as a driver
    literal, in one fixed order both engines, each output
    micro-rounded (scale-0). decided == 0 gives NULL rate/interval
    with n/ties visible.

    Scale shape: ONE groupBy onto the bounded (group, pair) table —
    the cheapest corpus pass; zero windows, joins, Python."""
    zf = float(z)
    if not (0.0 < zf <= 10.0):
        raise ValueError(f"pref_winrate: z must be in (0, 10], got {z}")
    g = list(group_cols or [])
    a = F.col(a_col).cast("string")
    b = F.col(b_col).cast("string")
    w = F.col(winner_col).cast("string")
    chk = F.when(
        a.isNull() | b.isNull(),
        F.raise_error(
            F.lit(f"pref_winrate: NULL {a_col}/{b_col}")
        ).cast("string"),
    ).when(
        a == b,
        F.raise_error(
            F.concat(F.lit("pref_winrate: self-pair "), a)
        ).cast("string"),
    ).when(
        w.isNotNull() & (w != a) & (w != b),
        F.raise_error(
            F.concat(F.lit("pref_winrate: winner not in pair: "), w)
        ).cast("string"),
    ).otherwise(w)
    rows = df.select(
        *g,
        F.least(a, b).alias("lo"),
        F.greatest(a, b).alias("hi"),
        chk.alias("_w"),
    )
    agg = rows.groupBy(*g, "lo", "hi").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(
            F.sum((F.col("_w") == F.col("lo")).cast("long")), F.lit(0)
        )
        .cast("long")
        .alias("wins_lo"),
        F.coalesce(
            F.sum((F.col("_w") == F.col("hi")).cast("long")), F.lit(0)
        )
        .cast("long")
        .alias("wins_hi"),
        F.coalesce(
            F.sum(F.col("_w").isNull().cast("long")), F.lit(0)
        )
        .cast("long")
        .alias("ties"),
    )
    nd = (F.col("wins_lo") + F.col("wins_hi")).cast("double")
    p = F.col("wins_lo").cast("double") / nd
    z2 = F.lit(zf * zf)
    denom = F.lit(1.0) + z2 / nd
    center = (p + z2 / (F.lit(2.0) * nd)) / denom
    half = (
        F.lit(zf)
        * F.sqrt(
            p * (F.lit(1.0) - p) / nd
            + z2 / (F.lit(4.0) * nd * nd)
        )
        / denom
    )

    def rnd(e):
        return F.round(e * F.lit(1e6)).cast("long").cast("double") / F.lit(
            1e6
        )

    dec = (F.col("wins_lo") + F.col("wins_hi")) > 0
    return agg.select(
        *g,
        "lo",
        "hi",
        "n",
        "wins_lo",
        "wins_hi",
        "ties",
        F.when(dec, rnd(p)).alias("p_lo"),
        F.when(dec, rnd(center - half)).alias("wilson_lo"),
        F.when(dec, rnd(center + half)).alias("wilson_hi"),
    )


def fleiss_kappa(
    df: DataFrame,
    item_col: str,
    label_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group..., n_items, n_raters, n_categories, p_bar, p_e, kappa,
    agreement) — Fleiss' kappa (Fleiss 1971): chance-corrected
    agreement for a PANEL of raters labeling items, the multi-rater
    generalization of cohen_kappa (which this engine uses for
    two-rater lang agreement) — the annotation-QC gate for labeling
    pipelines: raw percent agreement flatters skewed label sets, and
    kappa subtracts the agreement a label-frequency-matching random
    panel would reach. `agreement` reports the Landis-Koch band
    (poor/slight/fair/moderate/substantial/almost_perfect) as exact
    integer micro compares on the rounded kappa (the benford band
    recipe).

    Input is one row per RATING (item, label) — raters are anonymous
    (Fleiss' model never uses rater identity). The model REQUIRES a
    constant panel size: groups where items carry differing rating
    counts fail LOUD with both counts in the message (silently
    averaging unequal panels changes the statistic); n_raters == 1
    gives NULL kappa (nothing to agree with) with the stats visible.

    Exactness: cell counts n_ij, the agreement numerator
    SS = sum_i sum_j n_ij (n_ij - 1) and category marginals C_j are
    exact BIGINTs; P_bar = SS / (N n (n-1)) is ONE correctly-rounded
    division of exact integers. P_e = sum_j (C_j / (N n))^2 sums each
    category's squared share after rounding it ONCE to 1e-12 units
    and summing exactly (the kl_drift discipline at pico scale —
    category iteration order is engine-dependent, so the fold must be
    order-free; micro 1e-6 would be too coarse for squared shares).
    kappa = (P_bar - P_e) / (1 - P_e) in one fixed order; outputs
    scale-0 micro-rounded; P_e == 1 (a single category) gives NULL
    kappa. NULL item/label fail LOUD.

    Scale shape: one map-side-combinable (group, item, label) cell
    pass; per-item and per-category folds aggregate THAT table;
    bounded broadcast combines. Zero windows, zero Python."""
    g = list(group_cols or [])

    def val(col):
        c0 = F.col(col)
        return F.when(
            c0.isNull(),
            F.raise_error(F.lit(f"fleiss_kappa: NULL {col}")).cast(
                dict(df.dtypes)[col]
            ),
        ).otherwise(c0)

    rows = df.select(
        *g, val(item_col).alias("_i"), val(label_col).alias("_l")
    )
    cells = (
        rows.groupBy(*g, "_i", "_l")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        .localCheckpoint(eager=False)
    )
    per_item = cells.groupBy(*g, "_i").agg(
        F.sum("_c").cast("long").alias("_ni"),
        F.sum(F.col("_c") * (F.col("_c") - 1)).cast("long").alias("_si"),
    )
    gstats = per_item.groupBy(*g).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.min("_ni").cast("long").alias("_nmin"),
        F.max("_ni").cast("long").alias("_nmax"),
        F.sum("_si").cast("long").alias("_ss"),
    )
    marg = cells.groupBy(*g, "_l").agg(
        F.sum("_c").cast("long").alias("_cj")
    )
    tot = cells.groupBy(*g).agg(F.sum("_c").cast("long").alias("_tot"))
    share2 = (
        F.col("_cj").cast("double") / F.col("_tot").cast("double")
    )
    pe_t = (
        (
            marg.join(F.broadcast(tot), g)
            if g
            else marg.crossJoin(F.broadcast(tot))
        )
        .groupBy(*g)
        .agg(
            F.sum(
                F.round(share2 * share2 * F.lit(1e12)).cast("long")
            ).alias("_pe_p"),
            F.count(F.lit(1)).cast("long").alias("n_categories"),
        )
        .where(F.col("_pe_p").isNotNull())
    )
    out = (
        gstats.join(F.broadcast(pe_t), g)
        if g
        else gstats.crossJoin(F.broadcast(pe_t))
    )
    n = F.col("_nmin")
    eq = F.when(
        F.col("_nmin") != F.col("_nmax"),
        F.raise_error(
            F.concat(
                F.lit("fleiss_kappa: unequal panel sizes "),
                F.col("_nmin").cast("string"),
                F.lit(" vs "),
                F.col("_nmax").cast("string"),
            )
        ).cast("long"),
    ).otherwise(n)
    pbar = F.col("_ss").cast("double") / (
        F.col("n_items").cast("double")
        * n.cast("double")
        * (n - 1).cast("double")
    )
    pe = F.col("_pe_p").cast("double") / F.lit(1e12)
    kap = (pbar - pe) / (F.lit(1.0) - pe)

    def rnd(e):
        return F.round(e * F.lit(1e6)).cast("long").cast("double") / F.lit(
            1e6
        )

    ok = (eq >= 2) & (F.col("_pe_p") < F.lit(1_000_000_000_000))
    kap_u = F.round(kap * F.lit(1e6)).cast("long")
    band = (
        F.when(kap_u < 0, F.lit("poor"))
        .when(kap_u < 200_000, F.lit("slight"))
        .when(kap_u < 400_000, F.lit("fair"))
        .when(kap_u < 600_000, F.lit("moderate"))
        .when(kap_u < 800_000, F.lit("substantial"))
        .otherwise(F.lit("almost_perfect"))
    )
    return out.select(
        *g,
        "n_items",
        eq.alias("n_raters"),
        "n_categories",
        F.when(eq >= 2, rnd(pbar)).alias("p_bar"),
        rnd(pe).alias("p_e"),
        F.when(ok, rnd(kap)).alias("kappa"),
        F.when(ok, band).alias("agreement"),
    )


def kripp_alpha(
    df: DataFrame,
    item_col: str,
    label_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group..., n_items, n_excluded, n_ratings, n_categories, d_o,
    d_e, alpha) — Krippendorff's alpha for NOMINAL labels
    (Krippendorff 1970/2004): the agreement coefficient for exactly
    the panels fleiss_kappa REFUSES — unequal rating counts per item
    and missing ratings are the norm in real annotation queues, and
    alpha's coincidence-matrix form is built for them. Items with a
    single rating contribute no pairable information and are EXCLUDED
    with a visible count (n_excluded) — never silently.

    Nominal form used (pairable-values formulation):
      t_i = (n_i^2 - sum_c n_ic^2) / (n_i - 1)   per included item
      D_o = sum_i t_i / n                         (n = pairable total)
      D_e = (n^2 - sum_c n_c^2) / (n (n - 1))
      alpha = 1 - D_o / D_e

    Exactness: cell counts, n_i, marginals and their exact squares
    are BIGINT/DECIMAL(38,0) from ONE corpus pass; each item's
    rational t_i is ONE correctly-rounded division rounded ONCE to
    integer micro units and summed exactly (order-free — the
    kl_drift discipline); D_o/D_e/alpha are fixed-order double
    chains over exact integers, micro-rounded once. D_e == 0 (one
    category among pairable ratings) or zero pairable items give
    NULL alpha with the counts visible. NULL item/label fail LOUD.

    Scale shape: one map-side-combinable (group, item, label) cell
    pass; per-item and marginal folds aggregate THAT table; bounded
    broadcast combines. Zero windows, zero Python."""
    g = list(group_cols or [])

    def val(col):
        c0 = F.col(col)
        return F.when(
            c0.isNull(),
            F.raise_error(F.lit(f"kripp_alpha: NULL {col}")).cast(
                dict(df.dtypes)[col]
            ),
        ).otherwise(c0)

    d38 = "decimal(38,0)"
    rows = df.select(
        *g, val(item_col).alias("_i"), val(label_col).alias("_l")
    )
    cells = (
        rows.groupBy(*g, "_i", "_l")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        .localCheckpoint(eager=False)
    )
    per_item = cells.groupBy(*g, "_i").agg(
        F.sum("_c").cast("long").alias("_ni"),
        F.sum(F.col("_c").cast(d38) * F.col("_c").cast(d38)).alias(
            "_sq"
        ),
    )
    inc = per_item.where(F.col("_ni") >= 2)
    t_u = F.round(
        (
            F.col("_ni").cast("double") * F.col("_ni").cast("double")
            - F.col("_sq").cast("double")
        )
        / (F.col("_ni") - 1).cast("double")
        * F.lit(1e6)
    ).cast("long")
    istats = inc.groupBy(*g).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("_ni").cast("long").alias("n_ratings"),
        F.sum(t_u.cast(d38)).alias("_do_u"),
    )
    excl = per_item.groupBy(*g).agg(
        F.count(F.lit(1)).cast("long").alias("_items_all"),
        F.coalesce(
            F.sum((F.col("_ni") < 2).cast("long")), F.lit(0)
        )
        .cast("long")
        .alias("n_excluded"),
    )
    # marginals over INCLUDED items only (pairable values)
    mcells = (
        cells.join(
            inc.select(*g, "_i"), [*g, "_i"]
        )
        .groupBy(*g, "_l")
        .agg(F.sum("_c").cast("long").alias("_cj"))
    )
    marg = mcells.groupBy(*g).agg(
        F.count(F.lit(1)).cast("long").alias("n_categories"),
        F.sum(F.col("_cj").cast(d38) * F.col("_cj").cast(d38)).alias(
            "_msq"
        ),
    )

    def bj(left, right):
        return (
            left.join(F.broadcast(right), g, "left")
            if g
            else left.crossJoin(F.broadcast(right))
        )

    # excl is the base frame (it covers every group, including those
    # whose items were ALL excluded — they must still report)
    out = bj(bj(excl, istats), marg)
    n = F.col("n_ratings").cast("double")
    d_o = F.col("_do_u").cast("double") / F.lit(1e6) / n
    d_e = (n * n - F.col("_msq").cast("double")) / (
        n * (n - F.lit(1.0))
    )
    alpha = F.lit(1.0) - d_o / d_e

    def rnd(e):
        return F.round(e * F.lit(1e6)).cast("long").cast("double") / F.lit(
            1e6
        )

    ok = (F.col("n_ratings") >= 2) & (
        F.round(d_e * F.lit(1e6)).cast("long") > 0
    )
    zl = F.lit(0).cast("long")
    return out.where(F.col("_items_all") > 0).select(
        *g,
        F.coalesce(F.col("n_items"), zl).alias("n_items"),
        "n_excluded",
        F.coalesce(F.col("n_ratings"), zl).alias("n_ratings"),
        F.coalesce(F.col("n_categories"), zl).alias("n_categories"),
        F.when(F.col("n_ratings") >= 2, rnd(d_o)).alias("d_o"),
        F.when(F.col("n_ratings") >= 2, rnd(d_e)).alias("d_e"),
        F.when(ok, rnd(alpha)).alias("alpha"),
    )


def bh_fdr(
    df: DataFrame,
    p_col: str,
    alpha: float = 0.05,
    group_cols: list[str] | None = None,
    id_cols: list[str] | None = None,
    n_buckets: int = 64,
) -> DataFrame:
    """(id..., group..., p, reject, q_value) — Benjamini-Hochberg
    false-discovery-rate control over a table of hypothesis-test
    p-values per group: with hundreds of drift monitors (a ks_drift /
    kl_drift / psi row per source per day), thresholding each at 0.05
    guarantees a wall of false alarms; BH rejects the largest prefix
    p_(1..k*) with p_(k) <= k*alpha/m and bounds the EXPECTED FALSE
    DISCOVERY FRACTION among the alarms by alpha. q_value is the
    standard step-up q (the smallest alpha at which this test would be
    rejected): q_(k) = min_{j>=k} m*p_(j)/j, capped at 1.

    Exactness: p-values quantize ONCE to integer micro-units; the BH
    criterion is the EXACT integer comparison p_u * m <= k * alpha_u
    evaluated per distinct-p tie run at the run's LARGEST rank k =
    below + cnt (ties stand or fall together — the largest index is
    the binding one); the rejection boundary vstar = max qualifying p
    and the per-run q candidate (m * p_u) div k are exact integers
    (floor commutes with the suffix-min, so q_u is EXACTLY
    floor(1e6 * the true q) — the isotonic truncation argument).
    NULL/NaN/out-of-[0,1] p-values fail LOUD; alpha outside (0, 1)
    raises.

    Scale shape: the input is a TEST table (one row per monitor/test —
    thousands, not a corpus), so after the map-side-combinable
    (group, p) histogram and the shared _hist_prefix two-phase below-
    prefix, the suffix-min runs as one window over the distinct-p
    histogram (bounded by m) and results join back on the same
    (group, p) key. Zero Python."""
    af = float(alpha)
    if not (0.0 < af < 1.0):
        raise ValueError(f"bh_fdr: alpha must be in (0, 1), got {alpha}")
    import math

    alpha_u = int(math.floor(af * _MICRO + 0.5))
    g = list(group_cols or [])
    ids = list(id_cols or [])
    p0 = F.col(p_col).cast("double")
    s = (
        F.when(
            p0.isNull() | F.isnan(p0) | (p0 < 0) | (p0 > 1),
            F.raise_error(
                F.concat(
                    F.lit(f"bh_fdr: NULL/NaN/out-of-[0,1] {p_col}="),
                    F.coalesce(p0.cast("string"), F.lit("NULL")),
                )
            ).cast("long"),
        )
        .otherwise(F.round(p0 * _MICRO).cast("long"))
        .alias("_s")
    )
    rows = df.select(*ids, *g, s, p0.alias(p_col))
    per = (
        rows.groupBy(*g, "_s")
        .agg(F.count(F.lit(1)).cast("long").alias("pos"))
        .withColumn("neg", F.lit(0).cast("long"))
    )
    pre = _hist_prefix(per, g, n_buckets)
    tot = pre.groupBy(*g).agg(F.sum("pos").cast("long").alias("_m"))
    j = (
        pre.join(F.broadcast(tot), g)
        if g
        else pre.crossJoin(F.broadcast(tot))
    )
    k = F.col("cpos") + F.col("pos")  # the tie run's largest rank
    ok = F.col("_s") * F.col("_m") <= k * F.lit(alpha_u)
    cand = F.least(
        F.lit(_MICRO).cast("long"),
        F.expr("(_m * _s) div (cpos + pos)"),
    )
    w = (
        Window.partitionBy(*g)
        .orderBy(F.col("_s").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    qtbl = j.select(
        *g,
        "_s",
        F.min(cand).over(w).alias("_qu"),
        F.max(F.when(ok, F.col("_s"))).over(
            Window.partitionBy(*g) if g else Window.partitionBy()
        ).alias("_vstar"),
    )
    return rows.join(qtbl, [*g, "_s"]).select(
        *ids,
        *g,
        p_col,
        F.when(
            F.col("_vstar").isNotNull() & (F.col("_s") <= F.col("_vstar")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("reject"),
        F.round(F.col("_qu").cast("double") / 1e6, 6).alias("q_value"),
    )


def ab_welch_test(
    df: DataFrame,
    value_col: str,
    variant_col: str,
    control: str,
    treatment: str,
    group_cols: list[str] | None = None,
    alpha: float = 0.05,
) -> DataFrame:
    """(group..., n_c, n_t, mean_c, mean_t, diff, se, t_stat, df_welch,
    significant) — Welch's unequal-variance two-sample test (Welch
    1947) of `value_col` between two named variants per group: the
    experiment-analysis member of the eval family (the monitors say a
    metric MOVED; this says whether treatment differs from control by
    more than noise). Rows whose variant is neither name are ignored
    (documented — pre-filter if that should be an error).

    Exactness: values micro-quantize ONCE (NULL/NaN fail LOUD); per-
    variant n / sum / sum-of-squares are exact DECIMAL(38,0)/HUGEINT
    conditional sums in ONE map-side-combinable aggregate (never a
    pivot or second pass); means and diff are single correctly-rounded
    divisions of exact integers + round-6. The variance/t/df chain is
    evaluated on doubles BUILT from those exact integers in the same
    expression order in both engines: v_x = (n*SS - S^2)/(n*(n-1))
    (exact integer numerator), se = sqrt(v_c/n_c + v_t/n_t), t =
    diff_micro / se_micro, df_welch by Welch-Satterthwaite — then
    round-6, so results are bit-stable cross-engine. `significant`
    compares the ROUNDED |t| against the two-sided NORMAL critical
    value for alpha (a driver-side literal from NormalDist — the
    normal approximation; df_welch is emitted so exact-t users can
    re-threshold). Variants with n < 2 give NULL se/t/df/significant
    with counts and means (n >= 1) visible; both-arms-constant groups
    (se exactly 0) give NULL t/df/significant — t is undefined there,
    and the guard matters because ANSI Spark raises on ANY division by
    zero, doubles included (the ks_drift lesson).

    Scale shape: ONE map-side-combinable groupBy(group) corpus pass —
    zero windows, zero joins, zero Python."""
    if control == treatment:
        raise ValueError("ab_welch_test: control == treatment")
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    from statistics import NormalDist

    crit = round(NormalDist().inv_cdf(1.0 - alpha / 2.0), 6)
    g = list(group_cols or [])
    d38 = "decimal(38,0)"
    v0 = F.col(value_col).cast("double")
    x = (
        F.when(
            v0.isNull() | F.isnan(v0),
            F.raise_error(
                F.lit(f"ab_welch_test: NULL/NaN {value_col}")
            ).cast("long"),
        )
        .otherwise(F.round(v0 * 1_000_000).cast("long"))
        .alias("_x")
    )
    var = F.col(variant_col)
    base = df.where(var.isin([control, treatment])).select(
        *g, var.alias("_v"), x
    )

    def side(name: str, tag: str):
        m = F.col("_v") == name
        return [
            F.sum(m.cast("long")).cast("long").alias(f"n_{tag}"),
            F.sum(F.when(m, F.col("_x")).cast(d38)).alias(f"_s{tag}"),
            F.sum(
                F.when(m, F.col("_x").cast(d38) * F.col("_x").cast(d38))
            ).alias(f"_ss{tag}"),
        ]

    agg = base.groupBy(*g).agg(*side(control, "c"), *side(treatment, "t"))

    def mean(tag: str):
        n = F.col(f"n_{tag}")
        return F.when(
            n > 0,
            F.round(
                F.col(f"_s{tag}").cast("double")
                / (n * F.lit(1_000_000)).cast("double"),
                6,
            ),
        )

    def v(tag: str):  # micro^2 units, exact integer numerator
        n, s, ss = (
            F.col(f"n_{tag}"),
            F.col(f"_s{tag}"),
            F.col(f"_ss{tag}"),
        )
        return (n.cast(d38) * ss - s * s).cast("double") / (
            n * (n - 1)
        ).cast("double")

    nc, nt = F.col("n_c"), F.col("n_t")
    ok = (nc > 1) & (nt > 1)
    vnc = v("c") / nc.cast("double")
    vnt = v("t") / nt.cast("double")
    se_micro = F.sqrt(vnc + vnt)
    diff_micro = (
        F.col("_st") * nc.cast(d38) - F.col("_sc") * nt.cast(d38)
    ).cast("double") / (nc.cast(d38) * nt.cast(d38)).cast("double")
    t_stat = F.round(diff_micro / se_micro, 6)
    df_w = F.round(
        (vnc + vnt) * (vnc + vnt)
        / (vnc * vnc / (nc - 1).cast("double")
           + vnt * vnt / (nt - 1).cast("double")),
        6,
    )
    return agg.where((nc > 0) | (nt > 0)).select(
        *g,
        "n_c",
        "n_t",
        mean("c").alias("mean_c"),
        mean("t").alias("mean_t"),
        F.when(
            (nc > 0) & (nt > 0), F.round(diff_micro / F.lit(1e6), 6)
        ).alias("diff"),
        F.when(ok, F.round(se_micro / F.lit(1e6), 6)).alias("se"),
        # se == 0 (both arms constant): t is undefined — NULL, never a
        # /0 (ANSI raises on ANY division by zero, doubles included)
        F.when(ok & (se_micro > 0), t_stat).alias("t_stat"),
        F.when(ok & (se_micro > 0), df_w).alias("df_welch"),
        F.when(
            ok & (se_micro > 0), (F.abs(t_stat) >= F.lit(crit)).cast("long")
        ).alias("significant"),
    )
