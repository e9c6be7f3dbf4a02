"""A12-A15 — doc-level aggregates and validation gates as native Spark
expressions (whole-stage codegen; zero Python in the hot path).

Mirrors the reference's file-level metadata
(/root/reference/src/audiopro/audio/metadata.py:52-77) and signal validation
(/root/reference/src/audiopro/audio/validator.py:80-123,
audio_loader.py:106-119) over unit-scaled tokens.

Scale design: all statistics are computed in ONE pass over each row's token
array with a single `F.aggregate` carrying a struct accumulator — no
explode, no shuffle; the result is one row per input row. At 100 TB this is
a pure map stage that parallelizes with the scan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..constants import (
    CLIP_THRESHOLD,
    EPS,
    FRAME_LENGTH,
    MIN_SIGNAL_ENERGY,
    SILENCE_THRESHOLD,
    TOKEN_SCALE,
)


def _acc_struct(s: Column, sq: Column, mx: Column, nsil: Column, nclip: Column) -> Column:
    return F.struct(
        s.alias("s"), sq.alias("sq"), mx.alias("mx"), nsil.alias("nsil"), nclip.alias("nclip")
    )


def doc_stats_cols(
    tokens_col: str = "tokens", token_scale: float = TOKEN_SCALE
) -> dict[str, Column]:
    """One-pass doc statistics (metadata.py:52-77) as column expressions.

    peak = max|x|, rms = sqrt(mean x^2),
    dynamic_range_db = 20*log10((peak+eps)/(rms+eps)),
    dc_offset = mean x, silence_ratio = mean(|x|<0.001),
    potentially_clipped = sum(|x|>0.99), signal_energy = sum(x^2).
    """
    n = F.size(F.col(tokens_col))
    nd = n.cast("double")
    zero = F.lit(0.0)
    acc0 = _acc_struct(zero, zero, zero, F.lit(0).cast("long"), F.lit(0).cast("long"))

    def step(acc: Column, v: Column) -> Column:
        x = v.cast("double") / F.lit(token_scale)
        ax = F.abs(x)
        return _acc_struct(
            acc["s"] + x,
            acc["sq"] + x * x,
            F.greatest(acc["mx"], ax),
            acc["nsil"] + (ax < SILENCE_THRESHOLD).cast("long"),
            acc["nclip"] + (ax > CLIP_THRESHOLD).cast("long"),
        )

    acc = F.aggregate(F.col(tokens_col), acc0, step)
    peak = acc["mx"]
    # try_divide: NULL on empty docs (ANSI mode), coalesced to the oracle's
    # empty-doc defaults (oracle.doc_stats)
    rms = F.sqrt(F.coalesce(F.try_divide(acc["sq"], nd), F.lit(0.0)))
    return {
        "peak_amplitude": peak,
        "rms_amplitude": rms,
        "dynamic_range_db": F.lit(20.0)
        * F.log10((peak + F.lit(EPS)) / (rms + F.lit(EPS))),
        "dc_offset": F.coalesce(F.try_divide(acc["s"], nd), F.lit(0.0)),
        "silence_ratio": F.coalesce(
            F.try_divide(acc["nsil"].cast("double"), nd), F.lit(0.0)
        ),
        "potentially_clipped": acc["nclip"],
        "signal_energy": acc["sq"],
    }


def with_doc_stats(
    df: DataFrame, tokens_col: str = "tokens", token_scale: float = TOKEN_SCALE
) -> DataFrame:
    out = df
    stats = doc_stats_cols(tokens_col, token_scale)
    # single aggregate pass: materialize the accumulator once via a struct
    # column so Catalyst CSE doesn't recompute per output column
    out = out.withColumn(
        "_stats",
        F.struct(*[c.alias(k) for k, c in stats.items()]),
    )
    for k in stats:
        out = out.withColumn(k, F.col(f"_stats.{k}"))
    return out.drop("_stats")


def reject_reason_col(
    tokens_col: str = "tokens",
    token_scale: float = TOKEN_SCALE,
    frame_length: int = FRAME_LENGTH,
) -> Column:
    """Quarantine predicate (S2/S3): empty / low-energy / too-short, in the
    reference's check order (validator.py:80-123, extractor.py:122-125).
    NULL = accepted. Token payloads are integers so non-finite is impossible
    here; the kernel still guards per frame (processors.py:149-152)."""
    n = F.size(F.col(tokens_col))
    t_len = n - (n % 2)
    energy = F.aggregate(
        F.col(tokens_col),
        F.lit(0.0),
        lambda acc, v: acc
        + (v.cast("double") / F.lit(token_scale)) * (v.cast("double") / F.lit(token_scale)),
    )
    return (
        F.when(F.col(tokens_col).isNull() | (n == 0), F.lit("empty"))
        .when(energy <= F.lit(MIN_SIGNAL_ENERGY), F.lit("low_energy"))
        .when(t_len < frame_length, F.lit("too_short"))
        .otherwise(F.lit(None).cast("string"))
    )


# doc_profile_fused's statistics, in output order, with their DDL types
DOC_STATS = (
    ("peak_amplitude", "double"),
    ("rms_amplitude", "double"),
    ("dynamic_range_db", "double"),
    ("dc_offset", "double"),
    ("silence_ratio", "double"),
    ("potentially_clipped", "long"),
    ("signal_energy", "double"),
)
# the J2 enrichment: the doc statistics every frame row carries
DOC_ENRICH_COLS = ("rms_amplitude", "dynamic_range_db")


def doc_profile_np(
    tokens,
    token_scale: float = TOKEN_SCALE,
    frame_length: int = FRAME_LENGTH,
) -> tuple[dict, str | None]:
    """The per-doc arithmetic of doc_profile_fused on ONE token array
    (None = NULL tokens): (DOC_STATS name -> value, reject_reason), NULL
    reason = accepted. The fused kernel (fused.py) calls this same helper
    for its quarantine verdict and the per-frame J2 columns, so frames,
    doc_metadata and quarantine cannot drift apart (the reason
    kernel.mask_kernel_outputs exists)."""
    # NULL tokens quarantine as 'empty' like the expression twin
    # reject_reason_col — never a np.asarray TypeError that kills the
    # whole stage on one bad row
    toks = (
        np.zeros(0, dtype=np.float64)
        if tokens is None
        else np.asarray(tokens, dtype=np.float64)
    )
    x = toks / token_scale
    n = len(x)
    if n == 0:
        return {name: 0 if t == "long" else 0.0 for name, t in DOC_STATS}, "empty"
    ax = np.abs(x)
    peak = float(ax.max())
    energy = float(np.dot(x, x))
    rms = float(np.sqrt(energy / n))
    stats = {
        "peak_amplitude": peak,
        "rms_amplitude": rms,
        "dynamic_range_db": float(20.0 * np.log10((peak + EPS) / (rms + EPS))),
        "dc_offset": float(x.mean()),
        "silence_ratio": float(np.mean(ax < SILENCE_THRESHOLD)),
        "potentially_clipped": int(np.sum(ax > CLIP_THRESHOLD)),
        "signal_energy": energy,
    }
    if not np.isfinite(x).all():
        reason = "nonfinite"
    elif energy <= MIN_SIGNAL_ENERGY:
        reason = "low_energy"
    elif n - (n % 2) < frame_length:
        reason = "too_short"
    else:
        reason = None
    return stats, reason


def doc_profile_fused(
    seqs: DataFrame,
    token_scale: float = TOKEN_SCALE,
    frame_length: int = FRAME_LENGTH,
    carry_cols: tuple[str, ...] = ("n_tok", "source"),
) -> DataFrame:
    """A12-A14 + S2/S3 in ONE vectorized mapInPandas pass: doc stats plus
    reject_reason (NULL = accepted). Same values as with_doc_stats /
    reject_reason_col (tested equal); ~10x faster than the interpreted
    Catalyst higher-order fold at 67M tokens. Use this in pipelines; the
    expression forms remain for SQL-oracle parity."""
    import pandas as pd

    carry = [c for c in carry_cols if c in seqs.columns]
    ddl = (
        f"doc_id {seqs.schema['doc_id'].dataType.simpleString()}"
        + "".join(f", {c} {dict(seqs.dtypes)[c]}" for c in carry)
        + "".join(f", {name} {t}" for name, t in DOC_STATS)
        + ", reject_reason string"
    )
    columns = ["doc_id", *carry, *(name for name, _ in DOC_STATS), "reject_reason"]

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in range(len(pdf)):
                stats, reason = doc_profile_np(
                    pdf["tokens"].iloc[i], token_scale, frame_length
                )
                rows.append(
                    (pdf["doc_id"].iloc[i],
                     *[pdf[c].iloc[i] for c in carry],
                     *stats.values(), reason)
                )
            yield pd.DataFrame(rows, columns=columns)

    return seqs.select("doc_id", *carry, "tokens").mapInPandas(gen, ddl)


def exact_median_expr(sorted_array: Column) -> Column:
    """Exact median of a numeric array column (A15): element_at on the
    sorted array, interpolating even lengths — matches np.median, NOT
    percentile_approx (SURVEY.md §7 hardness (c))."""
    arr = F.array_sort(sorted_array)
    n = F.size(arr)
    mid = (n / 2).cast("int")
    odd = F.element_at(arr, mid + 1)
    even = (F.element_at(arr, mid) + F.element_at(arr, mid + 1)) / 2.0
    return F.when(n == 0, F.lit(None).cast("double")).otherwise(
        F.when(n % 2 == 1, odd).otherwise(even)
    )


def tempo_from_boundaries_expr(
    boundaries_sec: Column, assume_sorted: bool = False
) -> Column:
    """tempo = 60/median(diff(boundaries)); 0.0 when <=1 boundary or
    non-positive median (utils/audio.py:82-89; controller.py:158-184).

    assume_sorted=True when the input column is ALREADY sorted (e.g. by
    sort_array in the producing aggregate): the array_sort here is then
    not just redundant — its subtree is re-inlined at every element_at
    reference inside the transform lambda (projection collapse)."""
    b = boundaries_sec if assume_sorted else F.array_sort(boundaries_sec)
    n = F.size(b)
    diffs = F.transform(
        F.slice(b, 2, F.greatest(n - 1, F.lit(0))),
        lambda v, i: v - F.element_at(b, i + 1),
    )
    med = exact_median_expr(diffs)
    return F.when(
        (n > 1) & (med > 0), F.lit(60.0) / med
    ).otherwise(F.lit(0.0))


def corpus_percentiles(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    exact: bool = True,
) -> DataFrame:
    """Per-group value-distribution profile: count + quantiles.

    exact=True uses the sort-based `percentile` aggregate (linear
    interpolation, identical to DuckDB quantile_cont) — it buffers each
    group's values, so it is the SMALL-SCALE / oracle form. At corpus
    scale pass exact=False for `approx_percentile` (t-digest sketch,
    mergeable map-side, bounded memory) — the only shape that holds when
    one group spans billions of rows; accuracy 1/10000 relative rank."""
    v = F.col(value_col).cast("double")
    if exact:
        pct = F.percentile(v, F.lit(list(qs)))
    else:
        pct = F.approx_percentile(v, F.lit(list(qs)), F.lit(10000))
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"), pct.alias("_p")
    )
    cols = [F.col(group_col), F.col("n_docs")]
    for i, q in enumerate(qs):
        pct = q * 100.0
        # p50 / p99 / p100; non-integer percents like 0.999 -> p99_9
        name = (
            f"p{int(pct)}" if float(pct).is_integer()
            else "p" + repr(round(pct, 4)).replace(".", "_")
        )
        cols.append(F.round(F.element_at("_p", i + 1), 6).alias(name))
    return agg.select(*cols)


def distinct_profile(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    exact: bool = True,
    rsd: float = 0.02,
) -> DataFrame:
    """Per-group vocabulary-cardinality profile: doc count + distinct
    word count — the per-source diversity signal corpus curation uses to
    spot low-entropy / templated sources.

    exact=True is the oracle form (COUNT(DISTINCT ...) — one shuffle on
    (group, word), fine while per-group vocab fits the agg hash map).
    exact=False is the CORPUS-SCALE form: approx_count_distinct's
    HyperLogLog++ sketch is fixed-size and merges map-side, so a source
    spanning billions of rows costs O(1) memory per partition; `rsd` is
    the standard-error knob (pytest pins approx within a few % of
    exact)."""
    w = df.select(
        F.col(group_col), F.explode(F.split(F.col(text_col), " ")).alias("_w")
    ).where(F.col("_w") != "")
    n_docs = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    if exact:
        dv = w.groupBy(group_col).agg(
            F.countDistinct("_w").alias("n_distinct_words")
        )
    else:
        dv = w.groupBy(group_col).agg(
            F.approx_count_distinct("_w", rsd=rsd).alias("n_distinct_words")
        )
    # LEFT join + coalesce(0): a group whose docs are all empty/whitespace
    # is the WORST low-entropy source and must appear as n_distinct=0,
    # not vanish from the report (an inner join would hide exactly the
    # degenerate case this profile exists to surface)
    return n_docs.join(dv, group_col, "left").select(
        group_col,
        F.col("n_docs").cast("long").alias("n_docs"),
        F.coalesce(F.col("n_distinct_words"), F.lit(0))
        .cast("long")
        .alias("n_distinct_words"),
    )


def trimmed_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k_sigma: float = 2.0,
) -> DataFrame:
    """A17 — ±kσ outlier-trimmed avg/peak per group: the data-parallel
    analog of the reference monitor's summary statistics
    (/root/reference/src/audiopro/monitor/monitor.py:99-129), which drops
    samples more than 2 population-σ from the mean before reporting
    avg/peak CPU.

    Two aggregate passes over the fact table sharing one scan lineage:
    pass 1 computes per-group (mean, σ_pop, n) — a tiny result that is
    BROADCAST back onto the facts, so the trim filter is a map-side
    predicate, not a shuffle; pass 2 re-aggregates the kept rows. At
    corpus scale this is two hash-agg shuffles on the (low-cardinality)
    group key and zero wide joins. Mirrors the reference's "or cpu"
    fallback: a degenerate group (σ=0, all values equal) keeps every row
    via the EXPLICIT _sd=0 branch — relying on |v-mean| <= 0 alone is
    wrong, because avg() (plain sum/count) can land an ulp off the common
    value while stddev_pop (Welford) is exactly 0, which would silently
    drop the entire group.
    """
    v = F.col(value_col).cast("double")
    stats = df.groupBy(group_col).agg(
        F.avg(v).alias("_mean"),
        F.stddev_pop(v).alias("_sd"),
        F.count(F.lit(1)).alias("_n"),
    )
    kept = df.join(F.broadcast(stats), group_col).where(
        (F.col("_sd") == 0)
        | (F.abs(v - F.col("_mean")) <= F.lit(float(k_sigma)) * F.col("_sd"))
    )
    return kept.groupBy(group_col).agg(
        F.max("_n").cast("long").alias("n_samples"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.round(F.avg(v), 6).alias("avg_value"),
        F.round(F.max(v), 6).alias("peak_value"),
    )


def source_drift_psi(
    df: DataFrame,
    value_col: str = "n_chars",
    group_col: str = "source",
    bucket_width: int = 100,
    n_buckets: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Per-group distribution drift vs the REST of the corpus as a
    Population Stability Index — the standard mixture-shift monitor for a
    training-data pipeline (one number per source per epoch; the data-side
    sibling of the reference's host-performance monitor, monitor.py:1).

    Spec: bucket = least(floor(value/width), n_buckets-1) (integer
    bucketing — no float hazard); p_b = source's bucket share, q_b = the
    rest-of-corpus bucket share, both floored at `eps` over the FIXED
    0..n_buckets-1 spine (empty buckets count as eps, the classic PSI
    smoothing); PSI = sum_b (p_b - q_b) * ln(p_b / q_b). A group equal to
    the whole corpus gets q_b = eps everywhere. NULL groups are coalesced
    to the sentinel '__null__' BEFORE grouping (the null-equi-join trap).

    100-TB shape: ONE map-side-combinable (group, bucket) count shuffle;
    everything after runs on the (n_groups x n_buckets) aggregate —
    spine cross-join, rest-of-corpus subtraction, and the PSI fold are
    all tiny. Output: (group, psi) — n_groups rows.
    """
    g = F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
    b = (
        F.least(
            F.floor(F.col(value_col).cast("double") / F.lit(float(bucket_width))),
            F.lit(n_buckets - 1),
        )
        .cast("int")
        .alias("bucket")
    )
    counts = (
        df.select(g.alias("grp"), b)
        .groupBy("grp", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        # counts is the ONE corpus-scale shuffle and every downstream
        # node (spine distinct, the left join, tot_g/tot_b/n_tot, the
        # PSI fold) consumes it — without truncation each consumer
        # re-ran the full corpus scan+aggregate (8 FileScans in the
        # measured plan). The table is bounded at n_groups x n_buckets
        # rows, so the lazy checkpoint is free next to the passes it
        # removes; values are unchanged.
        .localCheckpoint(eager=False)
    )
    spine = (
        counts.select("grp")
        .distinct()
        .crossJoin(
            df.sparkSession.range(n_buckets).select(
                F.col("id").cast("int").alias("bucket")
            )
        )
    )
    full = spine.join(counts, ["grp", "bucket"], "left").select(
        "grp", "bucket", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    tot_g = full.groupBy("grp").agg(F.sum("c").alias("n_g"))
    tot_b = full.groupBy("bucket").agg(F.sum("c").alias("c_all"))
    n_tot = full.agg(F.sum("c").alias("n_all"))
    e = F.lit(float(eps))
    joined = (
        full.join(F.broadcast(tot_g), "grp")
        .join(F.broadcast(tot_b), "bucket")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "grp",
            F.greatest(F.col("c") / F.col("n_g"), e).alias("p"),
            F.when(F.col("n_all") - F.col("n_g") == 0, e)
            .otherwise(
                F.greatest(
                    (F.col("c_all") - F.col("c"))
                    / (F.col("n_all") - F.col("n_g")),
                    e,
                )
            )
            .alias("q"),
        )
    )
    # each PSI term is rounded ONCE to integer micro-nats and the terms
    # sum as exact BIGINTs (the bigram_surprisal/DSIR/KL rule: an
    # engine-order float sum exposed to the oracle hash can flip a
    # round-6 boundary with partitioning); one final division
    term = F.round(
        (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")) * F.lit(1e6)
    ).cast("long")
    return (
        joined.groupBy("grp")
        .agg(
            F.round(F.sum(term).cast("double") / F.lit(1e6), 6).alias("psi")
        )
        .select(F.col("grp").alias(group_col), "psi")
    )


def _lex_divergence_pq(
    df: DataFrame,
    text_col: str,
    group_col: str,
    top_n: int,
    eps: float,
):
    """Shared spine / p / q construction for source_kl_divergence and
    source_js_divergence (extracted in r5 per VERDICT r4 item #5, once
    kl_drift had left the driver window; the two operators' overlap
    stays pinned equal by test). Returns (joined, tot_g):

    - joined: one row per (group, head word) with the eps-floored
      shares p (the source's share of its own top-N token total) and
      q (the rest-of-corpus share of its top-N total), over the global
      top-N-by-(count DESC, word ASC) word spine; every source present
      in the corpus emits rows even with zero head overlap (all-eps p).
    - tot_g: (grp, n_g) — each source's head-word token total, for the
      n_head_toks output column.

    100-TB shape (unchanged from the pre-merge twins): one (group,
    word) count shuffle immediately pruned by the broadcast top-N
    spine; head / counts / groups are the three checkpointed bounded
    tables (without the checkpoints every downstream consumer re-ran
    the whole scan+explode subtree — 16 corpus passes measured)."""
    g = F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
    tok = df.select(
        g.alias("grp"),
        F.explode(F.split(F.col(text_col), " ")).alias("word"),
    ).where(F.col("word") != "")
    head = (
        tok.groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("c_all"))
        .orderBy(F.desc("c_all"), F.asc("word"))
        .limit(top_n)
        .localCheckpoint(eager=False)
    )
    counts = (
        tok.join(F.broadcast(head.select("word")), "word")
        .groupBy("grp", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    # group spine without a third explode: a source has a row in tok
    # iff at least one of its docs has a nonempty word — the same set,
    # from a narrow scan (NULL text: size(NULL)=-1, excluded, matching
    # explode-of-NULL; '' splits to [''] which filters empty)
    has_word = (
        F.size(
            F.filter(F.split(F.col(text_col), " "), lambda x: x != F.lit(""))
        )
        > 0
    )
    groups = (
        df.where(has_word)
        .select(g.alias("grp"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    spine = groups.crossJoin(F.broadcast(head))
    full = spine.join(counts, ["grp", "word"], "left").select(
        "grp",
        "word",
        "c_all",
        F.coalesce(F.col("c"), F.lit(0).cast("long")).alias("c"),
    )
    tot_g = full.groupBy("grp").agg(F.sum("c").alias("n_g"))
    n_tot = full.agg((F.sum("c")).alias("n_all"))
    e = F.lit(float(eps))
    joined = (
        full.join(F.broadcast(tot_g), "grp")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "grp",
            F.when(F.col("n_g") == 0, e)
            .otherwise(F.greatest(F.col("c") / F.col("n_g"), e))
            .alias("p"),
            F.when(F.col("n_all") - F.col("n_g") == 0, e)
            .otherwise(
                F.greatest(
                    (F.col("c_all") - F.col("c"))
                    / (F.col("n_all") - F.col("n_g")),
                    e,
                )
            )
            .alias("q"),
        )
    )
    return joined, tot_g


def source_kl_divergence(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    top_n: int = 500,
    eps: float = 1e-9,
) -> DataFrame:
    """Per-source lexical KL divergence KL(P_source || Q_rest) over the
    corpus' global top-N words — the mixture-shift monitor PSI
    (source_drift_psi) can't provide: PSI buckets a scalar, KL compares
    the actual token distributions, the quantity mixture-balancing /
    DoReMi-style reweighting reasons about.

    Spec (fully deterministic, engine-portable):
    - vocabulary spine = global top-N words by (corpus count DESC, word
      ASC) — bounded and broadcastable, the standard restrict-to-head
      trick (the tail's KL mass is negligible and unstable);
    - p_w = source's share of its OWN top-N token total, q_w = the
      rest-of-corpus share of ITS top-N total, both floored at eps over
      the fixed spine (empty cells count as eps); the spine covers
      EVERY source present in the corpus — a source sharing none of
      the top-N words still emits a row (all-eps p, n_head_toks = 0,
      KL ~ a few negative micro-nats), it never silently vanishes;
    - each term p_w * ln(p_w / q_w) is rounded ONCE to integer
      micro-nats and the terms are summed as exact BIGINTs — the
      bigram_surprisal/DSIR rule: never expose an engine-order float
      sum to the oracle hash.

    100-TB shape: one (group, word) count shuffle that the spine join
    immediately prunes to n_groups x top_n rows; the global head is one
    map-side-combinable word count + a top-N broadcast (the shared
    _lex_divergence_pq builder — see its docstring for the checkpoint
    rationale). Output one row per source: (group, kl_micronats,
    n_terms, n_head_toks)."""
    joined, tot_g = _lex_divergence_pq(df, text_col, group_col, top_n, eps)
    term = F.col("p") * F.log(F.col("p") / F.col("q"))
    return (
        joined.groupBy("grp")
        .agg(
            F.sum(F.round(term * F.lit(1e6)).cast("long")).alias(
                "kl_micronats"
            ),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
        )
        .join(F.broadcast(tot_g), "grp")
        .select(
            F.col("grp").alias(group_col),
            "kl_micronats",
            "n_terms",
            F.col("n_g").alias("n_head_toks"),
        )
    )


def source_js_divergence(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    top_n: int = 500,
    eps: float = 1e-9,
) -> DataFrame:
    """(group, jsd_micronats, jsd_norm, n_terms, n_head_toks) —
    per-source lexical Jensen-Shannon divergence JSD(P_source ||
    Q_rest) over the corpus' global top-N words: the SYMMETRIC,
    BOUNDED member of the drift family (KL is unbounded and
    direction-dependent — a near-empty cell can blow it up; JSD =
    (KL(P||M) + KL(Q||M))/2 with M the midpoint never exceeds ln 2,
    so thresholds transfer across sources and releases). jsd_norm =
    jsd / ln 2 puts it on [0, 1] (per-term micro rounding can
    overshoot by a few 1e-6 on a saturated source — reported as-is,
    the kl_drift convention). The spine / p / q construction is
    source_kl_divergence's — the shared _lex_divergence_pq builder
    (global top-N head by (count DESC, word ASC), eps-floored shares,
    every source emits a row), extracted in r5 once kl_drift left the
    driver window; the two operators' overlap stays pinned equal by
    test.

    Exactness: each term (p ln(p/m) + q ln(q/m)) * 0.5 with
    m = (p + q) / 2 is evaluated in ONE fixed expression order,
    rounded once to integer micro-nats and summed exactly; jsd_norm
    is one division of the exact micronat integer by the driver-side
    ln(2) literal, micro-rounded (scale-0).

    100-TB shape: identical to source_kl_divergence — one (group,
    word) count shuffle pruned by the broadcast spine; three
    checkpointed bounded tables."""
    import math

    joined, tot_g = _lex_divergence_pq(df, text_col, group_col, top_n, eps)
    m = (F.col("p") + F.col("q")) / F.lit(2.0)
    term = (
        F.col("p") * F.log(F.col("p") / m)
        + F.col("q") * F.log(F.col("q") / m)
    ) * F.lit(0.5)
    ln2 = math.log(2.0)
    agg = (
        joined.groupBy("grp")
        .agg(
            F.sum(F.round(term * F.lit(1e6)).cast("long")).alias(
                "jsd_micronats"
            ),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
        )
        .join(F.broadcast(tot_g), "grp")
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "jsd_micronats",
        (
            F.round(
                F.col("jsd_micronats").cast("double") / F.lit(ln2)
            ).cast("long")
        ).cast("double")
        .alias("_jn_u"),
        "n_terms",
        F.col("n_g").alias("n_head_toks"),
    ).select(
        group_col,
        "jsd_micronats",
        (F.col("_jn_u") / F.lit(1e6)).alias("jsd_norm"),
        "n_terms",
        "n_head_toks",
    )


def zipf_slope(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    top_n: int = 200,
) -> DataFrame:
    """Per-source Zipf exponent: the least-squares slope of ln(freq) on
    ln(rank) over the source's top-N words — natural text sits near -1;
    a source drifting toward 0 is boilerplate/templated (flat head), one
    plunging past -1.5 is degenerate repetition. A standard one-number
    corpus-health profile (Zipf 1949; public diagnostic).

    Determinism: rank = row_number over (count DESC, word ASC) (total
    order, no tie ambiguity); ln(rank) and ln(freq) are each rounded
    ONCE to integer micro-nats; Sx, Sy, Sxy, Sxx accumulate as exact
    BIGINTs (each sum < 2^63 up to top_n ~ 10^4 even at web-scale head
    counts), then EACH SUM is cast to double before the n*Sxy - Sx*Sy
    combination — the BIGINT products would overflow from top_n ~500
    with large corpora, and the per-factor-cast f64 expression tree is
    identical on both engines (the DuckDB twin casts the same way), so
    round-6 parity holds with no order-dependent float accumulation.
    The rank window partitions by source — never a global sort.

    100-TB shape: one (group, word) count shuffle, a per-group top-N
    window (WindowGroupLimit pushes the limit into the shuffle), then a
    tiny exact-integer groupBy."""
    from pyspark.sql import Window

    g = F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
    counts = (
        df.select(
            g.alias("grp"),
            F.explode(F.split(F.col(text_col), " ")).alias("word"),
        )
        .where(F.col("word") != "")
        .groupBy("grp", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.partitionBy("grp").orderBy(F.desc("c"), F.asc("word"))
    ranked = counts.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= top_n
    )
    x = F.round(F.log(F.col("rank").cast("double")) * F.lit(1e6)).cast("long")
    y = F.round(F.log(F.col("c").cast("double")) * F.lit(1e6)).cast("long")
    s = ranked.select("grp", x.alias("x"), y.alias("y")).groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    num = nd * F.col("sxy").cast("double") - sxd * F.col("sy").cast("double")
    den = nd * F.col("sxx").cast("double") - sxd * sxd
    return s.select(
        F.col("grp").alias(group_col),
        F.col("n").alias("n_ranks"),
        F.when(den != 0, F.round(num / den, 6)).alias("slope"),
    )


def tokenizer_fertility(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-source tokenizer fertility / compression profile — the
    sanity dashboard every tokenizer change is judged by before a
    training run (fertility = pieces per word; compression = chars per
    piece). A source whose fertility spikes is mis-tokenized (wrong
    script, mojibake, code-as-prose) long before loss curves show it.

    Columns: n_docs, n_words, n_pieces (bpe-ish), n_chars, plus round-6
    ratios fertility (pieces/word), chars_per_piece, words_per_doc.

    Scale: one narrow map (per-row word/piece/char counts folded JVM-side,
    no explode) + ONE groupBy(source) of exact integer sums; ratios are
    single IEEE divisions of those exact integers, so the DuckDB twin
    matches bit-for-bit. NULL sources aggregate under the '__none__'
    sentinel instead of vanishing into a NULL group key."""
    from ..functions.text import bpe_ish_token_count, nonempty_words

    ws = nonempty_words(F.col(text_col))
    per_doc = df.select(
        F.coalesce(F.col(group_col), F.lit("__none__")).alias(group_col),
        F.size(ws).cast("long").alias("_nw"),
        bpe_ish_token_count(F.col(text_col)).alias("_npc"),
        F.aggregate(
            ws, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        ).alias("_nch"),
    )
    g = per_doc.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_nw").alias("n_words"),
        F.sum("_npc").alias("n_pieces"),
        F.sum("_nch").alias("n_chars"),
    )
    def ratio(num, den, name):
        # explicit zero-denominator NULL: Spark's non-ANSI x/0 -> NULL but
        # DuckDB's double division returns inf — pin both to NULL
        return F.when(
            F.col(den) > 0, F.round(F.col(num).cast("double") / F.col(den).cast("double"), 6)
        ).alias(name)

    return g.select(
        group_col,
        "n_docs",
        "n_words",
        "n_pieces",
        "n_chars",
        ratio("n_pieces", "n_words", "fertility"),
        ratio("n_chars", "n_pieces", "chars_per_piece"),
        ratio("n_words", "n_docs", "words_per_doc"),
    )


def padding_waste(
    df: DataFrame,
    count_col: str = "n_tok",
    context_len: int = 2048,
    group_col: str = "source",
) -> DataFrame:
    """Batch-shape planner: per group, how many pad tokens each batching
    strategy burns at a given context length — the number that decides
    whether a corpus needs sequence packing (pack_shards) before training.

      pad_naive  = sum(ceil(n / L) * L - n)   (every doc padded up to a
                   whole number of L-token contexts — the per-example
                   batching most loaders default to)
      pad_packed = ceil(sum(n) / L) * L - sum(n)   (concat-and-chunk
                   lower bound: only the final context is padded)
      efficiency_* = real tokens / padded tokens, round-6

    All exact BIGINT integer arithmetic (ceil(n/L)*L via the modulo
    identity (n+L-1) - ((n+L-1) % L)) up
    to the two final ratio divisions, so the DuckDB twin is
    hash-identical. One map-side-combinable groupBy — no shuffle beyond
    the aggregate's own exchange, no window. NULL/negative counts are
    excluded (counted in n_bad so the exclusion is visible, never
    silent); NULL group -> '__none__' sentinel like tokenizer_fertility."""
    if context_len <= 0:
        raise ValueError(f"context_len must be positive (got {context_len})")
    n = F.col(count_col).cast("long")
    ok = n.isNotNull() & (n >= 0)
    lit_l = F.lit(int(context_len)).cast("long")
    # ceil(n/L)*L exactly, in integers:
    # (n + L - 1) - ((n + L - 1) % L) == floor((n+L-1)/L) * L
    padded = (n + lit_l - 1) - F.pmod(n + lit_l - 1, lit_l)
    g = (
        df.select(
            F.coalesce(F.col(group_col), F.lit("__none__")).alias(group_col),
            n.alias("_n"),
            ok.alias("_ok"),
            F.when(ok, padded).alias("_pad"),
        )
        .groupBy(group_col)
        .agg(
            F.sum(F.when(F.col("_ok"), 1).otherwise(0)).cast("long").alias("n_docs"),
            F.sum(F.when(~F.col("_ok"), 1).otherwise(0)).cast("long").alias("n_bad"),
            F.sum(F.when(F.col("_ok"), F.col("_n"))).cast("long").alias("n_tokens"),
            F.sum("_pad").cast("long").alias("_naive_total"),
        )
    )
    packed_total = (
        (F.col("n_tokens") + lit_l - 1)
        - F.pmod(F.col("n_tokens") + lit_l - 1, lit_l)
    )
    return g.select(
        group_col,
        "n_docs",
        "n_bad",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        (F.coalesce("_naive_total", F.lit(0)) - F.coalesce("n_tokens", F.lit(0)))
        .cast("long")
        .alias("pad_naive"),
        F.when(
            F.coalesce("n_tokens", F.lit(0)) > 0, packed_total - F.col("n_tokens")
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("pad_packed"),
        F.when(
            F.coalesce("_naive_total", F.lit(0)) > 0,
            F.round(F.col("n_tokens") / F.col("_naive_total"), 6),
        ).alias("efficiency_naive"),
        F.when(
            F.coalesce("n_tokens", F.lit(0)) > 0,
            F.round(F.col("n_tokens") / packed_total, 6),
        ).alias("efficiency_packed"),
    )


def gini_concentration(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    n_buckets: int = 1024,
) -> DataFrame:
    """(group..., n, total, gini) — the exact Gini coefficient of a
    non-negative value per group: the one-number concentration monitor
    (is a source's token mass spread across its documents or piled on
    a few boilerplate giants? is the training budget dominated by a
    handful of shards?). 0 = perfectly even, -> 1 = all mass on one
    row. The inequality companion of zipf_slope (which fits the HEAD
    shape; Gini measures whole-distribution concentration).

    Exactness: values quantize ONCE to integer micro-units
    m = round(v * 1e6) (the sample-key recipe), and the mean-absolute-
    difference identity is evaluated on the distinct-value histogram
    with EXACT integers end-to-end:

        sum_ij |x_i - x_j| / 2 = sum_sorted_i (2i - n - 1) * x_(i)
                               = sum_v m_v * c_v * (2*below_v + c_v - n)
        gini = sum_ij |x_i - x_j| / (2 * n * sum(m))
             = fold / (n * sum(m))

    (the tie run at value v occupies ranks below+1 .. below+c, and the
    arithmetic series folds to the c*(2*below + c - n) term). Products
    carry as DECIMAL(38,0) / DuckDB HUGEINT (the calibration recipe) —
    exact while m*n^2 < 1e38 — then ONE correctly-rounded division +
    round-6, bit-stable cross-engine and partitioning-free. All-zero
    groups (total = 0) give NULL gini with n/total visible.

    NULL/NaN/negative values fail LOUD (Gini is defined on
    non-negative mass; a silently-dropped row changes every rank).

    Scale shape: ONE map-side-combinable (group, m) histogram is the
    only corpus-scale pass; the below-prefix runs the epoch_shuffle
    two-phase bucketed engine (evalmetrics._hist_prefix — never a
    corpus-scale single-partition window); per-group totals aggregate
    the histogram and broadcast back. Zero Python."""
    from .evalmetrics import _hist_prefix

    g = list(group_cols or [])
    v0 = F.col(value_col).cast("double")
    m = (
        F.when(
            v0.isNull() | F.isnan(v0) | (v0 < 0),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"gini_concentration: NULL/NaN/negative {value_col}="
                    ),
                    F.coalesce(v0.cast("string"), F.lit("NULL")),
                )
            ).cast("long"),
        )
        .otherwise(F.round(v0 * 1_000_000).cast("long"))
        .alias("_s")
    )
    per = (
        df.select(*g, m)
        .groupBy(*g, "_s")
        .agg(F.count(F.lit(1)).cast("long").alias("pos"))
        .withColumn("neg", F.lit(0).cast("long"))
    )
    pre = _hist_prefix(per, g, n_buckets).localCheckpoint(eager=False)
    d38 = "decimal(38,0)"
    tot = pre.groupBy(*g).agg(
        F.sum("pos").cast("long").alias("n"),
        F.sum(F.col("_s").cast(d38) * F.col("pos").cast(d38)).alias("_tm"),
    )
    j = (
        pre.join(F.broadcast(tot), g)
        if g
        else pre.crossJoin(F.broadcast(tot))
    )
    # per-row |diff| fold: m * c * (2*below + c - n), exact DECIMAL
    term = (
        F.col("_s").cast(d38)
        * F.col("pos").cast(d38)
        * (
            2 * F.col("cpos") + F.col("pos") - F.col("n")
        ).cast(d38)
    )
    out = j.groupBy(*g).agg(
        F.max("n").alias("n"),
        F.max("_tm").alias("_tm"),
        F.sum(term).alias("_num"),
    )
    return out.where(F.col("n").isNotNull()).select(
        *g,
        F.col("n").cast("long").alias("n"),
        F.round(F.col("_tm").cast("double") / 1e6, 6).alias("total"),
        F.when(
            F.col("_tm") > 0,
            F.round(
                F.col("_num").cast("double")
                / (F.col("n").cast(d38) * F.col("_tm")).cast("double"),
                6,
            ),
        ).alias("gini"),
    )


def weight_diagnostics(
    df: DataFrame,
    weight_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group..., n, w_sum, ess, ess_frac, max_frac) — exact Kish
    effective-sample-size diagnostics of a non-negative importance /
    sampling weight per group: ess = (sum w)^2 / sum(w^2) is the
    equivalent number of EQUALLY-weighted rows (ess_frac = ess/n near
    1 -> weights are benign; near 1/n -> one row dominates, the
    estimator's variance is that of ~ess samples no matter how big n
    is). max_frac = max(w)/sum(w) names the dominance directly. The
    health check for every weighted stage (DSIR importance weights,
    temperature/unimax shares, priority-sampling inputs).

    Exactness: weights quantize ONCE to integer micro-units (the
    sample-key recipe); sums and squares carry as DECIMAL(38,0) /
    DuckDB HUGEINT (exact while m^2 < 1.7e38, i.e. micro-weights to
    ~1e19); each output is ONE correctly-rounded division of exact
    integers + round-6 — bit-stable cross-engine. All-zero groups
    give NULL ess/ess_frac/max_frac with n/w_sum visible. NULL / NaN
    / negative weights fail LOUD.

    Scale shape: ONE map-side-combinable groupBy — the whole operator
    is a single aggregate pass, zero windows, zero joins (beyond the
    implicit group shuffle), zero Python."""
    g = list(group_cols or [])
    v0 = F.col(weight_col).cast("double")
    m = (
        F.when(
            v0.isNull() | F.isnan(v0) | (v0 < 0),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"weight_diagnostics: NULL/NaN/negative"
                        f" {weight_col}="
                    ),
                    F.coalesce(v0.cast("string"), F.lit("NULL")),
                )
            ).cast("long"),
        )
        .otherwise(F.round(v0 * 1_000_000).cast("long"))
        .alias("_m")
    )
    d38 = "decimal(38,0)"
    agg = df.select(*g, m).groupBy(*g).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("_m").cast(d38)).alias("_sw"),
        F.sum((F.col("_m").cast(d38) * F.col("_m").cast(d38))).alias(
            "_sww"
        ),
        F.max("_m").cast("long").alias("_mx"),
    )
    sw = F.col("_sw")
    return agg.where(F.col("n") > 0).select(
        *g,
        "n",
        F.round(sw.cast("double") / 1e6, 6).alias("w_sum"),
        F.when(
            sw > 0,
            F.round(
                (sw * sw).cast("double") / F.col("_sww").cast("double"), 6
            ),
        ).alias("ess"),
        F.when(
            sw > 0,
            F.round(
                (sw * sw).cast("double")
                / (F.col("_sww") * F.col("n").cast(d38)).cast("double"),
                6,
            ),
        ).alias("ess_frac"),
        F.when(
            sw > 0,
            F.round(F.col("_mx").cast("double") / sw.cast("double"), 6),
        ).alias("max_frac"),
    )


def chao1_richness(
    df: DataFrame,
    term_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group..., n_tokens, n_distinct, f1, f2, chao1) — the Chao1
    species-richness estimate of a term column per group: how many
    distinct terms the group's TRUE vocabulary has, including the ones
    the sample has not yet seen (Chao 1984, bias-corrected form):

        chao1 = d + f1*(f1-1) / (2*(f2+1))

    where f1/f2 are the singleton/doubleton counts. The statistical
    companion of the sketch tier — hll/kmv estimate the SEEN distinct
    count cheaply; Chao1 estimates the UNSEEN tail (is this source's
    vocabulary saturated, or does doubling the crawl buy new words? —
    the vocabulary-growth question behind every tokenizer budget).

    Exactness: every count is an exact BIGINT; chao1 is ONE correctly-
    rounded division of exact integers (f2+1 > 0 always — the
    bias-corrected form needs no zero guard) added to an exact integer
    below 2^53, then round-6 — bit-stable cross-engine. NULL terms
    fail LOUD (a dropped token undercounts f1 — pre-filter explicitly
    if exclusion is intended).

    Scale shape: ONE map-side-combinable groupBy(group, term) corpus
    pass; the frequency-of-frequency fold aggregates that (bounded)
    table twice more at vocab then |counts| granularity. Zero windows,
    zero Python."""
    g = list(group_cols or [])
    t0 = F.col(term_col)
    t = (
        F.when(
            t0.isNull(),
            F.raise_error(
                F.lit(f"chao1_richness: NULL {term_col}")
            ).cast("string"),
        )
        .otherwise(t0.cast("string"))
        .alias("_t")
    )
    per = df.select(*g, t).groupBy(*g, "_t").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    agg = per.groupBy(*g).agg(
        F.sum("_c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum((F.col("_c") == 1).cast("long")).cast("long").alias("f1"),
        F.sum((F.col("_c") == 2).cast("long")).cast("long").alias("f2"),
    )
    return agg.where(F.col("n_distinct") > 0).select(
        *g,
        "n_tokens",
        "n_distinct",
        "f1",
        "f2",
        F.round(
            F.col("n_distinct")
            + (F.col("f1") * (F.col("f1") - 1))
            / (2 * (F.col("f2") + 1)),
            6,
        ).alias("chao1"),
    )


def robust_stats(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    k: float = 3.0,
    n_buckets: int = 1024,
) -> DataFrame:
    """(group..., n, median, mad, lo_fence, hi_fence, n_outliers,
    outlier_frac) — the exact median / MAD robust-location profile per
    group plus the Iglewicz-Hoaglin outlier gate at +-k*MAD: the
    feature-QC monitor that mean/stddev z-scores get wrong on the
    heavy-tailed distributions every corpus column has (one boilerplate
    giant moves the mean and INFLATES the stddev, hiding itself;
    median/MAD have 50% breakdown, so up to half the rows can be junk
    and the fences still stand on the clean mass).

    Exactness: values quantize ONCE to integer micro-units
    s = round(v * 1e6) (the sample-key recipe; negatives allowed —
    location stats, not mass). The median is selected by RANK off the
    distinct-value histogram prefix and carried as DOUBLED micros
    med2 = s_(rlo) + s_(rhi) with rlo = (n+1) div 2, rhi = (n+2) div 2
    (odd n: both ranks hit the same value; even n: the sum IS the
    exact doubled midpoint — no float average). The MAD repeats the
    same selection over the deviation histogram dev2 = |2s - med2| —
    built from the VALUE histogram, not the corpus (equal values have
    equal deviations), so it costs zero extra corpus passes — giving
    mad22 in quadrupled micros. Fences live in the same integer grid:
    delta4 = round(k * mad22) (ONE IEEE multiply of k by an exact
    integer rendered exactly in f64 while mad22 < 2^53, i.e. |MAD| <
    ~2.2e9 — far past any doc-stat scale; round() is half-away in both
    engines), lo4/hi4 = 2*med2 -+ delta4, and a row is an outlier iff
    4s < lo4 or 4s > hi4 — an EXACT integer comparison, so the flag is
    bit-stable cross-engine (exact while |s| < 2^61, i.e. |v| <
    ~2.3e12). Reported median/mad/fences are single round-6 divisions
    of exact integers.

    NULL/NaN values fail LOUD (a silently-dropped row shifts every
    rank). Groups where >50% of rows share one value give mad = 0 and
    fences = median — the documented Iglewicz-Hoaglin degenerate
    (everything off-median flags; the caller sees mad = 0 and decides).
    Empty global frames return zero rows (the funnel empty-frame
    rule).

    Scale shape: ONE map-side-combinable (group, s) histogram is the
    only corpus-scale pass; both rank selections run the shared
    _hist_prefix two-phase bucketed engine (never a corpus-scale
    single-partition window); medians/fences are tiny per-group tables
    broadcast back onto the bounded histogram. Zero Python."""
    from .evalmetrics import _hist_prefix

    if not (k >= 0.0 and k == k):
        raise ValueError(f"robust_stats: k must be >= 0, got {k}")
    g = list(group_cols or [])
    v0 = F.col(value_col).cast("double")
    s = (
        F.when(
            v0.isNull() | F.isnan(v0),
            F.raise_error(
                F.concat(
                    F.lit(f"robust_stats: NULL/NaN {value_col}="),
                    F.coalesce(v0.cast("string"), F.lit("NULL")),
                )
            ).cast("long"),
        )
        .otherwise(F.round(v0 * 1_000_000).cast("long"))
        .alias("_s")
    )
    per = (
        df.select(*g, s)
        .groupBy(*g, "_s")
        .agg(F.count(F.lit(1)).cast("long").alias("pos"))
        .withColumn("neg", F.lit(0).cast("long"))
        .localCheckpoint(eager=False)  # value histogram: 3 consumers
    )

    def _rank_median(hist, med_name):
        """Doubled-unit median of a (g..., _s, pos, neg) histogram via
        the two-phase prefix: med = s_(rlo) + s_(rhi)."""
        pre = _hist_prefix(hist, g, n_buckets)
        tot = pre.groupBy(*g).agg(F.sum("pos").cast("long").alias("n"))
        j = (
            pre.join(F.broadcast(tot), g)
            if g
            else pre.crossJoin(F.broadcast(tot))
        )
        rlo = F.expr("(n + 1) div 2")
        rhi = F.expr("(n + 2) div 2")
        hit = lambda r: (F.col("cpos") < r) & (  # noqa: E731
            F.col("cpos") + F.col("pos") >= r
        )
        return j.groupBy(*g).agg(
            F.max("n").alias("n"),
            (
                F.sum(F.when(hit(rlo), F.col("_s")))
                + F.sum(F.when(hit(rhi), F.col("_s")))
            )
            .cast("long")
            .alias(med_name),
        )

    med = _rank_median(per, "_med2")  # (g, n, med2) — tiny
    withmed = (
        per.join(F.broadcast(med), g)
        if g
        else per.crossJoin(F.broadcast(med))
    )
    devhist = (
        withmed.select(
            *g,
            F.abs(2 * F.col("_s") - F.col("_med2")).alias("_s"),
            "pos",
        )
        .groupBy(*g, "_s")
        .agg(F.sum("pos").cast("long").alias("pos"))
        .withColumn("neg", F.lit(0).cast("long"))
    )
    mad = _rank_median(devhist, "_mad22").drop("n")  # (g, mad22)
    fences = (
        (med.join(F.broadcast(mad), g) if g else med.crossJoin(F.broadcast(mad)))
        .select(
            *g,
            "n",
            "_med2",
            "_mad22",
            (
                2 * F.col("_med2")
                - F.round(F.lit(float(k)) * F.col("_mad22")).cast("long")
            ).alias("_lo4"),
            (
                2 * F.col("_med2")
                + F.round(F.lit(float(k)) * F.col("_mad22")).cast("long")
            ).alias("_hi4"),
        )
    )
    withf = (
        per.join(F.broadcast(fences), g)
        if g
        else per.crossJoin(F.broadcast(fences))
    )
    out = withf.groupBy(*g).agg(
        F.max("n").alias("n"),
        F.max("_med2").alias("_med2"),
        F.max("_mad22").alias("_mad22"),
        F.max("_lo4").alias("_lo4"),
        F.max("_hi4").alias("_hi4"),
        F.sum(
            F.when(
                (4 * F.col("_s") < F.col("_lo4"))
                | (4 * F.col("_s") > F.col("_hi4")),
                F.col("pos"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_outliers"),
    )
    return out.where(F.col("n").isNotNull()).select(
        *g,
        "n",
        F.round(F.col("_med2").cast("double") / 2e6, 6).alias("median"),
        F.round(F.col("_mad22").cast("double") / 4e6, 6).alias("mad"),
        F.round(F.col("_lo4").cast("double") / 4e6, 6).alias("lo_fence"),
        F.round(F.col("_hi4").cast("double") / 4e6, 6).alias("hi_fence"),
        "n_outliers",
        F.round(
            F.col("n_outliers").cast("double") / F.col("n").cast("double"), 6
        ).alias("outlier_frac"),
    )


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    id_cols: list[str] | None = None,
    n_buckets: int = 1024,
) -> DataFrame:
    """(id..., group..., value, q) — each row's tie-averaged within-
    group quantile q = midrank / n: the CDF / rank normalization that
    makes ONE global threshold mean the same thing in every source
    (a quality score's 0.8 from a lenient scorer and a strict one land
    on different corpus fractions; after quantile normalization both
    are literal keep-rates). Monotone within each group, uniform on
    (0, 1] up to ties — the per-row companion of spearman_rho (whose
    rank statistics these are) and calibration_report (which measures
    what this repairs).

    Exactness: q = (2*below + cnt + 1) / (2n) — the DOUBLED midrank of
    spearman_rho (ties share their average rank exactly; max value
    always gets q = 1.0; a singleton minimum gets 1/n) with both
    operands exact BIGINTs off the distinct-value histogram prefix,
    ONE correctly-rounded IEEE division + round-6 per row — bit-stable
    cross-engine and partitioning-free. Values quantize ONCE to
    integer micro-units (the sample-key recipe; negatives allowed).
    NULL/NaN values fail LOUD (a dropped row shifts every rank).

    Scale shape: ONE map-side-combinable (group, s) histogram + the
    shared _hist_prefix two-phase bucketed engine build the per-
    distinct-value q table; the ONLY corpus-scale join is the
    assignment join back onto the rows, an equi-join on the same
    (group, s) key the histogram aggregated on (subset-of-keys
    clustering). Zero windows over the corpus, zero Python."""
    from .evalmetrics import _hist_prefix

    g = list(group_cols or [])
    ids = list(id_cols or [])
    v0 = F.col(value_col).cast("double")
    s = (
        F.when(
            v0.isNull() | F.isnan(v0),
            F.raise_error(
                F.concat(
                    F.lit(f"quantile_normalize: NULL/NaN {value_col}="),
                    F.coalesce(v0.cast("string"), F.lit("NULL")),
                )
            ).cast("long"),
        )
        .otherwise(F.round(v0 * 1_000_000).cast("long"))
        .alias("_s")
    )
    rows = df.select(*ids, *g, s, v0.alias(value_col))
    per = (
        rows.groupBy(*g, "_s")
        .agg(F.count(F.lit(1)).cast("long").alias("pos"))
        .withColumn("neg", F.lit(0).cast("long"))
    )
    pre = _hist_prefix(per, g, n_buckets)
    tot = pre.groupBy(*g).agg(F.sum("pos").cast("long").alias("_n"))
    j = (
        pre.join(F.broadcast(tot), g)
        if g
        else pre.crossJoin(F.broadcast(tot))
    )
    qtbl = j.select(
        *g,
        "_s",
        F.round(
            (2 * F.col("cpos") + F.col("pos") + 1).cast("double")
            / (2 * F.col("_n")).cast("double"),
            6,
        ).alias("q"),
    )
    return rows.join(qtbl, [*g, "_s"]).select(*ids, *g, value_col, "q")


def ols_fit(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group..., n, slope, intercept, r) — simple linear regression
    y = slope*x + intercept per group plus the Pearson correlation:
    the trend monitor for any metric-over-covariate question (token
    counts over ingestion time, quality score over document length —
    the generic form of zipf_slope's log-log head fit, on raw values).

    Exactness: x and y quantize ONCE to integer micro-units (the
    sample-key recipe; negatives allowed) and the five sufficient
    statistics Sx, Sy, Sxx, Syy, Sxy accumulate as exact
    DECIMAL(38,0) / HUGEINT (map-side combinable, partition-order
    free). Every output is ONE correctly-rounded evaluation of exact
    integers:

        slope     = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)        [unitless]
        intercept = (Sy*Sxx - Sx*Sxy) / (n*Sxx - Sx^2) / 1e6
        r         = (n*Sxy - Sx*Sy)
                    / (sqrt(n*Sxx - Sx^2) * sqrt(n*Syy - Sy^2))

    — the closed forms keep slope OUT of the intercept (no compounded
    float), and r uses the spearman_rho two-sqrt recipe (IEEE sqrt is
    correctly rounded in both engines). Exact while n * (1e6*max|x|)^2
    * n < 1e38 — e.g. |x|,|y| <= 1e3 allows ~1e10 rows per group
    (quantize wider-range covariates down first). Constant x gives
    NULL slope/intercept/r with n visible; constant y gives r NULL.
    NULL/NaN values fail LOUD. Empty frames return zero rows.

    Scale shape: ONE map-side-combinable aggregate — the cheapest
    possible corpus pass. Zero windows, zero joins, zero Python."""
    g = list(group_cols or [])

    def micro(col):
        v0 = F.col(col).cast("double")
        return (
            F.when(
                v0.isNull() | F.isnan(v0),
                F.raise_error(
                    F.concat(
                        F.lit(f"ols_fit: NULL/NaN {col}="),
                        F.coalesce(v0.cast("string"), F.lit("NULL")),
                    )
                ).cast("long"),
            )
            .otherwise(F.round(v0 * 1_000_000).cast("long"))
        )

    d38 = "decimal(38,0)"
    rows = df.select(
        *g,
        micro(x_col).cast(d38).alias("_x"),
        micro(y_col).cast(d38).alias("_y"),
    )
    agg = rows.groupBy(*g).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    nn = F.col("n").cast(d38)
    cov = nn * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    vx = nn * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    vy = nn * F.col("_syy") - F.col("_sy") * F.col("_sy")
    inum = F.col("_sy") * F.col("_sxx") - F.col("_sx") * F.col("_sxy")
    return agg.where(F.col("n") > 0).select(
        *g,
        "n",
        F.when(
            vx > 0, F.round(cov.cast("double") / vx.cast("double"), 6)
        ).alias("slope"),
        F.when(
            vx > 0,
            F.round(
                inum.cast("double") / vx.cast("double") / F.lit(1e6), 6
            ),
        ).alias("intercept"),
        F.when(
            (vx > 0) & (vy > 0),
            F.round(
                cov.cast("double")
                / (
                    F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))
                ),
                6,
            ),
        ).alias("r"),
    )


def _ols_multi_exprs(d: int, ridge: float) -> dict:
    """Canonical expression strings for ols_multi's Cramer solve —
    the SINGLE source both the Spark operator (via F.expr) and the
    DuckDB twin render from, over the NAMED normal-equation columns
    (n; a{j}_{k} = ridged X'X entries; w{j}_{k} = raw entries;
    c{j} = X'y entries; syy_d = y'y): identical strings guarantee the
    identical IEEE evaluation tree in both engines. Cofactor
    expansion along the first row in fixed index order."""
    if not (1 <= d <= 3):
        raise ValueError(f"ols_multi: d must be in [1, 3], got {d}")
    if not (0.0 <= float(ridge) < 1e12):
        raise ValueError(f"ols_multi: bad ridge {ridge}")
    p = d + 1

    def det(m):
        k = len(m)
        if k == 1:
            return m[0][0]
        terms = []
        for j in range(k):
            minor = [
                [row[i] for i in range(k) if i != j] for row in m[1:]
            ]
            s = det(minor)
            op = "+" if j % 2 == 0 else "-"
            terms.append(f"{op} {m[0][j]} * ({s})")
        out = " ".join(terms)
        return out[2:] if out.startswith("+ ") else out

    A = [[f"a{min(j, k)}_{max(j, k)}" for k in range(p)] for j in range(p)]
    W = [[f"w{min(j, k)}_{max(j, k)}" for k in range(p)] for j in range(p)]
    C = [f"c{j}" for j in range(p)]
    det_a = f"({det(A)})"
    betas = []
    for j in range(p):
        aj = [
            [(C[r] if i == j else A[r][i]) for i in range(p)]
            for r in range(p)
        ]
        betas.append(f"(({det(aj)}) / {det_a})")
    cross = " + ".join(f"{betas[j]} * {C[j]}" for j in range(p))
    quad = " + ".join(
        "{b} * ({inner})".format(
            b=betas[j],
            inner=" + ".join(
                f"{W[j][k]} * {betas[k]}" for k in range(p)
            ),
        )
        for j in range(p)
    )
    sse = f"(syy_d - 2e0 * ({cross}) + ({quad}))"
    sst = "(syy_d - c0 * c0 / CAST(n AS DOUBLE))"
    return {"p": p, "det": det_a, "betas": betas, "sse": sse, "sst": sst}


def ols_multi(
    df: DataFrame,
    y_col: str,
    x_cols: list[str],
    group_cols: list[str] | None = None,
    ridge: float = 0.0,
) -> DataFrame:
    """(group..., n, intercept, beta1..betaD, r2) — multiple linear
    regression y = b0 + b1*x1 + ... + bD*xD per group via the normal
    equations, with optional ridge (L2 on the non-intercept
    coefficients): the engine's linear-model TRAINER — quality
    classifiers (linear probability on binned features), propensity
    models feeding ate_ipw, calibration fits — where ols_fit stops at
    one covariate and kmeans/pca are unsupervised. D is capped at 3:
    the Cramer solve's expression tree grows factorially, and a
    wide-feature model belongs in a numeric library, not a SQL plan
    (bin + target-encode features down to <= 3 first).

    Exactness: the intercept is feature x0 == 1 micro-quantized to
    exactly 1e6, so ALL normal-equation entries are uniform exact
    DECIMAL(38,0)/HUGEINT sums of micro products from ONE map-side-
    combinable aggregate (partition-order free; exact while
    n * (1e6 * max|x|)^2 < 1e38 — the ols_fit bound). The solve is
    Cramer's rule evaluated on doubles BUILT from those exact
    integers, with the expression strings generated ONCE
    (_ols_multi_exprs) and shared verbatim with the DuckDB twin —
    identical strings, identical IEEE tree, identical outputs; every
    reported number is micro-rounded with the scale-0 recipe.
    r2 = 1 - SSE/SST uses the RAW (ridge-free) moments, so under
    ridge > 0 it reports the penalized coefficients' actual fit.

    Degenerate contracts: n < p (underdetermined — X'X is singular in
    exact arithmetic even when float Cramer yields noise) or a
    float-zero determinant give NULL coefficients and r2 with n
    visible; near-singular design (collinear features) yields honest
    float garbage Cramer cannot detect — ridge > 0 is the remedy and
    the docstring's advice. Constant y gives SST = 0 -> NULL r2.
    NULL/NaN values fail LOUD.

    Scale shape: ONE map-side-combinable aggregate onto the bounded
    group table; the solve is a codegen projection over that table.
    Zero windows, zero joins, zero Python."""
    d = len(x_cols)
    ex = _ols_multi_exprs(d, ridge)
    p = ex["p"]
    g = list(group_cols or [])

    def micro(col):
        v0 = F.col(col).cast("double")
        return (
            F.when(
                v0.isNull() | F.isnan(v0),
                F.raise_error(
                    F.concat(
                        F.lit(f"ols_multi: NULL/NaN {col}="),
                        F.coalesce(v0.cast("string"), F.lit("NULL")),
                    )
                ).cast("long"),
            )
            .otherwise(F.round(v0 * 1_000_000).cast("long"))
        )

    d38 = "decimal(38,0)"
    mcols = [F.lit(1_000_000).cast(d38).alias("_m0")] + [
        micro(c).cast(d38).alias(f"_m{j + 1}")
        for j, c in enumerate(x_cols)
    ]
    rows = df.select(*g, *mcols, micro(y_col).cast(d38).alias("_my"))
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for j in range(p):
        for k in range(j, p):
            aggs.append(
                F.sum(F.col(f"_m{j}") * F.col(f"_m{k}")).alias(
                    f"_s{j}_{k}"
                )
            )
        aggs.append(
            F.sum(F.col(f"_m{j}") * F.col("_my")).alias(f"_b{j}")
        )
    aggs.append(F.sum(F.col("_my") * F.col("_my")).alias("_syy"))
    agg = rows.groupBy(*g).agg(*aggs).where(F.col("n") > 0)
    rg = float(ridge)
    named = []
    for j in range(p):
        for k in range(j, p):
            raw = F.col(f"_s{j}_{k}").cast("double") / F.lit(1e12)
            ridged = (
                raw + F.lit(rg) if (j == k and j >= 1 and rg > 0) else raw
            )
            named.append(ridged.alias(f"a{j}_{k}"))
            named.append(raw.alias(f"w{j}_{k}"))
        named.append(
            (F.col(f"_b{j}").cast("double") / F.lit(1e12)).alias(f"c{j}")
        )
    named.append(
        (F.col("_syy").cast("double") / F.lit(1e12)).alias("syy_d")
    )
    base = agg.select(*g, "n", *named)
    ok = F.expr(f"n >= {p} AND ({ex['det']}) <> 0e0")

    def rnd(e: str):
        return F.expr(f"CAST(round(({e}) * 1e6) AS BIGINT)").cast(
            "double"
        ) / F.lit(1e6)

    outs = [
        F.when(ok, rnd(ex["betas"][0])).alias("intercept"),
        *[
            F.when(ok, rnd(ex["betas"][j])).alias(f"beta{j}")
            for j in range(1, p)
        ],
        F.when(
            ok & F.expr(f"({ex['sst']}) > 0e0"),
            rnd(f"1e0 - ({ex['sse']}) / ({ex['sst']})"),
        ).alias("r2"),
    ]
    return base.select(*g, "n", *outs)


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    group_cols: list[str] | None = None,
    n_buckets: int = 1024,
) -> DataFrame:
    """(group..., n, p50, p90, ...) — EXACT distributed quantiles per
    group: the scale-correct exact path that corpus_percentiles lacks
    (its exact mode buffers every group's values in one aggregate —
    the oracle form; its corpus form is the approx t-digest). This
    form is exact AND distributed: ONE map-side-combinable
    (group, value) histogram pass + the shared _hist_prefix two-phase
    bucketed below-prefix + rank selection — no per-group buffering,
    no corpus-scale single-partition window, no sketch error.

    Convention (explicit, engine-portable): type-1 / inverted-CDF
    lower quantiles — rank r = max(1, ceil(q * n)) and the quantile is
    the value whose tie run covers r (below < r <= below + cnt). An
    ACTUAL data value, never an interpolation (matches numpy
    method='inverted_cdf'; deliberately NOT the percentile()/
    quantile_cont linear interpolation — interpolated values are
    float-blend artifacts, selection is rank-exact at any scale).
    ceil is exact integer arithmetic on micro-quantized q:
    r = (q_u * n + 1e6 - 1) div 1e6.

    Values micro-quantize ONCE (the sample-key recipe; negatives
    allowed); outputs are single round-6 divisions of the selected
    exact micro integers. NULL/NaN values fail LOUD; empty frames
    return zero rows. Column naming matches corpus_percentiles
    (p50 / p99 / p99_9)."""
    from .evalmetrics import _hist_prefix

    if not qs or any(not (0.0 < q <= 1.0) for q in qs):
        raise ValueError(
            f"exact_quantiles: qs must be in (0, 1], got {qs}"
        )
    g = list(group_cols or [])
    v0 = F.col(value_col).cast("double")
    s = (
        F.when(
            v0.isNull() | F.isnan(v0),
            F.raise_error(
                F.concat(
                    F.lit(f"exact_quantiles: NULL/NaN {value_col}="),
                    F.coalesce(v0.cast("string"), F.lit("NULL")),
                )
            ).cast("long"),
        )
        .otherwise(F.round(v0 * 1_000_000).cast("long"))
        .alias("_s")
    )
    per = (
        df.select(*g, s)
        .groupBy(*g, "_s")
        .agg(F.count(F.lit(1)).cast("long").alias("pos"))
        .withColumn("neg", F.lit(0).cast("long"))
    )
    pre = _hist_prefix(per, g, n_buckets)
    tot = pre.groupBy(*g).agg(F.sum("pos").cast("long").alias("n"))
    j = (
        pre.join(F.broadcast(tot), g)
        if g
        else pre.crossJoin(F.broadcast(tot))
    )
    import math

    aggs = [F.max("n").alias("n")]
    names = []
    for q in qs:
        qu = int(math.floor(float(q) * 1_000_000 + 0.5))
        pct = float(q) * 100.0
        name = (
            f"p{int(pct)}"
            if float(pct).is_integer()
            else "p" + repr(round(pct, 4)).replace(".", "_")
        )
        r = F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"(n * {qu} + 999999) div 1000000"),
        )
        aggs.append(
            F.sum(
                F.when(
                    (F.col("cpos") < r)
                    & (F.col("cpos") + F.col("pos") >= r),
                    F.col("_s"),
                )
            )
            .cast("long")
            .alias(f"_{name}")
        )
        names.append(name)
    out = j.groupBy(*g).agg(*aggs)
    return out.where(F.col("n").isNotNull()).select(
        *g,
        "n",
        *[
            F.round(F.col(f"_{nm}").cast("double") / 1e6, 6).alias(nm)
            for nm in names
        ],
    )


def quantile_bin_qus(n_bins: int) -> list[int]:
    """The micro-quantized boundary quantiles of quantile_bin — the
    SINGLE source both the operator and its DuckDB twin render from
    (Python round() half-even ties on b*1e6/n_bins would desync two
    independent copies; here there is exactly one)."""
    if not (2 <= n_bins <= 64):
        raise ValueError(
            f"quantile_bin: n_bins must be in [2, 64], got {n_bins}"
        )
    return [round(b * 1_000_000 / n_bins) for b in range(1, n_bins)]


def quantile_bin(
    df: DataFrame,
    value_col: str,
    id_col: str,
    group_cols: list[str] | None = None,
    n_bins: int = 4,
    n_buckets: int = 1024,
) -> DataFrame:
    """(group..., id, v, bin, b_lo, b_hi) — per-row EQUAL-FREQUENCY
    discretization at each group's EXACT type-1 quantiles: boundary b
    (b = 1..n_bins-1) is the group's b/n_bins quantile and a row lands
    in bin = #{b : v > bound_b} (upper-inclusive bins, so bin 0 is
    v <= Q(1/n_bins) and bin n_bins-1 is v > Q((n_bins-1)/n_bins)).
    The categorical-feature companion of winsorize's clamp and
    quantile_normalize's midrank: downstream target encoders /
    contingency tests / monotone-binned monitors consume the bin id,
    not the raw heavy-tailed value. b_lo/b_hi expose the row's own bin
    edges (NULL at the open ends) so the binning is self-describing.

    Quantile convention is exact_quantiles' verbatim: type-1 /
    inverted-CDF rank r = max(1, ceil(q*n)) in exact integer
    arithmetic off the distinct-value histogram + the shared
    `_hist_prefix` engine. Boundaries are ACTUAL data values and bin
    assignment is an exact integer compare in micro space — bit-stable
    cross-engine, and monotone in v by construction. Heavy ties
    collapse boundaries (several quantiles equal), which honestly
    EMPTIES the intermediate bins rather than splitting a tie run:
    equal values always share a bin (pytest-pinned). NULL/NaN values
    and NULL ids fail LOUD; empty frames yield zero rows.

    Scale shape: ONE map-side-combinable (group, value) histogram
    corpus pass + the bounded two-phase prefix; the only corpus-scale
    join is the row join-back on the BROADCAST group-bounds table
    (group-cardinality rows, n_bins-1 bound columns). Zero corpus
    windows, zero Python. n_bins is capped at 64 — each boundary is a
    bound column and a per-row compare, so the plan grows linearly
    with n_bins (beyond that, bin on a sketch, not an exact rank).

    Reference parity: the reference bins features for its monitoring
    histograms driver-side (src/audiopro/monitor/handlers.py); this is
    the distributed exact-rank form."""
    from .evalmetrics import _hist_prefix

    qus = quantile_bin_qus(n_bins)
    g = list(group_cols or [])
    v0 = F.col(value_col).cast("double")
    s = (
        F.when(
            v0.isNull() | F.isnan(v0),
            F.raise_error(
                F.concat(
                    F.lit(f"quantile_bin: NULL/NaN {value_col}="),
                    F.coalesce(v0.cast("string"), F.lit("NULL")),
                )
            ).cast("long"),
        )
        .otherwise(F.round(v0 * 1_000_000).cast("long"))
        .alias("_s")
    )
    rid = (
        F.when(
            F.col(id_col).isNull(),
            F.raise_error(F.lit(f"quantile_bin: NULL {id_col}")).cast(
                "string"
            ),
        )
        .otherwise(F.col(id_col).cast("string"))
        .alias("id")
    )
    rows = df.select(*g, rid, s).localCheckpoint(eager=False)
    per = (
        rows.groupBy(*g, "_s")
        .agg(F.count(F.lit(1)).cast("long").alias("pos"))
        .withColumn("neg", F.lit(0).cast("long"))
    )
    pre = _hist_prefix(per, g, n_buckets)
    tot = pre.groupBy(*g).agg(F.sum("pos").cast("long").alias("n"))
    j = (
        pre.join(F.broadcast(tot), g)
        if g
        else pre.crossJoin(F.broadcast(tot))
    )

    def pick(qu: int, alias: str):
        r = F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"(n * {qu} + 999999) div 1000000"),
        )
        return (
            F.sum(
                F.when(
                    (F.col("cpos") < r)
                    & (F.col("cpos") + F.col("pos") >= r),
                    F.col("_s"),
                )
            )
            .cast("long")
            .alias(alias)
        )

    bounds = j.groupBy(*g).agg(
        *[pick(qu, f"_b{i}") for i, qu in enumerate(qus)]
    )
    withb = (
        rows.join(F.broadcast(bounds), g)
        if g
        else rows.crossJoin(F.broadcast(bounds))
    )
    bin_expr = sum(
        (
            F.when(F.col("_s") > F.col(f"_b{i}"), 1).otherwise(0)
            for i in range(len(qus))
        ),
        F.lit(0),
    ).cast("long")
    withbin = withb.withColumn("_bin", bin_expr)
    # the row's own bin edges: b_lo = bound_{bin} (open for bin 0),
    # b_hi = bound_{bin+1} (open for the last bin)
    lo_expr = F.lit(None).cast("long")
    hi_expr = F.lit(None).cast("long")
    for i in range(len(qus)):
        lo_expr = F.when(
            F.col("_bin") == i + 1, F.col(f"_b{i}")
        ).otherwise(lo_expr)
        hi_expr = F.when(F.col("_bin") == i, F.col(f"_b{i}")).otherwise(
            hi_expr
        )
    return withbin.select(
        *g,
        "id",
        F.round(F.col("_s").cast("double") / 1e6, 6).alias("v"),
        F.col("_bin").alias("bin"),
        F.round(lo_expr.cast("double") / 1e6, 6).alias("b_lo"),
        F.round(hi_expr.cast("double") / 1e6, 6).alias("b_hi"),
    )


def hill_tail_index(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    k: int = 100,
    n_buckets: int = 1024,
) -> DataFrame:
    """(group..., n, k_eff, x_k1, alpha) — the Hill estimator of the
    heavy-tail exponent (Hill 1975): over the k largest values x_(1)
    >= ... >= x_(k) with threshold x_(k+1),

        alpha_hat = k / sum_{i<=k} ln(x_(i) / x_(k+1))

    Small alpha (< 2) means a power-law tail heavy enough that means/
    variances are sample-size-unstable — the TAIL companion of
    zipf_slope's head fit and robust_stats' outlier gate (which asks
    who is extreme; this asks how extreme the extremes grow). Applied
    to doc lengths / token counts it answers whether truncation
    budgets are chasing a convergent or divergent tail.

    Exactness: values micro-quantize ONCE; NULL/NaN/non-positive fail
    LOUD (ln needs x > 0 — and a value that rounds to 0 micros is
    rejected the same way). Order statistics come from the distinct-
    value histogram, so ties are handled by MULTISET semantics (which
    tied copy is "rank k" cannot matter — their ln terms are equal):
    x_(k+1) is the level where strictly-greater count < k+1 <=
    at-or-above count, exactly like exact_quantiles' rank selection.
    Each level's ln(x/1e6-scaled value) is evaluated on a double built
    from the exact integer in the same expression order both engines,
    rounded ONCE to integer micro-nats, and summed exactly (the
    kl_drift discipline): H = sum_{v > x_k1} cnt(v) * rln(v) -
    gc * rln(x_k1) with gc the strictly-greater count; alpha is ONE
    correctly-rounded division k_eff * 1e6 / H + round-6. k_eff =
    min(k, n-1); degenerate groups (n < 2, or every top value equal to
    the threshold, H = 0) give NULL alpha with n/k_eff/x_k1 visible.

    Scale shape: ONE map-side-combinable (group, value) histogram
    corpus pass; the below-prefix rides the shared two-phase bucketed
    `_hist_prefix` engine (never a corpus-scale single-partition
    window); threshold selection and the tail sum are bounded
    group-level joins. Zero Python."""
    from .evalmetrics import _hist_prefix

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    g = list(group_cols or [])
    v0 = F.col(value_col).cast("double")
    m = (
        F.when(
            v0.isNull() | F.isnan(v0) | (v0 <= 0)
            | (F.round(v0 * 1_000_000) < 1),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"hill_tail_index: NULL/NaN/non-positive"
                        f" {value_col}="
                    ),
                    F.coalesce(v0.cast("string"), F.lit("NULL")),
                )
            ).cast("long"),
        )
        .otherwise(F.round(v0 * 1_000_000).cast("long"))
        .alias("_s")
    )
    per = (
        df.select(*g, m)
        .groupBy(*g, "_s")
        .agg(F.count(F.lit(1)).cast("long").alias("pos"))
        .select(*g, "_s", "pos", F.lit(0).cast("long").alias("neg"))
    )
    pref = _hist_prefix(per, g, n_buckets).localCheckpoint(eager=False)
    ntab = pref.groupBy(*g).agg(F.sum("pos").cast("long").alias("n"))
    j = (
        pref.join(F.broadcast(ntab), g)
        if g
        else pref.crossJoin(F.broadcast(ntab))
    )
    k_eff = F.least(F.lit(k).cast("long"), F.col("n") - 1)
    gc = F.col("n") - F.col("cpos") - F.col("pos")  # strictly greater
    sel = j.where(
        (gc < k_eff + 1) & (k_eff + 1 <= F.col("n") - F.col("cpos"))
    ).select(
        *g,
        "n",
        k_eff.alias("k_eff"),
        F.col("_s").alias("_vk1"),
        gc.alias("_gc"),
    )

    def rln(col: Column) -> Column:
        return F.round(
            F.log(col.cast("double") / F.lit(1e6)) * F.lit(1e6)
        ).cast("long")

    tail = (
        per.join(
            F.broadcast(sel.select(*g, "_vk1")), g
        )
        if g
        else per.crossJoin(F.broadcast(sel.select("_vk1")))
    )
    s1 = (
        tail.where(F.col("_s") > F.col("_vk1"))
        .groupBy(*g)
        .agg(F.sum(F.col("pos") * rln(F.col("_s"))).cast("long").alias("_s1"))
    )
    # global mode: LEFT JOIN ON TRUE keeps the 1-row spine even when
    # the tail sum is empty (the cohen_kappa global-join trick)
    fin = (
        sel.join(s1, on=g, how="left")
        if g
        else sel.join(F.broadcast(s1), F.lit(True), "left")
    )
    h = F.coalesce(F.col("_s1"), F.lit(0).cast("long")) - F.col(
        "_gc"
    ) * rln(F.col("_vk1"))
    return fin.select(
        *g,
        "n",
        "k_eff",
        F.round(F.col("_vk1").cast("double") / 1e6, 6).alias("x_k1"),
        F.when(
            (F.col("k_eff") > 0) & (h > 0),
            F.round(
                F.col("k_eff").cast("double") * F.lit(1e6)
                / h.cast("double"),
                6,
            ),
        ).alias("alpha"),
    )



def winsorize(
    df: DataFrame,
    value_col: str,
    id_col: str,
    group_cols: list[str] | None = None,
    q_lo: float = 0.01,
    q_hi: float = 0.99,
    n_buckets: int = 1024,
) -> DataFrame:
    """(group..., id, v, v_wins, clipped) — per-row winsorization at
    each group's EXACT type-1 quantiles: values below the group's
    q_lo-quantile clamp up to it, values above q_hi clamp down
    (clipped = -1 / 0 / +1). The row-level REPAIR companion of
    robust_stats' outlier MONITOR (that flags the giants; this caps
    them so downstream means/regressions are breakdown-resistant
    without dropping rows — the standard heavy-tail feature treatment).

    Quantile convention is exact_quantiles' verbatim: type-1 /
    inverted-CDF rank r = max(1, ceil(q*n)) in exact integer
    arithmetic off the distinct-value histogram + the shared
    `_hist_prefix` engine — the clamp bounds are ACTUAL data values,
    so winsorize is IDEMPOTENT (re-winsorizing the output at the same
    quantiles changes nothing — pytest-pinned) and clamping is an
    exact integer compare in micro space, bit-stable cross-engine.
    NULL/NaN values and NULL ids fail LOUD; empty frames yield zero
    rows.

    Scale shape: ONE map-side-combinable (group, value) histogram
    corpus pass + the bounded two-phase prefix; the only corpus-scale
    join is the row join-back on the BROADCAST group-bounds table
    (group-cardinality rows). Zero corpus windows, zero Python."""
    from .evalmetrics import _hist_prefix

    for nm, q in (("q_lo", q_lo), ("q_hi", q_hi)):
        qu = round(q * 1e6)
        if abs(q * 1e6 - qu) > 1e-6:
            raise ValueError(f"winsorize: {nm} must be a 1e-6 multiple")
    if not (0.0 < q_lo < q_hi <= 1.0):
        raise ValueError(
            f"winsorize: need 0 < q_lo < q_hi <= 1, got {q_lo}, {q_hi}"
        )
    g = list(group_cols or [])
    v0 = F.col(value_col).cast("double")
    s = (
        F.when(
            v0.isNull() | F.isnan(v0),
            F.raise_error(
                F.concat(
                    F.lit(f"winsorize: NULL/NaN {value_col}="),
                    F.coalesce(v0.cast("string"), F.lit("NULL")),
                )
            ).cast("long"),
        )
        .otherwise(F.round(v0 * 1_000_000).cast("long"))
        .alias("_s")
    )
    rid = (
        F.when(
            F.col(id_col).isNull(),
            F.raise_error(F.lit(f"winsorize: NULL {id_col}")).cast(
                "string"
            ),
        )
        .otherwise(F.col(id_col).cast("string"))
        .alias("id")
    )
    rows = df.select(*g, rid, s).localCheckpoint(eager=False)
    per = (
        rows.groupBy(*g, "_s")
        .agg(F.count(F.lit(1)).cast("long").alias("pos"))
        .withColumn("neg", F.lit(0).cast("long"))
    )
    pre = _hist_prefix(per, g, n_buckets)
    tot = pre.groupBy(*g).agg(F.sum("pos").cast("long").alias("n"))
    j = (
        pre.join(F.broadcast(tot), g)
        if g
        else pre.crossJoin(F.broadcast(tot))
    )

    def pick(qu: int, alias: str):
        r = F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"(n * {qu} + 999999) div 1000000"),
        )
        return (
            F.sum(
                F.when(
                    (F.col("cpos") < r)
                    & (F.col("cpos") + F.col("pos") >= r),
                    F.col("_s"),
                )
            )
            .cast("long")
            .alias(alias)
        )

    bounds = j.groupBy(*g).agg(
        pick(round(q_lo * 1e6), "_lo_u"), pick(round(q_hi * 1e6), "_hi_u")
    )
    withb = (
        rows.join(F.broadcast(bounds), g)
        if g
        else rows.crossJoin(F.broadcast(bounds))
    )
    wu = F.least(F.greatest(F.col("_s"), F.col("_lo_u")), F.col("_hi_u"))
    return withb.select(
        *g,
        "id",
        F.round(F.col("_s").cast("double") / 1e6, 6).alias("v"),
        F.round(wu.cast("double") / 1e6, 6).alias("v_wins"),
        F.when(F.col("_s") < F.col("_lo_u"), F.lit(-1))
        .when(F.col("_s") > F.col("_hi_u"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("clipped"),
    )
