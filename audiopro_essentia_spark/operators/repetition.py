"""Intra-document repetition profiling — the Gopher/C4-style quality
signals a training-corpus filter runs before dedup (Rae et al. 2021 §A1.1
repetition filters; public method, independent re-implementation).

Per document:
- dup_word_frac:      1 - distinct_words / words
- dup_ngram_frac:     1 - distinct_ngrams / ngrams (occurrence multiset)
- top_ngram_char_frac: occurrence-weighted character mass of the single
  most frequent word n-gram — count * len(gram) / n_chars, tie-broken by
  gram text (max) so the result is deterministic. NOTE: occurrences
  overlap, so this EXCEEDS 1.0 on highly repetitive docs ("spam" x6 ->
  ~1.55); threshold it as an open-ended repetition score, not a bounded
  coverage fraction.

Scale design: the two duplicate fractions are pure per-row expressions
(whole-stage codegen, zero shuffle). The top-n-gram signal needs a
per-(doc, gram) count, done the linear way — explode -> count -> max-
struct agg, two shuffles keyed by doc_id — NEVER a per-doc O(w^2)
expression scan, which blows up codegen on long documents. Docs with no
n-gram (fewer than n words) come back with zeroed signals via the left
join. This mirrors the reference's per-file quality gating
(/root/reference/src/audiopro/audio/validator.py:80-123) applied to the
text modality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import raw_word_ngrams, words


def repetition_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 2,
) -> DataFrame:
    """(id, n_words, dup_word_frac, dup_ngram_frac, top_ngram_char_frac)."""
    text = F.col(text_col)
    ws = words(text)
    df = df.select(F.col(id_col), text.alias(text_col))
    # grams are materialized ONCE, in the explode path; total / distinct
    # gram counts fall out of the (doc, gram) count aggregate for free
    # (sum(c) and count(*)), so the expensive gram construction never runs
    # twice. The scalar word stats ride a cheap side projection.
    ex = df.select(
        F.col(id_col), F.explode(raw_word_ngrams(text, ngram)).alias("_g")
    )
    top = (
        ex.groupBy(id_col, "_g")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(id_col)
        .agg(
            F.max(F.struct(F.col("_c"), F.col("_g"))).alias("_top"),
            F.sum("_c").cast("double").alias("_ng"),
            F.count(F.lit(1)).cast("double").alias("_ndg"),
        )
        .select(
            id_col,
            F.col("_top._c").alias("_topc"),
            F.length("_top._g").cast("double").alias("_topl"),
            "_ng",
            "_ndg",
        )
    )
    base = df.select(
        F.col(id_col),
        F.length(text).cast("double").alias("_nc"),
        F.size(ws).cast("long").alias("n_words"),
        F.size(F.array_distinct(ws)).cast("double").alias("_ndw"),
    )
    frac = lambda num, den: F.round(  # noqa: E731
        F.coalesce(F.try_divide(num, den), F.lit(0.0)), 6
    )
    return (
        base.join(top, id_col, "left")
        .select(
            id_col,
            "n_words",
            frac(F.col("n_words") - F.col("_ndw"), F.col("n_words")).alias(
                "dup_word_frac"
            ),
            frac(
                F.coalesce(F.col("_ng"), F.lit(0.0))
                - F.coalesce(F.col("_ndg"), F.lit(0.0)),
                F.col("_ng"),
            ).alias("dup_ngram_frac"),
            frac(
                F.coalesce(F.col("_topc"), F.lit(0)) * F.coalesce("_topl", F.lit(0.0)),
                F.col("_nc"),
            ).alias("top_ngram_char_frac"),
        )
    )
