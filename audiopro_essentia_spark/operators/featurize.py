"""Hashing-trick document embeddings — deterministic bag-of-words vectors
with no ML library: v[H(word) mod dim] += 1, then L2-normalize. The
standard featurization for similarity / clustering / near-dup when no
model is available (public method — 'feature hashing', Weinberger et al.
2009; independent re-implementation on the engine's portable hash).

Scale shape: fully relational — explode -> (doc, slot) count (map-side
combinable hash agg) -> per-doc map_from_entries -> dense array via a
transform over 0..dim-1. No UDF, no per-doc Python; the vector column
feeds the existing ANN / embedding near-dup operators directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import portable_hash32, words


def hashed_doc_embedding(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    normalize: bool = True,
) -> DataFrame:
    """(id, embedding array<double>): hashed bag-of-words, L2-normalized
    unless `normalize=False` (raw counts).

    Tokenization filters empty-string tokens (doubled spaces must not
    add mass to hash('') — two docs differing only in spacing embed
    identically), and docs with NULL text / no words stay in the output
    as the ZERO vector (coverage-preserving; zero-norm vectors never
    qualify in the downstream pair ops by the pinned contract) instead
    of silently vanishing from the corpus fed to ANN / semantic dedup."""
    ws = F.filter(
        words(F.coalesce(F.col(text_col), F.lit(""))), lambda w: w != ""
    )
    df = df.select(F.col(id_col), F.col(text_col))
    tok = df.select(F.col(id_col), F.explode(ws).alias("_w"))
    slot = tok.select(
        id_col, F.pmod(portable_hash32(F.col("_w")), F.lit(dim)).alias("_i")
    )
    cnt = slot.groupBy(id_col, "_i").agg(F.count(F.lit(1)).alias("_c"))
    # the L2 norm comes out of the SAME aggregate as a scalar (sum of
    # squared counts == ||dense vector||^2): expressing it as
    # aggregate(arr, ...) instead lets Catalyst's projection collapse
    # re-inline the whole 64-lookup array build into EVERY element's
    # division — measured 64x expression blow-up (the CLAUDE.md trap)
    m = cnt.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("_i"), F.col("_c")))
        ).alias("_m"),
        F.sum(F.col("_c") * F.col("_c")).cast("double").alias("_sq"),
    )
    arr = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: F.coalesce(F.element_at("_m", j), F.lit(0)).cast("double"),
    )
    if normalize:
        vec = F.transform(arr, lambda x: x / F.sqrt("_sq"))  # >=1 word
    else:
        vec = arr
    dense = m.select(F.col(id_col), vec.alias("embedding"))
    zero = F.array_repeat(F.lit(0.0), dim)
    return (
        df.select(id_col)
        .join(dense, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("embedding"), zero).alias("embedding"),
        )
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric int8 scalar quantization: scale = max|v| / 127,
    q_i = floor(v_i/scale + 0.5) — 4x storage reduction for ANN corpora
    (the standard serving-side compression; dequant error <= scale/2 per
    component). floor(x+0.5) is used instead of round() because BOTH
    engines (Spark HALF_UP BigDecimal vs DuckDB half-away-from-zero)
    agree on it bit-for-bit in the DuckDB oracle.

    Narrow per-row map, zero shuffle. The scale enters the per-element
    lambda via zip_with against an array_repeat(scale) column — NOT by
    referencing the array_max expression inside the lambda, where
    projection collapse would re-inline the O(d) max scan into every
    element (the O(d^2)-per-row CLAUDE.md trap). All-zero vectors get
    scale=0 and an all-zero q (guarded division).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    mx = F.array_max(F.transform(v, F.abs))
    scale = (mx / F.lit(127.0)).alias("scale")
    rep = F.array_repeat(mx / F.lit(127.0), F.size(F.col(vec_col)))
    q = F.when(mx == 0.0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.zip_with(
            v, rep, lambda x, s: F.floor(x / s + F.lit(0.5)).cast("int")
        )
    )
    return df.select(F.col(id_col), scale, q.alias("qvec"))


def dequantize_embeddings(
    df: DataFrame,
    qvec_col: str = "qvec",
    scale_col: str = "scale",
    id_col: str = "vec_id",
) -> DataFrame:
    """q * scale -> approximate float vector (error <= scale/2/comp)."""
    return df.select(
        F.col(id_col),
        F.transform(
            F.col(qvec_col), lambda x: x.cast("double") * F.col(scale_col)
        ).alias("embedding"),
    )
