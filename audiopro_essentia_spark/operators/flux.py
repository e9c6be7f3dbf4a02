"""Spectral flux / onset-strength — the cross-frame novelty signal that
drives beat tracking (the quantity the reference's rhythm stage consumes
conceptually; extractor surface: /root/reference/src/audiopro/audio/
processors.py:90-302 computes per-frame spectra, this operator adds the
frame-to-frame half-wave-rectified difference) — and spectral contrast.

Distributed shape: the per-frame magnitude spectrum is the fused kernel's
`spectrum` output (fused.py's one mapInArrow, the kernel's f32-quantize
-> Hann -> f64 rfft recipe, so the DuckDB DFT twin reuses the same
literals), NULL only on non-finite input. The cross-frame difference is
a declarative window lag over (doc, frame_idx) — Catalyst owns the
ordering, so there is no chunk-boundary state to carry and the plan is
one window sort per doc partition. Onset flags are a second window pass
over the SAME partitioning (mean + sigma * stddev_pop of the round-6
flux), which reuses the sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..constants import FRAME_LENGTH, HOP_LENGTH, TOKEN_SCALE
from .fused import fused_frame_features


def _spectra(seqs, frame_length, hop, token_scale) -> DataFrame:
    """(doc_id, frame_idx, _spec) from sequences(doc_id, tokens)."""
    return fused_frame_features(
        seqs, features=("spectrum",), frame_length=frame_length, hop=hop,
        token_scale=token_scale, with_timestamps=False,
    ).select("doc_id", "frame_idx", F.col("spectrum").alias("_spec"))


def spectral_flux(
    seqs: DataFrame,
    frame_length: int = FRAME_LENGTH,
    hop: int = HOP_LENGTH,
    token_scale: float = TOKEN_SCALE,
    onset_sigma: float = 1.5,
) -> DataFrame:
    """(doc_id, frame_idx, flux, is_onset) from sequences(doc_id, tokens).

    flux[t] = sum over bins of max(0, |S_t| - |S_{t-1}|), 0.0 for the
    first frame of a doc; NULL (and is_onset NULL) when S_t or S_{t-1} is
    a NULL (non-finite) spectrum. is_onset = flux > mean + onset_sigma *
    stddev of the doc's round-6 flux (population stddev — deterministic
    and identical in the SQL twin)."""
    spec = _spectra(seqs, frame_length, hop, token_scale)
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    prev = F.lag("_spec").over(w)
    # "first frame" is no previous row, not a NULL previous spectrum
    first = F.lag("frame_idx").over(w).isNull() & F.col("_spec").isNotNull()
    flux_raw = F.when(first, F.lit(0.0)).otherwise(
        F.aggregate(
            F.zip_with("_spec", prev, lambda a, b: F.greatest(a - b, F.lit(0.0))),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    wd = Window.partitionBy("doc_id")
    out = spec.withColumn("flux", F.round(flux_raw, 6)).drop("_spec")
    # round-6 threshold: the comparison is then between two 1e-6-grid
    # numbers, immune to last-ulp summation-order differences vs the twin
    thresh = F.round(
        F.avg("flux").over(wd) + onset_sigma * F.stddev_pop("flux").over(wd), 6
    )
    return out.withColumn(
        "is_onset", (F.col("flux") > thresh).cast("int")
    )


def spectral_contrast(
    seqs: DataFrame,
    frame_length: int = FRAME_LENGTH,
    hop: int = HOP_LENGTH,
    token_scale: float = TOKEN_SCALE,
    n_bands: int = 3,
    alpha: float = 0.2,
) -> DataFrame:
    """Per-frame spectral contrast: ln(peak/valley) per frequency band,
    where peak/valley are the means of the top/bottom alpha-fraction of
    sorted bin magnitudes in the band (the librosa-family feature,
    public formulation; independent implementation).

    Same kernel spectrum as spectral_flux; the band split / sort /
    quantile means are pure JVM array expressions after it — no extra
    Python, no shuffle (narrow over the framed rows). A frame with a
    NULL (non-finite) spectrum gives NULL in every band."""
    nb = frame_length // 2 + 1
    if n_bands > nb:
        raise ValueError(
            f"n_bands={n_bands} exceeds the {nb} spectrum bins of "
            f"frame_length={frame_length}"
        )
    edges = [round(i * nb / n_bands) for i in range(n_bands + 1)]
    if len(set(edges)) != len(edges):
        raise ValueError(
            f"n_bands={n_bands} yields an empty band for {nb} bins "
            f"(edges {edges}) — use fewer bands"
        )
    spec = _spectra(seqs, frame_length, hop, token_scale)
    eps = F.lit(1e-10)
    cols = [F.col("doc_id"), F.col("frame_idx")]
    for b in range(n_bands):
        lo, hi = edges[b], edges[b + 1]
        band = F.array_sort(F.slice("_spec", lo + 1, hi - lo))
        k = max(1, int((hi - lo) * alpha))
        valley = F.aggregate(
            F.slice(band, 1, k), F.lit(0.0), lambda a, x: a + x
        ) / F.lit(float(k))
        peak = F.aggregate(
            F.slice(band, hi - lo - k + 1, k), F.lit(0.0), lambda a, x: a + x
        ) / F.lit(float(k))
        cols.append(
            F.round(F.log((peak + eps) / (valley + eps)), 6).alias(
                f"contrast_{b}"
            )
        )
    return spec.select(*cols)
