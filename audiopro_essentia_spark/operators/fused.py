"""Fused framing + feature kernel as ONE mapInPandas stage: the one way
into the batched feature kernel (W1 + A1-A11), used by the flagship plan
and by every kernel query of the driver.

Why framing happens here (measured on local[32], 67M tokens / 117k
frames): materializing 2048-token windows JVM-side (explode + slice) and
shipping them through Arrow costs ~4x the raw token bytes (75% overlap)
plus per-element JVM list conversion — the pure kernel compute is ~12
CPU-s but the explode+slice plan spent 19-43 s. This operator ships each
doc's token array to Python ONCE and frames it with numpy stride tricks
(sliding_window_view — zero-copy view), then runs the batched kernel
(kernel._kernel_batch). The framing follows framing.frame_tokens
(odd-trim, tail truncation, frame-start time_ms, frame-end
available_ts); tests pin it against the numpy oracle and frame_tokens'
timestamps.

In the flagship plan (plans/pipeline.py) this is the ONLY token pass on
the frame path: with validate=True + doc_stats=True the kernel also
applies the doc-level quarantine and attaches the J2 doc statistics
(rms_amplitude, dynamic_range_db) through aggregates.doc_profile_np —
the doc profile's own per-doc arithmetic — instead of a second
mapInPandas scan of the corpus broadcast-joined back onto the frames.

Scale notes: input Arrow batches carry ~(rows x avg n_tok x 4) bytes; at
1000-row batches and 16k-token docs that is ~64 MB per batch. Output rows
are yielded in bounded chunks. One narrow stage: no shuffle, no JVM window
materialization. This is the UDTF shape of SURVEY.md §2.9 realized as
mapInPandas.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..constants import (
    ALL_FRAME_FEATURES,
    FRAME_LENGTH,
    HOP_LENGTH,
    N_MELS,
    SAMPLE_RATE,
    TOKEN_SCALE,
)
from .aggregates import DOC_ENRICH_COLS, doc_profile_np
from .kernel import (
    BAND_NAMES,
    KERNEL_CHUNK,
    _kernel_batch,
    kernel_output_fields,
    mask_kernel_outputs,
)

# Chunk size is kernel.KERNEL_CHUNK — the ONE cache-residency knob
# (CLAUDE.md: spectral batches in <=256-frame chunks; bigger thrashes
# DRAM and kills scaling). A second local constant here silently split
# that rule in two.


def fused_frame_features(
    seqs: DataFrame,
    features: tuple[str, ...] | None = None,
    frame_length: int = FRAME_LENGTH,
    hop: int = HOP_LENGTH,
    sample_rate: int = SAMPLE_RATE,
    token_scale: float = TOKEN_SCALE,
    start_sample: int = 0,
    n_mels: int | None = None,
    with_timestamps: bool = True,
    validate: bool = False,
    chroma_band: tuple[float, float] | None = None,
    doc_stats: bool = False,
) -> DataFrame:
    """sequences(doc_id, tokens[, base_ts]) -> frame feature rows.

    Output: doc_id, frame_idx, time_ms[, event_ts, available_ts],
    <feature columns>, ferror[, rms_amplitude, dynamic_range_db], with
    doc_id keeping its input type and frequency_bands flattened to fb_*
    columns (nest_frequency_bands re-nests them).

    `validate=True` skips the docs the doc profile quarantines (empty,
    low_energy, too_short); `doc_stats=True` adds the J2 doc-level
    columns (DOC_ENRICH_COLS), NULL on every frame of a doc whose
    reject_reason is non-NULL — a 'nonfinite' doc is still framed (its
    bad frames tagged ferror='nonfinite_frame') but carries no doc stats,
    exactly a left-join miss against the accepted doc profile. Both
    verdicts come from aggregates.doc_profile_np, the helper the profile
    itself runs.
    """
    feats = tuple(features) if features else ALL_FRAME_FEATURES
    nm = n_mels or min(N_MELS, max(2, frame_length // 2 - 1))
    fields = kernel_output_fields(feats)
    has_ts = with_timestamps and "base_ts" in seqs.columns

    ddl = f"doc_id {seqs.schema['doc_id'].dataType.simpleString()}"
    ddl += ", frame_idx int, time_ms double"
    if has_ts:
        ddl += ", event_ts timestamp, available_ts timestamp"
    ddl += ", " + ", ".join(f"{n} {t}" for n, t in fields)
    if doc_stats:
        ddl += "".join(f", {c} double" for c in DOC_ENRICH_COLS)

    cols = ["doc_id", "tokens"] + (["base_ts"] if has_ts else [])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids: list = []
            frame_idx_parts: list[np.ndarray] = []
            win_parts: list[np.ndarray] = []
            base_us_parts: list[np.ndarray] = []
            n_frames_per_doc: list[int] = []
            enrich_parts: list[tuple[float, ...]] = []

            for i in range(len(pdf)):
                raw = pdf["tokens"].iloc[i]
                if raw is None:
                    # NULL tokens (the row the profile branch tags 'empty')
                    # must be skipped, not crash the task: len(asarray(None))
                    # raises on a 0-d object array. framing.frame_tokens
                    # drops the same row via its F.size filter.
                    continue
                toks = np.asarray(raw)
                # NULL ELEMENTS inside the array: pyarrow converts a
                # list<int> with nulls to a float64 array carrying NaN
                # (measured — NOT an object-dtype array, so a dtype check
                # here would be dead code). The NaN flows into the kernel
                # where the nonfinite check tags every frame of the doc
                # ferror='nonfinite_frame' with NULL features — per-frame
                # quarantine, same channel as non-finite input, and the
                # doc profile marks the doc 'nonfinite'.
                n = len(toks) - (len(toks) % 2)  # odd-trim
                if n < frame_length:
                    continue
                if validate or doc_stats:
                    # in-kernel quarantine (validator.py:80-123 semantics)
                    # and J2 enrichment from the doc profile's own helper:
                    # no second token scan, no broadcast join, and the
                    # verdict cannot disagree with the quarantine table.
                    # Past the length check the reason is nonfinite,
                    # low_energy or NULL.
                    stats, reason = doc_profile_np(toks, token_scale, frame_length)
                    if validate and reason == "low_energy":
                        continue
                    if doc_stats:
                        enrich_parts.append(
                            tuple(
                                stats[c] if reason is None else np.nan
                                for c in DOC_ENRICH_COLS
                            )
                        )
                wins = np.lib.stride_tricks.sliding_window_view(
                    toks[:n], frame_length
                )[::hop]
                nf = len(wins)
                doc_ids.append(pdf["doc_id"].iloc[i])
                n_frames_per_doc.append(nf)
                frame_idx_parts.append(np.arange(nf, dtype=np.int32))
                win_parts.append(wins)
                if has_ts:
                    ts_val = pdf["base_ts"].iloc[i]
                    if pd.isna(ts_val):
                        # NULL base_ts must yield NULL timestamps, not the
                        # NaT int64 sentinel turned into a 1677-era instant
                        base = np.int64(np.iinfo(np.int64).min)
                    else:
                        base = np.int64(pd.Timestamp(ts_val).value // 1000)
                    base_us_parts.append(np.full(nf, base, dtype=np.int64))

            if not doc_ids:
                continue

            # NO vstack of all windows: that materializes ~4x the token
            # bytes (75% overlap) per Arrow batch BEFORE chunking — the
            # chunk cap then bounds only the float64 temporaries, not peak
            # memory. Windows stay zero-copy stride views per doc; each
            # <=KERNEL_CHUNK chunk is materialized on demand.
            fidx = np.concatenate(frame_idx_parts)
            docs = np.repeat(np.asarray(doc_ids, dtype=object), n_frames_per_doc)
            base_us = np.concatenate(base_us_parts) if has_ts else None
            if doc_stats:
                # NaN -> NULL in the Arrow conversion (as for the features)
                enrich = np.repeat(
                    np.asarray(enrich_parts, dtype=np.float64),
                    n_frames_per_doc,
                    axis=0,
                )
            offsets = np.concatenate(
                ([0], np.cumsum(np.asarray(n_frames_per_doc, dtype=np.int64)))
            )
            total = int(offsets[-1])

            def chunk_windows(lo: int, hi: int) -> np.ndarray:
                parts = []
                d = int(np.searchsorted(offsets, lo, side="right")) - 1
                pos = lo
                while pos < hi:
                    take = int(min(hi, offsets[d + 1]) - pos)
                    start = int(pos - offsets[d])
                    parts.append(win_parts[d][start : start + take])
                    pos += take
                    d += 1
                return parts[0] if len(parts) == 1 else np.vstack(parts)

            for lo in range(0, total, KERNEL_CHUNK):
                hi = min(lo + KERNEL_CHUNK, total)
                res = _kernel_batch(
                    chunk_windows(lo, hi),
                    frame_length, sample_rate, token_scale, feats, nm,
                    chroma_band,
                )
                fi = fidx[lo:hi]
                start = (
                    start_sample + fi.astype(np.int64) * hop
                )
                out: dict[str, object] = {
                    "doc_id": docs[lo:hi],
                    "frame_idx": fi,
                    "time_ms": start / sample_rate * 1000.0,
                }
                if has_ts:
                    # floor(x+0.5) = Spark F.round's HALF_UP for x >= 0;
                    # np.round is banker's rounding and diverges on exact
                    # .5 µs ties (power-of-two sample rates) from
                    # frame_tokens — keep ONE rounding rule.
                    bu = base_us[lo:hi]
                    null_ts = bu == np.iinfo(np.int64).min
                    ev = pd.Series(
                        pd.to_datetime(
                            np.where(null_ts, 0, bu)
                            + np.floor(start * 1e6 / sample_rate + 0.5).astype(
                                np.int64
                            ),
                            unit="us",
                        )
                    )
                    last = start + frame_length - 1
                    av = pd.Series(
                        pd.to_datetime(
                            np.where(null_ts, 0, bu)
                            + np.floor(last * 1e6 / sample_rate + 0.5).astype(
                                np.int64
                            ),
                            unit="us",
                        )
                    )
                    if null_ts.any():
                        ev[null_ts] = pd.NaT
                        av[null_ts] = pd.NaT
                    out["event_ts"] = ev
                    out["available_ts"] = av
                # ferror tagging + feature nulling (kernel.mask_kernel_outputs)
                out.update(mask_kernel_outputs(res, fields, hi - lo))
                if doc_stats:
                    for j, c in enumerate(DOC_ENRICH_COLS):
                        out[c] = enrich[lo:hi, j]
                yield pd.DataFrame(out)

    return seqs.select(*cols).mapInPandas(gen, ddl)


def nest_frequency_bands(df: DataFrame) -> DataFrame:
    """Re-nest fb_* columns into frequency_bands struct (reference
    types.py:134-140 shape)."""
    from pyspark.sql import functions as F

    fb_cols = [f"fb_{b}" for b in BAND_NAMES if f"fb_{b}" in df.columns]
    if not fb_cols:
        return df
    keep = [c for c in df.columns if c not in fb_cols]
    return df.select(
        *keep,
        F.struct(*[F.col(f"fb_{b}").alias(b) for b in BAND_NAMES]).alias(
            "frequency_bands"
        ),
    )
