"""Fused framing + feature kernel as ONE mapInArrow stage: the one way
into the batched feature kernel (W1 + A1-A11), used by the flagship plan,
by every kernel query of the driver and, through the kernel's `spectrum`
output, by spectral flux and contrast (operators/flux.py).

Why framing happens here (measured on local[32], 67M tokens / 117k
frames): materializing 2048-token windows JVM-side (explode + slice) and
shipping them through Arrow costs ~4x the raw token bytes (75% overlap)
plus per-element JVM list conversion — the pure kernel compute is ~12
CPU-s but the explode+slice plan spent 19-43 s. This operator ships each
doc's token array to Python ONCE as Arrow list offsets plus one flat
value buffer, gathers each <=KERNEL_CHUNK chunk's windows from that
buffer, runs the batched kernel (kernel._kernel_batch) and builds every
output column as an Arrow array. The framing follows framing.frame_tokens
(odd-trim, tail truncation, frame-start time_ms, frame-end
available_ts); tests pin it against the numpy oracle and frame_tokens'
timestamps.

In the flagship plan (plans/pipeline.py) this is the ONLY token pass on
the frame path: with validate=True + doc_stats=True the kernel also
applies the doc-level quarantine and attaches the J2 doc statistics
(rms_amplitude, dynamic_range_db) through aggregates.doc_profile_np —
the doc profile's own per-doc arithmetic — instead of a second scan of
the corpus broadcast-joined back onto the frames.

Scale notes: input Arrow batches carry ~(rows x avg n_tok x 4) bytes; at
1000-row batches and 16k-token docs that is ~64 MB per batch. Output rows
are yielded per chunk. One narrow stage: no shuffle, no JVM window
materialization. This is the UDTF shape of SURVEY.md §2.9 realized as
mapInArrow.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from ..constants import (
    ALL_FRAME_FEATURES,
    FRAME_LENGTH,
    HOP_LENGTH,
    N_MELS,
    SAMPLE_RATE,
    SPECTRAL_FEATURES,
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
    columns (nest_frequency_bands re-nests them). `features` names
    entries of ALL_FRAME_FEATURES, plus `spectrum` (the per-frame
    magnitude spectrum, NULL only on non-finite input) for flux and
    contrast; any other name raises ValueError here, at plan build.

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
    unknown = sorted(set(feats) - set(ALL_FRAME_FEATURES) - SPECTRAL_FEATURES)
    if unknown:
        raise ValueError(
            f"unknown frame features {unknown}; expected names from "
            f"{ALL_FRAME_FEATURES} or 'spectrum'"
        )
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

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            toks = batch.column(1)
            off = toks.offsets.to_numpy()
            # a NULL element turns the child into float64 NaN, which the
            # kernel's nonfinite check tags ferror='nonfinite_frame' with
            # NULL features on every frame covering it (per-frame
            # quarantine; the doc profile marks the doc 'nonfinite')
            vals = toks.values.to_numpy(zero_copy_only=False)
            # odd-trim; NULL tokens (the row the profile tags 'empty')
            # emit nothing, as framing.frame_tokens' size filter drops it
            n = np.diff(off)
            n -= n % 2
            rows = np.flatnonzero(
                toks.is_valid().to_numpy(zero_copy_only=False)
                & (n >= frame_length)
            )
            enrich: list[list[float]] = []
            if validate or doc_stats:
                # in-kernel quarantine (validator.py:80-123 semantics)
                # and J2 enrichment from the doc profile's own helper:
                # no second token scan, no broadcast join, and the
                # verdict cannot disagree with the quarantine table.
                # Past the length check the reason is nonfinite,
                # low_energy or NULL.
                kept = []
                for r in rows:
                    stats, reason = doc_profile_np(
                        vals[off[r] : off[r + 1]], token_scale, frame_length
                    )
                    if validate and reason == "low_energy":
                        continue
                    kept.append(r)
                    if doc_stats:
                        enrich.append(
                            [stats[c] if reason is None else np.nan for c in DOC_ENRICH_COLS]
                        )
                rows = np.asarray(kept, dtype=np.int64)
            if not len(rows):
                continue

            nf = (n[rows] - frame_length) // hop + 1
            doc = np.repeat(np.arange(len(rows)), nf)
            fidx = (np.arange(len(doc)) - (np.cumsum(nf) - nf)[doc]).astype(np.int32)
            starts = off[rows][doc] + fidx.astype(np.int64) * hop
            src = pa.array(rows[doc])  # the input row of every frame
            # zero-copy (n_vals - F + 1, F) view: indexing it by frame
            # start copies just one chunk's windows, never the ~4x
            # overlap of a whole batch
            wins = np.lib.stride_tricks.sliding_window_view(vals, frame_length)
            if has_ts:
                base_us = batch.column(2).cast(pa.int64())
            if doc_stats:
                enrich_f = np.asarray(enrich, dtype=np.float64)[doc]

            for lo in range(0, len(doc), KERNEL_CHUNK):
                hi = min(lo + KERNEL_CHUNK, len(doc))
                res = _kernel_batch(
                    wins[starts[lo:hi]],
                    frame_length, sample_rate, token_scale, feats, nm,
                    chroma_band,
                )
                fi = fidx[lo:hi]
                start = start_sample + fi.astype(np.int64) * hop
                out: dict[str, pa.Array] = {
                    "doc_id": batch.column(0).take(src[lo:hi]),
                    "frame_idx": pa.array(fi),
                    "time_ms": pa.array(start / sample_rate * 1000.0),
                }
                if has_ts:
                    # floor(x+0.5) = Spark F.round's HALF_UP for x >= 0;
                    # np.round is banker's rounding and diverges on exact
                    # .5 µs ties (power-of-two sample rates) from
                    # frame_tokens — keep ONE rounding rule. A NULL
                    # base_ts stays NULL through the add.
                    base = base_us.take(src[lo:hi])
                    for name, pos in (
                        ("event_ts", start),
                        ("available_ts", start + frame_length - 1),
                    ):
                        us = np.floor(pos * 1e6 / sample_rate + 0.5).astype(np.int64)
                        out[name] = pc.add(base, pa.array(us)).cast(
                            pa.timestamp("us", tz="UTC")
                        )
                # ferror tagging + feature nulling (kernel.mask_kernel_outputs)
                out.update(mask_kernel_outputs(res, fields))
                if doc_stats:
                    # NaN -> NULL, as for the features
                    for j, c in enumerate(DOC_ENRICH_COLS):
                        out[c] = pa.array(enrich_f[lo:hi, j], from_pandas=True)
                yield pa.RecordBatch.from_pydict(out)

    return seqs.selectExpr(*cols).mapInArrow(gen, ddl)


def nest_frequency_bands(df: DataFrame, last: tuple[str, ...] = ()) -> DataFrame:
    """Re-nest fb_* columns into frequency_bands struct (reference
    types.py:134-140 shape) and move the `last` columns to the end, in
    one projection of SQL text (a Column-API call per column costs a
    driver round trip and a call-site capture each)."""
    cols = df.columns
    fb_cols = [f"fb_{b}" for b in BAND_NAMES if f"fb_{b}" in cols]
    if not fb_cols and not last:
        return df
    bands = ", ".join(f"fb_{b} AS {b}" for b in BAND_NAMES)
    return df.selectExpr(
        *[c for c in cols if c not in fb_cols and c not in last],
        *([f"struct({bands}) AS frequency_bands"] if fb_cols else []),
        *last,
    )
