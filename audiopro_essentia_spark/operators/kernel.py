"""A1-A11 — the batched per-frame feature kernel.

The Spark analog of the reference's `process_frame` scalar UDF fanned out
over mp.Pool (/root/reference/src/audiopro/audio/processors.py:90-302,
extractor.py:192-213). Design (SURVEY.md §2.9):

- ONE way into the kernel: operators/fused.py's mapInArrow reads each
  Arrow batch's token values and offsets, gathers <=KERNEL_CHUNK (B, F)
  window batches and hands them to `_kernel_batch`; every feature is
  computed with batched numpy (one rfft per batch, matmuls for
  MFCC/chroma) — no per-row Python. Array outputs (mfcc, chroma and the
  internal `spectrum` that spectral flux / contrast read) come back as
  2-D arrays and leave as Arrow list columns.
- Feature-config pushdown (P1/P2): `features` selects which outputs are
  computed at all; the spectrum is computed only if a spectral feature is
  requested (processors.py:190-214 `needs_spectrum`).
- Constants (Hann window, freq bins, mel/DCT matrices, band indices,
  pitch-class fold matrix) are built lazily ONCE per executor Python worker
  — the analog of the reference's lru_cache singletons (processors.py:31-43,
  75-88).
- Zero-spectrum / non-finite frames yield NULL feature values plus a
  non-null `ferror` tag instead of raising (the reference drops the frame
  and counts it against an error budget, extractor.py:184-207); the
  pipeline filters and accounts for them (see plans/pipeline.py).

rms/volume are ALSO available as pure Spark SQL expressions (see
`rms_volume_exprs`) for the oracle-checkable slice — whole-stage codegen,
no Python at all.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..constants import (
    CHROMA_HARMONICS,
    CHROMA_MAX_FREQ,
    CHROMA_MIN_FREQ,
    CHROMA_REF_FREQ,
    CHROMA_WINDOW_SEMITONES,
    EPS,
    FRAME_LENGTH,
    FREQUENCY_BANDS,
    N_CHROMA,
    N_MFCC,
    SPECTRAL_FEATURES,
    TOKEN_SCALE,
)

# ---------------------------------------------------------------------------
# lazily-built per-worker constants (one init per executor python worker)
# ---------------------------------------------------------------------------

_CONST_CACHE: dict = {}


def _consts(frame_length: int, sample_rate: int, n_mels: int):
    key = (frame_length, sample_rate, n_mels)
    c = _CONST_CACHE.get(key)
    if c is not None:
        return c
    hann = np.hanning(frame_length).astype(np.float32)
    freqs = np.fft.rfftfreq(frame_length, d=1.0 / sample_rate).astype(np.float64)
    n_bins = len(freqs)

    # mel filterbank + DCT (vectorized construction; semantics match oracle)
    mels = 2595.0 * np.log10(1.0 + np.array([0.0, sample_rate / 2.0]) / 700.0)
    pts = 700.0 * (10.0 ** (np.linspace(mels[0], mels[1], n_mels + 2) / 2595.0) - 1.0)
    lin = np.linspace(0.0, sample_rate / 2.0, n_bins)
    lo, cc, hi = pts[:-2, None], pts[1:-1, None], pts[2:, None]
    fb = np.clip(np.minimum((lin - lo) / (cc - lo), (hi - lin) / (hi - cc)), 0.0, None)

    nn = np.arange(n_mels, dtype=np.float64)
    kk = np.arange(N_MFCC, dtype=np.float64)[:, None]
    dct = np.cos(np.pi / n_mels * (nn + 0.5) * kk)
    dct[0] *= np.sqrt(1.0 / n_mels)
    dct[1:] *= np.sqrt(2.0 / n_mels)

    f32 = freqs.astype(np.float32)
    band_idx = {
        name: (
            int(np.searchsorted(f32, lo_, side="left")),
            int(np.searchsorted(f32, hi_, side="right")),
        )
        for name, (lo_, hi_) in FREQUENCY_BANDS.items()
    }
    # banded form of the mel filterbank: each triangle's support is a
    # short contiguous bin run (~2F/n_mels of F/2 bins), so the dense
    # (n_bins x n_mels) matmul wastes ~95% of its flops on exact zeros.
    # Store (lo, hi, weights) per mel; _kernel_batch multiplies only the
    # support slices. Same f64 products, different accumulation order —
    # inside the allclose/round-6 truce like every other reorder here.
    fb_bands = []
    for m in range(n_mels):
        nz = np.nonzero(fb[m])[0]
        if len(nz):
            fb_bands.append((int(nz[0]), int(nz[-1]) + 1, fb[m, nz[0] : nz[-1] + 1].copy()))
        else:
            fb_bands.append((0, 0, fb[m, 0:0]))
    # one (n_bins, 3) moment matrix: spec @ m3 yields [sum, sum f*s,
    # sum f^2*s] in ONE pass over spec instead of three (sum, two
    # matvecs) — the kernel is bandwidth-bound, passes ARE the cost.
    # BLAS accumulation order differs from np.sum's pairwise order by
    # ~1 ulp; inside the allclose/round-6 truce like every reorder here.
    m3 = np.stack([np.ones_like(freqs), freqs, freqs * freqs], axis=1)
    c = dict(
        hann=hann, freqs=freqs, m3=m3, fb=fb, fb_bands=fb_bands,
        dct=dct, band_idx=band_idx,
    )
    _CONST_CACHE[key] = c
    return c


def chroma_fold(
    spec: np.ndarray,
    sample_rate: int,
    frame_length: int,
    chroma_band: tuple[float, float] | None = None,
    harmonics: int = CHROMA_HARMONICS,
) -> np.ndarray:
    """HPCP-shaped chroma over a (B, n_bins) magnitude-spectrum batch —
    re-spec of es.SpectralPeaks -> es.HPCP at their defaults (reference
    processors.py:85-88,251-260; bit parity with Essentia is impossible
    here, the algorithm below is the pinned spec and the DuckDB twin
    mirrors it term-for-term):

    1. peaks: interior local maxima (strict left, >= right, > 1e-10);
    2. parabolic interpolation (the standard 3-point vertex): with
       u=b-a>0, v=b-c>=0 the offset p = 0.5*(u-v)/(u+v) is always in
       [-0.5, 0.5]; f = (k+p)*sr/F, magnitude m = b - 0.25*(a-c)*p;
    3. frequency gate [chroma_band] (es.HPCP min/maxFrequency —
       defaults 40..5000 Hz);
    4. fold ENERGY m^2 onto every pitch class within
       CHROMA_WINDOW_SEMITONES of s = 12*log2(f/440), weighted
       cos^2(pi/2 * d/window) (es.HPCP squaredCosine); each harmonic
       n=2..harmonics+1 re-folds at s_n = 12*log2(f/(n*440)) with energy
       m^2/n (re-spec: the reference runs harmonics=0);
    5. unit-max normalize (es.HPCP normalized='unitMax').

    The 12-class loop keeps temporaries 2-D (B x n_interior) — a
    (B, nI, 12) broadcast is ~75 MB per 256-chunk at F=2048."""
    lo_f, hi_f = chroma_band or (CHROMA_MIN_FREQ, CHROMA_MAX_FREQ)
    step = sample_rate / frame_length
    # bin-range pre-prune: the interpolated offset p is bounded in
    # [-0.5, 0.5], so a bin k can pass the [lo_f, hi_f] gate only when
    # (k+0.5)*step >= lo_f and (k-0.5)*step <= hi_f. Out-of-range bins
    # contribute EXACT zeros, so slicing them away is bit-identical —
    # and under the production 40-5000 Hz gate it cuts the F=2048
    # transcendental work ~4x (bins 1..233 of 1023).
    n_int = spec.shape[1] - 2
    k_lo = max(1, int(np.floor(lo_f / step - 0.5)))
    k_hi = min(n_int, int(np.ceil(hi_f / step + 0.5)))
    if k_hi < k_lo:
        return np.zeros((spec.shape[0], N_CHROMA), dtype=np.float64)
    a = spec[:, k_lo - 1 : k_hi]
    b = spec[:, k_lo : k_hi + 1]
    c2 = spec[:, k_lo + 1 : k_hi + 2]
    peaks = (b > a) & (b >= c2) & (b > 1e-10)
    denom = a - 2.0 * b + c2  # = -(u+v) < 0 strictly for any true peak
    p = np.where(
        denom == 0.0, 0.0, 0.5 * (a - c2) / np.where(denom == 0.0, 1.0, denom)
    )
    kk = np.arange(k_lo, k_hi + 1, dtype=np.float64)[None, :]
    fpk = (kk + p) * step
    mpk = b - 0.25 * (a - c2) * p
    sel = peaks & (fpk >= lo_f) & (fpk <= hi_f) & (fpk > 0)
    # COMPRESS to selected peaks before any transcendental: only ~1/3 of
    # interior bins are peaks, and non-selected entries contribute exact
    # +0.0 terms, which are an IEEE identity in bincount's sequential
    # accumulation (np.nonzero preserves row-major order) — so dropping
    # them is bit-identical for the fold below while cutting the
    # log2/mod/cos and scatter work ~3x.
    rows, _cols = np.nonzero(sel)
    f_s = fpk[sel]
    m_s = mpk[sel]
    energy0 = m_s * m_s
    w_half_pi = np.pi / 2.0 / CHROMA_WINDOW_SEMITONES
    B = spec.shape[0]
    chroma = np.zeros((B, N_CHROMA), dtype=np.float64)
    two_class = CHROMA_WINDOW_SEMITONES == 1.0
    row_key = rows * N_CHROMA
    for n in range(1, max(harmonics, 0) + 2):
        st = 12.0 * np.log2(f_s / (n * CHROMA_REF_FREQ))
        smod = np.mod(st, 12.0)
        energy = energy0 / float(n)
        if two_class:
            # windowSize=1: a peak reaches EXACTLY the two classes
            # straddling smod (d to any other class > 1, and the weight
            # at d==1 is cos^2(pi/2) ~ 1e-33 — sub-round-6 in all cases,
            # incl. the fp edge smod==12.0). Same d/cos expressions as
            # the generic branch, scattered with two bincounts instead
            # of a 12-pass loop — ~12x less transcendental work; this
            # IS the kernel's hot path at F=2048.
            lo = np.minimum(np.floor(smod), 11.0)
            # pc_hi, NOT hi_f: that name is the chroma upper FREQUENCY
            # gate in the enclosing scope — shadowing it here is a
            # wrong-variable trap for any future edit below this loop
            pc_hi = np.where(lo >= 11.0, 0.0, lo + 1.0)
            for pc_f in (lo, pc_hi):
                d = np.abs(smod - pc_f)
                d = np.minimum(d, 12.0 - d)
                w = np.cos(w_half_pi * d) ** 2
                keys = row_key + pc_f.astype(np.int64)
                chroma += np.bincount(
                    keys, weights=energy * w, minlength=B * N_CHROMA
                ).reshape(B, N_CHROMA)
        else:
            for pc in range(N_CHROMA):
                d = np.abs(smod - float(pc))
                d = np.minimum(d, 12.0 - d)
                w = np.where(
                    d <= CHROMA_WINDOW_SEMITONES,
                    np.cos(w_half_pi * d) ** 2,
                    0.0,
                )
                chroma[:, pc] += np.bincount(
                    rows, weights=energy * w, minlength=B
                )
    m = chroma.max(axis=1, keepdims=True)
    return np.where(m > 0, chroma / np.where(m == 0, 1, m), 0.0)


# ---------------------------------------------------------------------------
# batched feature computation
# ---------------------------------------------------------------------------

BAND_NAMES = tuple(FREQUENCY_BANDS)


def _kernel_batch(
    wins: np.ndarray,
    frame_length: int,
    sample_rate: int,
    token_scale: float,
    features: tuple[str, ...],
    n_mels: int,
    chroma_band: tuple[float, float] | None = None,
) -> dict[str, np.ndarray]:
    """Compute requested features for a (B, F) int window batch."""
    c = _consts(frame_length, sample_rate, n_mels)
    B = wins.shape[0]
    # float32 quantization preserved for reference parity (extractor.py:
    # 132-134, :160-163), then ONE upcast: numpy's rfft on float32 input is
    # 20-40x slower than float64 (it upcasts to complex128 internally
    # anyway, so results are bit-identical).
    X = wins.astype(np.float32) / np.float32(token_scale)
    W64 = (X * c["hann"][None, :]).astype(np.float64)
    out: dict[str, np.ndarray] = {}
    fset = set(features)

    # finite/sign checks read the f32 array (half the DRAM bytes of W64)
    # — EXACTLY equivalent: hann >= 0 so W64 = X*hann preserves finiteness
    # (inf*0 = nan, still non-finite) and signbit (x*(+0.) keeps x's sign
    # bit for every f32 x, incl. integer-sourced +/-0), and the kernel is
    # bandwidth-bound (VERDICT r3: contended-DRAM microprobe slows it
    # 3.5x), so bytes ARE the cost model.
    bad_input = ~np.isfinite(X).all(axis=1)  # processors.py:149-152
    zero_spec = np.zeros(B, dtype=bool)

    # einsum: one read of W64, no (B, F) squared temp (mean(W64**2) writes
    # and re-reads 4 MB per 256-chunk); same f64 values to ~1 ulp — the
    # oracle gate is allclose/round-6, which already absorbs
    # accumulation-order differences (the DuckDB twin sums in a different
    # order than pocketfft to begin with). Gated on the feature set
    # (P1/P2 pushdown): a spectral-only request must not pay a full W64
    # pass for a discarded rms.
    if fset & {"rms", "volume"}:
        rms = np.sqrt(np.einsum("bf,bf->b", W64, W64) / float(frame_length))
        if "rms" in fset:
            out["rms"] = rms
        if "volume" in fset:
            out["volume"] = 20.0 * np.log10(rms + EPS)
    if "zero_crossing_rate" in fset:
        sb = np.signbit(X)
        out["zero_crossing_rate"] = np.mean(sb[:, 1:] != sb[:, :-1], axis=1)

    if fset & SPECTRAL_FEATURES:
        spec = np.abs(np.fft.rfft(W64, axis=1))
        zero_spec = (spec == 0).all(axis=1)  # processors.py:198-203
        if "spectrum" in fset:
            out["spectrum"] = spec
        # ONE gemm pass over spec for all three linear reductions
        # (see _consts m3) — sum, first and second frequency moments
        mom = spec @ c["m3"]
        ssum = mom[:, 0]
        safe = np.where(ssum == 0, 1.0, ssum)
        freqs = c["freqs"]

        centroid = mom[:, 1] / safe
        if "spectral_centroid" in fset:
            out["spectral_centroid"] = centroid
        if "spectral_bandwidth" in fset:
            # expanded second-moment form: sum((f-c)^2 s)/S = sum(f^2 s)/S
            # - c^2 (exactly, since c = sum(f s)/S). Replaces two (B,
            # n_bins) temporaries (fd, fd*fd ~ 4 MB per 256-chunk) with
            # the shared moment gemm — 17x faster measured, max rel
            # deviation 3e-15 (clip guards the cancellation residue going
            # epsilon-negative for near-pure tones, as before).
            var = mom[:, 2] / safe - centroid * centroid
            bw = np.sqrt(np.clip(var, 0.0, None))
            out["spectral_bandwidth"] = np.where(ssum > 1e-10, bw, 0.0)
        if "spectral_flatness" in fset:
            # scale-RELATIVE floor (EPS * max bin), not absolute EPS: bins
            # at exact DFT zeros carry ~1e-17 algorithm-dependent noise,
            # and ln(noise + absolute_EPS) swings by ln(2) per bin — a
            # relative floor dominates the noise identically everywhere
            # (deviation from reference processors.py:167 documented; the
            # numpy golden + DuckDB twin use the same floor)
            mx = spec.max(axis=1, keepdims=True)
            eps_r = EPS * np.where(mx > 0, mx, 1.0)
            gm = np.exp(np.mean(np.log(spec + eps_r), axis=1))
            # arithmetic mean from the shared moment gemm (ssum/n) — one
            # fewer full pass over spec; ~1 ulp vs np.mean's pairwise sum
            out["spectral_flatness"] = gm / (ssum / spec.shape[1] + EPS)
        if "spectral_rolloff" in fset:
            energy = spec * spec
            # in-place running sum — drops a (B, n_bins) temporary
            cum = np.cumsum(energy, axis=1, out=energy)
            target = 0.85 * cum[:, -1:]
            k = np.minimum((cum < target).sum(axis=1), len(freqs) - 1)
            out["spectral_rolloff"] = freqs[k]
        if "mfcc" in fset:
            # banded filterbank: only each triangle's support slice is
            # multiplied (see _consts) — ~20x fewer flops than the dense
            # (B, n_bins) @ (n_bins, n_mels) gemm it replaces.
            mel_e = np.empty((B, len(c["fb_bands"])), dtype=np.float64)
            for m, (li, hi, w) in enumerate(c["fb_bands"]):
                mel_e[:, m] = spec[:, li:hi] @ w if hi > li else 0.0
            out["mfcc"] = np.log(mel_e + EPS) @ c["dct"].T
        if "chroma" in fset:
            out["chroma"] = chroma_fold(spec, sample_rate, frame_length, chroma_band)
        for name in BAND_NAMES:
            if "frequency_bands" in fset:
                li, hi = c["band_idx"][name]
                out[f"fb_{name}"] = (
                    spec[:, li:hi].mean(axis=1) if hi > li else np.zeros(B)
                )

    out["_bad_input"] = bad_input
    out["_zero_spec"] = zero_spec
    return out


KERNEL_CHUNK = 256  # cache-resident spectral temporaries (see fused.py note)


def kernel_output_fields(features: tuple[str, ...]) -> list[tuple[str, str]]:
    """(name, ddl_type) pairs for the kernel's output columns, in order."""
    fields: list[tuple[str, str]] = []
    for f in features:
        if f in ("mfcc", "chroma", "spectrum"):
            fields.append((f, "array<double>"))
        elif f == "frequency_bands":
            fields.extend((f"fb_{b}", "double") for b in BAND_NAMES)
        else:
            fields.append((f, "double"))
    fields.append(("ferror", "string"))
    return fields


# outputs nulled only on non-finite input, never on a zero spectrum
# (:198-203). An all-zero spectrum is a valid spectrum: flux and contrast
# (and their DuckDB twins) read it as zeros.
ZERO_SPEC_SAFE_OUTPUTS = ("rms", "volume", "zero_crossing_rate", "spectrum")


def mask_kernel_outputs(res: dict, fields: list[tuple[str, str]]) -> dict:
    """The ferror-tagging / feature-nulling contract applied to one
    `_kernel_batch` result by the kernel's one caller, the fused
    mapInArrow (fused.py): non-finite input -> ferror='nonfinite_frame'
    and every output NULL; zero spectrum -> ferror='zero_spectrum' and
    the spectral features NULL.

    Returns name -> Arrow array (2-D outputs as list<double>)."""
    bad_input = res["_bad_input"]
    zero_spec = res["_zero_spec"]
    spectral_bad = bad_input | zero_spec
    data: dict[str, pa.Array] = {}
    for name, _t in fields[:-1]:  # every output but the trailing ferror
        bad = bad_input if name in ZERO_SPEC_SAFE_OUTPUTS else spectral_bad
        col = res[name]
        if col.ndim == 2:
            offsets = np.arange(0, col.size + 1, col.shape[1], dtype=np.int32)
            data[name] = pa.ListArray.from_arrays(
                offsets, pa.array(col.ravel()), mask=pa.array(bad)
            )
        else:
            data[name] = pa.array(col, mask=bad)
    tag = np.where(zero_spec, "zero_spectrum", None)
    data["ferror"] = pa.array(np.where(bad_input, "nonfinite_frame", tag), pa.string())
    return data


# ---------------------------------------------------------------------------
# pure-SQL slice: rms/volume with NO Python (whole-stage codegen)
# ---------------------------------------------------------------------------


def rms_volume_exprs(
    window_col: str = "window",
    frame_length: int = FRAME_LENGTH,
    token_scale: float = TOKEN_SCALE,
) -> dict[str, Column]:
    """rms = sqrt(mean(x^2)), volume = 20*log10(rms+eps)
    (processors.py:168,177) as native Spark expressions, computed on the
    RAW scaled tokens (no Hann) — the SQL-oracle-checkable slice; the
    Hann-windowed values come from the kernel itself."""
    x = F.transform(
        F.col(window_col), lambda v: v.cast("double") / F.lit(token_scale)
    )
    sq = F.aggregate(
        x, F.lit(0.0), lambda acc, v: acc + v * v
    )
    rms = F.sqrt(sq / F.lit(float(frame_length)))
    return {
        "rms": rms,
        "volume": F.lit(20.0) * F.log10(rms + F.lit(EPS)),
    }
