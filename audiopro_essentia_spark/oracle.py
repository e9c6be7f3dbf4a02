"""Pure-numpy, single-process golden oracle of the reference formulas.

Every function re-states a reference formula with a file:line citation into
/root/reference/. The Spark engine must match this oracle with exact
token-array equality on windows and np.allclose on feature values at every
doc_id x frame_idx (BASELINE.json north_rule). Kept deliberately scalar /
per-frame (no sharing with the vectorized Spark kernels) so engine bugs
cannot hide behind shared helpers.

Where the reference delegates to Essentia C++ (Spectrum/MFCC/HPCP/RollOff —
processors.py:75-88), the formula here is OUR deterministic re-specification
(SURVEY.md §7 "what's hard"); the parity target is this oracle, not
bit-identity with Essentia (not present in this sandbox).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from .constants import (
    CLIP_THRESHOLD,
    EPS,
    FRAME_LENGTH,
    FREQUENCY_BANDS,
    HOP_LENGTH,
    MIN_SIGNAL_ENERGY,
    N_CHROMA,
    N_MELS,
    N_MFCC,
    SAMPLE_RATE,
    SILENCE_THRESHOLD,
    TOKEN_SCALE,
)

# --------------------------------------------------------------------------
# framing — reference extractor.py:45-67,149; audio_loader.py:84-86
# --------------------------------------------------------------------------


def trim_odd(tokens: np.ndarray) -> np.ndarray:
    """Drop the last element when length is odd (audio_loader.py:84-86)."""
    n = len(tokens)
    return tokens[: n - (n % 2)]


def n_frames(n_tok: int, frame_length: int = FRAME_LENGTH, hop: int = HOP_LENGTH) -> int:
    """Frame count 1 + (N - F) // H, 0 when N < F (extractor.py:122-125,149)."""
    n_tok = n_tok - (n_tok % 2)
    if n_tok < frame_length:
        return 0
    return 1 + (n_tok - frame_length) // hop


def frame_windows(
    tokens: np.ndarray, frame_length: int = FRAME_LENGTH, hop: int = HOP_LENGTH
) -> np.ndarray:
    """Complete frames only (extractor.py:61-64): shape (n_frames, F)."""
    tokens = trim_odd(np.asarray(tokens))
    nf = n_frames(len(tokens), frame_length, hop)
    if nf == 0:
        return np.empty((0, frame_length), dtype=tokens.dtype)
    return np.stack([tokens[i * hop : i * hop + frame_length] for i in range(nf)])


def frame_time_ms(
    frame_idx: int,
    sample_rate: int = SAMPLE_RATE,
    hop: int = HOP_LENGTH,
    start_sample: int = 0,
) -> float:
    """time_ms = ((start + idx*H)/sr)*1000 (processors.py:281-283)."""
    return ((start_sample + frame_idx * hop) / sample_rate) * 1000.0


# --------------------------------------------------------------------------
# per-frame features — reference processors.py:90-302
# --------------------------------------------------------------------------


@lru_cache(maxsize=8)
def _hann(frame_length: int) -> np.ndarray:
    """np.hanning window, float32 (extractor.py:160)."""
    return np.hanning(frame_length).astype(np.float32)


@lru_cache(maxsize=8)
def _freqs(frame_length: int, sample_rate: int) -> np.ndarray:
    """rfft frequency bins (extractor.py:161); identical to
    linspace(0, sr/2, F//2+1) used by get_frequency_bins (processors.py:43)."""
    return np.fft.rfftfreq(frame_length, d=1.0 / sample_rate).astype(np.float32)


@lru_cache(maxsize=8)
def _mel_fb(n_mels: int, n_bins: int, sample_rate: int) -> np.ndarray:
    """Triangular HTK-mel filterbank, our re-spec of es.MFCC's bank
    (processors.py:82,246-249)."""
    def to_mel(f):
        return 2595.0 * np.log10(1.0 + np.asarray(f, dtype=np.float64) / 700.0)

    def from_mel(m):
        return 700.0 * (10.0 ** (np.asarray(m, dtype=np.float64) / 2595.0) - 1.0)

    pts = from_mel(np.linspace(to_mel(0.0), to_mel(sample_rate / 2.0), n_mels + 2))
    freqs = np.linspace(0.0, sample_rate / 2.0, n_bins)
    fb = np.zeros((n_mels, n_bins), dtype=np.float64)
    for i in range(n_mels):
        lo, c, hi = pts[i], pts[i + 1], pts[i + 2]
        up = (freqs - lo) / (c - lo)
        down = (hi - freqs) / (hi - c)
        fb[i] = np.clip(np.minimum(up, down), 0.0, None)
    return fb


@lru_cache(maxsize=8)
def _dct_matrix(n_out: int, n_in: int) -> np.ndarray:
    """Orthonormal DCT-II matrix (n_out x n_in) for MFCC."""
    n = np.arange(n_in, dtype=np.float64)
    k = np.arange(n_out, dtype=np.float64)[:, None]
    m = np.cos(np.pi / n_in * (n + 0.5) * k)
    m[0] *= np.sqrt(1.0 / n_in)
    m[1:] *= np.sqrt(2.0 / n_in)
    return m


def _chroma_hpcp(
    spec: np.ndarray,
    sample_rate: int,
    frame_length: int,
    chroma_band: tuple[float, float] | None = None,
) -> np.ndarray:
    """Scalar (one-frame, plain-loop) form of the HPCP-shaped chroma fold
    — independent of the batched kernel (kernel.chroma_fold), same pinned
    spec: parabolic peak interpolation -> [40,5000] Hz gate -> squared-
    cosine energy fold around 12*log2(f/440) -> unit-max. Re-spec of
    es.SpectralPeaks + es.HPCP defaults (processors.py:85-88,251-260)."""
    from .constants import (
        CHROMA_MAX_FREQ,
        CHROMA_MIN_FREQ,
        CHROMA_REF_FREQ,
        CHROMA_WINDOW_SEMITONES,
    )

    lo_f, hi_f = chroma_band or (CHROMA_MIN_FREQ, CHROMA_MAX_FREQ)
    step = sample_rate / frame_length
    chroma = np.zeros(N_CHROMA, dtype=np.float64)
    for i in range(1, len(spec) - 1):
        a, b, c = float(spec[i - 1]), float(spec[i]), float(spec[i + 1])
        if not (b > a and b >= c and b > 1e-10):
            continue
        denom = a - 2.0 * b + c
        p = 0.0 if denom == 0.0 else 0.5 * (a - c) / denom
        f = (i + p) * step
        m = b - 0.25 * (a - c) * p
        if not (lo_f <= f <= hi_f and f > 0):
            continue
        s = np.mod(12.0 * np.log2(f / CHROMA_REF_FREQ), 12.0)
        for pc in range(N_CHROMA):
            d = abs(s - pc)
            d = min(d, 12.0 - d)
            if d <= CHROMA_WINDOW_SEMITONES:
                w = np.cos(np.pi / 2.0 * d / CHROMA_WINDOW_SEMITONES) ** 2
                chroma[pc] += w * m * m
    mx = chroma.max()
    return chroma / mx if mx > 0 else chroma


def frame_features(
    window_tokens: np.ndarray,
    sample_rate: int = SAMPLE_RATE,
    frame_length: int | None = None,
    token_scale: float = TOKEN_SCALE,
    n_mels: int | None = None,
    chroma_band: tuple[float, float] | None = None,
) -> dict | None:
    """All per-frame features for one token window.

    Pipeline mirrors processors.py:136-285: scale -> Hann window (:160-163)
    -> rms/volume (:167-181) -> spectrum + spectral features (:190-265)
    -> zcr on the *windowed* frame (:275-278, `frame` was rebound at :163).
    Returns None when the spectrum is all-zero (the reference raises
    SpectralFeatureError and drops the frame, :198-203).
    """
    F = frame_length or len(window_tokens)
    x = np.asarray(window_tokens, dtype=np.float32) / np.float32(token_scale)
    w = x * _hann(F)

    rms = float(np.sqrt(np.mean(w.astype(np.float64) ** 2)))
    volume = float(20.0 * np.log10(rms + EPS))

    # zero_crossing_rate: sign-change fraction over consecutive samples of the
    # windowed frame — re-spec of es.ZeroCrossingRate (processors.py:275-278).
    sb = np.signbit(w)
    zcr = float(np.mean(sb[1:] != sb[:-1]))

    spec = np.abs(np.fft.rfft(w)).astype(np.float64)  # re-spec of es.Spectrum (:75-77)
    if np.all(spec == 0):
        return None  # zero-spectrum frame dropped (:198-203)

    freqs = _freqs(F, sample_rate).astype(np.float64)
    ssum = float(spec.sum())

    # centroid = sum(f*s)/sum(s) over f in [0, sr/2] (es.Centroid, :205-214)
    centroid = float((freqs * spec).sum() / ssum)

    # bandwidth (:216-232): float32 intermediate dance preserved in spirit;
    # 0.0 when sum(spec) <= 1e-10
    if ssum > 1e-10:
        fd = freqs - centroid
        variance = float((fd * fd * spec).sum() / ssum)
        bandwidth = float(np.sqrt(np.clip(variance, 0.0, None)))
    else:
        bandwidth = 0.0

    # flatness = geometric mean / arithmetic mean (es.Flatness, :234-238);
    # scale-relative floor EPS*max(spec) — see kernel.py rationale
    _eps_r = EPS * (spec.max() if spec.max() > 0 else 1.0)
    flatness = float(
        np.exp(np.mean(np.log(spec + _eps_r))) / (np.mean(spec) + EPS)
    )

    # rolloff: frequency below which 85% of spectral ENERGY lies
    # (es.RollOff default cutoff 0.85, :240-244)
    energy = spec**2
    cum = np.cumsum(energy)
    k = int(np.searchsorted(cum, 0.85 * cum[-1], side="left"))
    rolloff = float(freqs[min(k, len(freqs) - 1)])

    # mfcc (13): mel filterbank -> log -> DCT-II (re-spec of es.MFCC :246-249)
    nm = n_mels or min(N_MELS, max(2, len(spec) - 2))
    mel_e = _mel_fb(nm, len(spec), sample_rate) @ spec
    mfcc = (_dct_matrix(N_MFCC, nm) @ np.log(mel_e + EPS)).astype(np.float64)

    # chroma (12): HPCP-shaped fold — interpolated peaks, freq gate,
    # squared-cosine energy weighting (re-spec of es.SpectralPeaks +
    # es.HPCP :251-260)
    chroma = _chroma_hpcp(spec, sample_rate, F, chroma_band)

    # frequency bands: mean magnitude within [low, high) using searchsorted
    # left/right (processors.py:60-71), 0.0 for empty bands
    bands: dict[str, float] = {}
    f32 = freqs.astype(np.float32)
    for name, (lo, hi) in FREQUENCY_BANDS.items():
        li = int(np.searchsorted(f32, lo, side="left"))
        hi_i = int(np.searchsorted(f32, hi, side="right"))
        bands[name] = float(np.mean(spec[li:hi_i])) if hi_i > li else 0.0

    return {
        "rms": rms,
        "volume": volume,
        "zero_crossing_rate": zcr,
        "spectral_centroid": centroid,
        "spectral_bandwidth": bandwidth,
        "spectral_flatness": flatness,
        "spectral_rolloff": rolloff,
        "mfcc": mfcc,
        "chroma": chroma,
        "frequency_bands": bands,
    }


# --------------------------------------------------------------------------
# doc-level aggregates — reference metadata.py:52-77, validator.py:80-123
# --------------------------------------------------------------------------


def doc_stats(tokens: np.ndarray, token_scale: float = TOKEN_SCALE) -> dict:
    """Doc aggregates on unit-scaled tokens (metadata.py:52-77)."""
    x = np.asarray(tokens, dtype=np.float64) / token_scale
    if len(x) == 0:
        return {
            "peak_amplitude": 0.0,
            "rms_amplitude": 0.0,
            "dynamic_range_db": 0.0,
            "dc_offset": 0.0,
            "silence_ratio": 0.0,
            "potentially_clipped": 0,
            "signal_energy": 0.0,
        }
    ax = np.abs(x)
    peak = float(ax.max())
    rms = float(np.sqrt(np.mean(x**2)))
    return {
        "peak_amplitude": peak,
        "rms_amplitude": rms,
        "dynamic_range_db": float(20.0 * np.log10((peak + EPS) / (rms + EPS))),
        "dc_offset": float(x.mean()),
        "silence_ratio": float(np.mean(ax < SILENCE_THRESHOLD)),
        "potentially_clipped": int(np.sum(ax > CLIP_THRESHOLD)),
        "signal_energy": float(np.sum(x**2)),
    }


def reject_reason(tokens: np.ndarray, token_scale: float = TOKEN_SCALE) -> str | None:
    """Quarantine rule (validator.py:80-123 + extractor.py:122-125):
    empty / low energy (sum x^2 <= 1e-6) / too short to frame."""
    x = np.asarray(tokens, dtype=np.float64) / token_scale
    if len(x) == 0:
        return "empty"
    if not np.isfinite(x).all():
        return "nonfinite"
    if float(np.sum(x**2)) <= MIN_SIGNAL_ENERGY:
        return "low_energy"
    if n_frames(len(x)) == 0:
        return "too_short"
    return None


# --------------------------------------------------------------------------
# tempo / sessionization analog — reference utils/audio.py:82-89,
# controller.py:158-184
# --------------------------------------------------------------------------


def tempo_from_boundaries(boundaries_sec: np.ndarray) -> float:
    """tempo = 60/median(diff(boundaries)) when >1 boundary, else 0.0
    (utils/audio.py:82-89; zero-beat fallback controller.py:179-184)."""
    b = np.asarray(boundaries_sec, dtype=np.float64)
    if len(b) <= 1:
        return 0.0
    med = float(np.median(np.diff(b)))
    return 60.0 / med if med > 0 else 0.0


def sessionize(ts_sec: np.ndarray, gap: float) -> np.ndarray:
    """Gap-and-island session ids for a sorted timestamp array (analog of
    beat segmentation, SURVEY.md W6)."""
    t = np.sort(np.asarray(ts_sec, dtype=np.float64))
    if len(t) == 0:
        return np.empty(0, dtype=np.int64)
    new = np.concatenate([[0], (np.diff(t) > gap).astype(np.int64)])
    return np.cumsum(new)
