"""Engine constants.

Mirrors the reference's workload constants
(/root/reference/src/audiopro/utils/constants.py:23-33) re-expressed for a
tokenized-sequence corpus: the "signal" is an ``array<int32>`` token payload
(input_hint), unit-scaled by TOKEN_SCALE so amplitude-style formulas
(silence ratio |x|<0.001, clipping |x|>0.99 — reference metadata.py:73-77)
stay meaningful.
"""

from __future__ import annotations

import numpy as np

# Framing constants — reference constants.py:23-25.
FRAME_LENGTH: int = 2_048
HOP_LENGTH: int = 512
BATCH_SIZE: int = 1_000  # reference frames/batch; here: Arrow maxRecordsPerBatch

# Fixture sample rate: frame time_ms = (start + idx*HOP)/SR*1000
# (reference processors.py:281-283). Fixed for the token corpus.
SAMPLE_RATE: int = 44_100

# int32 tokens in [-32768, 32767] map onto [-1, 1) float "amplitude".
TOKEN_SCALE: float = 32_768.0

# reference constants.py:26-33 — fixed Hz bands. Bin membership follows
# the reference's searchsorted(lo, 'left')/searchsorted(hi, 'right')
# (processors.py:60-71): a bin exactly at `hi` belongs to BOTH adjacent
# bands — [low, high] inclusive on the upper edge, NOT [low, high).
# Unreachable at 44100/2048 (no bin lands on an edge); kept bug-compatible
# with the reference for parity (kernel._consts, oracle.py, duck_twins
# all share this convention).
FREQUENCY_BANDS: dict[str, tuple[int, int]] = {
    "sub_bass": (20, 60),
    "bass": (60, 250),
    "low_mid": (250, 500),
    "mid": (500, 2000),
    "upper_mid": (2000, 5000),
    "treble": (5000, 20000),
}

# reference processors.py:167 — np.finfo(float).eps
EPS: float = float(np.finfo(np.float64).eps)

N_MFCC: int = 13  # reference processors.py:82 (numberCoefficients=13)
N_MELS: int = 40
N_CHROMA: int = 12  # reference types.py:173

# HPCP-shaped chroma fold (re-spec of es.SpectralPeaks + es.HPCP with
# their DEFAULT parameters — reference processors.py:85-88,251-260):
# parabolically-interpolated peaks in [MIN,MAX] Hz fold their ENERGY
# (mag^2) onto the pitch classes within WINDOW semitones of
# 12*log2(f/REF), squared-cosine weighted, unit-max normalized.
CHROMA_REF_FREQ: float = 440.0       # es.HPCP referenceFrequency
CHROMA_WINDOW_SEMITONES: float = 1.0  # es.HPCP windowSize
CHROMA_MIN_FREQ: float = 40.0        # es.HPCP minFrequency
CHROMA_MAX_FREQ: float = 5000.0      # es.HPCP maxFrequency
CHROMA_HARMONICS: int = 0            # es.HPCP harmonics (default: none)

# Signal validation thresholds — reference validator.py:80-123.
MIN_SIGNAL_ENERGY: float = 1e-6
SILENCE_THRESHOLD: float = 0.001
CLIP_THRESHOLD: float = 0.99

# Error budget: the reference comments "2.5% error rate" but computes
# n_frames // 2.5 (= 40%) — extractor.py:186-187. We implement the
# comment's intent (SURVEY.md §2.8): configurable, default 2.5%.
DEFAULT_ERROR_BUDGET_PCT: float = 0.025
COMPLETION_WARN_PCT: float = 0.97  # reference extractor.py:285-289

# Full per-frame feature surface — reference output/types.py + processors.py.
ALL_FRAME_FEATURES: tuple[str, ...] = (
    "rms",
    "volume",
    "zero_crossing_rate",
    "spectral_centroid",
    "spectral_bandwidth",
    "spectral_flatness",
    "spectral_rolloff",
    "mfcc",
    "chroma",
    "frequency_bands",
)

SPECTRAL_FEATURES: frozenset[str] = frozenset(
    {
        "spectral_centroid",
        "spectral_bandwidth",
        "spectral_flatness",
        "spectral_rolloff",
        "mfcc",
        "chroma",
        "frequency_bands",
        "spectrum",  # internal kernel output: spectral flux / contrast read it
    }
)
