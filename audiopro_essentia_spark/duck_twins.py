"""Generated DuckDB oracle twins for the driver's correctness gate.

Every generator here emits ANSI-ish DuckDB SQL that reproduces a Spark-side
query EXACTLY (same column names, same round-6 values) over the driver's
parquet views. The numeric kernels embed the SAME numpy-derived constants
the Spark kernel uses (Hann window, DFT twiddle factors, mel filterbank,
DCT matrix — see operators/kernel.py:_consts), so parity is by
construction, not by re-derivation.

Float parity notes (hard-won):
- The kernel windows in float32 then upcasts: wd_j = f32(f32(tok/scale) *
  hann_f32[j]) -> f64. Both operands are exactly representable in f64
  (tok/scale is an int over a power of two; hann_f32 widens exactly), so
  `CAST(exact_f64_product AS REAL)` reproduces numpy's f32 multiply
  bit-for-bit. Requires |tok| < 2^24 * scale-ulp — true for the char-length
  token derivation.
- numpy rfft vs the unrolled literal-twiddle DFT differ by ~1e-15 relative;
  Hz-scale outputs (centroid/bandwidth/rolloff) are rounded to 6 decimals
  and verified stable on the fixed sf0.01 data (deterministic inputs ->
  deterministic pass/fail; see tests/test_entry.py + driver_compare).
- Energy/flux arithmetic in the rhythm twin is EXACT (rationals with
  power-of-two denominators below 2^52), so peak picking cannot flip.
"""

from __future__ import annotations

import numpy as np

from .constants import EPS, N_MFCC
from .functions.sampling import per_mille as _per_mille
from .operators.dedup import MERSENNE, _minhash_params
from .operators.kernel import BAND_NAMES, _consts

H32 = "(('0x' || substr(md5({x}), 1, 8))::BIGINT)"
H32HI = "(('0x' || substr(md5({x}), 9, 8))::BIGINT)"


def stopword_sql_list(lang: str) -> str:
    """DuckDB list literal of functions.text.STOPWORDS[lang] — the ONE
    source the Spark operators read; every twin renders from it instead
    of hand-copying the words (a copied list desyncs silently when the
    Spark side changes and surfaces only as an oracle hash mismatch)."""
    from .functions.text import STOPWORDS

    return "[" + ",".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


def toks_cte() -> str:
    """tokens := per-word char lengths of documents.text (portable)."""
    return (
        "t AS (SELECT doc_id, list_transform(string_split(text, ' '), "
        "w -> length(w)) AS toks FROM documents)"
    )


def frames_cte(frame_length: int, hop: int) -> str:
    """Odd-trim + framing twin of operators.framing.frame_tokens."""
    return (
        toks_cte()
        + ", tt AS (SELECT doc_id, list_slice(toks, 1, len(toks) - (len(toks) % 2)) "
        "AS toks FROM t), "
        "f AS (SELECT doc_id, CAST(i AS INT) AS frame_idx, "
        f"list_slice(toks, i*{hop}+1, i*{hop}+{frame_length}) AS w "
        f"FROM tt, LATERAL UNNEST(generate_series(0, "
        f"CAST((len(toks)-{frame_length})//{hop} AS INT))) "
        f"AS g(i) WHERE len(toks) >= {frame_length})"
    )


# ---------------------------------------------------------------------------
# frame-feature kernel twin (operators/kernel.py:_kernel_batch)
# ---------------------------------------------------------------------------


def kernel_sql(
    frame_length: int,
    hop: int,
    sample_rate: int,
    token_scale: float,
    features: tuple[str, ...],
    n_mels: int,
    chroma_band: tuple[float, float] | None = None,
) -> str:
    """DuckDB twin of the fused kernel (fused.fused_frame_features) for
    the scalar + mfcc_i + chroma_i + fb_* projection. The chroma peak-fold is stable
    only because the snapped symmetry twiddles keep both spectra within
    ~1e-15 (see below)."""
    c = _consts(frame_length, sample_rate, n_mels)
    freqs = c["freqs"]
    # wd/spec literals come from the ONE shared builder (_dft_parts):
    # snapping rule + f32-windowing cast stay identical across every twin
    wd, _spec_cols, nb = _dft_parts(frame_length, sample_rate, token_scale)
    sq = " + ".join(f"wd{j}*wd{j}" for j in range(frame_length))
    rms = f"sqrt(({sq})/{frame_length}.0)"
    zero = "(" + "+".join(f"abs(wd{j})" for j in range(frame_length)) + ") = 0"

    fset = set(features)
    # gate on the SAME set the Spark kernel gates on (kernel.py
    # needs_spectrum) — a hand-copied subset here silently dropped
    # chroma when it was the only spectral feature requested
    from .constants import SPECTRAL_FEATURES

    spectral = fset & SPECTRAL_FEATURES

    ctes = [
        frames_cte(frame_length, hop),
        f"a AS MATERIALIZED (SELECT doc_id, frame_idx, {wd} FROM f)",
    ]
    out_cols = [
        "doc_id",
        "frame_idx",
        f"round((CAST(frame_idx AS DOUBLE) * {hop})/{sample_rate} * 1000.0, 6) AS time_ms",
    ]
    if "rms" in fset:
        out_cols.append(f"round({rms}, 6) AS rms")
    if "volume" in fset:
        out_cols.append(f"round(20.0*log10({rms} + {EPS!r}), 6) AS volume")
    if "zero_crossing_rate" in fset:
        # signbit flips; no negative zeros can occur (nonneg inputs)
        flips = " + ".join(
            f"(CASE WHEN (wd{j} < 0) <> (wd{j + 1} < 0) THEN 1 ELSE 0 END)"
            for j in range(frame_length - 1)
        )
        out_cols.append(
            f"round(CAST({flips} AS DOUBLE)/{frame_length - 1}.0, 6) "
            "AS zero_crossing_rate"
        )

    last_cte = "a"
    if spectral:
        spec_cols = _spec_cols
        ssum = " + ".join(f"s{k}" for k in range(nb))
        ctes.append(
            f"b AS MATERIALIZED (SELECT *, {', '.join(spec_cols)} FROM a)"
        )
        ctes.append(
            f"cc AS MATERIALIZED (SELECT *, ({ssum}) AS ssum, "
            f"(CASE WHEN ({ssum})=0 THEN 1 ELSE ({ssum}) END) AS safe, "
            f"{zero} AS zero_spec, "
            f"({' + '.join(f's{k}*{float(freqs[k])!r}' for k in range(nb))})"
            "/(CASE WHEN (" + ssum + ")=0 THEN 1 ELSE (" + ssum + ") END) "
            "AS centroid FROM b)"
        )
        last_cte = "cc"

        def nullable(expr: str, name: str) -> str:
            return f"CASE WHEN zero_spec THEN NULL ELSE {expr} END AS {name}"

        if "spectral_centroid" in fset:
            out_cols.append(nullable("round(centroid, 6)", "spectral_centroid"))
        if "spectral_bandwidth" in fset:
            var = " + ".join(
                f"(({float(freqs[k])!r} - centroid)*({float(freqs[k])!r} - centroid))*s{k}"
                for k in range(nb)
            )
            out_cols.append(
                nullable(
                    f"round(CASE WHEN ssum > 1e-10 THEN "
                    f"sqrt(greatest(({var})/safe, 0.0)) ELSE 0.0 END, 6)",
                    "spectral_bandwidth",
                )
            )
        if "spectral_flatness" in fset:
            # scale-relative EPS floor — must mirror kernel.py exactly
            smax = "greatest(" + ", ".join(f"s{k}" for k in range(nb)) + ")"
            eps_r = (
                f"({EPS!r} * (CASE WHEN {smax} > 0 THEN {smax} ELSE 1.0 END))"
            )
            gl = " + ".join(f"ln(s{k} + eps_r)" for k in range(nb))
            out_cols.append(
                nullable(
                    f"round(exp(({gl})/{nb}.0) / (ssum/{nb}.0 + {EPS!r}), 6)",
                    "spectral_flatness",
                )
            )
            # eps_r lives on the cc level so ln() terms reference one value
            assert ctes[-1].endswith("AS centroid FROM b)")
            ctes[-1] = ctes[-1].replace(
                " FROM b)", f", {eps_r} AS eps_r FROM b)"
            )
        if "spectral_rolloff" in fset:
            acc: list[str] = []
            cum = []
            for k in range(nb):
                acc.append(f"s{k}*s{k}")
                cum.append(" + ".join(acc))
            kexpr = (
                "LEAST("
                + " + ".join(
                    f"(CASE WHEN ({cum[k]}) < 0.85*({cum[nb - 1]}) THEN 1 ELSE 0 END)"
                    for k in range(nb)
                )
                + f", {nb - 1})"
            )
            # CAST: a bare decimal literal list ([0.0, 2756.25, ...]) types
            # as DECIMAL in DuckDB and the driver's Arrow serialization of
            # DECIMAL is not guaranteed to render like Spark's DOUBLE
            flist = (
                "["
                + ",".join(f"CAST({float(f)!r} AS DOUBLE)" for f in freqs)
                + "]"
            )
            out_cols.append(
                nullable(f"round(({flist})[{kexpr} + 1], 6)", "spectral_rolloff")
            )
        if "mfcc" in fset:
            fb, dct = c["fb"], c["dct"]
            # mel/DCT coefficients are long-mantissa reals: string-parse
            # them to DOUBLE (bare literals route through DECIMAL, whose
            # ->DOUBLE conversion is 1 ulp off for many values — the
            # CLAUDE.md CAST rule)
            mel_cols = []
            for m in range(n_mels):
                terms = [
                    f"s{k}*CAST('{fb[m, k]!r}' AS DOUBLE)"
                    for k in range(nb)
                    if fb[m, k] != 0
                ]
                mel_cols.append(
                    f"ln(({' + '.join(terms) if terms else '0.0'}) + {EPS!r}) AS lm{m}"
                )
            ctes.append(f"mm AS MATERIALIZED (SELECT *, {', '.join(mel_cols)} FROM cc)")
            last_cte = "mm"
            for i in range(N_MFCC):
                expr = " + ".join(
                    f"lm{m}*CAST('{dct[i, m]!r}' AS DOUBLE)"
                    for m in range(n_mels)
                )
                out_cols.append(nullable(f"round({expr}, 6)", f"mfcc_{i}"))
        if "chroma" in fset:
            # HPCP-shaped fold (kernel.chroma_fold, harmonics=0):
            # parabolic peak interpolation -> [lo,hi] Hz gate ->
            # squared-cosine ENERGY fold around 12*log2(f/440) ->
            # unit-max. Stable vs rfft only because the snapped twiddles
            # keep the spectra within ~1e-15 (peak offsets p are bounded
            # in [-0.5, 0.5] for true peaks, so the interpolation cannot
            # amplify that noise; the d<=window gate is harmless to flip
            # — the weight is 0 at the boundary).
            import math

            from .constants import (
                CHROMA_MAX_FREQ,
                CHROMA_MIN_FREQ,
                CHROMA_REF_FREQ,
                CHROMA_WINDOW_SEMITONES,
                N_CHROMA,
            )

            lo_f, hi_f = chroma_band or (CHROMA_MIN_FREQ, CHROMA_MAX_FREQ)
            step = sample_rate / frame_length
            whp = math.pi / 2.0 / CHROMA_WINDOW_SEMITONES
            pk_cols = []
            for k in range(1, nb - 1):
                pk_cols.append(
                    f"(CASE WHEN (s{k - 1} - 2.0*s{k} + s{k + 1}) = 0 THEN 0.0 "
                    f"ELSE 0.5*(s{k - 1} - s{k + 1})/(s{k - 1} - 2.0*s{k} + s{k + 1}) "
                    f"END) AS po{k}"
                )
            ctes.append(
                f"cp AS MATERIALIZED (SELECT *, {', '.join(pk_cols)} "
                f"FROM {last_cte})"
            )
            en_cols = []
            for k in range(1, nb - 1):
                fq = f"(({k}.0 + po{k}) * {float(step)!r})"
                mg = f"(s{k} - 0.25*(s{k - 1} - s{k + 1})*po{k})"
                en_cols.append(
                    f"(CASE WHEN s{k} > s{k - 1} AND s{k} >= s{k + 1} "
                    f"AND s{k} > 1e-10 AND {fq} >= {float(lo_f)!r} "
                    f"AND {fq} <= {float(hi_f)!r} AND {fq} > 0 "
                    f"THEN {mg}*{mg} ELSE 0.0 END) AS en{k}"
                )
                en_cols.append(
                    f"(CASE WHEN {fq} > 0 THEN "
                    f"((((12.0*log2({fq}/{float(CHROMA_REF_FREQ)!r})) % 12.0)"
                    " + 12.0) % 12.0) "
                    f"ELSE 0.0 END) AS sm{k}"
                )
            ctes.append(
                f"ce AS MATERIALIZED (SELECT *, {', '.join(en_cols)} FROM cp)"
            )
            raw_cols = []
            for p in range(N_CHROMA):
                terms = []
                for k in range(1, nb - 1):
                    d = f"least(abs(sm{k} - {p}.0), 12.0 - abs(sm{k} - {p}.0))"
                    terms.append(
                        f"(en{k} * (CASE WHEN {d} <= "
                        f"{float(CHROMA_WINDOW_SEMITONES)!r} "
                        # whp = pi/2/window is long-mantissa: string-parse
                        f"THEN pow(cos(CAST('{whp!r}' AS DOUBLE) * {d}), 2) "
                        f"ELSE 0.0 END))"
                    )
                raw_cols.append(f"({' + '.join(terms)}) AS cr{p}")
            ctes.append(
                f"ch AS MATERIALIZED (SELECT *, {', '.join(raw_cols)} FROM ce)"
            )
            cmax = (
                "greatest("
                + ", ".join(f"cr{p}" for p in range(N_CHROMA))
                + ")"
            )
            ctes.append(
                f"chm AS MATERIALIZED (SELECT *, {cmax} AS cmax FROM ch)"
            )
            last_cte = "chm"
            for p in range(N_CHROMA):
                out_cols.append(
                    nullable(
                        f"round(CASE WHEN cmax > 0 THEN cr{p}/cmax "
                        f"ELSE 0.0 END, 6)",
                        f"chroma_{p}",
                    )
                )
        if "frequency_bands" in fset:
            for name in BAND_NAMES:
                li, hi = c["band_idx"][name]
                if hi > li:
                    expr = (
                        "round(("
                        + " + ".join(f"s{k}" for k in range(li, hi))
                        + f")/{hi - li}.0, 6)"
                    )
                else:
                    expr = "CAST(0.0 AS DOUBLE)"  # bare 0.0 types as DECIMAL(2,1)
                out_cols.append(nullable(expr, f"fb_{name}"))

    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT " + ",\n ".join(out_cols)
        + f"\nFROM {last_cte}"
    )


def kernel_time_sql(
    frame_length: int,
    hop: int,
    sample_rate: int,
    token_scale: float,
    repeat: int,
) -> str:
    """DuckDB twin of the TIME-DOMAIN kernel slice (rms / volume /
    zero_crossing_rate) at the PRODUCTION frame geometry (F=2048, H=512).
    The DFT twins unroll F `wd{j}` columns — fine at F=16, infeasible at
    F=2048 — so this twin keeps each window as a LIST and indexes a
    frame_length-literal Hann list via a 1-row CTE. The f32-windowing cast
    is the same `CAST(exact_f64_product AS REAL)` recipe as _dft_parts
    (both operands exact in f64 → IEEE round == numpy f32 multiply).
    `repeat` replicates each doc's token array (the Spark side does the
    identical flatten(array_repeat(...))) so 10-100-word fixture docs
    produce real 2048-token frames. list_sum's sequential f64 order vs
    numpy's pairwise mean differs by ~1e-14 relative — round-6 stable on
    the fixed fixture corpus (same argument as the rfft twins)."""
    c = _consts(frame_length, sample_rate, 1)
    # string->DOUBLE casts: DuckDB parses bare decimal literals through
    # DECIMAL and its DECIMAL->DOUBLE conversion is off by 1 ulp for many
    # values (measured: 0.020668301731348038 round-trips wrong), which the
    # f32 windowing cast then amplifies to a full f32 ulp; the string parse
    # is correctly rounded (verified exact for all 2048 hann values)
    hann = (
        "[" + ",".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in c["hann"]) + "]"
    )
    FL = frame_length
    rms = f"sqrt(list_sum(list_transform(wd, x -> x*x))/{FL}.0)"
    flips = (
        f"list_sum(list_transform(generate_series(2, {FL}), "
        "j -> CASE WHEN (wd[j-1] < 0) <> (wd[j] < 0) THEN 1 ELSE 0 END))"
    )
    return f"""
WITH {toks_cte()},
rp AS (SELECT doc_id,
    flatten(list_transform(generate_series(1, {repeat}), x -> toks)) AS toks
  FROM t),
tt AS (SELECT doc_id, list_slice(toks, 1, len(toks) - (len(toks) % 2)) AS toks FROM rp),
f AS (SELECT doc_id, CAST(i AS INT) AS frame_idx,
    list_slice(toks, i*{hop}+1, i*{hop}+{FL}) AS w
  FROM tt, LATERAL UNNEST(generate_series(0,
    CAST((len(toks)-{FL})//{hop} AS INT))) AS g(i)
  WHERE len(toks) >= {FL}),
hn AS (SELECT {hann} AS hann),
a AS MATERIALIZED (SELECT doc_id, frame_idx,
    list_transform(generate_series(1, {FL}), j ->
      CAST(CAST(CAST(w[j] AS DOUBLE)/{token_scale!r} * hann[j] AS REAL)
           AS DOUBLE)) AS wd
  FROM f CROSS JOIN hn),
r AS (SELECT doc_id, frame_idx, {rms} AS rms, {flips} AS flips FROM a)
SELECT doc_id, frame_idx,
  round((CAST(frame_idx AS DOUBLE) * {hop})/{sample_rate} * 1000.0, 6) AS time_ms,
  round(rms, 6) AS rms,
  round(20.0*log10(rms + {EPS!r}), 6) AS volume,
  round(CAST(flips AS DOUBLE)/{FL - 1}.0, 6) AS zero_crossing_rate
FROM r
"""


# ---------------------------------------------------------------------------
# rhythm twin (operators/rhythm.py:detect_beats)
def _dft_parts(
    frame_length: int, sample_rate: int, token_scale: float
) -> tuple[str, list[str], int]:
    """Shared wd/spec SQL literal builder for every DFT twin (kernel,
    flux, contrast): f32-rounded Hann windowing (`CAST ... AS REAL`, see
    CLAUDE.md) and symmetry-snapped twiddles. ONE copy — the snapping
    rule and windowing cast must stay bit-identical across all twins."""
    c = _consts(frame_length, sample_rate, 1)
    # string->DOUBLE casts for every long-mantissa literal (hann,
    # twiddles): DuckDB parses a bare decimal literal through DECIMAL,
    # whose ->DOUBLE conversion is 1 ulp off for many 17-digit values
    # (kernel_time_sql documents the measured case) — and on THIS path
    # the f32 windowing cast amplifies that ulp to a full f32 ulp.
    # Short exact literals (token_scale 64.0, snapped 0/±1) convert
    # exactly either way.
    hann = [f"CAST('{float(v)!r}' AS DOUBLE)" for v in c["hann"]]
    nb = len(c["freqs"])
    jj = np.arange(frame_length)
    cos_t = np.cos(-2 * np.pi * np.outer(np.arange(nb), jj) / frame_length)
    sin_t = np.sin(-2 * np.pi * np.outer(np.arange(nb), jj) / frame_length)
    # snap twiddles at symmetry points to exact 0/+-1 (see kernel_sql note)
    for M in (cos_t, sin_t):
        M[np.abs(M) < 1e-12] = 0.0
        M[np.abs(M - 1.0) < 1e-12] = 1.0
        M[np.abs(M + 1.0) < 1e-12] = -1.0
    wd = ", ".join(
        f"CAST(CAST(CAST(w[{j + 1}] AS DOUBLE)/{token_scale!r} * {hann[j]} "
        f"AS REAL) AS DOUBLE) AS wd{j}"
        for j in range(frame_length)
    )
    def _dl(v: float) -> str:
        return f"CAST('{v!r}' AS DOUBLE)"

    spec_cols = []
    for k in range(nb):
        re = " + ".join(
            f"wd{j}*{_dl(cos_t[k, j])}" for j in range(frame_length)
        )
        im = " + ".join(
            f"wd{j}*{_dl(sin_t[k, j])}" for j in range(frame_length)
        )
        spec_cols.append(f"sqrt(pow({re},2) + pow({im},2)) AS s{k}")
    return wd, spec_cols, nb


def flux_sql(
    frame_length: int,
    hop: int,
    sample_rate: int,
    token_scale: float,
    onset_sigma: float = 1.5,
) -> str:
    """DuckDB twin of operators.flux.spectral_flux: same wd (f32-rounded
    Hann windowing) and snapped-twiddle DFT recipe as kernel_sql, then a
    per-bin lag window for the half-wave-rectified frame difference and a
    per-doc window for the onset threshold (round-6 on both sides)."""
    wd, spec_cols, nb = _dft_parts(frame_length, sample_rate, token_scale)
    lags = ", ".join(f"lag(s{k}) OVER fw AS p{k}" for k in range(nb))
    diff = " + ".join(f"greatest(s{k} - p{k}, 0.0)" for k in range(nb))
    return f"""
WITH {frames_cte(frame_length, hop)},
a AS MATERIALIZED (SELECT doc_id, frame_idx, {wd} FROM f),
b AS MATERIALIZED (SELECT doc_id, frame_idx, {", ".join(spec_cols)} FROM a),
l AS MATERIALIZED (SELECT doc_id, frame_idx, {", ".join(f"s{k}" for k in range(nb))}, {lags}
  FROM b WINDOW fw AS (PARTITION BY doc_id ORDER BY frame_idx)),
fl AS MATERIALIZED (SELECT doc_id, frame_idx,
  round(CASE WHEN p0 IS NULL THEN 0.0 ELSE {diff} END, 6) AS flux FROM l)
SELECT doc_id, frame_idx, flux,
  CAST(flux > round(avg(flux) OVER dw + {onset_sigma!r} * stddev_pop(flux) OVER dw, 6) AS INT) AS is_onset
FROM fl WINDOW dw AS (PARTITION BY doc_id)
"""



def contrast_sql(
    frame_length: int,
    hop: int,
    sample_rate: int,
    token_scale: float,
    n_bands: int = 3,
    alpha: float = 0.2,
) -> str:
    """DuckDB twin of operators.flux.spectral_contrast — same wd/DFT
    recipe as flux_sql, then per-band list_sort + top/bottom-alpha means."""
    wd, spec_cols, nb = _dft_parts(frame_length, sample_rate, token_scale)
    edges = [round(i * nb / n_bands) for i in range(n_bands + 1)]
    out_cols = []
    for b in range(n_bands):
        lo, hi = edges[b], edges[b + 1]
        band = "list_sort([" + ", ".join(f"s{k}" for k in range(lo, hi)) + "])"
        kk = max(1, int((hi - lo) * alpha))
        valley = f"(list_sum(list_slice({band}, 1, {kk})) / {float(kk)!r})"
        peak = (
            f"(list_sum(list_slice({band}, {hi - lo - kk + 1}, {hi - lo})) "
            f"/ {float(kk)!r})"
        )
        out_cols.append(
            f"round(ln(({peak} + 1e-10) / ({valley} + 1e-10)), 6) "
            f"AS contrast_{b}"
        )
    return f"""
WITH {frames_cte(frame_length, hop)},
a AS MATERIALIZED (SELECT doc_id, frame_idx, {wd} FROM f),
b AS MATERIALIZED (SELECT doc_id, frame_idx, {", ".join(spec_cols)} FROM a)
SELECT doc_id, frame_idx, {", ".join(out_cols)} FROM b
"""


# ---------------------------------------------------------------------------


def rhythm_sql(
    frame_length: int,
    hop: int,
    sample_rate: int,
    token_scale: float,
    min_sep: int = 4,
    lag_min: int = 2,
    lag_max: int = 64,
) -> str:
    """DuckDB twin of extract_rhythm's (tempo, tempo_acf, n_beats,
    beats_sum) digest. Energy / flux / autocorrelation arithmetic is
    exact (rhythm.py module docstring), so the induced period T* —
    list_position of the max autocorrelation, i.e. numpy argmax's
    first-max rule — is deterministic; the tempo-constrained greedy keep
    (separation >= max(min_sep, T*//2)) is a list_reduce over singleton
    lists."""
    F, H = frame_length, hop
    return f"""
WITH {toks_cte()},
tt AS (SELECT doc_id, list_slice(toks, 1, len(toks) - (len(toks) % 2)) AS toks FROM t),
e AS (SELECT doc_id, CASE WHEN len(toks) >= {F} THEN
    list_transform(generate_series(0, CAST((len(toks)-{F})//{H} AS INT)),
      i -> list_sum(list_transform(generate_series(1, {F}),
             j -> (CAST(toks[i*{H}+j] AS DOUBLE)/{token_scale!r})
                * (CAST(toks[i*{H}+j] AS DOUBLE)/{token_scale!r})))/{F}.0)
  ELSE [] END AS energy FROM tt),
fx AS (SELECT doc_id, len(energy) AS nf,
    list_transform(generate_series(1, len(energy)),
      i -> CASE WHEN i = 1 THEN 0.0 ELSE greatest(energy[i] - energy[i-1], 0.0) END) AS flux
  FROM e),
st AS (SELECT doc_id, nf, flux, list_sum(flux)/nf AS mu, list_max(flux) AS fmax
  FROM fx WHERE nf > 0),
ac AS (SELECT *, CASE WHEN fmax <= 0 OR least({lag_max}, nf - 1) < {lag_min}
    THEN [] ELSE
      list_transform(generate_series({lag_min}, least({lag_max}, nf - 1)),
        L -> list_sum(list_transform(generate_series(1, nf - L),
               i -> flux[i] * flux[i + L])))
    END AS acr
  FROM st),
tp AS (SELECT *, CASE WHEN len(acr) > 0 AND list_max(acr) > 0
    THEN {lag_min} + list_position(acr, list_max(acr)) - 1 ELSE 0
    END AS tstar
  FROM ac),
th AS (SELECT *,
    mu + 0.5*sqrt(list_sum(list_transform(flux, f -> (f-mu)*(f-mu)))/nf) AS thresh,
    greatest({min_sep}, tstar // 2) AS sep
  FROM tp),
pk AS (SELECT doc_id, tstar, sep,
    CASE WHEN fmax <= 0 THEN [] ELSE
      list_filter(generate_series(2, nf-1),
        i -> flux[i] > flux[i-1] AND flux[i] >= flux[i+1] AND flux[i] > thresh)
    END AS peaks
  FROM th),
kp AS (SELECT doc_id, tstar,
    CASE WHEN len(peaks) = 0 THEN []
    ELSE list_reduce(list_transform(peaks, p -> [p - 1]),
           (acc, x) -> CASE WHEN x[1] - acc[len(acc)] >= sep
                       THEN list_append(acc, x[1]) ELSE acc END)
    END AS kept
  FROM pk),
bt AS (SELECT doc_id, tstar,
    list_transform(kept, p -> (CAST(p AS DOUBLE)*{float(H)!r})/{float(sample_rate)!r}) AS beats
  FROM kp),
res AS (SELECT doc_id, tstar, beats, len(beats) AS n_beats,
    CASE WHEN len(beats) > 1 THEN
      list_aggregate(list_transform(generate_series(2, len(beats)),
                     i -> beats[i]-beats[i-1]), 'median')
    ELSE NULL END AS med
  FROM bt)
SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
  round(CASE WHEN r.n_beats > 1 AND r.med > 0 THEN 60.0/r.med ELSE 0.0 END, 6) AS tempo,
  round(CASE WHEN r.tstar > 0
        THEN 60.0*{float(sample_rate)!r}/(r.tstar*{float(H)!r}) ELSE 0.0 END, 6) AS tempo_acf,
  CAST(COALESCE(r.n_beats, 0) AS INT) AS n_beats,
  round(COALESCE(list_sum(r.beats), 0.0), 6) AS beats_sum
FROM documents d LEFT JOIN res r ON d.doc_id = r.doc_id
"""


# ---------------------------------------------------------------------------
# dedup twins
# ---------------------------------------------------------------------------

def _minhash_sig_terms(k: int) -> list[str]:
    """The k permutation-hash min terms — single source for every twin."""
    return [
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {MERSENNE}))"
        for (a, b) in _minhash_params(k)
    ]


def _minhash_banded_selects(src: str, k: int, bands: int) -> str:
    """UNION ALL of per-band (doc_id, band, bsig) selects over `src`.
    Same divisibility contract as make_minhash_band_udf: silently
    truncating the trailing k % bands signature entries would weaken the
    oracle's LSH recall with no error while the Spark side refuses."""
    if bands < 1 or k % bands != 0:
        raise ValueError(f"bands must divide k ({k} % {bands} != 0)")
    rows = k // bands
    sel = []
    for b in range(bands):
        parts = " || ',' || ".join(
            f"CAST(sig[{b * rows + r + 1}] AS VARCHAR)" for r in range(rows)
        )
        sel.append(f"SELECT doc_id, {b} AS band, {parts} AS bsig FROM {src}")
    return " UNION ALL ".join(sel)


def _shingle_select_sql(ngram: int, table: str, where: str = "TRUE") -> str:
    """Distinct word-ngram shingle projection (twin of word_ngrams)."""
    return (
        "SELECT doc_id, array_distinct(list_transform(\n"
        f"    generate_series(1, greatest(len(string_split(text,' ')) - {ngram - 1}, 0)),\n"
        f"    i -> array_to_string(list_slice(string_split(text,' '), i, i+{ngram - 1}), ' ')\n"
        f"  )) AS shingles FROM {table} WHERE {where}"
    )


def minhash_sql(k: int, bands: int, ngram: int = 3, table: str = "documents") -> str:
    """DuckDB twin of minhash_lsh_candidates (portable md5-prefix hashes)."""
    h = H32.format(x="s")
    return f"""
WITH sh AS (
  {_shingle_select_sql(ngram, table)}
),
hs AS (SELECT doc_id, list_transform(shingles, s -> {h}) AS hs FROM sh),
sig AS (SELECT doc_id, [{", ".join(_minhash_sig_terms(k))}] AS sig FROM hs),
banded AS ({_minhash_banded_selects("sig", k, bands)})
SELECT DISTINCT CAST(l.doc_id AS BIGINT) AS id_a, CAST(r.doc_id AS BIGINT) AS id_b
FROM banded l JOIN banded r
  ON l.band = r.band AND l.bsig = r.bsig AND l.doc_id < r.doc_id
"""


def incremental_sql(k: int, bands: int, ngram: int = 3, mod: int = 5) -> str:
    """DuckDB twin of incremental_dedup_flags with new = doc_id %% mod == 0,
    corpus = the rest (same portable hashes / banding as minhash_sql)."""
    h = H32.format(x="s")

    def chain(tag: str, where: str) -> str:
        return f"""
sh_{tag} AS (
  {_shingle_select_sql(ngram, "documents", where)}
),
hs_{tag} AS (SELECT doc_id, list_transform(shingles, s -> {h}) AS hs FROM sh_{tag}),
sig_{tag} AS (SELECT doc_id, [{", ".join(_minhash_sig_terms(k))}] AS sig FROM hs_{tag}),
banded_{tag} AS ({_minhash_banded_selects(f"sig_{tag}", k, bands)})"""
    return f"""
WITH {chain("n", f"doc_id % {mod} = 0")},
{chain("c", f"doc_id % {mod} <> 0")},
near AS (SELECT DISTINCT bn.doc_id
         FROM banded_n bn JOIN (SELECT DISTINCT band, bsig FROM banded_c) bc
         USING (band, bsig)),
ch AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % {mod} <> 0)
SELECT n.doc_id,
  CASE WHEN md5(n.text) IN (SELECT h FROM ch) THEN 1 ELSE 0 END AS dup_exact,
  CASE WHEN n.doc_id IN (SELECT doc_id FROM near) THEN 1 ELSE 0 END AS dup_near
FROM documents n WHERE n.doc_id % {mod} = 0
"""


def simhash_pairs_sql(
    ngram: int = 2, max_hamming: int = 3, table: str = "documents"
) -> str:
    """DuckDB twin of simhash_neardup_pairs: 64-bit SimHash from the same
    portable md5 halves (lo = hex 1-8, hi = hex 9-16 of ONE digest), bit j set
    iff sum over distinct shingles of (+1 if bit j else -1) > 0; pairs by
    xor + bit_count (exact — the Spark side's 16-bit-chunk pigeonhole
    candidates are provably complete for hamming <= 3)."""
    bit_terms = []
    for j in range(64):
        src = "lo" if j < 32 else "hi"
        jj = j if j < 32 else j - 32
        # bit 63 = int64 sign bit: write as minvalue expression
        lit = "(-9223372036854775807 - 1)" if j == 63 else str(1 << j)
        bit_terms.append(
            f"(CASE WHEN list_sum(list_transform({src}, "
            f"h -> CASE WHEN (h >> {jj}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
            f"THEN CAST({lit} AS BIGINT) ELSE 0 END)"
        )
    sig = " + ".join(bit_terms)
    h_lo = H32.format(x="s")
    h_hi = H32HI.format(x="s")
    return f"""
WITH sh AS (
  {_shingle_select_sql(ngram, table)}
),
hs AS (SELECT doc_id,
  list_transform(shingles, s -> {h_lo}) AS lo,
  list_transform(shingles, s -> {h_hi}) AS hi
  FROM sh WHERE len(shingles) > 0),
sig AS (SELECT doc_id, ({sig}) AS sig FROM hs)
SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b,
  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming}
"""


def edit_neardup_sql(
    ngram: int = 2,
    max_hamming: int = 3,
    max_dist: int = 8,
    table: str = "documents",
) -> str:
    """DuckDB twin of dedup.edit_neardup_pairs: the exact simhash pair
    set (simhash_pairs_sql — provably identical to the Spark side's
    chunk-blocked candidates at hamming <= 3) joined back to text and
    verified with unbounded levenshtein(a, b) <= max_dist (the Spark
    side's bounded threshold form keeps exactly this set with identical
    distances)."""
    cand = simhash_pairs_sql(ngram=ngram, max_hamming=max_hamming, table=table)
    return f"""
WITH cand AS ({cand})
SELECT c.id_a, c.id_b, c.hamming,
  CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist
FROM cand c
JOIN {table} a ON CAST(a.doc_id AS BIGINT) = c.id_a
JOIN {table} b ON CAST(b.doc_id AS BIGINT) = c.id_b
WHERE levenshtein(a.text, b.text) <= {max_dist}
"""


def lq_quantiles_sql(
    qs: tuple = (0.5, 0.9, 0.99), table: str = "documents"
) -> str:
    """DuckDB twin of sketch.lq_registers + lq_quantiles over
    tokens-per-doc (nonempty word count) per source: identical exact
    log2 buckets (length(bin(v)) - 1 — no float log2), exact BIGINT
    registers, IEEE ceil rank, and the same two-level round-6
    interpolation expression."""
    q_rows = ", ".join(f"(CAST('{float(q)!r}' AS DOUBLE))" for q in qs)
    return f"""
WITH vals AS (
  SELECT coalesce(CAST(source AS VARCHAR), '__null__') AS grp,
    CAST(len(list_filter(string_split(coalesce(text, ''), ' '), w -> w <> '')) AS BIGINT) AS v
  FROM {table}),
b AS (
  SELECT grp, v,
    CASE WHEN v IS NOT NULL AND v >= 1
         THEN CAST(length(bin(v)) - 1 AS INT) ELSE -1 END AS bucket
  FROM vals),
reg AS (
  SELECT grp, bucket, CAST(COUNT(*) AS BIGINT) AS cnt,
         MIN(v) AS vmin, MAX(v) AS vmax
  FROM b GROUP BY 1, 2),
cum AS (
  SELECT grp, bucket, cnt, vmin, vmax,
    SUM(cnt) OVER (PARTITION BY grp ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    SUM(cnt) OVER (PARTITION BY grp ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS cum_before
  FROM reg WHERE bucket >= 0),
totals AS (
  SELECT grp,
    CAST(SUM(CASE WHEN bucket >= 0 THEN cnt ELSE 0 END) AS BIGINT) AS n_good,
    CAST(SUM(CASE WHEN bucket < 0 THEN cnt ELSE 0 END) AS BIGINT) AS n_bad
  FROM reg GROUP BY 1),
ranks AS (
  SELECT grp, q, n_good, n_bad,
    greatest(CAST(ceil(q * CAST(n_good AS DOUBLE)) AS BIGINT), 1) AS rank
  FROM totals, (SELECT * FROM (VALUES {q_rows}) AS t(q)))
SELECT r.grp, r.q, r.rank, r.n_good, r.n_bad,
  round(CAST(c.vmin AS DOUBLE) +
        round(CAST(c.vmax - c.vmin AS DOUBLE)
              * CAST(r.rank - c.cum_before - 1 AS DOUBLE)
              / CAST(greatest(c.cnt - 1, 1) AS DOUBLE), 6), 6) AS est
FROM ranks r
LEFT JOIN cum c ON c.grp = r.grp
  AND c.cum_before < r.rank AND r.rank <= c.cum
"""


def gopher_sql(
    min_words: int = 50, max_words: int = 100_000, table: str = "documents"
) -> str:
    """DuckDB twin of cleaning.gopher_quality — identical exact-BIGINT
    counts, round-6 ratios, and rule booleans compared on the ROUNDED
    values (so the keep verdict is cross-engine deterministic)."""
    stopwords = ", ".join(
        f"'{s}'" for s in ("the", "be", "to", "of", "and", "that", "have", "with")
    )
    return f"""
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS t,
    list_filter(string_split(coalesce(text, ''), ' '), w -> w <> '') AS ws
  FROM {table}),
m AS (
  SELECT doc_id,
    CAST(len(ws) AS BIGINT) AS n_words,
    CAST(coalesce(list_sum(list_transform(ws, w -> CAST(length(w) AS BIGINT))), 0) AS BIGINT) AS sum_chars,
    CAST(length(t) - length(replace(t, '#', '')) AS BIGINT) AS n_hash,
    CAST((length(t) - length(replace(t, '...', ''))) // 3 AS BIGINT) AS n_ell,
    string_split(t, chr(10)) AS lines,
    CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
    CAST(len(list_filter([{stopwords}], s -> list_contains(ws, s))) AS BIGINT) AS n_stop
  FROM base),
m2 AS (
  SELECT m.*, CAST(len(lines) AS BIGINT) AS n_lines,
    CAST(len(list_filter(lines, l -> left(l, 1) IN ('•', '-', '*'))) AS BIGINT) AS n_bullet,
    CAST(len(list_filter(lines, l -> right(l, 3) = '...')) AS BIGINT) AS n_ell_end
  FROM m),
r AS (
  SELECT doc_id, n_words, n_stop,
    round(CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(sum_chars AS DOUBLE) / CAST(n_words AS DOUBLE) END, 6) AS mean_word_len,
    round(CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(n_hash AS DOUBLE) / CAST(n_words AS DOUBLE) END, 6) AS hash_ratio,
    round(CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(n_ell AS DOUBLE) / CAST(n_words AS DOUBLE) END, 6) AS ellipsis_ratio,
    round(CAST(n_bullet AS DOUBLE) / CAST(n_lines AS DOUBLE), 6) AS bullet_line_ratio,
    round(CAST(n_ell_end AS DOUBLE) / CAST(n_lines AS DOUBLE), 6) AS ellipsis_line_ratio,
    round(CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) END, 6) AS alpha_word_ratio
  FROM m2)
SELECT doc_id, n_words, mean_word_len, hash_ratio, ellipsis_ratio,
  bullet_line_ratio, ellipsis_line_ratio, alpha_word_ratio,
  n_stop AS n_stopwords,
  CASE WHEN n_words >= {min_words} AND n_words <= {max_words}
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1
        AND bullet_line_ratio <= 0.9 AND ellipsis_line_ratio <= 0.3
        AND alpha_word_ratio >= 0.8 AND n_stop >= 2
   THEN 1 ELSE 0 END AS keep
FROM r
"""


# ---------------------------------------------------------------------------
# multimodal twin (operators/multimodal.py, portable media_type)
# ---------------------------------------------------------------------------


def multimodal_sql(hist_bins: int = 16) -> str:
    """DuckDB twin of attach_binary_payload + extract_media_features.
    Byte-TRUE (not codepoint-based): the utf-8 payload's bytes come from
    hex(encode(text)) two chars at a time, so multi-byte characters hash
    into the same bins as the Spark side's np.frombuffer(uint8)."""
    width = 256 // hist_bins
    # h{b} = round(p{b}, 6): CTE p already computed the identical value —
    # re-inlining the list_filter scan here doubled the twin's dominant
    # work (16 extra full passes over the per-byte codes list per row)
    hist = ", ".join(f"round(p{b}, 6) AS h{b}" for b in range(hist_bins))
    probs = ", ".join(
        f"CAST(len(list_filter(codes, c -> c // {width} = {b})) AS DOUBLE)"
        f" / greatest(len(codes), 1) AS p{b}"
        for b in range(hist_bins)
    )
    ent = " + ".join(
        f"(CASE WHEN p{b} > 0 THEN -p{b}*log2(p{b}) ELSE 0.0 END)"
        for b in range(hist_bins)
    )
    h32 = H32.format(x="text")
    return f"""
WITH m AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
    (['image','audio','video'])[(({h32}) % 3) + 1] AS media_type,
    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
    list_transform(generate_series(1, octet_length(encode(text))),
      i -> ('0x' || substr(hex(encode(text)), 2*i-1, 2))::INT) AS codes
  FROM documents
),
p AS (SELECT doc_id, media_type, n_bytes, codes, {probs} FROM m)
SELECT doc_id, media_type, n_bytes,
  round({ent}, 6) AS byte_entropy,
  {hist}
FROM p
"""


# ---------------------------------------------------------------------------
# streaming sessionization twin (gap-and-island == session_window)
# ---------------------------------------------------------------------------


def streaming_session_sql(gap_seconds: int = 1800) -> str:
    gap_us = gap_seconds * 1_000_000
    return f"""
WITH s AS (
  SELECT user_id, ts,
    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM (SELECT user_id, ts,
          CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > {gap_us}
          THEN 1 ELSE 0 END AS is_new FROM events)
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
  min(ts) AS session_start, max(ts) AS session_end
FROM s GROUP BY user_id, session_id
"""


def clusters_sql(pairs_sql: str) -> str:
    """Connected components over a pair query (transitive closure via
    recursive CTE; min label per component) — twin of
    dedup.connected_components."""
    return f"""
WITH RECURSIVE
pairs AS (SELECT * FROM ({pairs_sql}) q),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b AS a, id_a AS b FROM pairs),
reach(id, lab) AS (
  SELECT DISTINCT a AS id, a AS lab FROM edges
  UNION
  SELECT e.b AS id, r.lab FROM reach r JOIN edges e ON r.id = e.a
)
SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_id
FROM reach GROUP BY id
"""


def cluster_split_sql(
    k: int = 16,
    bands: int = 4,
    ngram: int = 3,
    weights: tuple = (("train", 0.9), ("val", 0.05), ("test", 0.05)),
    salt: str = "",
) -> str:
    """Twin of sampling.cluster_safe_split over dedup.dedup_clusters:
    recursive-CTE transitive closure over the MinHash pairs, LEFT-joined
    back to every doc (singletons keep their own id), then the portable
    per-mille hash split keyed on the CLUSTER id."""
    pairs = minhash_sql(k=k, bands=bands, ngram=ngram)
    h = H32.format(x=f"CAST(cluster_id AS VARCHAR) || '{salt}'")
    case = []
    cum = 0.0
    for name, w in weights:
        cum += w
        case.append(f"WHEN ({h}) % 1000 < {_per_mille(cum)} THEN '{name}'")
    split = "CASE " + " ".join(case) + " END"
    return f"""
WITH RECURSIVE
pairs AS (SELECT * FROM ({pairs}) q),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b AS a, id_a AS b FROM pairs),
reach(id, lab) AS (
  SELECT DISTINCT a AS id, a AS lab FROM edges
  UNION
  SELECT e.b AS id, r.lab FROM reach r JOIN edges e ON r.id = e.a
),
cl AS (SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id),
j AS (SELECT d.doc_id,
        CAST(coalesce(cl.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
      FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id)
SELECT CAST(doc_id AS BIGINT) AS doc_id, cluster_id, {split} AS split
FROM j
"""


def lsh_ann_sql(
    dim: int,
    n_planes: int = 6,
    seed: int = 42,
    k: int = 5,
    max_query_id: int = 5,
) -> str:
    """DuckDB twin of similarity.lsh_topk: the seeded hyperplanes are
    deterministic, so they embed as f64 literals (same trick as the DFT
    twiddles) — sign-bit signature, bucket equi-join, exact cosine re-rank.
    The 'approximate' query is thus still exactly checkable."""
    from .operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)
    bits = []
    for r, p in enumerate(planes):
        dot = " + ".join(
            # string-parse the plane coefficients (long-mantissa): bare
            # literals route through DECIMAL with 1-ulp conversion error
            f"CAST(embedding[{i + 1}] AS DOUBLE)*CAST('{float(x)!r}' AS DOUBLE)"
            for i, x in enumerate(p)
        )
        bits.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << r} ELSE 0 END)")
    sig = "(" + " + ".join(bits) + ")"
    cos = (
        "round(list_sum(list_transform(generate_series(1, len(a.embedding)), "
        "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / "
        "(sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) * "
        "sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)"
    )
    return f"""
WITH s AS (SELECT vec_id, embedding, {sig} AS sig FROM embeddings)
SELECT * FROM (
  SELECT CAST(a.vec_id AS BIGINT) AS query_id, CAST(b.vec_id AS BIGINT) AS vec_id,
    {cos} AS cosine,
    CAST(row_number() OVER (PARTITION BY a.vec_id ORDER BY {cos} DESC, b.vec_id ASC) AS INT) AS rank
  FROM s a JOIN s b ON a.sig = b.sig
  WHERE a.vec_id < {max_query_id}
) WHERE rank <= {k}
"""


SAMPLE_KEY = (
    "md5(array_to_string(list_transform({v}, x -> CAST(CAST(round("
    "CAST(x AS DOUBLE) * 1000000000.0) AS BIGINT) AS VARCHAR)), ','))"
)  # twin of similarity.sample_key_expr (byte-identical, see its docstring)


def _kmeans_ctes(k: int, dim: int, src: str = "embeddings") -> str:
    """The shared one-Lloyd-iteration CTE chain (no WITH keyword): md5
    init -> assign -> mean update -> final assignment `a1(vec_id, cid)`,
    over source relation `src(vec_id, embedding)`. Used by kmeans_sql
    (cluster sizes) and semantic_dedup_sql (within-cluster near-dups)."""
    key = SAMPLE_KEY.format(v="emb")
    gs = f"generate_series(1, {dim})"
    return f"""ev AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
    CASE WHEN sqrt(list_sum(list_transform(embedding,
           x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) = 0 THEN 1.0
         ELSE sqrt(list_sum(list_transform(embedding,
           x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) END AS vn
  FROM {src}),
init AS MATERIALIZED (
  SELECT CAST(rn - 1 AS INT) AS cid, c FROM (
    SELECT row_number() OVER (ORDER BY {key}) AS rn,
           list_transform(emb, x -> CAST(x AS DOUBLE)) AS c
    FROM (SELECT DISTINCT embedding AS emb FROM {src}))
  WHERE rn <= {k}),
n0 AS MATERIALIZED (
  SELECT cid, list_transform(c, x -> x / sqrt(list_sum(
           list_transform(c, y -> y*y)))) AS nc
  FROM init),
a0 AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT ev.vec_id, n0.cid,
      row_number() OVER (PARTITION BY ev.vec_id ORDER BY
        list_sum(list_transform({gs},
          j -> (ev.v[j] / ev.vn) * n0.nc[j])) DESC, n0.cid ASC) AS rn
    FROM ev CROSS JOIN n0)
  WHERE rn = 1),
agg AS MATERIALIZED (
  SELECT a0.cid, g.j, sum(ev.v[g.j]) AS s, count(*) AS cnt
  FROM a0 JOIN ev USING (vec_id)
  CROSS JOIN LATERAL UNNEST({gs}) AS g(j)
  GROUP BY a0.cid, g.j),
mean1 AS MATERIALIZED (
  SELECT cid, list(s / cnt ORDER BY j) AS m FROM agg GROUP BY cid),
c1 AS MATERIALIZED (
  SELECT init.cid,
    CASE WHEN mean1.m IS NOT NULL
           AND sqrt(list_sum(list_transform(mean1.m, x -> x*x))) > 0
         THEN mean1.m ELSE init.c END AS c
  FROM init LEFT JOIN mean1 USING (cid)),
n1 AS MATERIALIZED (
  SELECT cid, list_transform(c, x -> x / sqrt(list_sum(
           list_transform(c, y -> y*y)))) AS nc
  FROM c1),
a1 AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT ev.vec_id, n1.cid,
      row_number() OVER (PARTITION BY ev.vec_id ORDER BY
        list_sum(list_transform({gs},
          j -> (ev.v[j] / ev.vn) * n1.nc[j])) DESC, n1.cid ASC) AS rn
    FROM ev CROSS JOIN n1)
  WHERE rn = 1)"""


def kmeans_sql(k: int = 8, dim: int = 64) -> str:
    """DuckDB twin of ONE Lloyd iteration of similarity.kmeans_lite
    (iters=1): md5-ordered distinct init (SAMPLE_KEY twin of
    sample_key_expr) -> cosine assignment under the init centroids ->
    per-cluster mean update (empty / zero-norm clusters keep their init
    centroid) -> final assignment under the updated centroids -> cluster
    sizes. Assignment tie-break = lowest centroid id (numpy stable argsort
    on -sims). Sims are full-f64; numpy's pairwise dot vs list_sum's
    sequential order differ ~1e-16 — assignment flips would need two
    centroids equidistant to within that, which the random fixture
    embeddings never are. MATERIALIZED everywhere: DuckDB otherwise
    re-inlines the normalized-centroid expression per sim term."""
    return f"""
WITH {_kmeans_ctes(k, dim)}
SELECT CAST(cid AS INT) AS cluster_id, CAST(count(*) AS BIGINT) AS n
FROM a1 GROUP BY cid
"""


def semantic_dedup_sql(
    k: int = 8, dim: int = 64, threshold: float = 0.95
) -> str:
    """DuckDB twin of similarity.semantic_dedup (iters=1) over the
    perturbed-twin union corpus `u` (near-dups exist by construction —
    CLAUDE.md: random fixture embeddings have no natural >=0.95 pairs):
    cluster assignment via the shared kmeans chain, then min-id star
    keep-rule on round-6 within-cluster cosine."""
    cos = (
        "round(list_sum(list_transform(generate_series(1, len(a.v)), "
        "i -> a.v[i] * b.v[i])) / "
        "(sqrt(list_sum(list_transform(a.v, x -> x*x))) * "
        "sqrt(list_sum(list_transform(b.v, x -> x*x)))), 6)"
    )
    return f"""
WITH u AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
    list_transform(generate_series(1, len(embedding)),
      i -> CASE WHEN i = 1 THEN CAST(embedding[1] AS DOUBLE) + 0.05
           ELSE CAST(embedding[i] AS DOUBLE) END)
  FROM embeddings),
{_kmeans_ctes(k, dim, src="u")},
vv AS MATERIALIZED (
  SELECT a1.vec_id, a1.cid, ev.v FROM a1 JOIN ev USING (vec_id)),
dropped AS MATERIALIZED (
  SELECT DISTINCT b.vec_id
  FROM vv a JOIN vv b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {cos} >= {threshold!r})
SELECT CAST(a1.vec_id AS BIGINT) AS vec_id, CAST(a1.cid AS INT) AS cluster_id,
  (dropped.vec_id IS NOT NULL) AS is_dup
FROM a1 LEFT JOIN dropped USING (vec_id)
"""


def media_frames_sql(n_frames: int = 4, frame_bytes: int = 64) -> str:
    """DuckDB twin of multimodal.sample_media_frames: byte-true slices via
    hex(encode(text)) surgery. frame_md5 hashes the UPPERCASE-HEX
    rendering of the slice (2 hex chars per byte — substr on hx IS the
    byte slice), matching Spark's md5(hex(substring(payload,...)))
    exactly for ARBITRARY bytes. The old form decode()d a from_hex slice
    back to VARCHAR to satisfy md5(VARCHAR) — that validates UTF-8, and
    a slice boundary splitting a multibyte character crashed the oracle
    (unicode parity sweep find)."""
    h32 = H32.format(x="text")
    return f"""
WITH m AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
    (['image','audio','video'])[(({h32}) % 3) + 1] AS media_type,
    octet_length(encode(text)) AS n_bytes,
    hex(encode(text)) AS hx
  FROM documents
),
fr AS (
  SELECT doc_id, media_type, n_bytes, hx,
    CAST(i AS INT) AS frame_no,
    i * greatest(n_bytes // {n_frames}, 1) + 1 AS byte_offset
  FROM m, LATERAL UNNEST(generate_series(0, {n_frames - 1})) AS g(i)
)
SELECT doc_id, media_type, frame_no,
  CAST(byte_offset AS BIGINT) AS byte_offset,
  md5(substr(hx, 2*byte_offset - 1, 2*{frame_bytes})) AS frame_md5
FROM fr WHERE byte_offset + {frame_bytes} - 1 <= n_bytes
"""


def curate_sql(
    min_quality: float = 0.3,
    langs: tuple[str, ...] = ("en",),
    k: int = 16,
    bands: int = 4,
    weights: tuple[tuple[str, float], ...] = (
        ("train", 0.8), ("val", 0.1), ("test", 0.1),
    ),
) -> str:
    """Twin of plans.curate.curate_corpus: quality gate -> language filter
    -> exact-dup min-id collapse -> near-dup cluster collapse (recursive
    closure over MinHash pairs of the SURVIVING set) -> hash split."""
    sw = {lang: stopword_sql_list(lang) for lang in ("en", "de", "fr")}
    score = (
        lambda lst: "round(CAST(len(list_filter(string_split(text,' '), "
        f"w -> list_contains({lst}, w))) AS DOUBLE)"
        " / CAST(len(string_split(text,' ')) AS DOUBLE), 9)"
    )
    lang_case = f"""CASE WHEN greatest({score(sw['en'])}, {score(sw['de'])}, {score(sw['fr'])}) = 0 THEN 'und'
        WHEN {score(sw['fr'])} >= {score(sw['en'])} AND {score(sw['fr'])} >= {score(sw['de'])} THEN 'fr'
        WHEN {score(sw['en'])} >= {score(sw['de'])} THEN 'en'
        ELSE 'de' END"""
    quality = f"""round(0.4 * least((CAST(len(list_filter(string_split(text,' '), w -> list_contains({sw['en']}, w))) AS DOUBLE)
        / CAST(len(string_split(text,' ')) AS DOUBLE)) * 4.0, 1.0)
      + 0.3 * (1.0 - least(abs(list_sum(list_transform(string_split(text,' '), w -> CAST(length(w) AS DOUBLE)))
        / CAST(len(string_split(text,' ')) AS DOUBLE) - 5.0) / 10.0, 1.0))
      + 0.15 * (1.0 - least(((CAST(length(text) AS DOUBLE) - CAST(length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE))
        / CAST(length(text) AS DOUBLE)) * 5.0, 1.0))
      + 0.15 * (1.0 - least(((CAST(length(text) AS DOUBLE) - CAST(length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE))
        / CAST(length(text) AS DOUBLE)) * 5.0, 1.0)), 6)"""
    langs_in = ", ".join(f"'{l}'" for l in langs)
    pairs = minhash_sql(k=k, bands=bands, table="surv")
    h32d = H32.format(x="CAST(s.doc_id AS VARCHAR) || ''")
    split_case = []
    cum = 0.0
    for name, w in weights:
        cum += w
        split_case.append(
            f"WHEN ({h32d}) % 1000 < {_per_mille(cum)} THEN '{name}'"
        )
    split = "CASE " + " ".join(split_case) + " END"
    return f"""
WITH RECURSIVE
g AS MATERIALIZED (
  SELECT doc_id, text, {quality} AS quality_score, {lang_case} AS lang_pred
  FROM documents
),
gated AS (SELECT * FROM g
  WHERE quality_score >= {min_quality!r} AND lang_pred IN ({langs_in})),
hh AS (SELECT doc_id, md5(text) AS _h FROM gated),
canon AS (SELECT _h, min(doc_id) AS _keep FROM hh GROUP BY _h),
surv AS (SELECT gated.* FROM gated
  JOIN hh USING (doc_id) JOIN canon USING (_h)
  WHERE doc_id = _keep),
prs AS (SELECT * FROM ({pairs}) q),
edges AS (SELECT id_a AS a, id_b AS b FROM prs
          UNION SELECT id_b AS a, id_a AS b FROM prs),
reach(id, lab) AS (
  SELECT DISTINCT a AS id, a AS lab FROM edges
  UNION
  SELECT e.b AS id, r.lab FROM reach r JOIN edges e ON r.id = e.a
),
losers AS (SELECT id AS doc_id FROM reach GROUP BY id
           HAVING CAST(id AS BIGINT) <> min(lab))
SELECT s.doc_id AS doc_id, s.quality_score, s.lang_pred, {split} AS split
FROM surv s LEFT JOIN losers l ON s.doc_id = l.doc_id
WHERE l.doc_id IS NULL
"""


def _bpe_layers(
    n_merges: int, table: str, final_word_table: bool = False
) -> list[str]:
    """Shared CTE-layer builder for the BPE twins. Layer m: pair counts
    over the layer-(m-1) word table (1-BASED list indexing; range() is
    end-exclusive, so i in 1..len-1), deterministic argmax (cnt DESC,
    left, right), then the merge fold via list_reduce on a
    chr(1)-delimited string accumulator — leftmost non-overlapping,
    identical to the Spark F.aggregate fold (suffix check uses
    right()/left() string surgery, not LIKE, so merge symbols containing
    pattern metacharacters stay exact). AS MATERIALIZED on every layer:
    DuckDB inlines plain CTEs like Catalyst collapses projections, and
    the fold chain re-expands combinatorially without it (CLAUDE.md,
    layered-kernel precedent). `final_word_table=True` also applies the
    LAST merge, yielding w{n_merges} (the encode twin's output; assumes
    the corpus has >= n_merges mergeable pairs — an empty argmax layer
    would annihilate the CROSS JOIN)."""

    def fold(b: str) -> str:
        l, r = f"{b}.left_sym", f"{b}.right_sym"
        return (
            "string_split(list_reduce(sym, (acc, c) -> CASE "
            f"WHEN (acc = {l} OR right(acc, length({l}) + 1) = chr(1) || {l}) "
            f"AND c = {r} "
            f"THEN left(acc, length(acc) - length({l})) || {l} || {r} "
            "ELSE acc || chr(1) || c END), chr(1))"
        )

    layers = [
        "w0 AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq, "
        "regexp_split_to_array(word, '') AS sym "
        f"FROM (SELECT unnest(string_split(text, ' ')) AS word FROM {table}) "
        "WHERE word <> '' GROUP BY word)"
    ]
    for m in range(1, n_merges + 1):
        layers.append(
            f"pc{m} AS (SELECT sym[i] AS left_sym, sym[i+1] AS right_sym, "
            "CAST(SUM(freq) AS BIGINT) AS pair_cnt "
            f"FROM w{m-1}, LATERAL UNNEST(range(1, len(sym))) AS g(i) "
            "GROUP BY 1, 2)"
        )
        layers.append(
            f"b{m} AS MATERIALIZED (SELECT left_sym, right_sym, pair_cnt "
            f"FROM pc{m} ORDER BY pair_cnt DESC, left_sym, right_sym LIMIT 1)"
        )
        if m < n_merges or final_word_table:
            layers.append(
                f"w{m} AS MATERIALIZED (SELECT word, freq, {fold(f'b{m}')} "
                f"AS sym FROM w{m-1} CROSS JOIN b{m})"
            )
    return layers


def bpe_sql(n_merges: int = 6, table: str = "documents") -> str:
    """DuckDB twin of operators.bpe.train_bpe: the same merge loop as
    materialized CTE layers (see _bpe_layers)."""
    layers = _bpe_layers(n_merges, table)
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({m} AS BIGINT) AS merge_rank, left_sym, right_sym, "
        f"pair_cnt FROM b{m}"
        for m in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(layers) + "\n" + union


def bpe_encode_sql(n_merges: int = 6, table: str = "documents") -> str:
    """DuckDB twin of train_bpe + segment_words: the SAME merge chain
    extended through the final apply, then the segmented word table
    (word, freq, space-joined pieces, piece count)."""
    layers = _bpe_layers(n_merges, table, final_word_table=True)
    return (
        "WITH " + ",\n".join(layers)
        + f"\nSELECT word, freq, array_to_string(sym, ' ') AS pieces, "
        f"CAST(len(sym) AS INT) AS n_pieces FROM w{n_merges}"
    )


def kernel_delta_sql(
    frame_length: int,
    hop: int,
    sample_rate: int,
    token_scale: float,
    n_mels: int,
    coeffs: tuple[int, ...] = (0, 1, 2, 3),
    width: int = 2,
) -> str:
    """DuckDB twin of kernel mfcc -> operators.deltas (with_frame_deltas +
    with_cmvn): the UNROUNDED mfcc values feed the delta regression and the
    per-doc mean subtraction (rounding inputs first would perturb round-6
    deltas by up to ~3e-7), round-6 lands only on the final projection,
    mirroring the Spark query. Window semantics mirror deltas.py exactly:
    edge replication via first/last_value when frame_idx +- k leaves the
    doc's [min, max] index range, NULL (silent-frame) values propagate
    through the regression, avg() ignores NULLs for the CMN mean.
    AS MATERIALIZED on every layer (CLAUDE.md: DuckDB re-inlines plain
    CTEs combinatorially)."""
    c = _consts(frame_length, sample_rate, n_mels)
    wd, spec_cols, nb = _dft_parts(frame_length, sample_rate, token_scale)
    zero = "(" + "+".join(f"abs(wd{j})" for j in range(frame_length)) + ") = 0"
    fb, dct = c["fb"], c["dct"]
    mel_cols = []
    for m in range(n_mels):
        terms = [f"s{k}*{fb[m, k]!r}" for k in range(nb) if fb[m, k] != 0]
        mel_cols.append(
            f"ln(({' + '.join(terms) if terms else '0.0'}) + {EPS!r}) AS lm{m}"
        )
    m_cols = []
    for i in coeffs:
        expr = " + ".join(f"lm{m}*{dct[i, m]!r}" for m in range(n_mels))
        m_cols.append(f"CASE WHEN zero_spec THEN NULL ELSE ({expr}) END AS m{i}")
    win_cols = ["min(frame_idx) OVER wp AS mnx", "max(frame_idx) OVER wp AS mxx"]
    for i in coeffs:
        win_cols.append(f"first_value(m{i}) OVER wo AS fv{i}")
        win_cols.append(f"last_value(m{i}) OVER wof AS lv{i}")
        win_cols.append(f"avg(m{i}) OVER wp AS av{i}")
        for k in range(1, width + 1):
            win_cols.append(f"lag(m{i}, {k}) OVER wo AS pg{i}_{k}")
            win_cols.append(f"lead(m{i}, {k}) OVER wo AS ld{i}_{k}")
    denom = float(2 * sum(k * k for k in range(1, width + 1)))
    out_cols = ["doc_id", "frame_idx"]
    for i in coeffs:
        terms = []
        for k in range(1, width + 1):
            fut = f"(CASE WHEN frame_idx + {k} <= mxx THEN ld{i}_{k} ELSE lv{i} END)"
            pst = f"(CASE WHEN frame_idx - {k} >= mnx THEN pg{i}_{k} ELSE fv{i} END)"
            terms.append(f"{k}.0*({fut} - {pst})")
        out_cols.append(f"round(m{i}, 6) AS mfcc_{i}")
        out_cols.append(
            f"round(({' + '.join(terms)})/{denom!r}, 6) AS mfcc_{i}_d1"
        )
        out_cols.append(f"round(m{i} - av{i}, 6) AS mfcc_{i}_cmn")
    ctes = [
        frames_cte(frame_length, hop),
        f"a AS MATERIALIZED (SELECT doc_id, frame_idx, {wd} FROM f)",
        f"b AS MATERIALIZED (SELECT *, {', '.join(spec_cols)} FROM a)",
        f"mm AS MATERIALIZED (SELECT *, {zero} AS zero_spec, "
        f"{', '.join(mel_cols)} FROM b)",
        f"mr AS MATERIALIZED (SELECT doc_id, frame_idx, {', '.join(m_cols)} "
        "FROM mm)",
        f"wb AS MATERIALIZED (SELECT doc_id, frame_idx, "
        + ", ".join(f"m{i}" for i in coeffs)
        + ", "
        + ", ".join(win_cols)
        + " FROM mr WINDOW wo AS (PARTITION BY doc_id ORDER BY frame_idx), "
        "wof AS (PARTITION BY doc_id ORDER BY frame_idx ROWS BETWEEN "
        "UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), "
        "wp AS (PARTITION BY doc_id))",
    ]
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT " + ",\n ".join(out_cols)
        + "\nFROM wb"
    )


def hll_sql(p: int = 7, table: str = "documents") -> str:
    """Twin of operators/sketch.hll_distinct over per-source word BIGRAMS
    (q_hll_distinct). Mirrors the Spark expression tree op-for-op:
    portable md5 hash halves, integer shift/mask, bin()-length rho, the
    EXACT dyadic harmonic sum (order-free — every partial sum is exact
    in f64, see sketch.py), and the same Python-literal alpha*m constant
    interpolated into both engines."""
    m = 1 << p
    width = 32 - p
    alpha_m = 0.7213 / (1.0 + 1.079 / m) * m
    return f"""
WITH w AS (SELECT source,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
           FROM {table}),
bg AS (SELECT coalesce(CAST(source AS VARCHAR), '__null__') AS grp,
              ws[i] || ' ' || ws[i+1] AS bigram
       FROM w, LATERAL UNNEST(generate_series(1, len(ws) - 1)) AS g(i)
       WHERE len(ws) >= 2),
h AS (SELECT grp, ('0x' || substr(md5(bigram), 1, 8))::BIGINT AS hv FROM bg),
r AS (SELECT grp,
             CAST(hv >> {width} AS INT) AS reg_idx,
             CAST(CASE WHEN (hv & {(1 << width) - 1}) = 0 THEN {width + 1}
                  ELSE {width + 1} - length(bin(hv & {(1 << width) - 1}))
                  END AS INT) AS rho
      FROM h),
regs AS MATERIALIZED (
  SELECT grp, reg_idx, MAX(rho) AS reg FROM r GROUP BY 1, 2),
agg AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_nonzero,
               SUM(pow(2.0, -reg)) AS s_present
        FROM regs GROUP BY 1),
e AS (SELECT grp, n_nonzero,
             (CAST('{alpha_m!r}' AS DOUBLE) * CAST({float(m)!r} AS DOUBLE)) /
               (s_present + CAST({m} - n_nonzero AS DOUBLE)) AS raw,
             CAST({m} - n_nonzero AS DOUBLE) AS vz
      FROM agg)
SELECT grp AS source,
       n_nonzero AS n_reg_nonzero,
       round(CASE WHEN raw <= CAST({2.5 * m!r} AS DOUBLE) AND vz > 0
                  THEN CAST({float(m)!r} AS DOUBLE)
                       * ln(CAST({float(m)!r} AS DOUBLE) / vz)
                  ELSE raw END, 6) AS estimate
FROM e
"""


def cms_sql(
    words: tuple[str, ...],
    d: int = 3,
    w: int = 256,
    table: str = "documents",
) -> str:
    """Twin of operators/sketch.cms_registers + cms_estimate over
    per-source WORDS, joined with the exact counts of the audit terms
    (q_cms_freq). Every quantity is an exact BIGINT — the same portable
    md5 hash halves (h_j = hash32(j || ':' || word) % w, hv >= 0 so
    `%` == Spark pmod), register sums, and min-over-rows estimate — so
    the hash match needs no rounding at all. COUNT(*)/SUM casts to
    BIGINT per the HUGEINT rule."""
    if d < 1 or w < 2:
        raise ValueError(f"need d >= 1 and w >= 2 (got d={d}, w={w})")
    qvals = ", ".join("('" + x.replace("'", "''") + "')" for x in words)
    return f"""
WITH tok AS MATERIALIZED (
  SELECT coalesce(CAST(source AS VARCHAR), '__null__') AS grp, w AS word
  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM {table})
  WHERE w <> ''),
js AS (SELECT CAST(unnest(generate_series(0, {d - 1})) AS INT) AS row_j),
regs AS MATERIALIZED (
  SELECT grp, row_j,
         CAST(('0x' || substr(md5(CAST(row_j AS VARCHAR) || ':' || word), 1, 8))::BIGINT
              % {w} AS INT) AS col,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM tok CROSS JOIN js GROUP BY 1, 2, 3),
qs AS (SELECT * FROM (VALUES {qvals}) AS q(word)),
probes AS (
  SELECT q.word, j.row_j,
         CAST(('0x' || substr(md5(CAST(j.row_j AS VARCHAR) || ':' || q.word), 1, 8))::BIGINT
              % {w} AS INT) AS col
  FROM qs q CROSS JOIN js j),
spine AS (SELECT DISTINCT grp FROM regs),
est AS (
  SELECT s.grp, p.word,
         CAST(MIN(coalesce(r.cnt, 0)) AS BIGINT) AS cms_count
  FROM spine s CROSS JOIN probes p
  LEFT JOIN regs r ON r.grp = s.grp AND r.row_j = p.row_j AND r.col = p.col
  GROUP BY 1, 2),
exact AS (
  SELECT grp, word, CAST(COUNT(*) AS BIGINT) AS exact_count
  FROM tok WHERE word IN (SELECT word FROM qs) GROUP BY 1, 2)
SELECT est.grp AS source, est.word, est.cms_count,
       coalesce(exact.exact_count, CAST(0 AS BIGINT)) AS exact_count,
       CAST(est.cms_count - coalesce(exact.exact_count, 0) AS BIGINT) AS overcount
FROM est LEFT JOIN exact ON est.grp = exact.grp AND est.word = exact.word
"""


def _divergence_spine_ctes(top_n: int, eps: float, table: str) -> str:
    """The shared spine / p / q CTE chain for kl_sql and js_sql —
    twin of aggregates._lex_divergence_pq (extracted together with it
    in r5; VERDICT r4 item #5). The spine enumerates DISTINCT sources
    from tok (not counts) so a source with zero head-word overlap
    still emits its all-eps row, mirroring the Spark side. Every level
    MATERIALIZED per the layered-CTE rule (plain CTEs re-inline
    combinatorially in DuckDB)."""
    return f"""tok AS MATERIALIZED (
  SELECT coalesce(CAST(source AS VARCHAR), '__null__') AS grp, w AS word
  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM {table})
  WHERE w <> ''),
head AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS c_all
  FROM tok GROUP BY 1 ORDER BY c_all DESC, word ASC LIMIT {top_n}),
counts AS MATERIALIZED (
  SELECT t.grp, t.word, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok t JOIN head h ON t.word = h.word GROUP BY 1, 2),
sp AS (SELECT g.grp, h.word, h.c_all
       FROM (SELECT DISTINCT grp FROM tok) g, head h),
f AS MATERIALIZED (
  SELECT sp.grp, sp.word, sp.c_all,
         coalesce(c.c, CAST(0 AS BIGINT)) AS c
  FROM sp LEFT JOIN counts c ON sp.grp = c.grp AND sp.word = c.word),
tg AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n_g FROM f GROUP BY 1),
nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n_all FROM f),
pq AS (SELECT f.grp,
         CASE WHEN tg.n_g = 0 THEN {eps!r}
              ELSE greatest(f.c / tg.n_g, {eps!r}) END AS p,
         CASE WHEN nt.n_all - tg.n_g = 0 THEN {eps!r}
              ELSE greatest((f.c_all - f.c) / (nt.n_all - tg.n_g), {eps!r})
              END AS q
       FROM f JOIN tg ON f.grp = tg.grp CROSS JOIN nt)"""


def kl_sql(top_n: int = 500, eps: float = 1e-9, table: str = "documents") -> str:
    """Twin of aggregates.source_kl_divergence: per-source lexical KL vs
    rest-of-corpus over the global top-N words; per-term micro-nat
    rounding, exact BIGINT sum (HUGEINT cast back per CLAUDE.md).
    Spine CTEs from _divergence_spine_ctes (shared with js_sql);
    n_head_toks = the source's head-word token total."""
    return f"""
WITH {_divergence_spine_ctes(top_n, eps, table)},
agg AS (
  SELECT grp,
         CAST(SUM(CAST(round((p * ln(p / q)) * 1e6) AS BIGINT)) AS BIGINT)
           AS kl_micronats,
         CAST(COUNT(*) AS BIGINT) AS n_terms
  FROM pq GROUP BY 1)
SELECT agg.grp AS source, agg.kl_micronats, agg.n_terms,
       tg.n_g AS n_head_toks
FROM agg JOIN tg ON agg.grp = tg.grp
"""


def js_sql(top_n: int = 500, eps: float = 1e-9, table: str = "documents") -> str:
    """Twin of aggregates.source_js_divergence: kl_sql's spine / p / q
    (the shared _divergence_spine_ctes), the same fixed-order JSD term
    (p ln(p/m) + q ln(q/m)) * 0.5 micro-rounded per term and summed
    exactly, and jsd_norm = one division of the exact micronat integer
    by the SAME driver-side ln(2) literal + scale-0 rounding."""
    import math

    ln2 = math.log(2.0)
    return f"""
WITH {_divergence_spine_ctes(top_n, eps, table)},
agg AS (
  SELECT grp,
         CAST(SUM(CAST(round(
           ((p * ln(p / ((p + q) / 2.0e0))
             + q * ln(q / ((p + q) / 2.0e0))) * 0.5e0) * 1e6)
           AS BIGINT)) AS BIGINT) AS jsd_micronats,
         CAST(COUNT(*) AS BIGINT) AS n_terms
  FROM pq GROUP BY 1)
SELECT agg.grp AS source, agg.jsd_micronats,
       CAST(CAST(round(CAST(agg.jsd_micronats AS DOUBLE)
                       / CAST({ln2!r} AS DOUBLE)) AS BIGINT) AS DOUBLE)
         / 1e6 AS jsd_norm,
       agg.n_terms, tg.n_g AS n_head_toks
FROM agg JOIN tg ON agg.grp = tg.grp
"""


def zipf_sql(top_n: int = 200, table: str = "documents") -> str:
    """Twin of aggregates.zipf_slope: rank = row_number over (count DESC,
    word ASC); ln(rank)/ln(freq) micro-nat integers; Sx/Sy/Sxy/Sxx are
    exact sums, each CAST to DOUBLE per-factor before the n*Sxy - Sx*Sy
    combination (mirrors the Spark expression tree exactly — BIGINT
    products overflow from top_n ~500 at web-scale head counts), single
    final division, round-6."""
    return f"""
WITH tok AS (
  SELECT coalesce(CAST(source AS VARCHAR), '__null__') AS grp, w AS word
  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM {table})
  WHERE w <> ''),
counts AS MATERIALIZED (
  SELECT grp, word, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
ranked AS MATERIALIZED (
  SELECT grp, c, row_number() OVER
           (PARTITION BY grp ORDER BY c DESC, word ASC) AS rnk
  FROM counts),
xy AS (SELECT grp,
         CAST(round(ln(CAST(rnk AS DOUBLE)) * 1e6) AS BIGINT) AS x,
         CAST(round(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS y
       FROM ranked WHERE rnk <= {top_n}),
s AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM xy GROUP BY 1)
SELECT grp AS source,
       n AS n_ranks,
       CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0
            THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
       END AS slope
FROM s
"""


def source_overlap_sql(ngram: int = 3, table: str = "documents") -> str:
    """Twin of dedup.source_ngram_overlap: distinct per-source shingles
    (the word_ngrams/_shingle convention), pair intersections via a
    shingle self-join (oracle-scale only — the Spark side uses a bounded
    collect_set groupBy), exact BIGINT counts, one round-6 division."""
    return f"""
WITH sh AS MATERIALIZED (
  SELECT DISTINCT grp, gram
  FROM (
    SELECT coalesce(CAST(source AS VARCHAR), '__null__') AS grp,
           unnest(array_distinct(list_transform(
             generate_series(1,
               greatest(len(string_split(text, ' ')) - {ngram - 1}, 0)),
             i -> array_to_string(
               list_slice(string_split(text, ' '), i, i + {ngram - 1}), ' ')
           ))) AS gram
    FROM {table})),
sz AS MATERIALIZED (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
pr AS (
  SELECT a.grp AS src_a, b.grp AS src_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM sh a JOIN sh b ON a.gram = b.gram AND a.grp < b.grp
  GROUP BY 1, 2)
SELECT pr.src_a, pr.src_b, pr.n_common,
       sa.n AS n_a, sb.n AS n_b,
       round(pr.n_common / (sa.n + sb.n - pr.n_common), 6) AS jaccard
FROM pr
JOIN sz sa ON pr.src_a = sa.grp
JOIN sz sb ON pr.src_b = sb.grp
"""


def bloom_membership_sql(
    ngram: int = 3,
    m_bits: int = 131072,
    k: int = 3,
    table: str = "documents",
) -> str:
    """Twin of operators/sketch.bloom_registers + bloom_probe over the
    seen-set prefilter demo (q_staged_bloom): a Bloom of the EVEN-source
    distinct word-ngram shingles probed by EVERY distinct corpus shingle.
    Mirrors the Spark tree op-for-op: the word_ngrams/_shingle projection,
    position h_j = portable md5 of `j || ':' || shingle` mod m (hv >= 0 so
    `%` == Spark pmod), word = pos >> 5, mask = 1 << (pos & 31) packed at
    32 bits/BIGINT word (masks <= 2^31 never touch the sign bit in either
    engine), BIT_OR register fold, and min-over-k probe — every quantity
    an exact BIGINT, no rounding anywhere. The `spine` cross join mirrors
    bloom_probe's DISTINCT-grp spine: with an EMPTY register table Spark
    emits zero probe rows (no group exists), while a bare LEFT JOIN here
    would emit all-zero hits — the spine keeps the degenerate case
    identical."""
    # TRY_CAST mirrors Spark's silent-NULL cast ('src-less' or NULL
    # sources parse to NULL -> parity CASE falls to 0 in BOTH engines;
    # a plain CAST would raise a DuckDB Conversion Error on '')
    parity = "TRY_CAST(substr(CAST(source AS VARCHAR), 4, 8) AS INT)"
    h = "(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || shingle), 1, 8))::BIGINT)"
    return f"""
WITH sh AS MATERIALIZED (
  SELECT shingle, MAX(is_build) AS in_build
  FROM (
    SELECT CASE WHEN {parity} % 2 = 0 THEN 1 ELSE 0 END AS is_build,
           unnest(array_distinct(list_transform(
             generate_series(1,
               greatest(len(string_split(text, ' ')) - {ngram - 1}, 0)),
             i -> array_to_string(
               list_slice(string_split(text, ' '), i, i + {ngram - 1}), ' ')
           ))) AS shingle
    FROM {table})
  GROUP BY 1),
js AS (SELECT CAST(unnest(generate_series(0, {k - 1})) AS INT) AS j),
bpos AS (
  SELECT {h} % {m_bits} AS pos
  FROM (SELECT shingle FROM sh WHERE in_build = 1) b CROSS JOIN js),
regs AS MATERIALIZED (
  SELECT pos >> 5 AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(pos & 31 AS INT)) AS bits
  FROM bpos GROUP BY 1),
spine AS (SELECT DISTINCT 1 AS one FROM regs),
qpos AS (
  SELECT sh.shingle, {h} % {m_bits} AS pos
  FROM sh CROSS JOIN js),
hits AS (
  SELECT q.shingle,
         MIN(CASE WHEN (coalesce(r.bits, 0)
                        & (CAST(1 AS BIGINT) << CAST(q.pos & 31 AS INT)))
                       = (CAST(1 AS BIGINT) << CAST(q.pos & 31 AS INT))
                  THEN 1 ELSE 0 END) AS bloom_hit
  FROM qpos q CROSS JOIN spine s
  LEFT JOIN regs r ON r.word_idx = (q.pos >> 5)
  GROUP BY 1)
SELECT sh.shingle,
       CAST(sh.in_build AS INT) AS in_build,
       CAST(h2.bloom_hit AS INT) AS bloom_hit
FROM sh JOIN hits h2 ON sh.shingle = h2.shingle
"""


def pq_ann_sql(
    m_sub: int = 8,
    k: int = 16,
    dim: int = 64,
    n_queries: int = 4,
    k_top: int = 10,
    table: str = "embeddings",
) -> str:
    """Twin of operators/pq (pq_codebook iters=1 -> pq_topk): product-
    quantization ADC top-k, reproducing the WHOLE chain — md5-ordered
    distinct init (SAMPLE_KEY), one Lloyd refinement per subspace with
    exact round(v*1e9) BIGINT sums (partition-order-free on both
    engines), re-encode under the updated codebook, and the per-(query,
    vector) ADC fold — bit-identically:

    - every subspace distance is list_sum over generate_series(1, ds) in
      index order == the UDF's plane-by-plane `acc += diff*diff`
      (sequential, full-f64; the semantic_dedup fold recipe), so argmin
      + lowest-code tie-break agree exactly;
    - the centroid update is (CAST(s AS DOUBLE) / cnt) / 1e9 == python
      (float(s)/float(cnt))/1e9 — one IEEE division each;
    - the final ADC distance folds the m_sub subspace distances in
      subspace order (list(sd ORDER BY m) -> list_sum == F.aggregate's
      sequential 0.0-seeded fold; +0.0 seed is exact on sums of
      squares), rounded to 6;
    - rank = row_number by (adist ASC, vec_id ASC), the ANN family
      tie-break.

    Empty Lloyd cells keep their init centroid (LEFT JOIN + coalesce ==
    the newC.copy() rule). NULL / wrong-length vectors are excluded up
    front, mirroring the encode UDF's NULL-codes -> isNotNull filter."""
    if dim % m_sub != 0:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    ds = dim // m_sub
    key = SAMPLE_KEY.format(v="emb")
    gs = f"generate_series(1, {ds})"
    sc9 = "CAST(1000000000.0 AS DOUBLE)"

    def assign(cb: str) -> str:
        return f"""
  SELECT vec_id, m, code FROM (
    SELECT ev.vec_id, {cb}.m, {cb}.code,
      row_number() OVER (PARTITION BY ev.vec_id, {cb}.m ORDER BY
        list_sum(list_transform({gs},
          j -> (ev.v[{cb}.m * {ds} + j] - {cb}.sc[j])
             * (ev.v[{cb}.m * {ds} + j] - {cb}.sc[j]))) ASC,
        {cb}.code ASC) AS rn
    FROM ev CROSS JOIN {cb})
  WHERE rn = 1"""

    return f"""
WITH ev AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM {table}
  WHERE embedding IS NOT NULL AND len(embedding) = {dim}),
init AS MATERIALIZED (
  SELECT CAST(rn - 1 AS INT) AS code,
         list_transform(emb, x -> CAST(x AS DOUBLE)) AS c
  FROM (
    SELECT emb, row_number() OVER (ORDER BY {key}) AS rn
    FROM (SELECT DISTINCT embedding AS emb FROM {table}
          WHERE embedding IS NOT NULL AND len(embedding) = {dim}))
  WHERE rn <= {k}),
ms AS (SELECT CAST(unnest(generate_series(0, {m_sub - 1})) AS INT) AS m),
cb0 AS MATERIALIZED (
  SELECT ms.m, init.code,
         list_transform({gs}, j -> init.c[ms.m * {ds} + j]) AS sc
  FROM init CROSS JOIN ms),
a0 AS MATERIALIZED ({assign("cb0")}),
agg AS MATERIALIZED (
  SELECT a0.m, a0.code, g.j,
    sum(CAST(round(ev.v[a0.m * {ds} + g.j] * {sc9}) AS BIGINT)) AS s,
    count(*) AS cnt
  FROM a0 JOIN ev USING (vec_id)
  CROSS JOIN LATERAL UNNEST({gs}) AS g(j)
  GROUP BY a0.m, a0.code, g.j),
upd AS MATERIALIZED (
  SELECT m, code,
         list((CAST(s AS DOUBLE) / cnt) / {sc9} ORDER BY j) AS sc
  FROM agg GROUP BY m, code),
cb1 AS MATERIALIZED (
  SELECT cb0.m, cb0.code, coalesce(upd.sc, cb0.sc) AS sc
  FROM cb0 LEFT JOIN upd ON cb0.m = upd.m AND cb0.code = upd.code),
enc AS MATERIALIZED ({assign("cb1")}),
q AS MATERIALIZED (
  SELECT vec_id AS query_id, v FROM ev WHERE vec_id < {n_queries}),
pair AS MATERIALIZED (
  SELECT q.query_id, e.vec_id, e.m,
    list_sum(list_transform({gs},
      j -> (q.v[e.m * {ds} + j] - cb1.sc[j])
         * (q.v[e.m * {ds} + j] - cb1.sc[j]))) AS sd
  FROM q CROSS JOIN enc e
  JOIN cb1 ON cb1.m = e.m AND cb1.code = e.code),
ad AS (
  SELECT query_id, vec_id,
         round(list_sum(list(sd ORDER BY m)), 6) AS adist
  FROM pair GROUP BY query_id, vec_id)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(vec_id AS BIGINT) AS vec_id,
       adist,
       CAST(rank AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rank
  FROM ad)
WHERE rank <= {k_top}
"""


def priority_sample_sql(
    k: int,
    weight_col: str = "n_chars",
    key_col: str = "doc_id",
    stratum_col: str = "source",
    table: str = "documents",
    salt: str = "",
) -> str:
    """Twin of functions.sampling.priority_sample (Duffield-Lund-Thorup
    priority sampling, k per stratum, Horvitz-Thompson adj_weight).
    BIT-identical, not round-6: the priority is exact-integer md5 bits
    through one add and two IEEE divisions (both engines correctly
    round), and adj_weight is greatest of exact inputs. Tie-break key
    ASC NULLS FIRST matches Spark's asc() default (DuckDB defaults
    NULLS LAST — the interval_join lesson); a NULL key hashes as ''
    on both sides (the hash_bucket rule)."""
    return f"""
WITH w AS (
  SELECT {stratum_col} AS stratum,
         CAST({key_col} AS BIGINT) AS key,
         CAST({weight_col} AS BIGINT) AS weight,
         CAST({weight_col} AS DOUBLE) /
           ((CAST(('0x' || substr(md5(coalesce(CAST({key_col} AS VARCHAR), '') || '{salt}'), 1, 13))::BIGINT AS DOUBLE) + 1.0)
            / 4503599627370496.0) AS priority
  FROM {table}
  WHERE {weight_col} IS NOT NULL AND CAST({weight_col} AS DOUBLE) > 0.0
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY stratum ORDER BY priority DESC, key ASC NULLS FIRST
  ) AS rank FROM w
), t AS (
  SELECT * FROM r WHERE rank <= {k} + 1
), u AS (
  SELECT *, max(CASE WHEN rank = {k} + 1 THEN priority END)
              OVER (PARTITION BY stratum) AS tau
  FROM t
)
SELECT stratum, key, weight, CAST(rank AS INT) AS rank, priority,
       greatest(CAST(weight AS DOUBLE), coalesce(tau, 0.0)) AS adj_weight
FROM u WHERE rank <= {k}
"""


def line_scrub_sql(
    min_doc_freq: int = 3,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Twin of dedup.line_scrub (CCNet/C4 corpus-frequency line
    scrubbing): identical 64-bit two-half md5 line keys, doc-frequency
    over distinct (doc, line), removal everywhere (no canonical),
    1-based positions, empty lines never counted/removed. Exact-integer
    output + byte-exact text_clean, so no rounding anywhere.
    array_to_string of an all-scrubbed doc's empty keep-list is NULL in
    DuckDB (Spark array_join gives '') — coalesce per the engine-twin
    rule."""
    return f"""
WITH base AS MATERIALIZED (
  SELECT {id_col} AS doc_id,
         string_split(coalesce({text_col}, ''), chr(10)) AS ls
  FROM {table}),
occ AS (
  SELECT doc_id, unnest(generate_series(1, len(ls))) AS pos,
         unnest(ls) AS line
  FROM base),
g AS (
  SELECT doc_id,
         ('0x' || substr(md5(line), 1, 8))::BIGINT AS h,
         ('0x' || substr(md5(line), 9, 8))::BIGINT AS h2,
         list(pos ORDER BY pos) AS poss
  FROM occ WHERE line <> '' GROUP BY ALL),
flagged AS (
  SELECT doc_id, poss, count(*) OVER (PARTITION BY h, h2) AS dfq FROM g),
mask AS (
  SELECT doc_id, flatten(list(poss)) AS starts
  FROM flagged WHERE dfq >= {min_doc_freq} GROUP BY doc_id),
joined AS (
  SELECT b.doc_id, b.ls, len(b.ls) AS n_lines,
         coalesce(m.starts, []) AS starts
  FROM base b LEFT JOIN mask m USING (doc_id))
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(n_lines AS BIGINT) AS n_lines,
  CAST(len(list_filter(generate_series(1, n_lines),
           i -> list_contains(starts, i))) AS BIGINT) AS n_scrubbed,
  coalesce(array_to_string(list_transform(
      list_filter(generate_series(1, n_lines),
                  i -> NOT list_contains(starts, i)),
      i -> ls[i]), chr(10)), '') AS text_clean
FROM joined
"""


def funnel_steps_sql(
    steps: tuple[str, ...],
    table: str = "events",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    max_span_seconds: float | None = None,
) -> str:
    """Twin of temporal.funnel_steps: per-user ordered funnel — step i
    is the earliest event of type steps[i] STRICTLY AFTER step i-1
    (optionally within [step_1, step_1 + span]). Exact BIGINT micros
    end-to-end, so no rounding anywhere. Engine alignment: Spark's
    collect_list over zero matches gives [], DuckDB's list() FILTER
    gives NULL — both reach array_min/list_min as NULL, and a NULL
    threshold nulls every later filter (t > NULL is NULL = dropped),
    so the chains agree. Layered CTEs are MATERIALIZED per the
    generated-SQL rule (DuckDB inlines plain CTEs combinatorially)."""
    types = ", ".join("'" + s.replace("'", "''") + "'" for s in steps)
    arrs = ",\n    ".join(
        "list(us ORDER BY us) FILTER (WHERE ft = '{}') AS t{}".format(
            s.replace("'", "''"), i
        )
        for i, s in enumerate(steps)
    )
    layers = ["SELECT *, list_min(t0) AS step_1_us FROM g"]
    for i in range(1, len(steps)):
        if max_span_seconds is not None:
            span_us = int(round(max_span_seconds * 1e6))
            cond = (
                f"t -> t > step_{i}_us AND t <= step_1_us + {span_us}"
            )
        else:
            cond = f"t -> t > step_{i}_us"
        layers.append(
            f"SELECT *, list_min(list_filter(t{i}, {cond})) "
            f"AS step_{i + 1}_us FROM s{i}"
        )
    layer_sql = ",\n".join(
        f"s{i + 1} AS MATERIALIZED ({q})" for i, q in enumerate(layers)
    )
    out_cols = ", ".join(f"step_{i + 1}_us" for i in range(len(steps)))
    depth = " + ".join(
        f"CAST(step_{i + 1}_us IS NOT NULL AS INT)"
        for i in range(len(steps))
    )
    return f"""
WITH ev AS MATERIALIZED (
  SELECT {user_col}, {type_col} AS ft,
         epoch_us(CAST({ts_col} AS TIMESTAMP)) AS us
  FROM {table}
  WHERE {ts_col} IS NOT NULL AND {type_col} IN ({types})),
g AS MATERIALIZED (
  SELECT {user_col},
    {arrs}
  FROM ev GROUP BY {user_col}),
{layer_sql}
SELECT {user_col}, {out_cols}, CAST({depth} AS INT) AS depth
FROM s{len(steps)} WHERE step_1_us IS NOT NULL
"""


def funnel_counts_sql(
    steps: tuple[str, ...],
    table: str = "events",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    max_span_seconds: float | None = None,
) -> str:
    """Twin of temporal.funnel_counts: per-step reached counts +
    conversion vs step 1 (ONE correctly-rounded double division per
    row on exact BIGINT inputs, round-6 — the exact-int ratio rule).
    Each UNION branch carries HAVING count(*) > 0: a global aggregate
    over an EMPTY per-user frame still emits one row in SQL, but
    Spark's groupBy over the empty exploded frame emits none — without
    the guard the twin returned k (n_reached=0, conversion NaN) rows
    on a corpus with no step-1 event (the empty-sweep divergence)."""
    per = funnel_steps_sql(
        steps, table=table, user_col=user_col, ts_col=ts_col,
        type_col=type_col, max_span_seconds=max_span_seconds,
    )
    unions = "\nUNION ALL\n".join(
        "SELECT {i} AS step, '{s}' AS step_type, "
        "count(*) FILTER (WHERE step_{i}_us IS NOT NULL) AS n_reached "
        "FROM per HAVING count(*) > 0".format(
            i=i + 1, s=s.replace("'", "''")
        )
        for i, s in enumerate(steps)
    )
    return f"""
WITH per AS MATERIALIZED ({per}),
u AS ({unions})
SELECT CAST(step AS INT) AS step, step_type,
       CAST(n_reached AS BIGINT) AS n_reached,
       round(CAST(n_reached AS DOUBLE)
             / CAST(max(CASE WHEN step = 1 THEN n_reached END)
                    OVER () AS DOUBLE), 6) AS conversion
FROM u
"""


def cohort_retention_sql(
    period_seconds: int = 7 * 86400,
    table: str = "events",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> str:
    """Twin of temporal.cohort_retention: epoch-grid cohorting on exact
    BIGINT micros with the portable pmod floor-division recipe
    (((us % p) + p) % p mirrors Spark's pmod for any sign; the
    subtraction makes the numerator an exact multiple of p, so the one
    double division is exact in both engines). True COUNT via DISTINCT
    cells; retention is one round-6 double division on exact ints."""
    p = int(period_seconds) * 1_000_000
    return f"""
WITH ev AS MATERIALIZED (
  SELECT {user_col} AS u,
         CAST((epoch_us(CAST({ts_col} AS TIMESTAMP))
               - (((epoch_us(CAST({ts_col} AS TIMESTAMP)) % {p}) + {p}) % {p}))
              / {p} AS BIGINT) AS per
  FROM {table} WHERE {ts_col} IS NOT NULL),
frst AS MATERIALIZED (
  SELECT u, min(per) AS cohort FROM ev GROUP BY u),
cells AS MATERIALIZED (
  SELECT DISTINCT ev.u, f.cohort, ev.per - f.cohort AS off
  FROM ev JOIN frst f USING (u)),
agg AS (
  SELECT cohort, off, count(*) AS n_active
  FROM cells GROUP BY cohort, off)
SELECT CAST(cohort AS BIGINT) AS cohort_period,
       CAST(off AS BIGINT) AS period_offset,
       CAST(n_active AS BIGINT) AS n_active,
       CAST(max(CASE WHEN off = 0 THEN n_active END)
            OVER (PARTITION BY cohort) AS BIGINT) AS cohort_size,
       round(CAST(n_active AS DOUBLE)
             / CAST(max(CASE WHEN off = 0 THEN n_active END)
                    OVER (PARTITION BY cohort) AS DOUBLE), 6) AS retention
FROM agg
"""


def cdc_chunks_sql(
    divisor: int = 16,
    window_words: int = 4,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Twin of dedup.cdc_chunks (content-defined chunking): identical
    tokenization (space split, empties dropped), identical boundary
    rule (hash32 of the w-shingle ENDING at i, h % divisor == 0 — the
    hash is non-negative so bare % matches Spark's), 1-based inclusive
    list_slice mirrors Spark's (start, length) slice, one md5 per
    chunk. Exact integers + md5 hex strings, no rounding anywhere.
    generate_series(a, b) with b < a is empty in DuckDB but DESCENDS in
    Spark — both sides guard with an explicit CASE."""
    w = int(window_words)
    h32 = "('0x' || substr(md5({x}), 1, 8))::BIGINT"
    sh = (
        f"array_to_string(list_slice(ws, i - {w - 1}, i), ' ')"
    )
    return f"""
WITH base AS MATERIALIZED (
  SELECT {id_col} AS doc_id,
         list_filter(string_split(coalesce({text_col}, ''), ' '),
                     x -> x <> '') AS ws
  FROM {table}),
sized AS (SELECT doc_id, ws, len(ws) AS n FROM base WHERE len(ws) >= 1),
st AS MATERIALIZED (
  SELECT doc_id, ws, n,
         list_prepend(1, list_transform(
           list_filter(
             CASE WHEN n - 1 >= {w} THEN generate_series({w}, n - 1)
                  ELSE [] END,
             i -> {h32.format(x=sh)} % {divisor} = 0),
           b -> b + 1)) AS starts
  FROM sized),
ex AS (
  SELECT doc_id, ws, n, starts,
         unnest(generate_series(1, len(starts))) AS j
  FROM st)
SELECT doc_id, CAST(j AS INT) AS chunk_idx,
       CAST(starts[j] AS BIGINT) AS start_pos,
       CAST((CASE WHEN j < len(starts) THEN starts[j + 1] - 1 ELSE n END)
            - starts[j] + 1 AS BIGINT) AS n_words,
       md5(array_to_string(list_slice(ws, starts[j],
           CASE WHEN j < len(starts) THEN starts[j + 1] - 1 ELSE n END),
           ' ')) AS chunk_md5
FROM ex
"""


def synth_lines_sql() -> str:
    """The ONE DuckDB mirror of functions/cleaning.synthesize_lines
    (10-word chunks, hash-dependent terminal dot, newline-joined),
    expecting a column `ws` = the empties-filtered space-split words.
    Three driver oracles (c4_clean, staged gopher_quality, staged
    line_scrub) build their lined demo corpora from this expression —
    interpolate it, never paste a copy: a synthesize_lines change must
    reach every oracle or they silently diverge from the Spark side."""
    h = H32.format(x="c")
    return f"""(CASE WHEN len(ws) < 1 THEN ''
    ELSE array_to_string(list_transform(
      list_transform(generate_series(1, CAST(ceil(len(ws) / 10.0) AS BIGINT)),
        i -> array_to_string(list_slice(ws, (i-1)*10 + 1, (i-1)*10 + 10), ' ')),
      c -> c || CASE WHEN {h} % 3 <> 0 THEN '.' ELSE '' END),
      chr(10)) END)"""


def npmi_collocations_sql(
    min_count: int = 5,
    top_k: int = 100,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """Twin of tfidf.npmi_collocations: identical tokenization, bigram
    construction (adjacent pairs), min_count prefilter, per-term
    micro-nat rounding (ln on exact BIGINTs, rounded once — positive
    values, so HALF_UP == ties-away), exact BIGINT combination, one
    round-6 division, and the same (npmi DESC, w1, w2) total order
    before LIMIT so the cut is deterministic in both engines."""
    return f"""
WITH base AS MATERIALIZED (
  SELECT list_filter(string_split(coalesce({text_col}, ''), ' '),
                     x -> x <> '') AS ws
  FROM {table}),
bg AS MATERIALIZED (
  SELECT ws[i] AS w1, ws[i + 1] AS w2
  FROM base, unnest(CASE WHEN len(ws) >= 2
                         THEN generate_series(1, len(ws) - 1)
                         ELSE [] END) AS t(i)),
bc AS MATERIALIZED (
  SELECT w1, w2, count(*) AS pair_count FROM bg GROUP BY w1, w2),
uc AS MATERIALIZED (
  SELECT w, count(*) AS c FROM (SELECT unnest(ws) AS w FROM base)
  GROUP BY w),
tot AS (
  SELECT (SELECT sum(c) FROM uc) AS n1,
         (SELECT sum(pair_count) FROM bc) AS n2),
j AS (
  SELECT b.w1, b.w2, b.pair_count, u1.c AS c1, u2.c AS c2, t.n1, t.n2,
         CAST(round(ln(CAST(b.pair_count AS DOUBLE)) * 1e6) AS BIGINT)
           + 2 * CAST(round(ln(CAST(t.n1 AS DOUBLE)) * 1e6) AS BIGINT)
           - CAST(round(ln(CAST(u1.c AS DOUBLE)) * 1e6) AS BIGINT)
           - CAST(round(ln(CAST(u2.c AS DOUBLE)) * 1e6) AS BIGINT)
           - CAST(round(ln(CAST(t.n2 AS DOUBLE)) * 1e6) AS BIGINT)
           AS pmi_micro,
         CAST(round(ln(CAST(t.n2 AS DOUBLE)) * 1e6) AS BIGINT)
           - CAST(round(ln(CAST(b.pair_count AS DOUBLE)) * 1e6) AS BIGINT)
           AS dn
  FROM bc b
  JOIN uc u1 ON u1.w = b.w1
  JOIN uc u2 ON u2.w = b.w2
  CROSS JOIN tot t
  WHERE b.pair_count >= {min_count})
SELECT w1, w2, CAST(pair_count AS BIGINT) AS pair_count,
       CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
       CAST(pmi_micro AS BIGINT) AS pmi_micro,
       round(CAST(pmi_micro AS DOUBLE) / CAST(dn AS DOUBLE), 6) AS npmi
FROM j WHERE dn > 0
ORDER BY npmi DESC, w1, w2
LIMIT {top_k}
"""


def allpairs_jaccard_sql(
    ngram: int = 3,
    threshold: float = 0.8,
    table: str = "documents",
    prelude_cte: str = "",
) -> str:
    """Twin of dedup.allpairs_jaccard_pairs: identical shingling
    (_shingle_select_sql == word_ngrams), the same (df ASC, shingle)
    global prefix order, the same pure-BIGINT threshold math
    (t_micro ceil-div for the prefix length — DuckDB // truncates,
    which equals floor on these positive operands — the length filter
    as t_micro*max <= 1e6*min, acceptance as 1e6*inter >= t_micro*union),
    and intersection counted as shared (doc,shingle) rows (per-doc
    shingles are DISTINCT, so the join row count IS |A intersect B|,
    exactly what Spark's array_intersect sizes)."""
    t_micro = round(threshold * 1e6)
    prelude = f"{prelude_cte}," if prelude_cte else ""
    return f"""
WITH {prelude}
sh AS MATERIALIZED (
  SELECT doc_id, shingles, CAST(len(shingles) AS BIGINT) AS n
  FROM ({_shingle_select_sql(ngram, table)})
  WHERE len(shingles) > 0),
inv AS MATERIALIZED (
  SELECT doc_id, n, unnest(shingles) AS shingle FROM sh),
dfreq AS MATERIALIZED (
  SELECT shingle, count(*) AS dfc FROM inv GROUP BY shingle),
ranked AS MATERIALIZED (
  SELECT i.doc_id, i.n, i.shingle,
         row_number() OVER (PARTITION BY i.doc_id
                            ORDER BY d.dfc, i.shingle) AS rn
  FROM inv i JOIN dfreq d USING (shingle)),
prefix AS MATERIALIZED (
  SELECT doc_id, n, shingle FROM ranked
  WHERE rn <= n - (({t_micro} * n + 999999) // 1000000) + 1),
cand AS MATERIALIZED (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
                  greatest(a.doc_id, b.doc_id) AS id_b
  FROM prefix a JOIN prefix b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  WHERE {t_micro} * greatest(a.n, b.n) <= 1000000 * least(a.n, b.n)),
ij AS MATERIALIZED (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c
  JOIN inv x ON x.doc_id = c.id_a
  JOIN inv y ON y.doc_id = c.id_b AND y.shingle = x.shingle
  GROUP BY c.id_a, c.id_b)
SELECT j.id_a, j.id_b, CAST(j.n_inter AS BIGINT) AS n_inter,
       CAST(sa.n + sb.n - j.n_inter AS BIGINT) AS n_union,
       round(CAST(j.n_inter AS DOUBLE)
             / CAST(sa.n + sb.n - j.n_inter AS DOUBLE), 6) AS jaccard
FROM ij j
JOIN sh sa ON sa.doc_id = j.id_a
JOIN sh sb ON sb.doc_id = j.id_b
WHERE 1000000 * j.n_inter >= {t_micro} * (sa.n + sb.n - j.n_inter)
"""


def zorder_key_sql(
    bits: int = 16,
    table: str = "events",
) -> str:
    """Twin of the staged zorder_key entry (operators/layout.py): the
    same 1-row min/max bounds, the same fixed-width bucket math
    (width = ceil-div(span, 2^bits); all operands non-negative, so
    DuckDB's truncating // equals Spark's exact pmod floor div), and
    the same unrolled Morton shift/mask interleave — pure BIGINT end
    to end, no rounding anywhere."""
    m = 1 << bits
    terms = []
    for i, c in enumerate(("u_bucket", "t_bucket")):
        for j in range(bits):
            terms.append(f"((({c} >> {j}) & 1) << {j * 2 + i})")
    interleave = " + ".join(terms)
    return f"""
WITH src AS MATERIALIZED (
  SELECT event_id, CAST(user_id AS BIGINT) AS u,
         CAST(epoch_us(ts) AS BIGINT) AS t
  FROM {table} WHERE user_id IS NOT NULL AND ts IS NOT NULL),
bounds AS (
  SELECT min(u) AS ulo, max(u) AS uhi, min(t) AS tlo, max(t) AS thi
  FROM src),
bucketed AS MATERIALIZED (
  SELECT s.event_id,
         (s.u - b.ulo) // (((b.uhi - b.ulo + 1) + {m - 1}) // {m})
           AS u_bucket,
         (s.t - b.tlo) // (((b.thi - b.tlo + 1) + {m - 1}) // {m})
           AS t_bucket
  FROM src s CROSS JOIN bounds b)
SELECT event_id, CAST(u_bucket AS BIGINT) AS u_bucket,
       CAST(t_bucket AS BIGINT) AS t_bucket,
       CAST({interleave} AS BIGINT) AS z_key
FROM bucketed
"""


def bm25_ctes(queries_values: str) -> str:
    """CTE chain `q .. agg` producing Okapi BM25 integer-micro scores per
    (query_id, doc_id) — the single owner of the BM25 twin shape, shared
    by the bm25 oracle (rank + top-k tail appended there) and
    rrf_hybrid_sql (which fuses the same `agg`). queries_values is the
    SQL VALUES body, e.g. "(0, 'table scan filter'), (1, ...)".
    k1=1.2 / b=0.75 are inlined exactly as operators/selection.py
    bm25_topk folds them (k1+1 = 2.2, k1*(1-b) = 0.3 kept as
    1.2 * (0.25 + ...) to preserve the original IEEE evaluation order)."""
    return f"""q AS (SELECT * FROM (VALUES {queries_values})
           AS t(query_id, query)),
w AS (SELECT doc_id,
        list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents),
tok AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM w),
tf AS (SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
       FROM tok GROUP BY doc_id, term),
qt AS (SELECT DISTINCT query_id,
         unnest(list_filter(string_split(query, ' '), x -> x <> '')) AS term
       FROM q),
tfq AS MATERIALIZED (
  SELECT tf.* FROM tf JOIN (SELECT DISTINCT term FROM qt) USING (term)),
dfreq AS (SELECT term, COUNT(*) AS df FROM tfq GROUP BY term),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(len(ws)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   AS avgdl
          FROM w),
sc AS (SELECT qt.query_id, tfq.doc_id,
         CAST(round(ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                    * tfq.tf * 2.2
                    / (tfq.tf + 1.2 * (0.25 + (0.75 * tfq.dl) / s.avgdl))
                    * 1e6) AS BIGINT) AS sm
       FROM tfq JOIN qt USING (term) JOIN dfreq USING (term)
       CROSS JOIN stats s),
agg AS (SELECT query_id, doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_hit_terms,
          CAST(SUM(sm) AS BIGINT) AS score_micro
        FROM sc GROUP BY query_id, doc_id)"""


def rrf_hybrid_sql(
    queries_values: str,
    n_dense_q: int = 3,
    k_lex: int = 20,
    k_dense: int = 20,
    k_const: int = 60,
    topk: int = 10,
) -> str:
    """Twin of the staged rrf_hybrid entry: BM25 top-k_lex lexical ranks
    (bm25_ctes above) fused with brute-force round-6-cosine top-k_dense
    ranks (the ann_topk twin shape) via Reciprocal Rank Fusion. Each
    contribution is CAST(1e6 AS DOUBLE)/CAST(k+rank AS DOUBLE) — two
    exact integers, one IEEE division, round() half-away-from-zero in
    both engines — then exact BIGINT sums; integer constants are CAST
    (never bare decimal literals: DuckDB parses those as DECIMAL and
    overflows DECIMAL(18) arithmetic)."""
    cos = (
        "round(list_sum(list_transform(generate_series(1, len(a.embedding)), "
        "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / "
        "(sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) * "
        "sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)"
    )
    contrib = (
        f"CAST(round(CAST(1000000 AS DOUBLE) / "
        f"CAST({k_const} + rank AS DOUBLE)) AS BIGINT)"
    )
    return f"""
WITH {bm25_ctes(queries_values)},
lex AS (SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(doc_id AS BIGINT) AS doc_id, rank
        FROM (SELECT query_id, doc_id,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY score_micro DESC, doc_id ASC) AS rank
              FROM agg)
        WHERE rank <= {k_lex}),
dense AS (SELECT CAST(query_id AS BIGINT) AS query_id,
                 CAST(doc_id AS BIGINT) AS doc_id, rank
          FROM (SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
                  row_number() OVER (PARTITION BY a.vec_id
                    ORDER BY {cos} DESC, b.vec_id ASC) AS rank
                FROM embeddings a JOIN embeddings b ON true
                WHERE a.vec_id < {n_dense_q})
          WHERE rank <= {k_dense}),
u AS (SELECT query_id, doc_id, {contrib} AS cm FROM lex
      UNION ALL
      SELECT query_id, doc_id, {contrib} AS cm FROM dense),
fused AS (SELECT query_id, doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_systems,
                 CAST(SUM(cm) AS BIGINT) AS rrf_micro
          FROM u GROUP BY query_id, doc_id),
rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
         ORDER BY rrf_micro DESC, doc_id ASC) AS rank
       FROM fused)
SELECT query_id, doc_id, n_systems, rrf_micro, CAST(rank AS INT) AS rank
FROM rk WHERE rank <= {topk}
"""


def byte_entropy_sql(
    low: float = 2.0,
    high: float = 5.5,
    min_printable: float = 0.8,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Twin of cleaning.byte_entropy: identical UTF-8 byte histogram
    (hex(encode(..)) is uppercase in both engines), identical micro-nat
    entropy arithmetic (ln on exact BIGINT counts, rounded once,
    combined exactly, ONE round-6 division), identical printable-byte
    classification, and verdicts compared on the ROUNDED values. Empty
    docs surface via the LEFT JOIN (Spark's explode_outer NULL row):
    n_bytes 0, NULL entropy/ratio, keep false. Gate thresholds are
    interpolated as CAST(... AS DOUBLE) (bare decimal literals parse as
    DECIMAL in DuckDB)."""
    return f"""
WITH ids AS MATERIALIZED (
  SELECT {id_col} FROM {table}),
b AS MATERIALIZED (
  SELECT {id_col}, hx, length(hx) // 2 AS nb
  FROM (SELECT {id_col}, hex(encode(coalesce({text_col}, ''))) AS hx
        FROM {table}) raw),
e AS MATERIALIZED (
  SELECT {id_col}, substr(hx, 2 * i - 1, 2) AS byte
  FROM b, unnest(CASE WHEN nb >= 1 THEN generate_series(1, nb)
                      ELSE [] END) AS t(i)),
c AS MATERIALIZED (
  SELECT {id_col}, byte, count(*) AS cnt FROM e GROUP BY {id_col}, byte),
a AS MATERIALIZED (
  SELECT {id_col},
         CAST(sum(cnt) AS BIGINT) AS n_bytes,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(sum(cnt * CAST(round(ln(CAST(cnt AS DOUBLE)) * 1e6)
                             AS BIGINT)) AS BIGINT) AS s_micro,
         CAST(sum(CASE WHEN (('0x' || byte)::BIGINT BETWEEN 32 AND 126)
                         OR ('0x' || byte)::BIGINT IN (9, 10, 13)
                       THEN cnt ELSE 0 END) AS BIGINT) AS n_print
  FROM c GROUP BY {id_col}),
j AS (
  SELECT d.{id_col}, coalesce(a.n_bytes, 0) AS n_bytes,
         coalesce(a.n_distinct, 0) AS n_distinct,
         CASE WHEN coalesce(a.n_bytes, 0) > 0 THEN round(
           CAST(a.n_bytes * CAST(round(ln(CAST(a.n_bytes AS DOUBLE)) * 1e6)
                                 AS BIGINT) - a.s_micro AS DOUBLE)
           / (CAST(a.n_bytes AS DOUBLE) * 1e6), 6) END AS entropy,
         CASE WHEN coalesce(a.n_bytes, 0) > 0 THEN round(
           CAST(a.n_print AS DOUBLE) / CAST(a.n_bytes AS DOUBLE), 6)
         END AS printable_ratio
  FROM ids d LEFT JOIN a USING ({id_col}))
SELECT {id_col}, CAST(n_bytes AS BIGINT) AS n_bytes,
       CAST(n_distinct AS BIGINT) AS n_distinct, entropy, printable_ratio,
       coalesce(n_bytes > 0
                AND entropy >= CAST({low!r} AS DOUBLE)
                AND entropy <= CAST({high!r} AS DOUBLE)
                AND printable_ratio >= CAST({min_printable!r} AS DOUBLE),
                FALSE) AS keep
FROM j
"""


KMV_WORD_ELEMENTS = """
SELECT source AS g, unnest(list_filter(string_split(coalesce(text, ''), ' '),
                                       x -> x <> '')) AS v
FROM documents"""


def _kmv_ctes(k: int, elements: str) -> str:
    """Shared KMV CTE chain: distinct 52-bit hashes per group, ranked,
    cut at k — mirrors sketch.kmv_sketch exactly (same md5-prefix hash,
    same distinct-set semantics, NULL values ignored)."""
    h52 = "(('0x' || substr(md5(v), 1, 13))::BIGINT)"
    return f"""
el AS MATERIALIZED ({elements}),
dh AS MATERIALIZED (
  SELECT DISTINCT g, {h52} AS h FROM el WHERE v IS NOT NULL),
sk AS MATERIALIZED (
  SELECT g, h FROM (
    SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS r
    FROM dh) rr
  WHERE r <= {k})"""


def kmv_distinct_sql(
    k: int = 256,
    elements: str = KMV_WORD_ELEMENTS,
    group_alias: str = "source",
) -> str:
    """Twin of sketch.kmv_distinct: est = (k-1)*2^52 / h_(k) as ONE
    IEEE division of exactly-represented doubles ((k-1)*2^52 is an
    exact integer literal interpolated below; its double cast is
    exact), exact n_sketch when the group is under-full."""
    full = (k - 1) * (1 << 52)
    return f"""
WITH {_kmv_ctes(k, elements)}
SELECT g AS {group_alias}, CAST(count(*) AS BIGINT) AS n_sketch,
       CAST(max(h) AS BIGINT) AS kth_hash,
       CASE WHEN count(*) < {k} THEN round(CAST(count(*) AS DOUBLE), 6)
            ELSE round(CAST({full} AS DOUBLE) / CAST(max(h) AS DOUBLE), 6)
       END AS est_distinct
FROM sk GROUP BY g
"""


def kmv_jaccard_sql(k: int = 256, elements: str = KMV_WORD_ELEMENTS) -> str:
    """Twin of sketch.kmv_jaccard: per pair a < b, rank the sketch
    union's distinct hashes, cut at k, count membership in both —
    exact integers until the one round-6 division."""
    return f"""
WITH {_kmv_ctes(k, elements)},
gs AS (SELECT DISTINCT g FROM sk),
pr AS (SELECT a.g AS src_a, b.g AS src_b FROM gs a, gs b WHERE a.g < b.g),
u AS MATERIALIZED (
  SELECT src_a, src_b, h, max(in_a) AS in_a, max(in_b) AS in_b FROM (
    SELECT p.src_a, p.src_b, s.h, 1 AS in_a, 0 AS in_b
    FROM pr p JOIN sk s ON s.g = p.src_a
    UNION ALL
    SELECT p.src_a, p.src_b, s.h, 0 AS in_a, 1 AS in_b
    FROM pr p JOIN sk s ON s.g = p.src_b) m
  GROUP BY src_a, src_b, h),
cut AS (
  SELECT * FROM (
    SELECT u.*, row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS r
    FROM u) q
  WHERE r <= {k})
SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS k_used,
       CAST(sum(in_a * in_b) AS BIGINT) AS n_shared,
       round(CAST(sum(in_a * in_b) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         AS jaccard_est
FROM cut GROUP BY src_a, src_b
"""


def winnow_fingerprints_sql(
    k_gram: int = 3,
    window: int = 4,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Twin of dedup.winnow_fingerprints — deliberately the DIRECT
    per-window definition (enumerate every window, take the rightmost
    minimum, DISTINCT selected positions) rather than Spark's
    run-length reformulation: two independent algorithms agreeing pins
    both. Identical tokenization (space split, empties dropped),
    identical shingle hash (H32 of the space-joined k-gram, one md5
    per position), 1-based positions, and the same short-doc edge via
    wm = least(window, m). Exact integers end-to-end — no rounding."""
    kk, w = int(k_gram), int(window)
    sh = f"array_to_string(list_slice(ws, i, i + {kk - 1}), ' ')"
    return f"""
WITH base AS MATERIALIZED (
  SELECT {id_col} AS doc_id,
         list_filter(string_split(coalesce({text_col}, ''), ' '),
                     x -> x <> '') AS ws
  FROM {table}),
hs AS MATERIALIZED (
  SELECT doc_id,
         list_transform(generate_series(1, len(ws) - {kk - 1}),
                        i -> {H32.format(x=sh)}) AS hl,
         len(ws) - {kk - 1} AS m
  FROM base WHERE len(ws) >= {kk}),
wins AS (
  SELECT doc_id, hl, least({w}, m) AS wm,
         unnest(generate_series(1, m - least({w}, m) + 1)) AS i
  FROM hs),
mn AS MATERIALIZED (
  SELECT doc_id, hl, wm, i,
         list_min(list_slice(hl, i, i + wm - 1)) AS minv
  FROM wins),
px AS (
  SELECT doc_id, hl,
         i - 1 + list_max(list_transform(generate_series(1, wm),
             j -> CASE WHEN hl[i + j - 1] = minv THEN j ELSE 0 END)) AS pos
  FROM mn)
SELECT DISTINCT doc_id, CAST(pos AS BIGINT) AS pos, hl[pos] AS fp
FROM px
"""


def textrank_keywords_sql(
    n_iter: int = 10,
    damping_pct: int = 85,
    top_k: int = 100,
    min_count: int = 1,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """Twin of graphrank.textrank_keywords: identical tokenization,
    adjacent-pair edges (self-loops excluded), symmetrize-then-count,
    and the exact-integer PageRank update UNROLLED as one materialized
    CTE layer per iteration (the layered-kernel lesson: plain CTEs
    re-expand combinatorially — AS MATERIALIZED on every level).
    `//` on the all-positive BIGINTs here truncates == floors ==
    Spark's div, so every layer is bit-identical by construction."""
    base_micro = (100 - damping_pct) * 10_000
    layers = []
    for t in range(1, n_iter + 1):
        layers.append(
            f"""s{t} AS MATERIALIZED (
  SELECT ew.dst AS node,
         CAST({base_micro} + ({damping_pct} * sum((ew.w * s.s) // ew.tw))
              // 100 AS BIGINT) AS s
  FROM ew JOIN s{t - 1} s ON s.node = ew.src
  GROUP BY ew.dst)"""
        )
    chain = ",\n".join(layers)
    return f"""
WITH base AS MATERIALIZED (
  SELECT list_filter(string_split(coalesce({text_col}, ''), ' '),
                     x -> x <> '') AS ws
  FROM {table}),
bg AS (
  SELECT ws[i] AS w1, ws[i + 1] AS w2
  FROM base, unnest(CASE WHEN len(ws) >= 2
                         THEN generate_series(1, len(ws) - 1)
                         ELSE [] END) AS t(i)
  WHERE ws[i] <> ws[i + 1]),
e AS MATERIALIZED (
  SELECT src, dst, count(*) AS w FROM (
    SELECT w1 AS src, w2 AS dst FROM bg
    UNION ALL
    SELECT w2 AS src, w1 AS dst FROM bg) u
  GROUP BY src, dst
  HAVING count(*) >= {int(min_count)}),
wt AS MATERIALIZED (SELECT src, sum(w) AS tw FROM e GROUP BY src),
ew AS MATERIALIZED (
  SELECT e.src, e.dst, e.w, wt.tw FROM e JOIN wt USING (src)),
s0 AS MATERIALIZED (
  SELECT src AS node, CAST(1000000 AS BIGINT) AS s FROM wt),
{chain}
SELECT node AS word, s AS score_micro FROM s{n_iter}
ORDER BY score_micro DESC, word
LIMIT {int(top_k)}
"""


def _score_prefix_ctes(source: str, group_cols: tuple[str, ...]) -> str:
    """Shared CTE chain of the evalmetrics twins (auc + pr_curve) —
    the PLAIN one-window form of operators/evalmetrics._score_prefix
    (the bucketed two-phase prefix is order-preserving, so outputs are
    identical). `source` must yield columns (group..., score DOUBLE,
    label 0/1 BIGINT) already validated/filtered the way the Spark
    entry validates. Yields `cum` = (g..., s, pos, neg, cpos, cneg)
    with EXCLUSIVE below-prefixes of both classes."""
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    part = f"PARTITION BY {g} " if group_cols else ""
    return f"""base AS MATERIALIZED ({source}),
per AS MATERIALIZED (
  SELECT {gpfx}score AS s,
         CAST(sum(label) AS BIGINT) AS pos,
         CAST(count(*) - sum(label) AS BIGINT) AS neg
  FROM base GROUP BY {gpfx}score),
cum AS MATERIALIZED (
  SELECT {gpfx}s, pos, neg,
         CAST(coalesce(sum(pos) OVER ({part}ORDER BY s), 0) - pos
              AS BIGINT) AS cpos,
         CAST(coalesce(sum(neg) OVER ({part}ORDER BY s), 0) - neg
              AS BIGINT) AS cneg
  FROM per)"""


def auc_mann_whitney_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
) -> str:
    """Twin of evalmetrics.auc_mann_whitney (contract + plain-window
    argument: _score_prefix_ctes). Exact BIGINT 2U, one division,
    round-6; one-class groups get NULL auc with counts visible."""
    gpfx = (", ".join(group_cols) + ", ") if group_cols else ""
    grp = f"GROUP BY {', '.join(group_cols)}" if group_cols else ""
    return f"""
WITH {_score_prefix_ctes(source, group_cols)}
SELECT {gpfx}CAST(sum(pos) AS BIGINT) AS n_pos,
       CAST(sum(neg) AS BIGINT) AS n_neg,
       CASE WHEN sum(pos) > 0 AND sum(neg) > 0 THEN
         round(CAST(sum(pos * (2 * cneg + neg)) AS BIGINT)
               / CAST(2 * sum(pos) * sum(neg) AS BIGINT), 6)
       END AS auc
FROM cum {grp}
"""


def pr_curve_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
) -> str:
    """Twin of evalmetrics.pr_curve (contract + plain-window argument:
    _score_prefix_ctes): exact tp/fp at every distinct score
    threshold (>= v), two divisions + round-6, recall NULL for
    no-positive groups. `precision` is quoted — it is a type keyword
    in DuckDB (DOUBLE PRECISION)."""
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    part = f"PARTITION BY {g} " if group_cols else ""
    return f"""
WITH {_score_prefix_ctes(source, group_cols)},
tot AS (
  SELECT {gpfx}CAST(sum(pos) AS BIGINT) AS p,
         CAST(sum(neg) AS BIGINT) AS n
  FROM per {f'GROUP BY {g}' if group_cols else ''})
SELECT {gpfx}s AS score,
       CAST(p - cpos AS BIGINT) AS tp,
       CAST(n - cneg AS BIGINT) AS fp,
       round(CAST(p - cpos AS BIGINT)
             / CAST((p - cpos) + (n - cneg) AS BIGINT), 6) AS "precision",
       CASE WHEN p > 0
            THEN round(CAST(p - cpos AS BIGINT) / CAST(p AS BIGINT), 6)
       END AS recall
FROM cum {'JOIN tot USING (' + g + ')' if group_cols else 'CROSS JOIN tot'}
"""


def gini_concentration_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
) -> str:
    """Twin of aggregates.gini_concentration: identical micro-unit
    quantization, the plain one-window below-prefix over the distinct-
    value histogram (the Spark side's bucketed two-phase prefix is
    order-preserving), HUGEINT products (exact like Spark's DECIMAL
    carry), one correctly-rounded division + round-6. `source` must
    yield (group..., v DOUBLE non-negative) already validated the way
    the Spark entry validates."""
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    part = f"PARTITION BY {g} " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    joink = f"JOIN tot USING ({g})" if group_cols else "CROSS JOIN tot"
    joink2 = f"JOIN agg USING ({g})" if group_cols else "CROSS JOIN agg"
    return f"""
WITH base AS MATERIALIZED ({source}),
q AS MATERIALIZED (
  SELECT {gpfx}CAST(round(v * 1000000) AS BIGINT) AS m FROM base),
hist AS MATERIALIZED (
  SELECT {gpfx}m, CAST(count(*) AS BIGINT) AS c FROM q GROUP BY {gpfx}m),
cum AS MATERIALIZED (
  SELECT {gpfx}m, c,
         CAST(coalesce(sum(c) OVER ({part}ORDER BY m), 0) - c AS BIGINT)
           AS below
  FROM hist),
tot AS MATERIALIZED (
  SELECT {gpfx}CAST(sum(c) AS BIGINT) AS n,
         sum(CAST(m AS HUGEINT) * c) AS tm
  FROM hist {grp}),
agg AS (
  SELECT {gpfx}sum(CAST(m AS HUGEINT) * c * (2 * below + c - n)) AS num
  FROM cum {joink} {grp})
SELECT {gpfx}n, round(CAST(tm AS DOUBLE) / 1e6, 6) AS total,
       CASE WHEN tm > 0 THEN
         round(CAST(num AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * tm AS DOUBLE), 6)
       END AS gini
FROM tot {joink2}
WHERE n IS NOT NULL
"""


def weight_diagnostics_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
) -> str:
    """Twin of aggregates.weight_diagnostics: identical micro-unit
    quantization, HUGEINT square/sum carry, one correctly-rounded
    division + round-6 per output. `source` must yield (group...,
    w DOUBLE non-negative) already validated the way the Spark entry
    validates."""
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    return f"""
WITH base AS MATERIALIZED ({source}),
q AS MATERIALIZED (
  SELECT {gpfx}CAST(round(w * 1000000) AS BIGINT) AS m FROM base),
agg AS (
  SELECT {gpfx}CAST(count(*) AS BIGINT) AS n,
         sum(CAST(m AS HUGEINT)) AS sw,
         sum(CAST(m AS HUGEINT) * m) AS sww,
         CAST(max(m) AS BIGINT) AS mx
  FROM q {grp})
SELECT {gpfx}n,
       round(CAST(sw AS DOUBLE) / 1e6, 6) AS w_sum,
       CASE WHEN sw > 0 THEN
         round(CAST(sw * sw AS DOUBLE) / CAST(sww AS DOUBLE), 6)
       END AS ess,
       CASE WHEN sw > 0 THEN
         round(CAST(sw * sw AS DOUBLE) / CAST(sww * n AS DOUBLE), 6)
       END AS ess_frac,
       CASE WHEN sw > 0 THEN
         round(CAST(mx AS DOUBLE) / CAST(sw AS DOUBLE), 6)
       END AS max_frac
FROM agg
WHERE n > 0
"""


def chao1_richness_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
) -> str:
    """Twin of aggregates.chao1_richness: identical exact-BIGINT
    frequency-of-frequency counts and the bias-corrected Chao1 form
    (f2+1 never zero), one correctly-rounded division + round-6.
    `source` must yield (group..., t) already validated the way the
    Spark entry validates."""
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    return f"""
WITH base AS MATERIALIZED ({source}),
per AS MATERIALIZED (
  SELECT {gpfx}t, CAST(count(*) AS BIGINT) AS c
  FROM base GROUP BY {gpfx}t),
agg AS (
  SELECT {gpfx}CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM per {grp})
SELECT {gpfx}n_tokens, n_distinct, f1, f2,
       round(n_distinct + (f1 * (f1 - 1)) / (2 * (f2 + 1)), 6) AS chao1
FROM agg
WHERE n_distinct > 0
"""


def robust_stats_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
    k: float = 3.0,
) -> str:
    """Twin of aggregates.robust_stats: identical micro-unit
    quantization, median-by-rank off the plain one-window below-prefix
    (the Spark side's bucketed two-phase prefix is order-preserving),
    doubled/quadrupled-micro integer carries for median and MAD, ONE
    IEEE multiply round(k * mad22) for the fence half-width (round()
    is half-away in both engines; operands non-negative), exact
    integer outlier comparison, round-6 divisions at the end. `source`
    must yield (group..., v DOUBLE) already validated the way the
    Spark entry validates. `//` on the positive rank operands matches
    Spark's `div`."""
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    part = f"PARTITION BY {g} " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    jtot = f"JOIN tot USING ({g})" if group_cols else "CROSS JOIN tot"
    jmed = f"JOIN med USING ({g})" if group_cols else "CROSS JOIN med"
    jmad = f"JOIN mad USING ({g})" if group_cols else "CROSS JOIN mad"
    jfen = f"JOIN fen USING ({g})" if group_cols else "CROSS JOIN fen"
    joutl = f"JOIN outl USING ({g})" if group_cols else "CROSS JOIN outl"
    kd = f"CAST({float(k)!r} AS DOUBLE)"
    return f"""
WITH base AS MATERIALIZED ({source}),
qz AS MATERIALIZED (
  SELECT {gpfx}CAST(round(v * 1000000) AS BIGINT) AS m FROM base),
hist AS MATERIALIZED (
  SELECT {gpfx}m, CAST(count(*) AS BIGINT) AS c FROM qz GROUP BY {gpfx}m),
cum AS MATERIALIZED (
  SELECT {gpfx}m, c,
         CAST(coalesce(sum(c) OVER ({part}ORDER BY m), 0) - c AS BIGINT)
           AS below
  FROM hist),
tot AS MATERIALIZED (
  SELECT {gpfx}CAST(sum(c) AS BIGINT) AS n FROM hist {grp}),
med AS MATERIALIZED (
  SELECT {gpfx}max(n) AS n,
         CAST(sum(CASE WHEN below < (n + 1) // 2
                        AND below + c >= (n + 1) // 2 THEN m END)
            + sum(CASE WHEN below < (n + 2) // 2
                        AND below + c >= (n + 2) // 2 THEN m END)
              AS BIGINT) AS med2
  FROM cum {jtot} {grp}),
devh AS MATERIALIZED (
  SELECT {gpfx}abs(2 * m - med2) AS m, CAST(sum(c) AS BIGINT) AS c
  FROM hist {jmed} GROUP BY {gpfx}abs(2 * m - med2)),
devcum AS MATERIALIZED (
  SELECT {gpfx}m, c,
         CAST(coalesce(sum(c) OVER ({part}ORDER BY m), 0) - c AS BIGINT)
           AS below
  FROM devh),
mad AS MATERIALIZED (
  SELECT {gpfx}CAST(sum(CASE WHEN below < (n + 1) // 2
                              AND below + c >= (n + 1) // 2 THEN m END)
                  + sum(CASE WHEN below < (n + 2) // 2
                              AND below + c >= (n + 2) // 2 THEN m END)
                    AS BIGINT) AS mad22
  FROM devcum {jtot} {grp}),
fen AS MATERIALIZED (
  SELECT {gpfx}n, med2, mad22,
         2 * med2 - CAST(round({kd} * mad22) AS BIGINT) AS lo4,
         2 * med2 + CAST(round({kd} * mad22) AS BIGINT) AS hi4
  FROM med {jmad}),
outl AS MATERIALIZED (
  SELECT {gpfx}CAST(coalesce(sum(CASE WHEN 4 * m < lo4 OR 4 * m > hi4
                                      THEN c ELSE 0 END), 0) AS BIGINT)
           AS n_outliers
  FROM hist {jfen} {grp})
SELECT {gpfx}n,
       round(CAST(med2 AS DOUBLE) / 2e6, 6) AS median,
       round(CAST(mad22 AS DOUBLE) / 4e6, 6) AS mad,
       round(CAST(lo4 AS DOUBLE) / 4e6, 6) AS lo_fence,
       round(CAST(hi4 AS DOUBLE) / 4e6, 6) AS hi_fence,
       n_outliers,
       round(CAST(n_outliers AS DOUBLE) / CAST(n AS DOUBLE), 6)
         AS outlier_frac
FROM fen {joutl}
WHERE n IS NOT NULL
"""


def quantile_normalize_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
    id_cols: tuple[str, ...] = (),
) -> str:
    """Twin of aggregates.quantile_normalize: identical micro-unit
    quantization, the tie-averaged doubled midrank q = (2*below + c +
    1) / (2n) off the plain one-window below-prefix, ONE correctly-
    rounded division + round-6 per distinct value, assignment join
    back onto the rows. `source` must yield (id..., group..., v
    DOUBLE) already validated the way the Spark entry validates."""
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    ids = ", ".join(id_cols)
    idpfx = f"{ids}, " if id_cols else ""
    part = f"PARTITION BY {g} " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    jtot = f"JOIN tot USING ({g})" if group_cols else "CROSS JOIN tot"
    jq = f"USING ({g}, m)" if group_cols else "USING (m)"
    return f"""
WITH base AS MATERIALIZED ({source}),
rws AS MATERIALIZED (
  SELECT {idpfx}{gpfx}v,
         CAST(round(v * 1000000) AS BIGINT) AS m FROM base),
hist AS MATERIALIZED (
  SELECT {gpfx}m, CAST(count(*) AS BIGINT) AS c FROM rws GROUP BY {gpfx}m),
cum AS MATERIALIZED (
  SELECT {gpfx}m, c,
         CAST(coalesce(sum(c) OVER ({part}ORDER BY m), 0) - c AS BIGINT)
           AS below
  FROM hist),
tot AS MATERIALIZED (
  SELECT {gpfx}CAST(sum(c) AS BIGINT) AS n FROM hist {grp}),
qt AS MATERIALIZED (
  SELECT {gpfx}m,
         round(CAST(2 * below + c + 1 AS DOUBLE)
               / CAST(2 * n AS DOUBLE), 6) AS q
  FROM cum {jtot})
SELECT {idpfx}{gpfx}v, q FROM rws JOIN qt {jq}
"""


def transition_matrix_sql(
    source: str,
    start_state: str = "__START__",
) -> str:
    """Twin of temporal.transition_matrix: identical (micros, type)
    total order, the same lag/coalesce start-state splice, exact
    BIGINT counts, one correctly-rounded division + round-6. `source`
    must yield (k, tm BIGINT epoch-micros, t VARCHAR) already
    validated the way the Spark entry validates."""
    st = str(start_state).replace("'", "''")
    return f"""
WITH base AS MATERIALIZED ({source}),
seq AS MATERIALIZED (
  SELECT coalesce(lag(t) OVER (PARTITION BY k ORDER BY tm, t), '{st}')
           AS prev,
         t AS curr
  FROM base),
pairs AS MATERIALIZED (
  SELECT prev, curr, CAST(count(*) AS BIGINT) AS cnt
  FROM seq GROUP BY prev, curr),
tot AS (SELECT prev, CAST(sum(cnt) AS BIGINT) AS tt
        FROM pairs GROUP BY prev)
SELECT prev, curr, cnt, round(cnt / tt, 6) AS prob
FROM pairs JOIN tot USING (prev)
"""


def cohen_kappa_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
) -> str:
    """Twin of evalmetrics.cohen_kappa: identical exact-integer
    confusion matrix / marginals / chance products (HUGEINT — exact
    like Spark's DECIMAL(38,0) carry), the same correctly-rounded
    double conversions + ONE division + round-6 per output column.
    `source` must yield (group..., a VARCHAR, b VARCHAR) already
    validated the way the Spark entry validates."""
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    joink = (
        f"LEFT JOIN pe USING ({g})" if group_cols else "LEFT JOIN pe ON TRUE"
    )
    return f"""
WITH base AS MATERIALIZED ({source}),
conf AS MATERIALIZED (
  SELECT {gpfx}a, b, CAST(count(*) AS BIGINT) AS c
  FROM base GROUP BY {gpfx}a, b),
tot AS (
  SELECT {gpfx}CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS diag
  FROM conf {grp}),
ra AS (SELECT {gpfx}a AS cat, CAST(sum(c) AS BIGINT) AS ma
       FROM conf GROUP BY {gpfx}a),
cb AS (SELECT {gpfx}b AS cat, CAST(sum(c) AS BIGINT) AS mb
       FROM conf GROUP BY {gpfx}b),
pe AS (
  SELECT {gpfx}sum(CAST(ma AS HUGEINT) * mb) AS pen
  FROM ra JOIN cb USING ({gpfx}cat) {grp})
SELECT {gpfx}n,
       round(diag / n, 6) AS po,
       round(CAST(coalesce(pen, 0) AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * n AS DOUBLE), 6) AS pe,
       CASE WHEN CAST(n AS HUGEINT) * n - coalesce(pen, 0) > 0 THEN
         round(CAST(CAST(n AS HUGEINT) * diag - coalesce(pen, 0) AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * n - coalesce(pen, 0) AS DOUBLE),
               6)
       END AS kappa
FROM tot {joink}
"""


def lang_pred_sql(cols: str = "doc_id", table: str = "documents") -> str:
    """Per-document lang_id twin as a reusable subquery yielding
    ({cols}, lang_pred) — the SAME stopword-score + deterministic-
    tie-break CASE the lang_id oracle aggregates (rendered from ONE
    source so consumers can't desync; functions/text.lang_id)."""
    sw_en = stopword_sql_list("en")
    sw_de = stopword_sql_list("de")
    sw_fr = stopword_sql_list("fr")
    return f"""
WITH s AS (
  SELECT {cols},
    round(CAST(len(list_filter(string_split(text,' '), w -> list_contains({sw_en}, w))) AS DOUBLE)
      / CAST(len(string_split(text,' ')) AS DOUBLE), 9) AS s_en,
    round(CAST(len(list_filter(string_split(text,' '), w -> list_contains({sw_de}, w))) AS DOUBLE)
      / CAST(len(string_split(text,' ')) AS DOUBLE), 9) AS s_de,
    round(CAST(len(list_filter(string_split(text,' '), w -> list_contains({sw_fr}, w))) AS DOUBLE)
      / CAST(len(string_split(text,' ')) AS DOUBLE), 9) AS s_fr
  FROM {table}
)
SELECT {cols}, CASE WHEN greatest(s_en, s_de, s_fr) = 0 THEN 'und'
            WHEN s_fr >= s_en AND s_fr >= s_de THEN 'fr'
            WHEN s_en >= s_de THEN 'en'
            ELSE 'de' END AS lang_pred
FROM s"""


def spearman_rho_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
) -> str:
    """Twin of evalmetrics.spearman_rho: identical doubled-integer
    average ranks off the distinct-value histogram (plain one-window
    inclusive prefix — the Spark side's bucketed two-phase prefix is
    order-preserving), BIGINT products summed into HUGEINT (exact like
    Spark's DECIMAL carry), the same single correctly-rounded double
    conversion + two IEEE sqrt + one multiply + one divide + round-6.
    `source` must yield (group..., x DOUBLE, y DOUBLE) already
    validated the way the Spark entry validates."""
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    part = f"PARTITION BY {g} " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    ug = f"({gpfx}" if group_cols else "("

    def ranks(col: str, alias: str) -> str:
        return f"""h{alias} AS MATERIALIZED (
  SELECT {gpfx}{col}, CAST(count(*) AS BIGINT) AS c
  FROM base GROUP BY {gpfx}{col}),
r{alias} AS MATERIALIZED (
  SELECT {gpfx}{col},
         2 * (CAST(sum(c) OVER ({part}ORDER BY {col}) AS BIGINT) - c)
           + c + 1 AS {alias}
  FROM h{alias})"""

    return f"""
WITH base AS MATERIALIZED ({source}),
{ranks('x', 'dx')},
{ranks('y', 'dy')},
j AS MATERIALIZED (
  SELECT {gpfx}dx, dy
  FROM base JOIN rdx USING {ug}x) JOIN rdy USING {ug}y)),
agg AS (
  SELECT {gpfx}CAST(count(*) AS BIGINT) AS n,
         sum(dx) AS sx, sum(dy) AS sy,
         sum(dx * dx) AS sxx, sum(dy * dy) AS syy,
         sum(dx * dy) AS sxy
  FROM j {grp})
SELECT {gpfx}n,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
         round(CAST(n * sxy - sx * sy AS DOUBLE)
               / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                  * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
       END AS rho
FROM agg
WHERE n > 0
"""


def ranking_report_sql(
    source: str,
    query_cols: tuple[str, ...] = (),
    k: int = 10,
) -> str:
    """Twin of evalmetrics.ranking_report: identical rank derivation
    (row_number by s DESC, tie ASC — `source` must provide a unique
    sort key, validated Spark-side), the SAME driver-side micro-unit
    discount literals (ndcg_weights — never log2 in SQL), exact BIGINT
    DCG/IDCG/AP numerators with `//` == div on the non-negative
    operands, and the same guarded final divisions + round-6. `source`
    must yield (query..., s DOUBLE, tie, rel BIGINT in [0,30]) already
    validated the way the Spark entry validates."""
    from .operators.evalmetrics import ndcg_weights

    kk = int(k)
    wlit = "[" + ",".join(str(w) for w in ndcg_weights(kk)) + "]"
    g = ", ".join(query_cols)
    gpfx = f"{g}, " if query_cols else ""
    part = f"PARTITION BY {g} " if query_cols else ""
    grp = f"GROUP BY {g}" if query_cols else ""
    return f"""
WITH base AS MATERIALIZED ({source}),
ranked AS MATERIALIZED (
  SELECT {gpfx}rel,
         (CAST(1 AS BIGINT) << CAST(rel AS INTEGER)) - 1 AS gn,
         row_number() OVER ({part}ORDER BY s DESC, tie) AS i,
         CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)
              OVER ({part}ORDER BY s DESC, tie ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS hits,
         row_number() OVER ({part}ORDER BY rel DESC, tie) AS j
  FROM base),
agg AS (
  SELECT {gpfx}CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
         CAST(sum(CASE WHEN i <= {kk}
                       THEN gn * list_extract(CAST({wlit} AS BIGINT[]),
                                              CAST(i AS INTEGER))
                       ELSE 0 END) AS BIGINT) AS dcg,
         CAST(sum(CASE WHEN j <= {kk}
                       THEN gn * list_extract(CAST({wlit} AS BIGINT[]),
                                              CAST(j AS INTEGER))
                       ELSE 0 END) AS BIGINT) AS idcg,
         min(CASE WHEN i <= {kk} AND rel > 0 THEN i END) AS fr,
         CAST(sum(CASE WHEN i <= {kk} AND rel > 0
                       THEN (hits * 1000000) // i ELSE 0 END)
              AS BIGINT) AS apn
  FROM ranked {grp})
SELECT {gpfx}n_items, n_rel,
       CASE WHEN idcg > 0 THEN round(dcg / idcg, 6) END AS ndcg,
       coalesce(round(CAST(1.0 AS DOUBLE) / fr, 6),
                CAST(0.0 AS DOUBLE)) AS mrr,
       CASE WHEN n_rel > 0
            THEN round((apn // least(n_rel, {kk})) / 1e6, 6)
       END AS ap
FROM agg
WHERE n_items > 0
"""


def unimax_allocation_sql(
    budget_tokens: int,
    max_epochs: int = 1,
    source: str = (
        "SELECT source, len(list_filter(string_split(coalesce(text, ''),"
        " ' '), x -> x <> '')) AS n_tokens FROM documents"
    ),
) -> str:
    """Twin of sampling.unimax_allocation: identical total order
    (capacity ASC, source ASC NULLS FIRST — Spark sorts NULLs first,
    DuckDB defaults them last), the same prefix-capped closed form,
    exact BIGINTs with `//` == div on the all-non-negative operands.
    `source` must yield (source, n_tokens-per-row) rows."""
    b = int(budget_tokens)
    return f"""
WITH rows_in AS MATERIALIZED ({source}),
tot AS MATERIALIZED (
  SELECT source, CAST(sum(coalesce(n_tokens, 0)) AS BIGINT) AS n_tokens,
         CAST(sum(coalesce(n_tokens, 0)) * {int(max_epochs)} AS BIGINT)
           AS capacity
  FROM rows_in GROUP BY source),
ranked AS MATERIALIZED (
  SELECT source, n_tokens, capacity,
         row_number() OVER (ORDER BY capacity, source NULLS FIRST) AS i,
         CAST(sum(capacity) OVER (ORDER BY capacity, source NULLS FIRST
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s,
         count(*) OVER () AS g
  FROM tot),
cp AS MATERIALIZED (
  SELECT *, capacity * (g - i + 1) <= {b} - (s - capacity) AS capped
  FROM ranked),
ks AS (
  SELECT *,
         CAST(sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS BIGINT) AS k,
         CAST(sum(CASE WHEN capped THEN capacity ELSE 0 END) OVER ()
              AS BIGINT) AS sk
  FROM cp),
al AS (
  SELECT source, n_tokens, capacity,
         CAST(CASE WHEN capped THEN capacity
              ELSE ({b} - sk) // (g - k)
                   + (CASE WHEN i - k <= ({b} - sk) % (g - k)
                           THEN 1 ELSE 0 END)
              END AS BIGINT) AS allocation
  FROM ks)
SELECT source, n_tokens, capacity, allocation,
       CASE WHEN n_tokens > 0
            THEN CAST((allocation * 1000000) // n_tokens AS BIGINT)
       END AS epochs_micro
FROM al
"""


def calibration_report_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
    n_bins: int = 10,
) -> str:
    """Twin of evalmetrics.calibration_report: identical micro-unit
    quantization (round on the exact double ties away from zero in
    both engines — the sample-key recipe), the same exact-integer
    bin/gap/ece/brier arithmetic (DuckDB sums promote to HUGEINT —
    exact like Spark's DECIMAL carry), the same final divisions of
    correctly-rounded doubles + round-6. `source` must yield
    (group..., score DOUBLE in [0,1], label 0/1 BIGINT) already
    validated the way the Spark entry validates."""
    nb = int(n_bins)
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    joink = (
        f"JOIN tot USING ({g})" if group_cols else "CROSS JOIN tot"
    )
    return f"""
WITH base AS MATERIALIZED ({source}),
q AS MATERIALIZED (
  SELECT {gpfx}CAST(round(score * 1000000) AS BIGINT) AS m,
         CAST(label AS BIGINT) AS y
  FROM base),
b AS MATERIALIZED (
  SELECT {gpfx}CAST(least({nb} - 1, (m * {nb}) // 1000000) AS BIGINT)
           AS bin,
         m, y, (m - y * 1000000) AS d
  FROM q),
per AS MATERIALIZED (
  SELECT {gpfx}bin,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(y) AS BIGINT) AS n_pos,
         CAST(sum(m) AS BIGINT) AS sm,
         sum(d * d) AS sq
  FROM b GROUP BY {gpfx}bin),
tot AS (
  SELECT {gpfx}CAST(sum(cnt) AS BIGINT) AS n_all,
         round(CAST(sum(sq) AS DOUBLE)
               / (CAST(sum(cnt) AS DOUBLE) * 1e12), 6) AS brier,
         round(CAST(sum(abs(sm - n_pos * 1000000)) AS BIGINT)
               / (CAST(sum(cnt) AS BIGINT) * 1000000), 6) AS ece
  FROM per {grp})
SELECT {gpfx}bin, cnt, n_pos,
       round(sm / (cnt * 1000000), 6) AS mean_score,
       round(n_pos / cnt, 6) AS pos_frac,
       round(abs(sm - n_pos * 1000000) / (cnt * 1000000), 6) AS gap,
       brier, ece
FROM per {joink}
"""


def ks_drift_sql(
    source: str,
    baseline: str,
    group_col: str = "grp",
) -> str:
    """Twin of evalmetrics.ks_drift (plain one-window form — the
    Spark side's bucketed two-phase prefix is order-preserving, so
    outputs are identical): exact BIGINT inclusive CDF counts over
    the union-of-values grid (group histogram FULL OUTER JOIN the
    per-group-replicated baseline histogram), each CDF one correctly-
    rounded division, max + round-6. `source` must yield
    ({group_col} VARCHAR NOT NULL, v DOUBLE not-NaN) already
    validated the way the Spark entry validates."""
    bl = str(baseline).replace("'", "''")
    return f"""
WITH src AS MATERIALIZED ({source}),
hist AS MATERIALIZED (
  SELECT {group_col}, v, CAST(count(*) AS BIGINT) AS c
  FROM src GROUP BY {group_col}, v),
base AS (SELECT v, c AS cb FROM hist WHERE {group_col} = '{bl}'),
oth AS (SELECT {group_col}, v, c FROM hist WHERE {group_col} <> '{bl}'),
grps AS (SELECT DISTINCT {group_col} FROM oth),
rep AS (SELECT grps.{group_col}, base.v, base.cb FROM grps CROSS JOIN base),
merged AS MATERIALIZED (
  SELECT coalesce(o.{group_col}, r.{group_col}) AS {group_col},
         coalesce(o.v, r.v) AS v,
         CAST(coalesce(o.c, 0) AS BIGINT) AS pos,
         CAST(coalesce(r.cb, 0) AS BIGINT) AS neg
  FROM oth o FULL OUTER JOIN rep r
    ON o.{group_col} = r.{group_col} AND o.v = r.v),
cum AS MATERIALIZED (
  SELECT {group_col}, v, pos, neg,
         CAST(sum(pos) OVER (PARTITION BY {group_col} ORDER BY v)
              AS BIGINT) AS cg,
         CAST(sum(neg) OVER (PARTITION BY {group_col} ORDER BY v)
              AS BIGINT) AS cb
  FROM merged),
tot AS (
  SELECT {group_col}, CAST(sum(pos) AS BIGINT) AS n,
         CAST(sum(neg) AS BIGINT) AS n_base
  FROM merged GROUP BY {group_col})
SELECT cum.{group_col} AS {group_col}, n, n_base,
       round(max(abs(cg / n - cb / n_base)), 6) AS ks
FROM cum JOIN tot USING ({group_col})
GROUP BY cum.{group_col}, n, n_base
"""


def isotonic_calibrate_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
    n_bins: int = 100,
) -> str:
    """Twin of evalmetrics.isotonic_calibrate: identical micro-unit
    quantization and bin formula (// on the non-negative operands ==
    Spark div), the same minimax evaluation — (i <= j) pair expansion
    of the bounded bin table with every windowed rate truncated to
    integer micro-units BEFORE the suffix-min / prefix-max — and the
    same round-6 divisions. `source` must yield (group..., s DOUBLE,
    y BIGINT) already validated the way the Spark entry validates."""
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    part = f"PARTITION BY {g} " if group_cols else ""
    lg = ", ".join(f"li.{c}" for c in group_cols)
    lgpfx = f"{lg}, " if group_cols else ""
    joing = (
        " AND ".join(f"li.{c} = rj.{c}" for c in group_cols) + " AND "
        if group_cols
        else ""
    )
    parti = f"PARTITION BY {gpfx}i "
    nb = int(n_bins)
    return f"""
WITH base AS MATERIALIZED ({source}),
q AS MATERIALIZED (
  SELECT {gpfx}least({nb} - 1,
             (CAST(round(s * 1000000) AS BIGINT) * {nb}) // 1000000)
           AS bin, y
  FROM base),
per AS MATERIALIZED (
  SELECT {gpfx}bin, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(y) AS BIGINT) AS n_pos
  FROM q GROUP BY {gpfx}bin),
pre AS MATERIALIZED (
  SELECT {gpfx}bin, cnt, n_pos,
         CAST(sum(cnt) OVER ({part}ORDER BY bin) AS BIGINT) AS cn,
         CAST(sum(n_pos) OVER ({part}ORDER BY bin) AS BIGINT) AS cp
  FROM per),
pairs AS MATERIALIZED (
  SELECT {lgpfx}li.bin AS i, rj.bin AS j,
         (1000000 * (rj.cp - (li.cp - li.n_pos)))
           // (rj.cn - (li.cn - li.cnt)) AS a
  FROM pre li JOIN pre rj ON {joing}li.bin <= rj.bin),
sfx AS MATERIALIZED (
  SELECT {gpfx}i, j,
         CAST(min(a) OVER ({parti}ORDER BY j DESC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS mi
  FROM pairs),
iso AS MATERIALIZED (
  SELECT {gpfx}j AS bin, CAST(max(mi) AS BIGINT) AS isom
  FROM sfx GROUP BY {gpfx}j)
SELECT {gpfx}bin, cnt, n_pos,
       round(CAST(n_pos AS DOUBLE) / CAST(cnt AS DOUBLE), 6) AS pos_frac,
       round(CAST(isom AS DOUBLE) / 1e6, 6) AS iso_p
FROM per JOIN iso USING ({gpfx}bin)
"""


def _te_enc(sc: str, nc: str, mu: int) -> str:
    return (
        f"CASE WHEN CAST(nn AS HUGEINT) * ({nc} * 1000000 + {mu}) > 0 THEN "
        f"round(CAST(CAST({sc} AS HUGEINT) * nn * 1000000 "
        f"+ CAST({mu} AS HUGEINT) * ss AS DOUBLE) "
        f"/ CAST(CAST(nn AS HUGEINT) * ({nc} * 1000000 + {mu}) "
        f"* 1000000 AS DOUBLE), 6)"
        f" END"
    )


def target_encode_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
    m: float = 20.0,
    cat_name: str = "c",
) -> str:
    """Twin of encoding.target_encode: identical micro-unit label
    quantization, HUGEINT products (exact like Spark's DECIMAL(38,0)
    carry), ONE correctly-rounded division + round-6. `source` must
    yield (group..., c, y DOUBLE) already validated the way the Spark
    entry validates."""
    import math

    mu = int(math.floor(float(m) * 1_000_000 + 0.5))
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    jtot = f"JOIN tot USING ({g})" if group_cols else "CROSS JOIN tot"
    return f"""
WITH base AS MATERIALIZED ({source}),
q AS MATERIALIZED (
  SELECT {gpfx}c, CAST(round(y * 1000000) AS BIGINT) AS ym FROM base),
per AS MATERIALIZED (
  SELECT {gpfx}c, CAST(count(*) AS BIGINT) AS n_c,
         CAST(sum(ym) AS BIGINT) AS sc
  FROM q GROUP BY {gpfx}c),
tot AS MATERIALIZED (
  SELECT {gpfx}CAST(sum(n_c) AS BIGINT) AS nn,
         CAST(sum(sc) AS BIGINT) AS ss
  FROM per {grp})
SELECT {gpfx}c AS {cat_name}, n_c AS n,
       round(CAST(sc AS DOUBLE) / (CAST(n_c AS DOUBLE) * 1000000), 6)
         AS label_mean,
       {_te_enc("sc", "n_c", mu)} AS enc
FROM per {jtot}
"""


def target_encode_loo_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
    id_cols: tuple[str, ...] = (),
    m: float = 20.0,
    cat_name: str = "c",
) -> str:
    """Twin of encoding.target_encode_loo: the same exact-integer
    division with the row's own micro-label excluded from its
    category's statistics; singleton categories at m = 0 yield NULL.
    `source` must yield (id..., group..., c, y DOUBLE) already
    validated."""
    import math

    mu = int(math.floor(float(m) * 1_000_000 + 0.5))
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    ids = ", ".join(id_cols)
    idpfx = f"{ids}, " if id_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    jtot = f"JOIN tot USING ({g})" if group_cols else "CROSS JOIN tot"
    jcat = f"USING ({g}, c)" if group_cols else "USING (c)"
    return f"""
WITH base AS MATERIALIZED ({source}),
rws AS MATERIALIZED (
  SELECT {idpfx}{gpfx}c, CAST(round(y * 1000000) AS BIGINT) AS ym
  FROM base),
per AS MATERIALIZED (
  SELECT {gpfx}c, CAST(count(*) AS BIGINT) AS n_c,
         CAST(sum(ym) AS BIGINT) AS sc
  FROM rws GROUP BY {gpfx}c),
tot AS MATERIALIZED (
  SELECT {gpfx}CAST(sum(n_c) AS BIGINT) AS nn,
         CAST(sum(sc) AS BIGINT) AS ss
  FROM per {grp}),
cat AS MATERIALIZED (
  SELECT * FROM per {jtot})
SELECT {idpfx}{gpfx}c AS {cat_name},
       {_te_enc("sc - ym", "(n_c - 1)", mu)} AS enc_loo
FROM rws JOIN cat {jcat}
"""


def mutual_information_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
) -> str:
    """Twin of evalmetrics.mutual_information: the identical exact-
    BIGINT joint histogram / marginals / totals, each cell and entropy
    term evaluated on doubles built from those integers in the SAME
    expression order, rounded once to integer micro-nats and summed
    exactly (the kl_drift recipe), the same sqrt-normalized nmi.
    `source` must yield (group..., x, y) already validated the way the
    Spark entry validates."""
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    jt = f"JOIN tot USING ({g})" if group_cols else "CROSS JOIN tot"
    jx = f"USING ({g}, x)" if group_cols else "USING (x)"
    jy = f"USING ({g}, y)" if group_cols else "USING (y)"
    jg = f"USING ({g})" if group_cols else "ON TRUE"
    return f"""
WITH base AS MATERIALIZED ({source}),
cells AS MATERIALIZED (
  SELECT {gpfx}x, y, CAST(count(*) AS BIGINT) AS c
  FROM base GROUP BY {gpfx}x, y),
mx AS MATERIALIZED (
  SELECT {gpfx}x, CAST(sum(c) AS BIGINT) AS nx FROM cells GROUP BY {gpfx}x),
my AS MATERIALIZED (
  SELECT {gpfx}y, CAST(sum(c) AS BIGINT) AS ny FROM cells GROUP BY {gpfx}y),
tot AS MATERIALIZED (
  SELECT {gpfx}CAST(sum(c) AS BIGINT) AS n FROM cells {grp}),
mi_t AS MATERIALIZED (
  SELECT {gpfx}max(n) AS n,
         CAST(sum(CAST(round(
           (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
           * ln((CAST(c AS DOUBLE) * CAST(n AS DOUBLE))
                / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))) * 1e6)
           AS BIGINT)) AS BIGINT) AS mi_u
  FROM cells JOIN mx {jx} JOIN my {jy} {jt} {grp}),
hx_t AS MATERIALIZED (
  SELECT {gpfx}CAST(sum(CAST(round(
           -((CAST(nx AS DOUBLE) / CAST(n AS DOUBLE))
             * ln(CAST(nx AS DOUBLE) / CAST(n AS DOUBLE))) * 1e6)
           AS BIGINT)) AS BIGINT) AS hx_u,
         CAST(count(*) AS BIGINT) AS x_levels
  FROM mx {jt} {grp}),
hy_t AS MATERIALIZED (
  SELECT {gpfx}CAST(sum(CAST(round(
           -((CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))
             * ln(CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))) * 1e6)
           AS BIGINT)) AS BIGINT) AS hy_u,
         CAST(count(*) AS BIGINT) AS y_levels
  FROM my {jt} {grp})
SELECT {gpfx}n, x_levels, y_levels,
       round(CAST(mi_u AS DOUBLE) / 1e6, 6) AS mi,
       round(CAST(hx_u AS DOUBLE) / 1e6, 6) AS hx,
       round(CAST(hy_u AS DOUBLE) / 1e6, 6) AS hy,
       CASE WHEN hx_u > 0 AND hy_u > 0 THEN
         round(CAST(mi_u AS DOUBLE)
               / (sqrt(CAST(hx_u AS DOUBLE)) * sqrt(CAST(hy_u AS DOUBLE))),
               6)
       END AS nmi
FROM mi_t JOIN hx_t {jg} JOIN hy_t {jg}
WHERE n IS NOT NULL
"""


def bleu_eval_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
    max_n: int = 4,
) -> str:
    """Twin of evalmetrics.bleu_eval: the same nonempty-word tokens,
    per-pair multiset-clipped n-gram overlaps summed as exact
    BIGINTs, row-level gram totals, and the identical fixed-order
    ln/exp BLEU chain with scale-0 micro rounding. `source` must
    yield (group..., id, cand, ref) NULL-free."""
    if not (1 <= int(max_n) <= 4):
        raise ValueError(f"bleu_eval_sql: bad max_n {max_n}")
    mn = int(max_n)
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    gj = f"USING ({g})" if group_cols else "ON TRUE"
    w = "list_filter(string_split({c}, ' '), x -> x <> '')"

    def gram_sel(col, n):
        return (
            f"CASE WHEN len({col}) - {n - 1} < 1 THEN CAST([] AS VARCHAR[]) "
            f"ELSE list_transform(generate_series(1, len({col}) - {n - 1}), "
            f"i -> array_to_string(list_slice({col}, i, i + {n - 1}), ' ')) END"
        )

    cg = " UNION ALL ".join(
        f"SELECT {gpfx}id, {n} AS n, "
        f"unnest({gram_sel('wc', n)}) AS gram FROM toks"
        for n in range(1, mn + 1)
    )
    rg = " UNION ALL ".join(
        f"SELECT {gpfx}id, {n} AS n, "
        f"unnest({gram_sel('wr', n)}) AS gram FROM toks"
        for n in range(1, mn + 1)
    )
    jk = ", ".join(list(group_cols) + ["id", "n", "gram"])
    t_defs = ", ".join(
        f"CAST(sum(greatest(len(wc) - {n - 1}, 0)) AS BIGINT) AS t{n}"
        for n in range(1, mn + 1)
    )
    o_defs = ", ".join(
        f"CAST(coalesce(max(CASE WHEN n = {n} THEN o END), 0) AS BIGINT)"
        f" AS o{n}"
        for n in range(1, mn + 1)
    )
    oc = ", ".join(
        f"coalesce(o{n}, 0) AS o{n}" for n in range(1, mn + 1)
    )
    pos = " AND ".join(
        f"o{n} > 0 AND t{n} > 0" for n in range(1, mn + 1)
    )
    s = " + ".join(
        f"ln(CAST(o{n} AS DOUBLE) / CAST(t{n} AS DOUBLE)) * (1.0e0 / {float(mn)}e0)"
        for n in range(1, mn + 1)
    )
    bp = (
        "CASE WHEN CAST(cand_len AS DOUBLE) >= CAST(ref_len AS DOUBLE) "
        "THEN 1.0e0 ELSE exp(1.0e0 - CAST(ref_len AS DOUBLE) "
        "/ CAST(cand_len AS DOUBLE)) END"
    )

    def rnd(e):
        return f"CAST(CAST(round(({e}) * 1e6) AS BIGINT) AS DOUBLE) / 1e6"

    p_outs = ", ".join(
        f"CASE WHEN cand_len > 0 AND t{n} > 0 THEN "
        + rnd(f"CAST(o{n} AS DOUBLE) / CAST(t{n} AS DOUBLE)")
        + f" END AS p{n}"
        for n in range(1, mn + 1)
    )
    return f"""
WITH base AS MATERIALIZED ({source}),
toks AS MATERIALIZED (
  SELECT {gpfx}CAST(id AS VARCHAR) AS id,
         {w.format(c='cand')} AS wc, {w.format(c='ref')} AS wr
  FROM base),
cgrams AS MATERIALIZED (
  SELECT {jk}, CAST(count(*) AS BIGINT) AS c
  FROM ({cg}) cgx GROUP BY {jk}),
rgrams AS MATERIALIZED (
  SELECT {jk}, CAST(count(*) AS BIGINT) AS r
  FROM ({rg}) rgx GROUP BY {jk}),
ovn AS MATERIALIZED (
  SELECT {gpfx}n, CAST(sum(least(c, r)) AS BIGINT) AS o
  FROM cgrams JOIN rgrams USING ({jk})
  GROUP BY {gpfx}n),
ovp AS MATERIALIZED (
  SELECT {gpfx}{o_defs} FROM ovn {grp}),
lens AS MATERIALIZED (
  SELECT {gpfx}CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(len(wc)) AS BIGINT) AS cand_len,
         CAST(sum(len(wr)) AS BIGINT) AS ref_len,
         {t_defs}
  FROM toks {grp}),
piv AS MATERIALIZED (
  SELECT lens.*, {oc}
  FROM lens LEFT JOIN ovp {gj})
SELECT {gpfx}n_pairs, cand_len, ref_len, {p_outs},
       CASE WHEN cand_len > 0 THEN {rnd(bp)} END AS bp,
       CASE WHEN cand_len > 0 AND {pos} THEN
         {rnd(f"({bp}) * exp({s})")}
       WHEN cand_len > 0 THEN 0.0e0
       END AS bleu
FROM piv
WHERE n_pairs > 0
"""


def cluster_quality_sql(source: str) -> str:
    """Twin of similarity.cluster_quality: identical micro
    quantization, exact HUGEINT (cluster, dim) sums, the same
    pico-unit per-term rounding + exact folds, the same fixed-order
    W/B/T/CH chain, guards via error(). `source` must yield
    (cluster, vec LIST) NULL-free with non-empty vectors."""

    def rnd(e):
        return f"CAST(CAST(round(({e}) * 1e6) AS BIGINT) AS DOUBLE) / 1e6"

    nck = (
        "CASE WHEN nmin <> nmax THEN CAST(error("
        "'cluster_quality: ragged vector dims in cluster ' || cl) "
        "AS BIGINT) ELSE dim END"
    )
    dimck = (
        "CASE WHEN dmin <> dmax THEN CAST(error("
        "'cluster_quality: clusters disagree on vector dim') "
        "AS BIGINT) ELSE dmax END"
    )
    ssq_d = "(CAST(ssq_all AS DOUBLE) / 1e12)"
    w = f"({ssq_d} - CAST(msq_all AS DOUBLE) / 1e12)"
    t = f"({ssq_d} - CAST(gmsq_p AS DOUBLE) / 1e12)"
    b = f"({t} - {w})"
    ch = (
        f"(({b} / (CAST(k AS DOUBLE) - 1.0e0)) "
        f"/ ({w} / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))))"
    )
    ok = f"k > 1 AND n > k AND CAST(round({w} * 1e6) AS BIGINT) > 0"
    return f"""
WITH base AS MATERIALIZED ({source}),
ex AS MATERIALIZED (
  SELECT CAST(cluster AS VARCHAR) AS cl, ds.d AS d,
         CAST(CAST(round(CAST(ds.v AS DOUBLE) * 1000000) AS BIGINT)
              AS HUGEINT) AS m
  FROM (SELECT cluster,
          unnest(list_transform(generate_series(1, len(vec)),
                 i -> {{'d': i - 1, 'v': vec[i]}})) AS ds
        FROM base) q),
cd AS MATERIALIZED (
  SELECT cl, d, sum(m) AS s, sum(m * m) AS ss,
         CAST(count(*) AS BIGINT) AS nc
  FROM ex GROUP BY cl, d),
percl AS MATERIALIZED (
  SELECT cl, min(nc) AS nmin, max(nc) AS nmax,
         CAST(max(d) + 1 AS BIGINT) AS dim,
         sum(ss) AS ssq,
         sum(CAST(CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                             / CAST(nc AS DOUBLE)) AS BIGINT)
                  AS HUGEINT)) AS msq_p
  FROM cd GROUP BY cl),
gd AS MATERIALIZED (
  SELECT d, sum(s) AS gs, CAST(sum(nc) AS BIGINT) AS gn
  FROM cd GROUP BY d),
gstats AS (
  SELECT CAST(max(gn) AS BIGINT) AS n,
         sum(CAST(CAST(round(CAST(gs AS DOUBLE) * CAST(gs AS DOUBLE)
                             / CAST(gn AS DOUBLE)) AS BIGINT)
                  AS HUGEINT)) AS gmsq_p
  FROM gd),
ctab AS MATERIALIZED (
  SELECT cl, CAST({nck} AS BIGINT) AS dim, ssq, msq_p FROM percl),
ag AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         min(dim) AS dmin, max(dim) AS dmax,
         sum(ssq) AS ssq_all, sum(msq_p) AS msq_all
  FROM ctab)
SELECT k, n, CAST({dimck} AS BIGINT) AS dim,
       {rnd(w)} AS within, {rnd(b)} AS between, {rnd(t)} AS total,
       CASE WHEN {ok} THEN {rnd(ch)} END AS ch
FROM ag CROSS JOIN gstats
WHERE k > 0
"""


def kripp_alpha_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
) -> str:
    """Twin of evalmetrics.kripp_alpha: identical exact cells,
    per-item pairable terms micro-rounded once and summed exactly,
    included-items-only marginals, the same fixed-order D_o/D_e/alpha
    chain and micro rounding. `source` must yield (group..., item,
    label) NULL-free."""
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    jg = f"USING ({g})" if group_cols else "ON TRUE"
    ji = "USING (" + ", ".join(list(group_cols) + ["item"]) + ")"

    def rnd(e):
        return f"CAST(CAST(round(({e}) * 1e6) AS BIGINT) AS DOUBLE) / 1e6"

    n = "CAST(n_ratings AS DOUBLE)"
    d_o = f"(CAST(do_u AS DOUBLE) / 1e6 / {n})"
    d_e = f"(({n} * {n} - CAST(msq AS DOUBLE)) / ({n} * ({n} - 1.0e0)))"
    alpha = f"(1.0e0 - {d_o} / {d_e})"
    ok = f"n_ratings >= 2 AND CAST(round({d_e} * 1e6) AS BIGINT) > 0"
    return f"""
WITH base AS MATERIALIZED ({source}),
cells AS MATERIALIZED (
  SELECT {gpfx}item, label, CAST(count(*) AS BIGINT) AS c
  FROM base GROUP BY {gpfx}item, label),
per_item AS MATERIALIZED (
  SELECT {gpfx}item, CAST(sum(c) AS BIGINT) AS ni,
         sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS sq
  FROM cells GROUP BY {gpfx}item),
inc AS MATERIALIZED (SELECT * FROM per_item WHERE ni >= 2),
istats AS MATERIALIZED (
  SELECT {gpfx}CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(ni) AS BIGINT) AS n_ratings,
         sum(CAST(CAST(round(
           (CAST(ni AS DOUBLE) * CAST(ni AS DOUBLE)
            - CAST(sq AS DOUBLE)) / CAST(ni - 1 AS DOUBLE) * 1e6)
           AS BIGINT) AS HUGEINT)) AS do_u
  FROM inc {grp}),
excl AS MATERIALIZED (
  SELECT {gpfx}CAST(count(*) AS BIGINT) AS items_all,
         CAST(coalesce(sum(CASE WHEN ni < 2 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_excluded
  FROM per_item {grp}),
mcells AS MATERIALIZED (
  SELECT {gpfx}label, CAST(sum(c) AS BIGINT) AS cj
  FROM cells JOIN (SELECT {gpfx}item FROM inc) ii {ji}
  GROUP BY {gpfx}label),
marg AS MATERIALIZED (
  SELECT {gpfx}CAST(count(*) AS BIGINT) AS n_categories,
         sum(CAST(cj AS HUGEINT) * CAST(cj AS HUGEINT)) AS msq
  FROM mcells {grp})
SELECT {gpfx}CAST(coalesce(n_items, 0) AS BIGINT) AS n_items,
       n_excluded,
       CAST(coalesce(n_ratings, 0) AS BIGINT) AS n_ratings,
       CAST(coalesce(n_categories, 0) AS BIGINT) AS n_categories,
       CASE WHEN n_ratings >= 2 THEN {rnd(d_o)} END AS d_o,
       CASE WHEN n_ratings >= 2 THEN {rnd(d_e)} END AS d_e,
       CASE WHEN {ok} THEN {rnd(alpha)} END AS alpha
FROM excl LEFT JOIN istats {jg} LEFT JOIN marg {jg}
WHERE items_all > 0
"""


def fleiss_kappa_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
) -> str:
    """Twin of evalmetrics.fleiss_kappa: identical exact cell counts,
    SS numerator and marginals, the same pico-unit (1e-12) order-free
    P_e fold, the same fixed-order kappa chain, micro rounding and
    Landis-Koch bands. `source` must yield (group..., item, label)
    NULL-free; unequal panel sizes raise via error() the same way the
    Spark entry raises."""
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    jg = f"USING ({g})" if group_cols else "ON TRUE"

    def rnd(e):
        return f"CAST(CAST(round(({e}) * 1e6) AS BIGINT) AS DOUBLE) / 1e6"

    n = (
        "CASE WHEN nmin <> nmax THEN CAST(error('fleiss_kappa: unequal"
        " panel sizes ' || CAST(nmin AS VARCHAR) || ' vs ' || "
        "CAST(nmax AS VARCHAR)) AS BIGINT) ELSE nmin END"
    )
    pbar = (
        "(CAST(ss AS DOUBLE) / (CAST(n_items AS DOUBLE) * "
        "CAST(nmin AS DOUBLE) * CAST(nmin - 1 AS DOUBLE)))"
    )
    pe = "(CAST(pe_p AS DOUBLE) / 1e12)"
    kap = f"(({pbar} - {pe}) / (1.0e0 - {pe}))"
    kap_u = f"CAST(round({kap} * 1e6) AS BIGINT)"
    band = (
        f"CASE WHEN {kap_u} < 0 THEN 'poor' "
        f"WHEN {kap_u} < 200000 THEN 'slight' "
        f"WHEN {kap_u} < 400000 THEN 'fair' "
        f"WHEN {kap_u} < 600000 THEN 'moderate' "
        f"WHEN {kap_u} < 800000 THEN 'substantial' "
        f"ELSE 'almost_perfect' END"
    )
    ok = "nmin >= 2 AND pe_p < 1000000000000"
    return f"""
WITH base AS MATERIALIZED ({source}),
cells AS MATERIALIZED (
  SELECT {gpfx}item, label, CAST(count(*) AS BIGINT) AS c
  FROM base GROUP BY {gpfx}item, label),
per_item AS MATERIALIZED (
  SELECT {gpfx}item, CAST(sum(c) AS BIGINT) AS ni,
         CAST(sum(c * (c - 1)) AS BIGINT) AS si
  FROM cells GROUP BY {gpfx}item),
gstats AS MATERIALIZED (
  SELECT {gpfx}CAST(count(*) AS BIGINT) AS n_items,
         CAST(min(ni) AS BIGINT) AS nmin, CAST(max(ni) AS BIGINT) AS nmax,
         CAST(sum(si) AS BIGINT) AS ss
  FROM per_item {grp}),
marg AS MATERIALIZED (
  SELECT {gpfx}label, CAST(sum(c) AS BIGINT) AS cj
  FROM cells GROUP BY {gpfx}label),
tot AS MATERIALIZED (
  SELECT {gpfx}CAST(sum(c) AS BIGINT) AS tt FROM cells {grp}),
pe_t AS MATERIALIZED (
  SELECT {gpfx}CAST(sum(CAST(round(
           (CAST(cj AS DOUBLE) / CAST(tt AS DOUBLE))
           * (CAST(cj AS DOUBLE) / CAST(tt AS DOUBLE)) * 1e12)
           AS BIGINT)) AS BIGINT) AS pe_p,
         CAST(count(*) AS BIGINT) AS n_categories
  FROM marg JOIN tot {jg} {grp})
SELECT {gpfx}n_items, CAST({n} AS BIGINT) AS n_raters, n_categories,
  CASE WHEN ({n}) >= 2 THEN {rnd(pbar)} END AS p_bar,
  {rnd(pe)} AS p_e,
  CASE WHEN ({n}) >= 2 AND {ok} THEN {rnd(kap)} END AS kappa,
  CASE WHEN ({n}) >= 2 AND {ok} THEN {band} END AS agreement
FROM gstats JOIN pe_t {jg}
WHERE pe_p IS NOT NULL
"""


def pref_winrate_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
    z: float = 1.96,
) -> str:
    """Twin of evalmetrics.pref_winrate: the same canonical
    (least, greatest) pair, exact counts, and the identical
    fixed-order Wilson chain with z as the same driver literal.
    `source` must yield (group..., a, b, w) already validated the
    way the Spark entry validates (w NULL for ties)."""
    zf = float(z)
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    zlit = f"CAST({zf!r} AS DOUBLE)"
    nd = "CAST(wins_lo + wins_hi AS DOUBLE)"
    p = f"(CAST(wins_lo AS DOUBLE) / {nd})"
    z2 = f"({zlit} * {zlit})"
    denom = f"(1.0e0 + {z2} / {nd})"
    center = f"(({p} + {z2} / (2.0e0 * {nd})) / {denom})"
    half = (
        f"({zlit} * sqrt({p} * (1.0e0 - {p}) / {nd} "
        f"+ {z2} / (4.0e0 * {nd} * {nd})) / {denom})"
    )

    def rnd(e):
        return f"CAST(CAST(round(({e}) * 1e6) AS BIGINT) AS DOUBLE) / 1e6"

    return f"""
WITH base AS MATERIALIZED ({source}),
q AS MATERIALIZED (
  SELECT {gpfx}least(CAST(a AS VARCHAR), CAST(b AS VARCHAR)) AS lo,
         greatest(CAST(a AS VARCHAR), CAST(b AS VARCHAR)) AS hi,
         CAST(w AS VARCHAR) AS w
  FROM base),
agg AS MATERIALIZED (
  SELECT {gpfx}lo, hi, CAST(count(*) AS BIGINT) AS n,
         CAST(coalesce(sum(CASE WHEN w = lo THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS wins_lo,
         CAST(coalesce(sum(CASE WHEN w = hi THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS wins_hi,
         CAST(coalesce(sum(CASE WHEN w IS NULL THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS ties
  FROM q GROUP BY {gpfx}lo, hi)
SELECT {gpfx}lo, hi, n, wins_lo, wins_hi, ties,
  CASE WHEN wins_lo + wins_hi > 0 THEN {rnd(p)} END AS p_lo,
  CASE WHEN wins_lo + wins_hi > 0 THEN {rnd(f"({center} - {half})")}
  END AS wilson_lo,
  CASE WHEN wins_lo + wins_hi > 0 THEN {rnd(f"({center} + {half})")}
  END AS wilson_hi
FROM agg
"""


def rouge_n_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
    n: int = 2,
) -> str:
    """Twin of evalmetrics.rouge_n: same tokens, clipped overlap,
    row-level totals, fixed-order f1 chain, scale-0 micro rounding.
    `source` must yield (group..., id, cand, ref) NULL-free."""
    if not (1 <= int(n) <= 4):
        raise ValueError(f"rouge_n_sql: bad n {n}")
    nn = int(n)
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    gj = f"USING ({g})" if group_cols else "ON TRUE"
    jk = ", ".join(list(group_cols) + ["id", "gram"])
    w = "list_filter(string_split({c}, ' '), x -> x <> '')"
    gram = (
        f"CASE WHEN len({{col}}) - {nn - 1} < 1 THEN CAST([] AS VARCHAR[]) "
        f"ELSE list_transform(generate_series(1, len({{col}}) - {nn - 1}), "
        f"i -> array_to_string(list_slice({{col}}, i, i + {nn - 1}), ' ')) END"
    )

    def rnd(e):
        return f"CAST(CAST(round(({e}) * 1e6) AS BIGINT) AS DOUBLE) / 1e6"

    p_raw = "CAST(o AS DOUBLE) / CAST(cand_grams AS DOUBLE)"
    r_raw = "CAST(o AS DOUBLE) / CAST(ref_grams AS DOUBLE)"
    return f"""
WITH base AS MATERIALIZED ({source}),
toks AS MATERIALIZED (
  SELECT {gpfx}CAST(id AS VARCHAR) AS id,
         {w.format(c='cand')} AS wc, {w.format(c='ref')} AS wr
  FROM base),
cg AS MATERIALIZED (
  SELECT {jk}, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT {gpfx}id, unnest({gram.format(col='wc')}) AS gram FROM toks) x
  GROUP BY {jk}),
rg AS MATERIALIZED (
  SELECT {jk}, CAST(count(*) AS BIGINT) AS r FROM (
    SELECT {gpfx}id, unnest({gram.format(col='wr')}) AS gram FROM toks) x
  GROUP BY {jk}),
ov AS MATERIALIZED (
  SELECT {gpfx}CAST(sum(least(c, r)) AS BIGINT) AS o
  FROM cg JOIN rg USING ({jk}) {grp}),
lens AS MATERIALIZED (
  SELECT {gpfx}CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(greatest(len(wc) - {nn - 1}, 0)) AS BIGINT)
           AS cand_grams,
         CAST(sum(greatest(len(wr) - {nn - 1}, 0)) AS BIGINT)
           AS ref_grams
  FROM toks {grp}),
piv AS MATERIALIZED (
  SELECT lens.*, CAST(coalesce(o, 0) AS BIGINT) AS o
  FROM lens LEFT JOIN ov {gj})
SELECT {gpfx}n_pairs, o AS overlap, cand_grams, ref_grams,
  CASE WHEN cand_grams > 0 THEN {rnd(p_raw)} END AS precision,
  CASE WHEN ref_grams > 0 THEN {rnd(r_raw)} END AS recall,
  CASE WHEN cand_grams > 0 AND ref_grams > 0 AND o > 0 THEN
    {rnd(f"2.0e0 * ({p_raw}) * ({r_raw}) / (({p_raw}) + ({r_raw}))")}
  WHEN cand_grams > 0 AND ref_grams > 0 THEN 0.0e0
  END AS f1
FROM piv
WHERE n_pairs > 0
"""


def chi2_assoc_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
) -> str:
    """Twin of evalmetrics.chi2_assoc: the identical exact-BIGINT
    joint histogram / marginals / totals, the zero-cell identity
    chi2 = n + sum_obs[(o-e)^2/e - e] with each observed term built
    from the exact integers in the SAME expression order, rounded once
    to integer micro-units and summed exactly, the same
    floor-at-zero sqrt Cramér's V with scale-0 micro rounding.
    `source` must yield (group..., x, y) already validated the way
    the Spark entry validates."""
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    jt = f"JOIN tot USING ({g})" if group_cols else "CROSS JOIN tot"
    jx = f"USING ({g}, x)" if group_cols else "USING (x)"
    jy = f"USING ({g}, y)" if group_cols else "USING (y)"
    jg = f"USING ({g})" if group_cols else "ON TRUE"
    return f"""
WITH base AS MATERIALIZED ({source}),
cells AS MATERIALIZED (
  SELECT {gpfx}x, y, CAST(count(*) AS BIGINT) AS c
  FROM base GROUP BY {gpfx}x, y),
mx AS MATERIALIZED (
  SELECT {gpfx}x, CAST(sum(c) AS BIGINT) AS nx FROM cells GROUP BY {gpfx}x),
my AS MATERIALIZED (
  SELECT {gpfx}y, CAST(sum(c) AS BIGINT) AS ny FROM cells GROUP BY {gpfx}y),
lx AS MATERIALIZED (
  SELECT {gpfx}CAST(count(*) AS BIGINT) AS xl FROM mx {grp}),
ly AS MATERIALIZED (
  SELECT {gpfx}CAST(count(*) AS BIGINT) AS yl FROM my {grp}),
tot AS MATERIALIZED (
  SELECT {gpfx}CAST(sum(c) AS BIGINT) AS n FROM cells {grp}),
agg AS MATERIALIZED (
  SELECT {gpfx}max(n) AS n,
         CAST(sum(CAST(round(
           ((CAST(c AS DOUBLE)
             - (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))
               / CAST(n AS DOUBLE))
            * (CAST(c AS DOUBLE)
               - (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))
                 / CAST(n AS DOUBLE))
            / ((CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))
               / CAST(n AS DOUBLE))
            - (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))
              / CAST(n AS DOUBLE)) * 1e6)
           AS BIGINT)) + max(n) * 1000000 AS BIGINT) AS chi2_u
  FROM cells JOIN mx {jx} JOIN my {jy} {jt} {grp})
SELECT {gpfx}n,
       xl AS x_levels, yl AS y_levels,
       CAST((xl - 1) * (yl - 1) AS BIGINT) AS dof,
       round(CAST(chi2_u AS DOUBLE) / 1e6, 6) AS chi2,
       CASE WHEN least(xl - 1, yl - 1) >= 1 THEN
         CAST(CAST(round(sqrt(
           CAST(greatest(chi2_u, 0) AS DOUBLE) / 1e6
           / (CAST(n AS DOUBLE) * CAST(least(xl - 1, yl - 1) AS DOUBLE)))
           * 1e6) AS BIGINT) AS DOUBLE) / 1e6
       END AS cramers_v
FROM agg JOIN lx {jg} JOIN ly {jg}
WHERE n IS NOT NULL
"""


def ols_fit_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
) -> str:
    """Twin of aggregates.ols_fit: identical micro-unit quantization,
    HUGEINT sufficient statistics, the same closed forms with one
    correctly-rounded division (+ two IEEE sqrt for r) and round-6.
    `source` must yield (group..., x DOUBLE, y DOUBLE) already
    validated the way the Spark entry validates."""
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    return f"""
WITH base AS MATERIALIZED ({source}),
q AS MATERIALIZED (
  SELECT {gpfx}CAST(CAST(round(x * 1000000) AS BIGINT) AS HUGEINT) AS mx,
         CAST(CAST(round(y * 1000000) AS BIGINT) AS HUGEINT) AS my
  FROM base),
agg AS MATERIALIZED (
  SELECT {gpfx}CAST(count(*) AS BIGINT) AS n,
         sum(mx) AS sx, sum(my) AS sy,
         sum(mx * mx) AS sxx, sum(my * my) AS syy,
         sum(mx * my) AS sxy
  FROM q {grp}),
d AS (
  SELECT {gpfx}n,
         CAST(n AS HUGEINT) * sxy - sx * sy AS cov,
         CAST(n AS HUGEINT) * sxx - sx * sx AS vx,
         CAST(n AS HUGEINT) * syy - sy * sy AS vy,
         sy * sxx - sx * sxy AS inum
  FROM agg)
SELECT {gpfx}n,
       CASE WHEN vx > 0 THEN
         round(CAST(cov AS DOUBLE) / CAST(vx AS DOUBLE), 6) END AS slope,
       CASE WHEN vx > 0 THEN
         round(CAST(inum AS DOUBLE) / CAST(vx AS DOUBLE) / 1e6, 6)
       END AS intercept,
       CASE WHEN vx > 0 AND vy > 0 THEN
         round(CAST(cov AS DOUBLE)
               / (sqrt(CAST(vx AS DOUBLE)) * sqrt(CAST(vy AS DOUBLE))), 6)
       END AS r
FROM d
WHERE n > 0
"""


def time_decayed_features_sql(
    source: str,
    key_cols: tuple[str, ...],
    now_us: int,
    half_lives_s: tuple[int, ...] = (3600, 86400),
    with_value: bool = False,
) -> str:
    """Twin of temporal.time_decayed_features: identical exact-BIGINT
    ages, the same pow(2.0, -(dt/H)) expression order, per-row terms
    rounded once to integer micro-units and summed exactly, round-6
    divisions. `source` must yield (key..., tm BIGINT epoch-micros
    [, v DOUBLE]) already validated the way the Spark entry
    validates."""
    k = ", ".join(key_cols)
    parts = [f"CAST(count(*) AS BIGINT) AS n_events"]
    sel = []
    for h in half_lives_s:
        hus = float(int(h) * 1_000_000)
        w = (
            f"pow(2.0, -(CAST({int(now_us)} - tm AS DOUBLE) "
            f"/ CAST({hus!r} AS DOUBLE)))"
        )
        parts.append(
            f"CAST(sum(CAST(round({w} * 1e6) AS BIGINT)) AS BIGINT) "
            f"AS dc{h}"
        )
        sel.append(
            f"round(CAST(dc{h} AS DOUBLE) / 1e6, 6) AS decay_count_{h}s"
        )
        if with_value:
            parts.append(
                f"CAST(sum(CAST(round(v * {w} * 1e6) AS BIGINT)) AS BIGINT)"
                f" AS ds{h}"
            )
            sel.append(
                f"round(CAST(ds{h} AS DOUBLE) / 1e6, 6) AS decay_sum_{h}s"
            )
    return f"""
WITH base AS MATERIALIZED ({source}),
agg AS MATERIALIZED (
  SELECT {k}, {", ".join(parts)} FROM base GROUP BY {k})
SELECT {k}, n_events, {", ".join(sel)} FROM agg
"""


def bh_fdr_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
    id_cols: tuple[str, ...] = (),
    alpha: float = 0.05,
    p_name: str = "p",
) -> str:
    """Twin of evalmetrics.bh_fdr: identical micro-unit quantization,
    the exact integer BH criterion per tie run at the run's largest
    rank, floor q candidates with the suffix-min, join back on the
    same (group, p) key. `source` must yield (id..., group..., p
    DOUBLE) already validated."""
    import math

    alpha_u = int(math.floor(float(alpha) * 1_000_000 + 0.5))
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    part = f"PARTITION BY {g} " if group_cols else ""
    ids = ", ".join(id_cols)
    idpfx = f"{ids}, " if id_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    jtot = f"JOIN tot USING ({g})" if group_cols else "CROSS JOIN tot"
    jq = f"USING ({g}, m)" if group_cols else "USING (m)"
    return f"""
WITH base AS MATERIALIZED ({source}),
rws AS MATERIALIZED (
  SELECT {idpfx}{gpfx}p,
         CAST(round(p * 1000000) AS BIGINT) AS m FROM base),
hist AS MATERIALIZED (
  SELECT {gpfx}m, CAST(count(*) AS BIGINT) AS c FROM rws GROUP BY {gpfx}m),
cum AS MATERIALIZED (
  SELECT {gpfx}m, c,
         CAST(coalesce(sum(c) OVER ({part}ORDER BY m), 0) - c AS BIGINT)
           AS below
  FROM hist),
tot AS MATERIALIZED (
  SELECT {gpfx}CAST(sum(c) AS BIGINT) AS mm FROM hist {grp}),
qt AS MATERIALIZED (
  SELECT {gpfx}m,
         CAST(min(least(1000000, (mm * m) // (below + c)))
              OVER ({part}ORDER BY m DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS qu,
         max(CASE WHEN m * mm <= (below + c) * {alpha_u} THEN m END)
           OVER ({part}) AS vstar
  FROM cum {jtot})
SELECT {idpfx}{gpfx}p,
       CAST(CASE WHEN vstar IS NOT NULL AND m <= vstar THEN 1 ELSE 0 END
            AS BIGINT) AS reject,
       round(CAST(qu AS DOUBLE) / 1e6, 6) AS q_value
FROM rws JOIN qt {jq}
"""


def ols_multi_sql(
    source: str,
    d: int,
    group_cols: tuple[str, ...] = (),
    ridge: float = 0.0,
) -> str:
    """Twin of aggregates.ols_multi: identical micro quantization
    (intercept as feature x0 quantized to exactly 1e6), HUGEINT
    normal-equation sums, and the VERBATIM Cramer/SSE expression
    strings imported from the operator's own _ols_multi_exprs —
    identical strings, identical IEEE tree. `source` must yield
    (group..., x1..xD DOUBLE, y DOUBLE) already validated the way the
    Spark entry validates."""
    from .operators.aggregates import _ols_multi_exprs

    ex = _ols_multi_exprs(d, ridge)
    p = ex["p"]
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    rg = float(ridge)
    mdefs = ", ".join(
        ["CAST(1000000 AS HUGEINT) AS m0"]
        + [
            f"CAST(CAST(round(x{j} * 1000000) AS BIGINT) AS HUGEINT)"
            f" AS m{j}"
            for j in range(1, p)
        ]
        + ["CAST(CAST(round(y * 1000000) AS BIGINT) AS HUGEINT) AS my"]
    )
    sdefs = []
    for j in range(p):
        for k in range(j, p):
            sdefs.append(f"sum(m{j} * m{k}) AS s{j}_{k}")
        sdefs.append(f"sum(m{j} * my) AS b{j}")
    sdefs.append("sum(my * my) AS syy")
    ndefs = []
    for j in range(p):
        for k in range(j, p):
            raw = f"(CAST(s{j}_{k} AS DOUBLE) / 1e12)"
            ridged = (
                f"({raw} + CAST({rg!r} AS DOUBLE))"
                if (j == k and j >= 1 and rg > 0)
                else raw
            )
            ndefs.append(f"{ridged} AS a{j}_{k}")
            ndefs.append(f"{raw} AS w{j}_{k}")
        ndefs.append(f"(CAST(b{j} AS DOUBLE) / 1e12) AS c{j}")
    ndefs.append("(CAST(syy AS DOUBLE) / 1e12) AS syy_d")
    ok = f"n >= {p} AND ({ex['det']}) <> 0e0"

    def rnd(e: str) -> str:
        return f"CAST(CAST(round(({e}) * 1e6) AS BIGINT) AS DOUBLE) / 1e6"

    outs = [f"CASE WHEN {ok} THEN {rnd(ex['betas'][0])} END AS intercept"]
    for j in range(1, p):
        outs.append(
            f"CASE WHEN {ok} THEN {rnd(ex['betas'][j])} END AS beta{j}"
        )
    outs.append(
        f"CASE WHEN {ok} AND ({ex['sst']}) > 0e0 THEN "
        f"{rnd('1e0 - (' + ex['sse'] + ') / (' + ex['sst'] + ')')} "
        f"END AS r2"
    )
    return f"""
WITH base AS MATERIALIZED ({source}),
q AS MATERIALIZED (SELECT {gpfx}{mdefs} FROM base),
agg AS MATERIALIZED (
  SELECT {gpfx}CAST(count(*) AS BIGINT) AS n, {", ".join(sdefs)}
  FROM q {grp}),
named AS MATERIALIZED (
  SELECT {gpfx}n, {", ".join(ndefs)} FROM agg WHERE n > 0)
SELECT {gpfx}n, {", ".join(outs)}
FROM named
"""


def exact_quantiles_sql(
    source: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    group_cols: tuple[str, ...] = (),
) -> str:
    """Twin of aggregates.exact_quantiles: identical micro-unit
    quantization, the plain one-window below-prefix, the same exact
    integer ceil-rank r = greatest(1, (n*q_u + 999999) // 1e6) type-1
    selection, round-6 renders. `source` must yield (group..., v
    DOUBLE) already validated."""
    import math

    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    part = f"PARTITION BY {g} " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    jtot = f"JOIN tot USING ({g})" if group_cols else "CROSS JOIN tot"
    sels = []
    outs = []
    for q in qs:
        qu = int(math.floor(float(q) * 1_000_000 + 0.5))
        pct = float(q) * 100.0
        name = (
            f"p{int(pct)}"
            if float(pct).is_integer()
            else "p" + repr(round(pct, 4)).replace(".", "_")
        )
        r = f"greatest(1, (n * {qu} + 999999) // 1000000)"
        sels.append(
            f"CAST(sum(CASE WHEN below < {r} AND below + c >= {r} "
            f"THEN m END) AS BIGINT) AS u_{name}"
        )
        outs.append(f"round(CAST(u_{name} AS DOUBLE) / 1e6, 6) AS {name}")
    return f"""
WITH base AS MATERIALIZED ({source}),
q AS MATERIALIZED (
  SELECT {gpfx}CAST(round(v * 1000000) AS BIGINT) AS m FROM base),
hist AS MATERIALIZED (
  SELECT {gpfx}m, CAST(count(*) AS BIGINT) AS c FROM q GROUP BY {gpfx}m),
cum AS MATERIALIZED (
  SELECT {gpfx}m, c,
         CAST(coalesce(sum(c) OVER ({part}ORDER BY m), 0) - c AS BIGINT)
           AS below
  FROM hist),
tot AS MATERIALIZED (
  SELECT {gpfx}CAST(sum(c) AS BIGINT) AS n FROM hist {grp}),
agg AS (
  SELECT {gpfx}max(n) AS n, {", ".join(sels)}
  FROM cum {jtot} {grp})
SELECT {gpfx}n, {", ".join(outs)} FROM agg WHERE n IS NOT NULL
"""


def containment_pairs_sql(
    ngram: int = 3,
    threshold: float = 0.9,
    table: str = "documents",
    prelude_cte: str = "",
) -> str:
    """Twin of dedup.containment_pairs: identical shingling, the same
    (df ASC, shingle) prefix order with the containment prefix length
    n - ceil(t*n) + 1, probe-prefix x FULL-index candidate join with
    the exact integer size bound 1e6*n_b >= t_micro*n_a, intersection
    counted as shared (doc, shingle) rows, acceptance 1e6*inter >=
    t_micro*n_a."""
    t_micro = round(threshold * 1e6)
    prelude = f"{prelude_cte}," if prelude_cte else ""
    return f"""
WITH {prelude}
sh AS MATERIALIZED (
  SELECT doc_id, shingles, CAST(len(shingles) AS BIGINT) AS n
  FROM ({_shingle_select_sql(ngram, table)})
  WHERE len(shingles) > 0),
inv AS MATERIALIZED (
  SELECT doc_id, n, unnest(shingles) AS shingle FROM sh),
dfreq AS MATERIALIZED (
  SELECT shingle, count(*) AS dfc FROM inv GROUP BY shingle),
ranked AS MATERIALIZED (
  SELECT i.doc_id, i.n, i.shingle,
         row_number() OVER (PARTITION BY i.doc_id
                            ORDER BY d.dfc, i.shingle) AS rn
  FROM inv i JOIN dfreq d USING (shingle)),
prefix AS MATERIALIZED (
  SELECT doc_id, n, shingle FROM ranked
  WHERE rn <= n - (({t_micro} * n + 999999) // 1000000) + 1),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM prefix a JOIN inv b
    ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  WHERE 1000000 * b.n >= {t_micro} * a.n),
ij AS MATERIALIZED (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c
  JOIN inv x ON x.doc_id = c.id_a
  JOIN inv y ON y.doc_id = c.id_b AND y.shingle = x.shingle
  GROUP BY c.id_a, c.id_b)
SELECT j.id_a, j.id_b, CAST(j.n_inter AS BIGINT) AS n_inter,
       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
       round(CAST(j.n_inter AS DOUBLE) / CAST(sa.n AS DOUBLE), 6)
         AS containment
FROM ij j
JOIN sh sa ON sa.doc_id = j.id_a
JOIN sh sb ON sb.doc_id = j.id_b
WHERE 1000000 * j.n_inter >= {t_micro} * sa.n
"""


def quality_checks_sql(
    source: str,
    checks: list[dict],
    group_cols: tuple[str, ...] = (),
) -> str:
    """Twin of checks.quality_checks: the SAME check list compiles to
    one shared aggregate + one value-frequency CTE per uniqueness/
    distinctness column, with identical micro-unit quantization and
    exact HUGEINT pass/fail comparisons. `source` must yield
    (group..., <checked columns>) already validated the way the Spark
    entry validates (no NaN in bound/mean columns)."""
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    frac_kinds = ("completeness", "uniqueness", "distinctness", "pattern", "in_set")
    shared = [c for c in checks if c["kind"] not in ("uniqueness", "distinctness")]
    valued = [c for c in checks if c["kind"] in ("uniqueness", "distinctness")]

    def mic(x: float) -> int:
        return round(x * 1e6)

    aggs = ["CAST(count(*) AS BIGINT) AS n"]
    for i, s in enumerate(shared):
        col, kind = s["column"], s["kind"]
        if kind == "completeness":
            aggs.append(f"CAST(count({col}) AS BIGINT) AS num{i}")
        elif kind == "pattern":
            p = s["pattern"].replace("'", "''")
            aggs.append(
                f"CAST(coalesce(sum(CASE WHEN {col} IS NOT NULL AND "
                f"regexp_full_match({col}, '(?:{p})') THEN 1 ELSE 0 END), 0)"
                f" AS BIGINT) AS num{i}"
            )
            aggs.append(f"CAST(count({col}) AS BIGINT) AS den{i}")
        elif kind == "in_set":
            vals = ", ".join("'" + v.replace("'", "''") + "'" for v in s["values"])
            aggs.append(
                f"CAST(coalesce(sum(CASE WHEN {col} IN ({vals}) THEN 1 "
                f"ELSE 0 END), 0) AS BIGINT) AS num{i}"
            )
            aggs.append(f"CAST(count({col}) AS BIGINT) AS den{i}")
        elif kind in ("min_ge", "max_le"):
            fn = "min" if kind == "min_ge" else "max"
            aggs.append(
                f"{fn}(CAST(round(CAST({col} AS DOUBLE) * 1000000) AS BIGINT))"
                f" AS ext{i}"
            )
            aggs.append(f"CAST(count({col}) AS BIGINT) AS den{i}")
        else:  # mean_ge / mean_le
            aggs.append(
                f"sum(CAST(CAST(round(CAST({col} AS DOUBLE) * 1000000) "
                f"AS BIGINT) AS HUGEINT)) AS sum{i}"
            )
            aggs.append(f"CAST(count({col}) AS BIGINT) AS den{i}")

    ctes = [
        f"base AS MATERIALIZED ({source})",
        f"agg AS (SELECT {gpfx}{', '.join(aggs)} FROM base {grp})",
        f"ntab AS (SELECT {gpfx}n FROM agg)",
    ]
    ucols = sorted({c["column"] for c in valued})
    for j, col in enumerate(ucols):
        ctes.append(
            f"pc{j} AS MATERIALIZED (SELECT {gpfx}{col} AS v, "
            f"CAST(count(*) AS BIGINT) AS c FROM base "
            f"WHERE {col} IS NOT NULL GROUP BY {gpfx}{col})"
        )
        ctes.append(
            f"ua{j} AS (SELECT {gpfx}"
            f"CAST(coalesce(sum(CAST(c = 1 AS BIGINT)), 0) AS BIGINT) AS singles, "
            f"CAST(count(*) AS BIGINT) AS dst, "
            f"CAST(coalesce(sum(c), 0) AS BIGINT) AS nn FROM pc{j} {grp})"
        )

    def lits(s):
        thr = (
            round(mic(s["threshold"]) / 1e6, 6)
            if s["kind"] in frac_kinds
            else round(mic(s["bound"]) / 1e6, 6)
        )
        return (
            f"'{s['name']}' AS check_name, '{s['column']}' AS \"column\", "
            f"'{s['kind']}' AS kind"
        ), thr

    selects = []
    for i, s in enumerate(shared):
        kind = s["kind"]
        head, thr = lits(s)
        if kind == "completeness":
            t = mic(s["threshold"])
            selects.append(
                f"SELECT {gpfx}{head}, n, num{i} AS num, n AS den, "
                f"round(CAST(num{i} AS DOUBLE) / CAST(n AS DOUBLE), 6) AS metric, "
                f"CAST({thr!r} AS DOUBLE) AS threshold, "
                f"CAST(1000000 * CAST(num{i} AS HUGEINT) >= "
                f"{t} * CAST(n AS HUGEINT) AS BIGINT) AS passed "
                f"FROM agg WHERE n > 0"
            )
        elif kind in ("pattern", "in_set"):
            t = mic(s["threshold"])
            selects.append(
                f"SELECT {gpfx}{head}, n, num{i} AS num, den{i} AS den, "
                f"CASE WHEN den{i} > 0 THEN round(CAST(num{i} AS DOUBLE) / "
                f"CAST(den{i} AS DOUBLE), 6) END AS metric, "
                f"CAST({thr!r} AS DOUBLE) AS threshold, "
                f"CASE WHEN den{i} > 0 THEN CAST(1000000 * CAST(num{i} AS HUGEINT)"
                f" >= {t} * CAST(den{i} AS HUGEINT) AS BIGINT) END AS passed "
                f"FROM agg WHERE n > 0"
            )
        elif kind in ("min_ge", "max_le"):
            b = mic(s["bound"])
            op = ">=" if kind == "min_ge" else "<="
            selects.append(
                f"SELECT {gpfx}{head}, n, CAST(NULL AS BIGINT) AS num, "
                f"den{i} AS den, round(CAST(ext{i} AS DOUBLE) / 1e6, 6) AS metric, "
                f"CAST({thr!r} AS DOUBLE) AS threshold, "
                f"CASE WHEN den{i} > 0 THEN CAST(ext{i} {op} {b} AS BIGINT) END"
                f" AS passed FROM agg WHERE n > 0"
            )
        else:
            b = mic(s["bound"])
            op = ">=" if kind == "mean_ge" else "<="
            selects.append(
                f"SELECT {gpfx}{head}, n, CAST(NULL AS BIGINT) AS num, "
                f"den{i} AS den, CASE WHEN den{i} > 0 THEN "
                f"round(CAST(sum{i} AS DOUBLE) / CAST(den{i} * 1000000 AS DOUBLE),"
                f" 6) END AS metric, CAST({thr!r} AS DOUBLE) AS threshold, "
                f"CASE WHEN den{i} > 0 THEN CAST(sum{i} {op} "
                f"CAST({b} AS HUGEINT) * den{i} AS BIGINT) END AS passed "
                f"FROM agg WHERE n > 0"
            )
    for s in valued:
        j = ucols.index(s["column"])
        head, thr = lits(s)
        t = mic(s["threshold"])
        num = "singles" if s["kind"] == "uniqueness" else "dst"
        gsel = ", ".join(f"t.{c}" for c in group_cols)
        gselp = f"{gsel}, " if group_cols else ""
        join = (
            f"LEFT JOIN ua{j} u USING ({g})"
            if group_cols
            else f"CROSS JOIN ua{j} u"
        )
        selects.append(
            f"SELECT {gselp}{head}, t.n, "
            f"CAST(coalesce(u.{num}, 0) AS BIGINT) AS num, "
            f"CAST(coalesce(u.nn, 0) AS BIGINT) AS den, "
            f"CASE WHEN coalesce(u.nn, 0) > 0 THEN "
            f"round(CAST(u.{num} AS DOUBLE) / CAST(u.nn AS DOUBLE), 6) END"
            f" AS metric, CAST({thr!r} AS DOUBLE) AS threshold, "
            f"CASE WHEN coalesce(u.nn, 0) > 0 THEN "
            f"CAST(1000000 * CAST(u.{num} AS HUGEINT) >= "
            f"{t} * CAST(u.nn AS HUGEINT) AS BIGINT) END AS passed "
            f"FROM ntab t {join} WHERE t.n > 0"
        )
    body = "\nUNION ALL\n".join(selects)
    cte_block = ",\n".join(ctes)
    return f"WITH {cte_block}\n{body}\n"


def bootstrap_ci_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
    b_reps: int = 100,
    alpha: float = 0.05,
) -> str:
    """Twin of bootstrap.bootstrap_ci: identical hash-Poisson weights
    (same md5-prefix hash, same integer CDF thresholds imported from
    the operator so they cannot desync), HUGEINT weighted sums, the
    same correctly-rounded half-away replicate-mean micros, ceil-rank
    order statistics on the 1-based sorted list, exact-integer SE
    numerator. `source` must yield (group..., id, v DOUBLE) already
    validated the way the Spark entry validates."""
    from .operators.bootstrap import POISSON1_T32

    q_lo_u = round(alpha / 2 * 1e6)
    q_hi_u = 1_000_000 - q_lo_u
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    grpb = f"GROUP BY {gpfx}b"
    h = "(('0x' || substr(md5(id || '|' || CAST(b AS VARCHAR)), 1, 8))::BIGINT)"
    w = " + ".join(f"CAST({h} >= {t} AS BIGINT)" for t in POISSON1_T32)
    join = (
        f"LEFT JOIN stats s USING ({g})"
        if group_cols
        else "CROSS JOIN stats s"
    )
    rk_lo = f"greatest(1, (b_eff * {q_lo_u} + 999999) // 1000000)"
    rk_hi = f"greatest(1, (b_eff * {q_hi_u} + 999999) // 1000000)"
    return f"""
WITH base AS MATERIALIZED (
  SELECT {gpfx}CAST(id AS VARCHAR) AS id,
         CAST(round(v * 1000000) AS BIGINT) AS x
  FROM ({source}) AS src),
pt AS (
  SELECT {gpfx}CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x AS HUGEINT)) AS sall
  FROM base {grp}),
reps AS MATERIALIZED (
  SELECT {gpfx}x, b, {w} AS w
  FROM base CROSS JOIN (
    SELECT unnest(generate_series(0, {b_reps - 1})) AS b) bb),
rb AS (
  SELECT {gpfx}b, sum(CAST(w AS HUGEINT) * x) AS s,
         CAST(sum(w) AS BIGINT) AS wt
  FROM reps {grpb}),
means AS (
  SELECT {gpfx}CAST(round(CAST(s AS DOUBLE) / CAST(wt AS DOUBLE)) AS BIGINT)
         AS m
  FROM rb WHERE wt > 0),
stats AS (
  SELECT {gpfx}list_sort(list(m)) AS sorted,
         CAST(count(*) AS BIGINT) AS b_eff,
         sum(CAST(m AS HUGEINT)) AS sm,
         sum(CAST(m AS HUGEINT) * m) AS smm
  FROM means {grp})
SELECT {gpfx}n,
       round(CAST(sall AS DOUBLE) / CAST(n * 1000000 AS DOUBLE), 6) AS mean,
       CASE WHEN coalesce(b_eff, 0) > 1 THEN
         round(sqrt(CAST(b_eff * smm - sm * sm AS DOUBLE) /
                    CAST(b_eff * (b_eff - 1) AS DOUBLE)) / 1e6, 6)
       END AS se_boot,
       CASE WHEN coalesce(b_eff, 0) > 0 THEN
         round(CAST(sorted[{rk_lo}] AS DOUBLE) / 1e6, 6)
       END AS lo,
       CASE WHEN coalesce(b_eff, 0) > 0 THEN
         round(CAST(sorted[{rk_hi}] AS DOUBLE) / 1e6, 6)
       END AS hi,
       CAST(coalesce(b_eff, 0) AS BIGINT) AS b_eff
FROM pt p {join}
WHERE n > 0
"""


def cusum_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
    k: float = 0.5,
    h: float = 5.0,
) -> str:
    """Twin of temporal.cusum_changepoints: identical micro
    quantization, HUGEINT prefix sums over the same unique-ts order,
    the same closed form S = P - least(0, running_min P), exact
    integer alarms. `source` must yield (group..., t BIGINT unique per
    group, x DOUBLE, mu DOUBLE) already validated the way the Spark
    entry validates."""
    k_u = round(k * 1e6)
    h_u = round(h * 1e6)
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    part = f"PARTITION BY {g} " if group_cols else ""
    win = f"({part}ORDER BY t ROWS UNBOUNDED PRECEDING)"
    return f"""
WITH base AS MATERIALIZED (
  SELECT {gpfx}t, CAST(round(x * 1000000) AS BIGINT) AS xu,
         CAST(round(mu * 1000000) AS BIGINT) AS muu
  FROM ({source}) AS src),
p AS MATERIALIZED (
  SELECT {gpfx}t, xu,
         sum(CAST(xu - muu - {k_u} AS HUGEINT)) OVER w AS pp,
         sum(CAST(muu - {k_u} - xu AS HUGEINT)) OVER w AS pn
  FROM base WINDOW w AS {win}),
m AS (
  SELECT {gpfx}t, xu, pp, pn,
         min(pp) OVER w AS mp, min(pn) OVER w AS mn
  FROM p WINDOW w AS {win})
SELECT {gpfx}t AS t_us,
       round(CAST(xu AS DOUBLE) / 1e6, 6) AS x,
       round(CAST(pp - least(0, mp) AS DOUBLE) / 1e6, 6) AS s_pos,
       round(CAST(pn - least(0, mn) AS DOUBLE) / 1e6, 6) AS s_neg,
       CAST(pp - least(0, mp) > {h_u} AS BIGINT) AS alarm_pos,
       CAST(pn - least(0, mn) > {h_u} AS BIGINT) AS alarm_neg
FROM m
"""


def ab_welch_test_sql(
    source: str,
    control: str,
    treatment: str,
    group_cols: tuple[str, ...] = (),
    alpha: float = 0.05,
) -> str:
    """Twin of evalmetrics.ab_welch_test: identical micro quantization,
    HUGEINT conditional sufficient statistics in one aggregate, the
    same double expression order for v/se/t/df, the same rounded-|t|
    vs normal-critical comparison, and the same se=0 NULL guard.
    `source` must yield (group..., v VARCHAR variant, x DOUBLE) already
    validated the way the Spark entry validates."""
    from statistics import NormalDist

    crit = round(NormalDist().inv_cdf(1.0 - alpha / 2.0), 6)
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    c = control.replace("'", "''")
    t = treatment.replace("'", "''")

    def side(name: str, tag: str) -> str:
        return (
            f"CAST(coalesce(sum(CAST(v = '{name}' AS BIGINT)), 0) AS BIGINT)"
            f" AS n_{tag}, "
            f"sum(CASE WHEN v = '{name}' THEN CAST(x AS HUGEINT) END)"
            f" AS s{tag}, "
            f"sum(CASE WHEN v = '{name}' THEN CAST(x AS HUGEINT) * x END)"
            f" AS ss{tag}"
        )

    vexp = {
        tag: (
            f"(CAST(n_{tag} * ss{tag} - s{tag} * s{tag} AS DOUBLE) / "
            f"CAST(n_{tag} * (n_{tag} - 1) AS DOUBLE) / "
            f"CAST(n_{tag} AS DOUBLE))"
        )
        for tag in ("c", "t")
    }
    se = f"sqrt({vexp['c']} + {vexp['t']})"
    diffm = (
        "(CAST(st * n_c - sc * n_t AS DOUBLE) / "
        "CAST(CAST(n_c AS HUGEINT) * n_t AS DOUBLE))"
    )
    tstat = f"round({diffm} / {se}, 6)"
    dfw = (
        f"round(({vexp['c']} + {vexp['t']}) * ({vexp['c']} + {vexp['t']}) / "
        f"({vexp['c']} * {vexp['c']} / CAST(n_c - 1 AS DOUBLE) + "
        f"{vexp['t']} * {vexp['t']} / CAST(n_t - 1 AS DOUBLE)), 6)"
    )
    ok = "n_c > 1 AND n_t > 1"
    okse = f"{ok} AND {se} > 0"
    return f"""
WITH base AS MATERIALIZED (
  SELECT {gpfx}v, CAST(round(x * 1000000) AS BIGINT) AS x
  FROM ({source}) AS src WHERE v IN ('{c}', '{t}')),
agg AS (
  SELECT {gpfx}{side(c, "c")}, {side(t, "t")}
  FROM base {grp})
SELECT {gpfx}n_c, n_t,
       CASE WHEN n_c > 0 THEN
         round(CAST(sc AS DOUBLE) / CAST(n_c * 1000000 AS DOUBLE), 6)
       END AS mean_c,
       CASE WHEN n_t > 0 THEN
         round(CAST(st AS DOUBLE) / CAST(n_t * 1000000 AS DOUBLE), 6)
       END AS mean_t,
       CASE WHEN n_c > 0 AND n_t > 0 THEN
         round({diffm} / 1e6, 6)
       END AS diff,
       CASE WHEN {ok} THEN round({se} / 1e6, 6) END AS se,
       CASE WHEN {okse} THEN {tstat} END AS t_stat,
       CASE WHEN {okse} THEN {dfw} END AS df_welch,
       CASE WHEN {okse} THEN
         CAST(abs({tstat}) >= CAST({crit!r} AS DOUBLE) AS BIGINT)
       END AS significant
FROM agg
WHERE n_c > 0 OR n_t > 0
"""


def backtest_folds_sql(
    source: str,
    origins_us: list[int],
    horizon_us: int,
    embargo_us: int = 0,
    mode: str = "expanding",
    window_us: int | None = None,
    passthrough: tuple[str, ...] = (),
) -> str:
    """Twin of sampling.backtest_folds: the same k-fold literal table,
    identical exact BIGINT boundary comparisons and role assignment.
    `source` must yield (t BIGINT, passthrough...) already validated
    the way the Spark entry validates."""
    vals = ", ".join(f"({i}, {o})" for i, o in enumerate(origins_us))
    if mode == "expanding":
        train = "b.t <= f.o"
    else:
        train = f"(b.t > f.o - {window_us} AND b.t <= f.o)"
    test = (
        f"(b.t > f.o + {embargo_us} AND "
        f"b.t <= f.o + {embargo_us} + {horizon_us})"
    )
    cols = "".join(f", b.{c}" for c in passthrough)
    return f"""
WITH base AS MATERIALIZED ({source}),
folds(fold, o) AS (VALUES {vals})
SELECT CAST(f.fold AS BIGINT) AS fold,
       CASE WHEN {train} THEN 'train' ELSE 'test' END AS role,
       b.t AS t_us{cols}
FROM base b CROSS JOIN folds f
WHERE {train} OR {test}
"""


def hill_tail_index_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
    k: int = 100,
) -> str:
    """Twin of aggregates.hill_tail_index: identical micro
    quantization, multiset order statistics off the distinct-value
    histogram prefix, the same micro-nat rln terms (ln on a double
    built from the exact integer, rounded once) summed exactly, the
    same H > 0 guard and single division. `source` must yield
    (group..., v DOUBLE positive) already validated the way the Spark
    entry validates."""
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    part = f"PARTITION BY {g} " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    jtot = f"JOIN tot USING ({g})" if group_cols else "CROSS JOIN tot"
    jsel = f"JOIN sel USING ({g})" if group_cols else "CROSS JOIN sel"
    jleft = f"LEFT JOIN s1 USING ({g})" if group_cols else "LEFT JOIN s1 ON TRUE"
    ke = f"least({k}, n - 1)"

    def rln(x: str) -> str:
        return f"CAST(round(ln(CAST({x} AS DOUBLE) / 1e6) * 1e6) AS BIGINT)"

    h = f"(coalesce(s1, 0) - gc * {rln('vk1')})"
    return f"""
WITH base AS MATERIALIZED ({source}),
q AS MATERIALIZED (
  SELECT {gpfx}CAST(round(v * 1000000) AS BIGINT) AS m FROM base),
hist AS MATERIALIZED (
  SELECT {gpfx}m, CAST(count(*) AS BIGINT) AS c FROM q GROUP BY {gpfx}m),
cum AS MATERIALIZED (
  SELECT {gpfx}m, c,
         CAST(sum(c) OVER ({part}ORDER BY m ROWS UNBOUNDED PRECEDING) - c
              AS BIGINT) AS below
  FROM hist),
tot AS (SELECT {gpfx}CAST(sum(c) AS BIGINT) AS n FROM hist {grp}),
sel AS MATERIALIZED (
  SELECT {gpfx}n, {ke} AS k_eff, m AS vk1, n - below - c AS gc
  FROM cum {jtot}
  WHERE n - below - c < {ke} + 1 AND {ke} + 1 <= n - below),
s1 AS (
  SELECT {gpfx}CAST(sum(c * {rln('h.m')}) AS BIGINT) AS s1
  FROM hist h {jsel} WHERE h.m > vk1 {grp})
SELECT {gpfx}n, CAST(k_eff AS BIGINT) AS k_eff,
       round(CAST(vk1 AS DOUBLE) / 1e6, 6) AS x_k1,
       CASE WHEN k_eff > 0 AND {h} > 0 THEN
         round(CAST(k_eff AS DOUBLE) * 1e6 / CAST({h} AS DOUBLE), 6)
       END AS alpha
FROM sel {jleft}
"""


def winsorize_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
    q_lo: float = 0.01,
    q_hi: float = 0.99,
) -> str:
    """Twin of aggregates.winsorize: identical micro quantization, the
    same type-1 ceil-rank bound selection off the distinct-value
    histogram prefix, integer clamping, -1/0/+1 flags. `source` must
    yield (group..., id, v DOUBLE) already validated the way the Spark
    entry validates."""
    lo_u = round(q_lo * 1e6)
    hi_u = round(q_hi * 1e6)
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    part = f"PARTITION BY {g} " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    jtot = f"JOIN tot USING ({g})" if group_cols else "CROSS JOIN tot"
    jb = f"JOIN bounds USING ({g})" if group_cols else "CROSS JOIN bounds"

    def pick(qu: int, alias: str) -> str:
        r = f"greatest(1, (n * {qu} + 999999) // 1000000)"
        return (
            f"CAST(sum(CASE WHEN below < {r} AND below + c >= {r} "
            f"THEN m END) AS BIGINT) AS {alias}"
        )

    return f"""
WITH base AS MATERIALIZED ({source}),
q AS MATERIALIZED (
  SELECT {gpfx}CAST(id AS VARCHAR) AS id,
         CAST(round(v * 1000000) AS BIGINT) AS m FROM base),
hist AS MATERIALIZED (
  SELECT {gpfx}m, CAST(count(*) AS BIGINT) AS c FROM q GROUP BY {gpfx}m),
cum AS MATERIALIZED (
  SELECT {gpfx}m, c,
         CAST(sum(c) OVER ({part}ORDER BY m ROWS UNBOUNDED PRECEDING) - c
              AS BIGINT) AS below
  FROM hist),
tot AS (SELECT {gpfx}CAST(sum(c) AS BIGINT) AS n FROM hist {grp}),
bounds AS MATERIALIZED (
  SELECT {gpfx}{pick(lo_u, "lo_u")}, {pick(hi_u, "hi_u")}
  FROM cum {jtot} {grp})
SELECT {gpfx}id,
       round(CAST(m AS DOUBLE) / 1e6, 6) AS v,
       round(CAST(least(greatest(m, lo_u), hi_u) AS DOUBLE) / 1e6, 6)
         AS v_wins,
       CAST(CASE WHEN m < lo_u THEN -1 WHEN m > hi_u THEN 1 ELSE 0 END
            AS BIGINT) AS clipped
FROM q {jb}
"""


def quantile_bin_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
    n_bins: int = 4,
) -> str:
    """Twin of aggregates.quantile_bin: identical micro quantization,
    the same type-1 ceil-rank boundary selection off the distinct-value
    histogram prefix, the same #{b : m > bound_b} integer bin rule and
    per-bin edge exposure. Boundary micro-quantiles are imported from
    the operator's OWN quantile_bin_qus so the literals cannot desync.
    `source` must yield (group..., id, v DOUBLE) already validated the
    way the Spark entry validates."""
    from .operators.aggregates import quantile_bin_qus

    qus = quantile_bin_qus(n_bins)
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    part = f"PARTITION BY {g} " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    jtot = f"JOIN tot USING ({g})" if group_cols else "CROSS JOIN tot"
    jb = f"JOIN bounds USING ({g})" if group_cols else "CROSS JOIN bounds"

    def pick(qu: int, alias: str) -> str:
        r = f"greatest(1, (n * {qu} + 999999) // 1000000)"
        return (
            f"CAST(sum(CASE WHEN below < {r} AND below + c >= {r} "
            f"THEN m END) AS BIGINT) AS {alias}"
        )

    picks = ",\n         ".join(
        pick(qu, f"b{i}") for i, qu in enumerate(qus)
    )
    bin_sum = " + ".join(
        f"CASE WHEN m > b{i} THEN 1 ELSE 0 END" for i in range(len(qus))
    )
    lo_case = " ".join(
        f"WHEN bin = {i + 1} THEN b{i}" for i in range(len(qus))
    )
    hi_case = " ".join(
        f"WHEN bin = {i} THEN b{i}" for i in range(len(qus))
    )
    return f"""
WITH base AS MATERIALIZED ({source}),
q AS MATERIALIZED (
  SELECT {gpfx}CAST(id AS VARCHAR) AS id,
         CAST(round(v * 1000000) AS BIGINT) AS m FROM base),
hist AS MATERIALIZED (
  SELECT {gpfx}m, CAST(count(*) AS BIGINT) AS c FROM q GROUP BY {gpfx}m),
cum AS MATERIALIZED (
  SELECT {gpfx}m, c,
         CAST(sum(c) OVER ({part}ORDER BY m ROWS UNBOUNDED PRECEDING) - c
              AS BIGINT) AS below
  FROM hist),
tot AS (SELECT {gpfx}CAST(sum(c) AS BIGINT) AS n FROM hist {grp}),
bounds AS MATERIALIZED (
  SELECT {gpfx}{picks}
  FROM cum {jtot} {grp}),
assigned AS MATERIALIZED (
  SELECT {gpfx}id, m, CAST({bin_sum} AS BIGINT) AS bin,
         {", ".join(f"b{i}" for i in range(len(qus)))}
  FROM q {jb})
SELECT {gpfx}id,
       round(CAST(m AS DOUBLE) / 1e6, 6) AS v,
       bin,
       round(CAST(CASE {lo_case} END AS DOUBLE) / 1e6, 6) AS b_lo,
       round(CAST(CASE {hi_case} END AS DOUBLE) / 1e6, 6) AS b_hi
FROM assigned
"""


def conformal_intervals_sql(
    cal_source: str,
    new_source: str,
    group_cols: tuple[str, ...] = (),
    alpha: float = 0.1,
) -> str:
    """Twin of bootstrap.conformal_intervals: identical residual micro
    quantization, the same exact (n+1)-ceil-rank selection off the
    distinct-residual histogram prefix, the same LEFT join of the new
    frame onto the group-quantile table. `cal_source` must yield
    (group..., pred DOUBLE, label DOUBLE) and `new_source`
    (group..., id, pred DOUBLE), both already validated the way the
    Spark entry validates."""
    conf_u = round((1.0 - alpha) * 1e6)
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    part = f"PARTITION BY {g} " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    jtot = f"JOIN tot USING ({g})" if group_cols else "CROSS JOIN tot"
    jq = f"LEFT JOIN qt USING ({g})" if group_cols else "LEFT JOIN qt ON TRUE"
    r = f"((n_cal + 1) * {conf_u} + 999999) // 1000000"
    return f"""
WITH calb AS MATERIALIZED ({cal_source}),
q AS MATERIALIZED (
  SELECT {gpfx}CAST(round(abs(label - pred) * 1000000) AS BIGINT) AS m
  FROM calb),
hist AS MATERIALIZED (
  SELECT {gpfx}m, CAST(count(*) AS BIGINT) AS c FROM q GROUP BY {gpfx}m),
cum AS MATERIALIZED (
  SELECT {gpfx}m, c,
         CAST(sum(c) OVER ({part}ORDER BY m ROWS UNBOUNDED PRECEDING) - c
              AS BIGINT) AS below
  FROM hist),
tot AS (SELECT {gpfx}CAST(sum(c) AS BIGINT) AS n_cal FROM hist {grp}),
qt AS MATERIALIZED (
  SELECT {gpfx}max(n_cal) AS n_cal,
         CAST(sum(CASE WHEN below < {r} AND below + c >= {r} THEN m END)
              AS BIGINT) AS q_u
  FROM cum {jtot} {grp}),
newr AS MATERIALIZED (
  SELECT {gpfx}CAST(id AS VARCHAR) AS id,
         CAST(round(pred * 1000000) AS BIGINT) AS p_u
  FROM ({new_source}) AS ns)
SELECT {gpfx}id,
       round(CAST(p_u AS DOUBLE) / 1e6, 6) AS pred,
       CASE WHEN q_u IS NOT NULL THEN
         round(CAST(q_u AS DOUBLE) / 1e6, 6) END AS q_hat,
       CASE WHEN q_u IS NOT NULL THEN
         round(CAST(p_u - q_u AS DOUBLE) / 1e6, 6) END AS lo,
       CASE WHEN q_u IS NOT NULL THEN
         round(CAST(p_u + q_u AS DOUBLE) / 1e6, 6) END AS hi,
       CAST(coalesce(n_cal, 0) AS BIGINT) AS n_cal
FROM newr {jq}
"""


def kaplan_meier_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
) -> str:
    """Twin of temporal.kaplan_meier: identical exact-integer at-risk
    prefix, the same micro-nat ln factors summed exactly, exp +
    round-6, and the all-die-level zero latch. `source` must yield
    (group..., dur BIGINT >= 0, ev IN (0, 1)) already validated the
    way the Spark entry validates."""
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    part = f"PARTITION BY {g} " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    jtot = f"JOIN tot USING ({g})" if group_cols else "CROSS JOIN tot"
    return f"""
WITH base AS MATERIALIZED ({source}),
hist AS MATERIALIZED (
  SELECT {gpfx}dur AS s, CAST(count(*) AS BIGINT) AS c,
         CAST(sum(ev) AS BIGINT) AS d
  FROM base GROUP BY {gpfx}dur),
cum AS MATERIALIZED (
  SELECT {gpfx}s, c, d,
         CAST(sum(c) OVER ({part}ORDER BY s ROWS UNBOUNDED PRECEDING) - c
              AS BIGINT) AS below
  FROM hist),
tot AS (SELECT {gpfx}CAST(sum(c) AS BIGINT) AS n FROM hist {grp}),
lev AS MATERIALIZED (
  SELECT {gpfx}s, n - below AS n_risk, d AS n_event, c - d AS n_censor,
         CASE WHEN n - below = d THEN NULL ELSE
           CAST(round(ln(CAST(n - below - d AS DOUBLE) /
                         CAST(n - below AS DOUBLE)) * 1e6) AS BIGINT)
         END AS lnf,
         CASE WHEN n - below = d THEN 1 ELSE 0 END AS dead
  FROM cum {jtot}
  WHERE d > 0),
c2 AS (
  SELECT {gpfx}s, n_risk, n_event, n_censor,
         sum(lnf) OVER w AS lsum, sum(dead) OVER w AS anydead
  FROM lev WINDOW w AS ({part}ORDER BY s ROWS UNBOUNDED PRECEDING))
SELECT {gpfx}s AS t, n_risk, n_event, n_censor,
       CASE WHEN anydead > 0 THEN 0.0 ELSE
         round(exp(CAST(lsum AS DOUBLE) / 1e6), 6) END AS survival
FROM c2
"""


def fs_link_scores_sql(
    source: str,
    fields: list[dict],
    lower: float = 0.0,
    upper: float = 4.0,
) -> str:
    """Twin of linkage.fs_link_scores: the SAME driver-side micro-nat
    weight literals (computed by the operator's validator so they
    cannot desync), exact BIGINT sum, exact integer decisions.
    `source` must yield (id_a, id_b, <field col_a/col_b columns>)."""
    from .operators.linkage import _validate_fields

    class _Any(set):
        def __contains__(self, item):  # twin trusts the source columns
            return True

    specs = _validate_fields(fields, _Any())
    lo_u = round(lower * 1e6)
    hi_u = round(upper * 1e6)
    ag_cols = []
    score_terms = []
    for s in specs:
        a, b = s["col_a"], s["col_b"]
        ag = (
            f"CASE WHEN {a} IS NULL OR {b} IS NULL THEN 0 "
            f"WHEN {a} = {b} THEN 1 ELSE -1 END"
        )
        ag_cols.append(f"CAST({ag} AS BIGINT) AS agree_{s['name']}")
        score_terms.append(
            f"CASE WHEN ({ag}) = 1 THEN {s['wa']} "
            f"WHEN ({ag}) = -1 THEN {s['wd']} ELSE 0 END"
        )
    su = " + ".join(f"({t})" for t in score_terms)
    return f"""
WITH base AS MATERIALIZED ({source}),
st AS (
  SELECT id_a, id_b, {", ".join(ag_cols)},
         CAST({su} AS BIGINT) AS su
  FROM base)
SELECT id_a, id_b, {", ".join(f"agree_{s['name']}" for s in specs)},
       round(CAST(su AS DOUBLE) / 1e6, 6) AS score,
       CASE WHEN su >= {hi_u} THEN 'link'
            WHEN su <= {lo_u} THEN 'non_link'
            ELSE 'possible' END AS decision
FROM st
"""


def skew_profile_sql(
    source: str,
    n_keys: int = 1,
    top_k: int = 20,
) -> str:
    """Twin of skew.skew_profile: the same '__null__'-coalesced
    '|'-joined key, exact counts, (count DESC, key ASC) top-k, exact
    integer cumulative counts divided once, and the same micro-rounded
    share/avg/hot_ratio chain. `source` must yield key columns named
    k0..k{n-1} in their original types — which, per the operator's
    fail-loud contract, are string/integer/boolean/date only (CAST AS
    VARCHAR on float/double/timestamp diverges between Java and
    DuckDB rendering; pre-render such keys via SAMPLE_KEY)."""
    key = " || '|' || ".join(
        f"coalesce(CAST(k{i} AS VARCHAR), '__null__')"
        for i in range(n_keys)
    )

    def rnd(e):
        return f"CAST(CAST(round(({e}) * 1e6) AS BIGINT) AS DOUBLE) / 1e6"

    avg = "(CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE))"
    return f"""
WITH base AS MATERIALIZED ({source}),
counts AS MATERIALIZED (
  SELECT {key} AS k, CAST(count(*) AS BIGINT) AS c
  FROM base GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_keys FROM counts),
top AS MATERIALIZED (
  SELECT k, c FROM counts ORDER BY c DESC, k ASC LIMIT {int(top_k)}),
ranked AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY c DESC, k ASC) AS BIGINT)
           AS rank,
         k AS key, c AS cnt,
         CAST(sum(c) OVER (ORDER BY c DESC, k ASC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(max(c) OVER () AS BIGINT) AS top1
  FROM top)
SELECT rank, key, cnt,
       {rnd("CAST(cnt AS DOUBLE) / CAST(n_rows AS DOUBLE)")} AS share,
       {rnd("CAST(cum AS DOUBLE) / CAST(n_rows AS DOUBLE)")} AS cum_share,
       n_rows, n_keys,
       {rnd(avg)} AS avg_per_key,
       {rnd(f"CAST(top1 AS DOUBLE) / {avg}")} AS hot_ratio
FROM ranked CROSS JOIN tot
"""


def golden_records_sql(
    source: str,
    field_cols: tuple[str, ...],
) -> str:
    """Twin of linkage.golden_records: the same melted per-field
    non-NULL value counts, (count DESC, value ASC) election,
    (rank DESC NULLS LAST, id ASC) representative, and
    conditional-aggregation pivot. `source` must yield (cluster
    VARCHAR, id VARCHAR, rk DOUBLE, <field> VARCHAR ...) already
    validated/cast the way the Spark entry validates."""
    if not field_cols:
        raise ValueError("golden_records_sql: field_cols required")
    melt = " UNION ALL ".join(
        f"SELECT cluster, '{c}' AS field, {c} AS value FROM base"
        for c in field_cols
    )
    piv_defs = ", ".join(
        f"max(CASE WHEN field = '{c}' THEN value END) AS win_{c}, "
        f"CAST(coalesce(max(CASE WHEN field = '{c}' THEN cnt END), 0) "
        f"AS BIGINT) AS sup_{c}"
        for c in field_cols
    )
    outs = ", ".join(
        f"win_{c} AS {c}, CAST(coalesce(sup_{c}, 0) AS BIGINT) "
        f"AS {c}_support"
        for c in field_cols
    )
    return f"""
WITH base AS MATERIALIZED ({source}),
melted AS MATERIALIZED ({melt}),
counts AS MATERIALIZED (
  SELECT cluster, field, value, CAST(count(*) AS BIGINT) AS cnt
  FROM melted WHERE value IS NOT NULL
  GROUP BY cluster, field, value),
winners AS MATERIALIZED (
  SELECT cluster, field, value, cnt FROM (
    SELECT cluster, field, value, cnt,
           row_number() OVER (PARTITION BY cluster, field
                              ORDER BY cnt DESC, value ASC) AS rn
    FROM counts) w WHERE rn = 1),
piv AS MATERIALIZED (
  SELECT cluster, {piv_defs} FROM winners GROUP BY cluster),
members AS MATERIALIZED (
  SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
         max(CASE WHEN rn = 1 THEN id END) AS canon_id
  FROM (SELECT cluster, id,
               row_number() OVER (PARTITION BY cluster
                 ORDER BY rk DESC NULLS LAST, id ASC) AS rn
        FROM base) m GROUP BY cluster)
SELECT members.cluster, n_members, canon_id, {outs}
FROM members LEFT JOIN piv USING (cluster)
"""


def ref_integrity_sql(
    child_source: str,
    parent_source: str,
    n_keys: int = 1,
) -> str:
    """Twin of checks.ref_integrity: the same key histograms, one
    full-outer histogram join, exact counts and scale-0 micro-rounded
    rates. Both sources must yield key columns named k0..k{n-1} in
    their ORIGINAL types."""
    ks = ", ".join(f"k{i}" for i in range(n_keys))
    nulls = " OR ".join(f"k{i} IS NULL" for i in range(n_keys))

    def rate(num, den):
        return (
            f"CASE WHEN {den} > 0 THEN CAST(CAST(round(CAST({num} AS DOUBLE)"
            f" / CAST({den} AS DOUBLE) * 1e6) AS BIGINT) AS DOUBLE) / 1e6 END"
        )

    return f"""
WITH c AS MATERIALIZED ({child_source}),
p AS MATERIALIZED ({parent_source}),
ct AS (SELECT CAST(count(*) AS BIGINT) AS n_child,
              CAST(coalesce(sum(CASE WHEN {nulls} THEN 1 ELSE 0 END), 0)
                   AS BIGINT) AS n_child_null_key FROM c),
pt AS (SELECT CAST(count(*) AS BIGINT) AS n_parent,
              CAST(coalesce(sum(CASE WHEN {nulls} THEN 1 ELSE 0 END), 0)
                   AS BIGINT) AS n_parent_null_key FROM p),
ck AS MATERIALIZED (
  SELECT {ks}, CAST(count(*) AS BIGINT) AS cc
  FROM c WHERE NOT ({nulls}) GROUP BY {ks}),
pk AS MATERIALIZED (
  SELECT {ks}, CAST(count(*) AS BIGINT) AS pc
  FROM p WHERE NOT ({nulls}) GROUP BY {ks}),
j AS (SELECT coalesce(cc, 0) AS cc, coalesce(pc, 0) AS pc
      FROM ck FULL OUTER JOIN pk USING ({ks})),
ag AS (SELECT
  CAST(coalesce(sum(CASE WHEN pc = 0 THEN cc END), 0) AS BIGINT)
    AS n_orphan,
  CAST(coalesce(sum(CASE WHEN pc > 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
    AS n_parent_keys,
  CAST(coalesce(sum(CASE WHEN pc > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
    AS n_parent_dup_keys,
  CAST(coalesce(sum(CASE WHEN pc > 0 THEN pc - 1 END), 0) AS BIGINT)
    AS n_parent_extra_rows,
  CAST(coalesce(sum(CASE WHEN pc > 0 AND cc = 0 THEN 1 ELSE 0 END), 0)
       AS BIGINT) AS n_parent_unreferenced
  FROM j)
SELECT n_child, n_child_null_key, n_orphan,
       {rate('n_orphan', '(n_child - n_child_null_key)')} AS orphan_rate,
       n_parent, n_parent_null_key, n_parent_keys, n_parent_dup_keys,
       n_parent_extra_rows, n_parent_unreferenced,
       {rate('(n_parent_keys - n_parent_unreferenced)', 'n_parent_keys')}
         AS ref_coverage
FROM ct CROSS JOIN pt CROSS JOIN ag
"""


def negative_samples_sql(
    source: str,
    k: int = 4,
    seed: str = "neg0",
) -> str:
    """Twin of sampling.negative_samples: the same epoch_shuffle
    order key (H32 of seed|order:id, ties by typed id), dense
    position via one window (the bucketed two-phase rank is
    order-preserving, so the plain window is the reference form),
    the same H32 draw -> mod n -> self-collision step -> position
    join -> self-pair filter. `source` must yield (id) in its
    original type, NULL-free."""
    s = seed.replace("'", "''")
    key = H32.format(x=f"('{s}|order:' || CAST(id AS VARCHAR))")
    draw = H32.format(
        x=f"('{s}:' || CAST(p.id AS VARCHAR) || '|neg|' || CAST(j AS VARCHAR))"
    )
    return f"""
WITH base AS MATERIALIZED ({source}),
pos AS MATERIALIZED (
  SELECT CAST(id AS VARCHAR) AS sid,
         CAST(row_number() OVER (ORDER BY {key}, id) - 1 AS BIGINT)
           AS pos
  FROM base),
n_t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pos),
probes AS MATERIALIZED (
  SELECT p.id AS id_a, CAST(j AS BIGINT) AS draw,
         ({draw} % n + CASE WHEN ({draw} % n) = p.pos THEN 1 ELSE 0 END)
           % n AS t2
  FROM (SELECT sid AS id, pos FROM pos) p
  CROSS JOIN n_t
  CROSS JOIN (SELECT unnest(generate_series(1, {int(k)})) AS j) js)
SELECT pr.id_a, q.sid AS id_b, pr.draw
FROM probes pr JOIN pos q ON q.pos = pr.t2
WHERE q.sid <> pr.id_a
"""


def dp_counts_sql(
    source: str,
    group_cols: tuple[str, ...],
    epsilon: float = 1.0,
    salt: str = "",
) -> str:
    """Twin of checks.dp_counts: the same exact group counts, the same
    portable-hash uniform draw of salt ':' group-values, and the same
    truncated two-sided-geometric inverse-CDF — thresholds imported
    from the operator's OWN dp_geometric_thresholds so the literals
    cannot desync. `source` must yield (group...) already validated
    the way the Spark entry validates. The salt guard mirrors the
    operator's keyed-PRF contract (required, never 'release0')."""
    if not salt or salt == "release0":
        raise ValueError(
            "dp_counts_sql: salt is required and must not be the "
            "historical default constant 'release0' (mirror of the "
            "operator's keyed-PRF guard)"
        )
    from .operators.checks import dp_geometric_thresholds

    k_trunc, thresholds = dp_geometric_thresholds(epsilon)
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    parts = ", ".join(
        ["'" + salt.replace("'", "''") + ":'"]
        + [f"CAST({c} AS VARCHAR)" for c in group_cols]
    )
    u = H32.format(x=f"concat_ws('|', {parts})")
    noise = f"(-{k_trunc} + " + " + ".join(
        f"(CASE WHEN u >= {t} THEN 1 ELSE 0 END)" for t in thresholds
    ) + ")"
    return f"""
WITH base AS MATERIALIZED ({source}),
counts AS MATERIALIZED (
  SELECT {gpfx}CAST(count(*) AS BIGINT) AS n, {u} AS u
  FROM base {grp})
SELECT {gpfx}CAST(n + {noise} AS BIGINT) AS n_noisy,
       CAST({float(epsilon)!r} AS DOUBLE) AS epsilon
FROM counts
"""


def sorted_neighborhood_sql(
    source: str,
    block_cols: tuple[str, ...],
    window: int = 3,
) -> str:
    """Twin of linkage.sorted_neighborhood: the same (key,
    id-as-string) total order per block and the same {1 <= rank(b) -
    rank(a) <= window} pair set — realized as row_number + a
    rank-distance self-join (the reference formulation; the Spark
    operator produces the identical set via lead() with zero joins).
    `source` must yield (block..., id, k) already validated the way
    the Spark entry validates."""
    if not block_cols:
        raise ValueError("sorted_neighborhood_sql: block_cols required")
    g = ", ".join(block_cols)
    ga = ", ".join(f"a.{c}" for c in block_cols)
    jon = " AND ".join(f"a.{c} = b.{c}" for c in block_cols)
    return f"""
WITH base AS MATERIALIZED ({source}),
q AS MATERIALIZED (
  SELECT {g}, CAST(id AS VARCHAR) AS id, k,
         row_number() OVER (
           PARTITION BY {g} ORDER BY k, CAST(id AS VARCHAR)) AS rn
  FROM base)
SELECT {ga}, a.id AS id_a, b.id AS id_b,
       a.k AS key_a, b.k AS key_b,
       CAST(b.rn - a.rn AS BIGINT) AS dist
FROM q a JOIN q b ON {jon}
  AND b.rn - a.rn BETWEEN 1 AND {int(window)}
"""


def benford_test_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
) -> str:
    """Twin of checks.benford_test: identical string-rendered
    first-digit extraction from the micro BIGINT, the same driver-side
    expected-probability literals in the same left-fold order, round-6
    chi2/mad, the same integer micro conformity bands. `source` must
    yield (group..., v DOUBLE positive) already validated the way the
    Spark entry validates."""
    import math

    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""
    probs = {d: math.log10(1 + 1 / d) for d in range(1, 10)}
    csel = ", ".join(
        f"CAST(coalesce(sum(CASE WHEN d = '{d}' THEN c END), 0) AS BIGINT)"
        f" AS c{d}"
        for d in range(1, 10)
    )
    outs = ", ".join(
        f"round(CAST(c{d} AS DOUBLE) / CAST(n AS DOUBLE), 6) AS d{d}"
        for d in range(1, 10)
    )
    chi = " + ".join(
        f"((CAST(c{d} AS DOUBLE) - CAST(n AS DOUBLE) * CAST({probs[d]!r} AS DOUBLE))"
        f" * (CAST(c{d} AS DOUBLE) - CAST(n AS DOUBLE) * CAST({probs[d]!r} AS DOUBLE))"
        f" / (CAST(n AS DOUBLE) * CAST({probs[d]!r} AS DOUBLE)))"
        for d in range(1, 10)
    )
    mad = " + ".join(
        f"abs(CAST(c{d} AS DOUBLE) / CAST(n AS DOUBLE) - "
        f"CAST({probs[d]!r} AS DOUBLE))"
        for d in range(1, 10)
    )
    mr = f"round(({mad}) / 9.0, 6)"
    mu = f"CAST(round({mr} * 1e6) AS BIGINT)"
    return f"""
WITH base AS MATERIALIZED ({source}),
q AS MATERIALIZED (
  SELECT {gpfx}substr(CAST(CAST(round(v * 1000000) AS BIGINT) AS VARCHAR),
                      1, 1) AS d
  FROM base),
per AS MATERIALIZED (
  SELECT {gpfx}d, CAST(count(*) AS BIGINT) AS c FROM q GROUP BY {gpfx}d),
agg AS (
  SELECT {gpfx}CAST(sum(c) AS BIGINT) AS n, {csel} FROM per {grp})
SELECT {gpfx}n, {outs},
       round({chi}, 6) AS chi2,
       {mr} AS mad,
       CASE WHEN {mu} < 6000 THEN 'close'
            WHEN {mu} < 12000 THEN 'acceptable'
            WHEN {mu} < 15000 THEN 'marginal'
            ELSE 'nonconforming' END AS conformity
FROM agg
WHERE n IS NOT NULL
"""


def ate_ipw_sql(
    source: str,
    group_cols: tuple[str, ...] = (),
    trim: float = 0.0,
) -> str:
    """Twin of causal.ate_ipw: identical micro quantization, the same
    single correctly-rounded weight division, HUGEINT weighted sums,
    exact trim comparison, round-6 means and ate. `source` must yield
    (group..., y DOUBLE, t IN (0, 1), e DOUBLE in (0, 1)) already
    validated the way the Spark entry validates."""
    t_u = round(trim * 1e6)
    g = ", ".join(group_cols)
    gpfx = f"{g}, " if group_cols else ""
    grp = f"GROUP BY {g}" if group_cols else ""

    def arm(t: int, tag: str) -> str:
        m = f"t = {t} AND k"
        return (
            f"CAST(coalesce(sum(CAST(({m}) AS BIGINT)), 0) AS BIGINT)"
            f" AS n_{tag}, "
            f"sum(CASE WHEN {m} THEN CAST(w AS HUGEINT) END) AS w{tag}, "
            f"sum(CASE WHEN {m} THEN CAST(w AS HUGEINT) * y END)"
            f" AS wy{tag}, "
            f"sum(CASE WHEN {m} THEN CAST(w AS HUGEINT) * w END)"
            f" AS ww{tag}"
        )

    def mu(tag: str) -> str:
        return (
            f"CASE WHEN n_{tag} > 0 THEN "
            f"round(CAST(wy{tag} AS DOUBLE) / CAST(w{tag} AS DOUBLE)"
            f" / 1e6, 6) END"
        )

    def ess(tag: str) -> str:
        return (
            f"CASE WHEN n_{tag} > 0 THEN "
            f"round(CAST(w{tag} * w{tag} AS DOUBLE) / "
            f"CAST(ww{tag} AS DOUBLE), 6) END"
        )

    return f"""
WITH base AS MATERIALIZED ({source}),
q AS MATERIALIZED (
  SELECT {gpfx}CAST(round(y * 1000000) AS BIGINT) AS y, t,
         CAST(round(e * 1000000) AS BIGINT) >= {t_u}
           AND CAST(round(e * 1000000) AS BIGINT) <= {1_000_000 - t_u}
           AS k,
         CAST(round(1e6 / (CASE WHEN t = 1 THEN e ELSE 1.0 - e END))
              AS BIGINT) AS w
  FROM base),
agg AS (
  SELECT {gpfx}{arm(1, "t")}, {arm(0, "c")},
         CAST(coalesce(sum(CAST((NOT k) AS BIGINT)), 0) AS BIGINT)
           AS n_trimmed
  FROM q {grp})
SELECT {gpfx}n_t, n_c, n_trimmed,
       {mu("t")} AS mu_t,
       {mu("c")} AS mu_c,
       CASE WHEN n_t > 0 AND n_c > 0 THEN
         round(({mu("t")}) - ({mu("c")}), 6) END AS ate,
       {ess("t")} AS ess_t,
       {ess("c")} AS ess_c
FROM agg
WHERE n_t + n_c + n_trimmed > 0
"""


def readability_sql(table: str = "documents") -> str:
    """Twin of functions/text.readability_metrics applied per doc:
    identical nonempty-word count, space-and-ASCII-punctuation-
    stripped char count (the shared ARI_STRIP set, per-code-point
    translate on both engines — ARI counts letters and digits, not
    punctuation), maximal-[.!?]-run sentence count floored at 1, and
    the same fixed-order ARI expression (constants CAST AS DOUBLE —
    a bare DuckDB decimal literal would run DECIMAL arithmetic)."""
    from .functions.text import ARI_STRIP

    strip = ARI_STRIP.replace("'", "''")
    nw = (
        "CAST(len(list_filter(string_split(coalesce(text, ''), ' '), "
        "x -> x <> '')) AS BIGINT)"
    )
    nc = (
        "CAST(len(translate(coalesce(text, ''), "
        f"'{strip}', '')) AS BIGINT)"
    )
    ns = (
        "greatest(CAST(1 AS BIGINT), CAST(len(regexp_extract_all("
        "coalesce(text, ''), '[.!?]+')) AS BIGINT))"
    )
    return f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, {nw} AS n_words, {nc} AS n_letter_chars, {ns} AS n_sentences
  FROM {table} WHERE doc_id IS NOT NULL)
SELECT doc_id, n_words, n_letter_chars, n_sentences,
       CASE WHEN n_words > 0 THEN
         CAST(CAST(round((CAST('4.71' AS DOUBLE) *
                 (CAST(n_letter_chars AS DOUBLE) / CAST(n_words AS DOUBLE))
               + CAST('0.5' AS DOUBLE) *
                 (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
               - CAST('21.43' AS DOUBLE)) * 1e6) AS BIGINT) AS DOUBLE) / 1e6
       END AS ari
FROM base
"""
