"""A12-A15 doc-level aggregate parity vs the numpy oracle."""

from __future__ import annotations

import numpy as np
import pytest

from audiopro_essentia_spark import oracle
from audiopro_essentia_spark.operators.aggregates import (
    exact_median_expr,
    reject_reason_col,
    with_doc_stats,
)

KEYS = (
    "peak_amplitude",
    "rms_amplitude",
    "dynamic_range_db",
    "dc_offset",
    "silence_ratio",
    "potentially_clipped",
    "signal_energy",
)


def test_doc_stats_parity(spark, tiny_seqs, tiny_table):
    got = {r.doc_id: r for r in with_doc_stats(tiny_seqs).collect()}
    tbl = tiny_table.to_pydict()
    for doc_id, toks in zip(tbl["doc_id"], tbl["tokens"]):
        if len(toks) == 0:
            continue
        exp = oracle.doc_stats(np.asarray(toks, dtype=np.int64))
        row = got[doc_id]
        for k in KEYS:
            assert np.allclose(getattr(row, k), exp[k], rtol=1e-9, atol=1e-12), (
                doc_id,
                k,
                getattr(row, k),
                exp[k],
            )


def test_clipping_doc(spark, tiny_seqs):
    """Constant 32767 tokens: |x| = 32767/32768 > 0.99 -> every sample
    potentially clipped (metadata.py:76-77)."""
    row = with_doc_stats(tiny_seqs).filter("doc_id = 'doc000101'").collect()[0]
    assert row.potentially_clipped == row.n_tok == 4096
    assert row.silence_ratio == 0.0


def test_quarantine_reasons(spark, tiny_seqs, tiny_table):
    reasons = {
        r.doc_id: r.reject_reason
        for r in tiny_seqs.select(
            "doc_id", reject_reason_col().alias("reject_reason")
        ).collect()
    }
    tbl = tiny_table.to_pydict()
    assert set(reasons) == set(tbl["doc_id"])
    for doc_id, toks in zip(tbl["doc_id"], tbl["tokens"]):
        exp = oracle.reject_reason(np.asarray(toks, dtype=np.int64))
        assert reasons[doc_id] == exp, (doc_id, reasons[doc_id], exp)


@pytest.mark.parametrize(
    "vals",
    [[1.0], [1.0, 2.0], [3.0, 1.0, 2.0], [4.0, 1.0, 3.0, 2.0], list(range(101))],
)
def test_exact_median_matches_numpy(spark, vals):
    from pyspark.sql import functions as F

    df = spark.range(1).select(
        F.array(*[F.lit(float(v)) for v in vals]).alias("a")
    )
    got = df.select(exact_median_expr(F.col("a")).alias("m")).collect()[0].m
    assert got == pytest.approx(float(np.median(vals)))


def test_tempo_expr_matches_oracle(spark):
    from pyspark.sql import functions as F
    from audiopro_essentia_spark.operators.aggregates import (
        tempo_from_boundaries_expr,
    )

    cases = [
        [],
        [5.0],
        [0.0, 0.5, 1.0, 1.5],          # uniform: tempo = 120
        [0.0, 0.4, 1.0, 1.3, 2.2],     # irregular
    ]
    for b in cases:
        df = spark.range(1).select(
            F.array(*[F.lit(float(v)) for v in b]).alias("b")
        )
        got = df.select(tempo_from_boundaries_expr(F.col("b")).alias("t")).collect()[0].t
        assert got == pytest.approx(oracle.tempo_from_boundaries(np.array(b))), b


def test_corpus_percentiles_exact_vs_approx(spark):
    from audiopro_essentia_spark.operators.aggregates import corpus_percentiles

    rows = [(f"s{i % 3}", float(i)) for i in range(3000)]
    df = spark.createDataFrame(rows, "source string, n_chars double")
    exact = {r.source: r for r in corpus_percentiles(df).collect()}
    approx = {
        r.source: r for r in corpus_percentiles(df, exact=False).collect()
    }
    assert set(exact) == {"s0", "s1", "s2"} and set(approx) == set(exact)
    for s in exact:
        assert exact[s].n_docs == 1000
        # t-digest at accuracy 10000 on 1000 values: near-exact ranks
        for p in ("p50", "p90", "p99"):
            assert abs(getattr(exact[s], p) - getattr(approx[s], p)) <= 30.0


def test_trimmed_stats_matches_monitor_semantics(spark):
    """±2σ trim per group must reproduce PerformanceMonitor.summary's
    python-scalar semantics (mean/σ_pop, keep |v-m|<=2σ, avg/peak of kept),
    including the degenerate all-equal group (σ=0 keeps every row)."""
    from audiopro_essentia_spark.operators.aggregates import trimmed_stats

    groups = {
        # one wild outlier that must be trimmed
        "a": [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 1000.0],
        # degenerate: all equal -> sd=0 branch keeps all
        "b": [5.0] * 6,
        "c": [float(i) for i in range(50)],
        # ulp trap: avg(0.1*3) = 0.10000000000000002 != 0.1 while
        # stddev_pop is exactly 0 — without the explicit sd=0 branch the
        # whole group would vanish
        "d": [0.1, 0.1, 0.1],
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "event_type string, value double")
    got = {
        r.event_type: r
        for r in trimmed_stats(df, "event_type", "value").collect()
    }

    for g, vs in groups.items():
        m = sum(vs) / len(vs)
        sd = (sum((v - m) ** 2 for v in vs) / len(vs)) ** 0.5
        kept = [v for v in vs if abs(v - m) <= 2 * sd] or vs
        r = got[g]
        assert r.n_samples == len(vs)
        assert r.n_kept == len(kept)
        assert r.avg_value == pytest.approx(sum(kept) / len(kept), abs=1e-6)
        assert r.peak_value == pytest.approx(max(kept), abs=1e-6)
    assert got["a"].n_kept == 9 and got["a"].peak_value == 11.0
    assert got["b"].n_kept == 6
    assert got["d"].n_kept == 3  # sd=0 branch, not dropped-by-ulp


def test_source_drift_psi_hand_computed(spark):
    """PSI vs rest-of-corpus on a planted 2-group drift + a NULL group;
    every number re-derived by a pure-python fold in the test."""
    import math

    from audiopro_essentia_spark.operators.aggregates import source_drift_psi

    rows = (
        [("a", 50)] * 6 + [("a", 150)] * 2        # a: heavy bucket 0
        + [("b", 150)] * 5 + [("b", 250)] * 3     # b: buckets 1-2
        + [(None, 50)] * 4                        # NULL group -> '__null__'
    )
    df = spark.createDataFrame(rows, ["source", "n_chars"])
    got = {
        r.source: r.psi
        for r in source_drift_psi(df, bucket_width=100, n_buckets=4).collect()
    }

    def psi(grp):
        eps = 1e-6
        key = grp if grp is not None else "__null__"
        cnt = {b: 0 for b in range(4)}
        rest = {b: 0 for b in range(4)}
        for g, v in rows:
            b = min(v // 100, 3)
            gk = g if g is not None else "__null__"
            (cnt if gk == key else rest)[b] += 1
        n, m = sum(cnt.values()), sum(rest.values())
        out = 0.0
        for b in range(4):
            p = max(cnt[b] / n, eps)
            q = eps if m == 0 else max(rest[b] / m, eps)
            out += (p - q) * math.log(p / q)
        return round(out, 6)

    assert set(got) == {"a", "b", "__null__"}
    for g in ("a", "b", None):
        key = g if g is not None else "__null__"
        assert got[key] == pytest.approx(psi(g), abs=2e-6), key
    # identical distributions drift ~0: group vs a rest that mirrors it
    same = spark.createDataFrame(
        [("x", 50)] * 5 + [("x", 150)] * 5 + [("y", 50)] * 5 + [("y", 150)] * 5,
        ["source", "n_chars"],
    )
    for r in source_drift_psi(same, bucket_width=100, n_buckets=4).collect():
        assert abs(r.psi) < 1e-9
    # single-group corpus: rest is empty -> q = eps everywhere, PSI huge
    solo = spark.createDataFrame([("only", 50)] * 3, ["source", "n_chars"])
    (r,) = source_drift_psi(solo, bucket_width=100, n_buckets=2).collect()
    assert r.psi > 10  # p=1 vs q=1e-6 dominates
