"""The fused mapInArrow kernel — the one way into the feature kernel —
against the numpy oracle, frame_tokens' timestamps and the doc profile."""

from __future__ import annotations

import numpy as np
import pytest

from audiopro_essentia_spark import oracle
from audiopro_essentia_spark.operators.fused import (
    fused_frame_features,
    nest_frequency_bands,
)

SCALARS = (
    "rms",
    "volume",
    "zero_crossing_rate",
    "spectral_centroid",
    "spectral_bandwidth",
    "spectral_flatness",
    "spectral_rolloff",
)


@pytest.fixture(scope="module")
def fused_rows(spark, tiny_seqs):
    df = nest_frequency_bands(fused_frame_features(tiny_seqs))
    return df.orderBy("doc_id", "frame_idx").collect()


def test_fused_full_oracle_parity(fused_rows, tiny_table):
    exp_map = {}
    tbl = tiny_table.to_pydict()
    for doc_id, toks in zip(tbl["doc_id"], tbl["tokens"]):
        wins = oracle.frame_windows(np.asarray(toks, dtype=np.int32))
        for i, w in enumerate(wins):
            exp_map[(doc_id, i)] = oracle.frame_features(w)
    assert len(fused_rows) == len(exp_map) > 100
    for row in fused_rows:
        exp = exp_map[(row.doc_id, row.frame_idx)]
        if exp is None:
            assert row.ferror is not None
            continue
        assert row.ferror is None
        for k in SCALARS:
            assert np.allclose(getattr(row, k), exp[k], rtol=1e-5, atol=1e-8), (
                k, row.doc_id, row.frame_idx,
            )
        assert np.allclose(row.mfcc, exp["mfcc"], rtol=1e-5, atol=1e-8)
        assert np.allclose(row.chroma, exp["chroma"], rtol=1e-3, atol=1e-6)
        got_fb = row.frequency_bands.asDict()
        for b, v in exp["frequency_bands"].items():
            assert np.allclose(got_fb[b], v, rtol=1e-5, atol=1e-8)
        assert row.time_ms == pytest.approx(oracle.frame_time_ms(row.frame_idx))


def test_fused_timestamps_match_framing_path(spark, tiny_seqs):
    from audiopro_essentia_spark.operators.framing import frame_tokens

    fused = {
        (r.doc_id, r.frame_idx): (r.event_ts, r.available_ts)
        for r in fused_frame_features(
            tiny_seqs, features=("rms",)
        ).collect()
    }
    framed = {
        (r.doc_id, r.frame_idx): (r.event_ts, r.available_ts)
        for r in frame_tokens(tiny_seqs, with_window=False).collect()
    }
    assert fused.keys() == framed.keys()
    for k, v in framed.items():
        assert fused[k] == v, k


def test_fused_feature_pushdown(spark, tiny_seqs):
    """P1/P2: only requested features appear; no spectral work requested ->
    no spectrum columns (analog of needs_spectrum, processors.py:190-194)."""
    df = fused_frame_features(tiny_seqs, features=("rms", "volume"))
    assert "rms" in df.columns and "volume" in df.columns
    assert "spectral_centroid" not in df.columns
    assert "mfcc" not in df.columns
    rows = df.collect()
    assert len(rows) > 100
    assert all(r.rms is not None for r in rows)


def test_fused_doc_id_keeps_input_type(spark):
    """doc_id's output type is the input's (bigint driver ids need no
    cast round trip); a NULL id still emits its own frames."""
    df = spark.createDataFrame(
        [(1, list(range(64))), (None, list(range(64)))],
        "doc_id bigint, tokens array<int>",
    )
    out = fused_frame_features(df, features=("rms",), frame_length=16, hop=8)
    assert out.schema["doc_id"].dataType.simpleString() == "bigint"
    ids = [r.doc_id for r in out.collect()]
    assert ids.count(1) == ids.count(None) == 7


def test_fused_timestamps_half_up_on_exact_ties(spark):
    """Power-of-two sample rate makes start*1e6/sr land on exact .5 µs
    ties; both paths must round HALF_UP identically (np.round would
    banker's-round and diverge by 1 µs)."""
    import pandas as pd
    import pyarrow as pa

    from audiopro_essentia_spark.operators.framing import frame_tokens

    tbl = pa.table(
        {
            "doc_id": ["tie"],
            "tokens": [list(range(64))],
            "base_ts": [pd.Timestamp("2024-01-01")],
        }
    )
    df = spark.createDataFrame(tbl.to_pandas())
    kw = dict(frame_length=8, hop=3, sample_rate=128)  # 1e6/128 = 7812.5
    fused = {
        r.frame_idx: (r.event_ts, r.available_ts)
        for r in fused_frame_features(df, features=("rms",), **kw).collect()
    }
    framed = {
        r.frame_idx: (r.event_ts, r.available_ts)
        for r in frame_tokens(
            df, with_window=False, carry_cols=(), **kw
        ).collect()
    }
    assert fused == framed and len(fused) > 10


def test_fused_null_base_ts_yields_null_timestamps(spark):
    import pandas as pd
    import pyarrow as pa

    tbl = pa.table(
        {
            "doc_id": ["a", "b"],
            "tokens": [list(range(32)), list(range(32))],
            "base_ts": [pd.Timestamp("2024-01-01"), None],
        }
    )
    df = spark.createDataFrame(tbl.to_pandas())
    rows = fused_frame_features(
        df, features=("rms",), frame_length=8, hop=4
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.event_ts, r.available_ts))
    assert all(e is not None and a is not None for e, a in by_doc["a"])
    assert all(e is None and a is None for e, a in by_doc["b"])


def test_analyze_sequences_frame_doc_stats_match_doc_metadata(spark, tmp_path):
    """J2 against its reference, the doc profile: every frame carries its
    doc's doc_metadata rms_amplitude / dynamic_range_db (what the
    reference's broadcast join attaches), with the doc stats as the last
    columns, after frequency_bands."""
    import pyarrow.parquet as pq

    from audiopro_essentia_spark.constants import ALL_FRAME_FEATURES
    from audiopro_essentia_spark.fixtures import make_sequences
    from audiopro_essentia_spark.plans.pipeline import analyze_sequences

    p = str(tmp_path / "seqs.parquet")
    pq.write_table(make_sequences(profile="tiny"), p)

    res = analyze_sequences(spark, p, repartition_output=False)
    ff = res["frame_features"]
    assert ff.columns == [
        "doc_id", "frame_idx", "time_ms", "event_ts", "available_ts",
        *[f for f in ALL_FRAME_FEATURES if f != "frequency_bands"],
        "ferror", "frequency_bands", "rms_amplitude", "dynamic_range_db",
    ]
    meta = {
        r.doc_id: (r.rms_amplitude, r.dynamic_range_db)
        for r in res["doc_metadata"].collect()
    }
    rows = ff.select("doc_id", "rms_amplitude", "dynamic_range_db").collect()
    assert len(rows) > 100
    assert {r.doc_id for r in rows} == set(meta)
    for r in rows:
        assert r.rms_amplitude is not None, r.doc_id
        assert (r.rms_amplitude, r.dynamic_range_db) == meta[r.doc_id], r.doc_id


def _write_seqs(path, docs):
    """docs: (doc_id, token list or None) pairs -> a sequences parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({
            "doc_id": pa.array([d for d, _ in docs], pa.string()),
            "tokens": pa.array([t for _, t in docs], pa.list_(pa.int32())),
            "n_tok": pa.array([len(t or ()) for _, t in docs], pa.int32()),
            "source": pa.array(["wiki"] * len(docs), pa.string()),
        }),
        path,
    )


def test_analyze_sequences_nonfinite_doc_has_no_doc_stats(spark, tmp_path):
    """A NULL token element makes the doc 'nonfinite': it is still framed
    (the frames covering the NULL tagged ferror='nonfinite_frame'), but
    it is not an accepted doc, so none of its frames carries doc stats —
    the left-join miss the in-kernel enrichment must reproduce."""
    from audiopro_essentia_spark.plans.pipeline import analyze_sequences

    rng = np.random.default_rng(3)
    bad = rng.integers(-30000, 30000, 4096).tolist()
    bad[1000] = None  # inside frames 0 (0-2047) and 1 (512-2559)
    p = str(tmp_path / "seqs.parquet")
    _write_seqs(p, [("bad", bad), ("ok", rng.integers(-30000, 30000, 4096).tolist())])

    res = analyze_sequences(spark, p, repartition_output=False)
    rows = res["frame_features"].collect()
    bad_rows = {r.frame_idx: r for r in rows if r.doc_id == "bad"}
    assert sorted(bad_rows) == list(range(5))
    for i, r in bad_rows.items():
        assert r.ferror == ("nonfinite_frame" if i < 2 else None), i
        assert r.rms_amplitude is None and r.dynamic_range_db is None, i
    meta = res["doc_metadata"].filter("doc_id = 'ok'").collect()[0]
    ok_rows = [r for r in rows if r.doc_id == "ok"]
    assert len(ok_rows) == 5
    for r in ok_rows:
        assert r.ferror is None
        assert (r.rms_amplitude, r.dynamic_range_db) == (
            meta.rms_amplitude, meta.dynamic_range_db,
        )
    q = {r.doc_id: r.reject_reason for r in res["quarantine"].collect()}
    assert q == {"bad": "nonfinite"}


def test_analyze_sequences_duplicate_doc_id_not_fanned_out(spark, tmp_path):
    """A doc_id that appears k times emits each input row's own frames
    once: a join to k doc_meta rows used to emit k^2 x its frames."""
    from audiopro_essentia_spark.plans.pipeline import analyze_sequences

    rng = np.random.default_rng(5)
    docs = [
        ("dup", rng.integers(-30000, 30000, 4096).tolist()),
        ("dup", rng.integers(-30000, 30000, 3001).tolist()),
        ("dup", rng.integers(-30000, 30000, 6000).tolist()),
        ("dup", [0] * 4096),  # low_energy: quarantined, no frames
        ("ok", rng.integers(-30000, 30000, 2048).tolist()),
    ]
    p = str(tmp_path / "seqs.parquet")
    _write_seqs(p, docs)

    ff = analyze_sequences(spark, p, repartition_output=False)["frame_features"]
    expected = sum(
        oracle.n_frames(len(t))
        for _, t in docs
        if oracle.reject_reason(np.asarray(t, dtype=np.int32)) is None
    )
    assert expected == 5 + 2 + 8 + 1
    assert ff.count() == expected
    # each frame carries the stats of the row it came from: one distinct
    # (rms_amplitude, dynamic_range_db) per accepted input row
    assert ff.select("rms_amplitude", "dynamic_range_db").distinct().count() == 4


def test_fused_null_tokens_row_skipped_not_crashed(spark):
    from pyspark.sql import types as T2

    from audiopro_essentia_spark.operators.fused import fused_frame_features

    schema = T2.StructType([
        T2.StructField("doc_id", T2.StringType()),
        T2.StructField("tokens", T2.ArrayType(T2.IntegerType())),
    ])
    df = spark.createDataFrame(
        [("ok", list(range(64))), ("nulldoc", None)], schema
    )
    out = fused_frame_features(
        df, features=("rms",), frame_length=16, hop=8, with_timestamps=False
    ).collect()
    assert {r["doc_id"] for r in out} == {"ok"}


def test_fused_null_token_element_flags_nonfinite(spark):
    # A null ELEMENT turns the Arrow child values into float64 NaN, so
    # it flows into the kernel's nonfinite guard: the frames covering it
    # get ferror='nonfinite_frame' + NULL features, exactly the
    # reference's bad-frame semantics — not a crash, not a silent number.
    from pyspark.sql import types as T2

    from audiopro_essentia_spark.operators.fused import fused_frame_features

    schema = T2.StructType([
        T2.StructField("doc_id", T2.StringType()),
        T2.StructField("tokens", T2.ArrayType(T2.IntegerType())),
    ])
    df = spark.createDataFrame(
        [("bad", [1, None] + list(range(62)))], schema
    )
    rows = fused_frame_features(
        df, features=("rms",), frame_length=16, hop=8, with_timestamps=False
    ).collect()
    by_idx = {r["frame_idx"]: r for r in rows}
    assert by_idx[0]["ferror"] == "nonfinite_frame"  # covers the null
    assert by_idx[0]["rms"] is None
    assert by_idx[2]["ferror"] is None  # past the null: clean frame
    assert by_idx[2]["rms"] is not None


def test_fused_unknown_feature_name_fails_at_plan_build(spark, tiny_seqs):
    # a misspelt feature must fail loud before any job runs, not yield
    # an all-NULL column with a NULL ferror — through the pipeline entry
    # point too
    from audiopro_essentia_spark.plans.pipeline import analyze_sequences

    with pytest.raises(ValueError, match="spectral_centriod"):
        fused_frame_features(tiny_seqs, features=("rms", "spectral_centriod"))
    with pytest.raises(ValueError, match="spectral_centriod"):
        analyze_sequences(
            spark, tiny_seqs.inputFiles()[0], features=("spectral_centriod",)
        )
