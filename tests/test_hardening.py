"""Corrupt-input hardening contracts (late-r4 review pass): one bad row
must never kill a distributed stage, and it must land in the SAME
bad-row channel the equivalent expression path uses ('empty' quarantine,
ferror tagging, zero vector, empty ids) — never silently vanish."""

import pytest
from pyspark.sql import functions as F


def test_doc_profile_fused_null_tokens_quarantines_as_empty(spark):
    """NULL tokens must match the expression twin reject_reason_col
    (tokens IS NULL -> 'empty'), not TypeError inside mapInPandas."""
    from audiopro_essentia_spark.operators.aggregates import (
        doc_profile_fused,
    )

    df = spark.createDataFrame(
        [("d0", [1000, -2000, 3000] * 200, 600, "s"), ("d1", None, 0, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    rows = {r.doc_id: r for r in doc_profile_fused(df).collect()}
    assert rows["d1"].reject_reason == "empty"
    assert rows["d1"].signal_energy == 0.0
    assert rows["d0"].reject_reason in (None, "too_short")


def test_rhythm_null_tokens_is_empty_doc_not_crash(spark):
    from audiopro_essentia_spark.operators.rhythm import extract_rhythm

    df = spark.createDataFrame(
        [("d0", [1000, -1000] * 4096), ("d1", None)],
        "doc_id string, tokens array<int>",
    )
    rows = {r.doc_id: r for r in extract_rhythm(df).collect()}
    assert rows["d1"].tempo == 0.0 and rows["d1"].n_beats == 0
    assert "d0" in rows  # well-formed doc unaffected


def test_simhash_max_hamming_pigeonhole_guard(spark):
    from audiopro_essentia_spark.operators.dedup import (
        simhash_neardup_pairs,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_neardup_pairs(df, max_hamming=4)


def test_encode_documents_spacing_and_null_text(spark):
    """'' tokens are filtered like build_vocab does (a doubled space
    must not encode as UNK), and a NULL-text doc stays in the output
    with empty ids instead of vanishing."""
    from audiopro_essentia_spark.operators.vocab import (
        UNK_ID,
        build_vocab,
        encode_documents,
    )

    df = spark.createDataFrame(
        [(0, "a b"), (1, "a  b"), (2, None)],
        "doc_id long, text string",
    )
    v = build_vocab(df, max_vocab=10)
    enc = {r.doc_id: r.ids for r in encode_documents(df, v).collect()}
    assert enc[0] == enc[1]  # spacing-invariant
    assert UNK_ID not in enc[1]
    assert enc[2] == []  # NULL text preserved as empty, not dropped


def test_hashed_embedding_spacing_and_null_text(spark):
    from audiopro_essentia_spark.operators.featurize import (
        hashed_doc_embedding,
    )

    df = spark.createDataFrame(
        [(0, "a b"), (1, "a  b"), (2, None)],
        "doc_id long, text string",
    )
    emb = {
        r.doc_id: r.embedding
        for r in hashed_doc_embedding(df, dim=16).collect()
    }
    assert emb[0] == emb[1]  # spacing-invariant
    assert emb[2] == [0.0] * 16  # NULL text -> zero vector, not dropped


def test_writer_missing_error_col_fails_loud(spark, tmp_path):
    """A typo'd/dropped error column must raise at write() entry — the
    read-back tolerance (JSON null omission) must not silently disable
    the error-budget gate on the INPUT side."""
    from audiopro_essentia_spark.sources.sinks import CheckpointedWriter

    df = spark.range(10).select(
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("doc_id"),
        F.col("id").alias("v"),
    )
    w = CheckpointedWriter(str(tmp_path / "o"), n_buckets=2)
    with pytest.raises(ValueError, match="error_col"):
        w.write(df, error_col="fError", error_budget_pct=0.1)


def test_writer_noop_rewrite_preserves_success_stats(spark, tmp_path):
    """write() on a fully committed dataset must be a no-op (no write
    job) and must NOT clobber _SUCCESS.json's real totals with zeros."""
    import json
    import os

    from audiopro_essentia_spark.sources.sinks import CheckpointedWriter

    df = spark.range(40).select(
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("doc_id"),
        F.col("id").alias("v"),
    )
    out = str(tmp_path / "o")
    stats1 = CheckpointedWriter(out, n_buckets=2).write(df)
    assert stats1["total_rows"] == 40
    stats2 = CheckpointedWriter(out, n_buckets=2).write(df)
    assert stats2["committed"] == [] and stats2["skipped"] == [0, 1]
    with open(os.path.join(out, "_SUCCESS.json")) as fh:
        success = json.load(fh)
    assert success["total_rows"] == 40  # not clobbered by the no-op call


def test_read_epochs_tolerates_json_null_column_drift(spark, tmp_path):
    """A JSON epoch whose every row had ferror=NULL loses the column on
    read-back (ignoreNullFields) — the cross-epoch union must not crash."""
    from audiopro_essentia_spark.sources.sinks import CheckpointedWriter
    from audiopro_essentia_spark.streaming.stream_ops import read_epochs

    out = str(tmp_path / "o")
    clean = spark.range(8).select(
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("doc_id"),
        F.col("id").alias("v"),
        F.lit(None).cast("string").alias("ferror"),
    )
    dirty = spark.range(8).select(
        F.concat(F.lit("e"), F.col("id").cast("string")).alias("doc_id"),
        F.col("id").alias("v"),
        F.when(F.col("id") == 0, F.lit("boom")).alias("ferror"),
    )
    CheckpointedWriter(f"{out}/epoch=0", n_buckets=2, fmt="json").write(clean)
    CheckpointedWriter(f"{out}/epoch=1", n_buckets=2, fmt="json").write(dirty)
    got = read_epochs(spark, out)
    assert got.count() == 16
    assert "ferror" in got.columns  # missing column came back as NULL


def test_sequence_digest_distinguishes_null_elements(spark):
    """[1, NULL, 2] and [1, 2] must NOT collide to one content digest
    (array_join skips nulls without an explicit nullReplacement)."""
    from audiopro_essentia_spark.sources.sequences import (
        with_sequence_metadata,
    )

    df = spark.createDataFrame(
        [("a", [1, None, 2]), ("b", [1, 2])],
        "doc_id string, tokens array<int>",
    )
    got = {r.doc_id: r.content_md5 for r in with_sequence_metadata(df).collect()}
    assert got["a"] != got["b"]


def test_slice_time_range_negative_start_fails_loud(spark):
    from audiopro_essentia_spark.sources.sequences import slice_time_range

    df = spark.createDataFrame([("a", [1, 2, 3])], "doc_id string, tokens array<int>")
    with pytest.raises(ValueError, match="start_sec"):
        slice_time_range(df, start_sec=-1.0)


def test_sessionize_orders_by_measured_time_not_raw_column(spark):
    """Gap measurement and window ordering must use the SAME cast-to-
    micros expression: numeric-epoch strings sort lexicographically
    ('999999' > '1000000') and previously scrambled sessions."""
    from audiopro_essentia_spark.operators.temporal import sessionize

    rows = [("u", "1970-01-01 00:00:09"), ("u", "1970-01-01 00:00:10"),
            ("u", "1970-01-01 02:00:00")]
    df = spark.createDataFrame(rows, "user_id string, ts string")
    out = sessionize(df, ("user_id",), "ts", gap_seconds=1800).collect()
    by_ts = {r.ts: r.session_id for r in out}
    assert by_ts["1970-01-01 00:00:09"] == by_ts["1970-01-01 00:00:10"] == 0
    assert by_ts["1970-01-01 02:00:00"] == 1


def test_doc_profile_fused_keeps_bigint_doc_id(spark):
    """The profile's doc_id takes its type from the input schema, as the
    fused kernel's does: a bigint id must not hit a string DDL."""
    from audiopro_essentia_spark.operators.aggregates import doc_profile_fused

    df = spark.createDataFrame(
        [(7, list(range(1, 65))), (8, None)], "doc_id bigint, tokens array<int>"
    )
    prof = doc_profile_fused(df, frame_length=16)
    assert dict(prof.dtypes)["doc_id"] == "bigint"
    rows = {r.doc_id: r.reject_reason for r in prof.collect()}
    assert rows == {7: None, 8: "empty"}


def test_flux_and_contrast_null_on_nonfinite_frames(spark):
    """A NULL token element makes its frames' spectrum NULL: flux is NULL
    on every frame whose own or previous spectrum is NULL (not 0.0 as if
    the doc started there), and contrast is a NULL row on the bad frames.
    64 tokens at F=16, H=8: frames 1 and 2 cover element 16."""
    from audiopro_essentia_spark.operators.flux import (
        spectral_contrast,
        spectral_flux,
    )

    toks = (
        [1000 + 37 * (i % 5) for i in range(16)]
        + [None]
        + [3000 + 11 * (i % 7) for i in range(47)]
    )
    df = spark.createDataFrame([("d", toks)], "doc_id string, tokens array<int>")
    flux = sorted(
        (r.frame_idx, r.flux, r.is_onset)
        for r in spectral_flux(df, frame_length=16, hop=8).collect()
    )
    assert [f for f, _, _ in flux] == list(range(7))
    assert flux[0][1:] == (0.0, 0)
    for f, v, o in flux:
        assert (v is None) == (f in (1, 2, 3)) and (o is None) == (v is None)
    con = sorted(
        (r.frame_idx, r.contrast_0, r.contrast_1, r.contrast_2)
        for r in spectral_contrast(df, frame_length=16, hop=8).collect()
    )
    for f, *c in con:
        assert c == [None] * 3 if f in (1, 2) else None not in c


def test_asof_rejects_matched_ts_in_right_values(spark):
    from audiopro_essentia_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 9, 5)], "k long, label_ts long, matched_ts long"
    )
    with pytest.raises(ValueError, match="matched_ts"):
        asof_join(left, right, on=("k",), left_ts="ts", right_ts="label_ts")


def test_framing_and_rolling_param_guards(spark):
    from audiopro_essentia_spark.operators.framing import frame_tokens
    from audiopro_essentia_spark.operators.temporal import with_rolling

    df = spark.createDataFrame(
        [("d", [1, 2, 3, 4])], "doc_id string, tokens array<int>"
    )
    with pytest.raises(ValueError, match="hop"):
        frame_tokens(df, frame_length=2, hop=0)
    tdf = spark.createDataFrame([("d", 1, 1.0)], "doc_id string, ts int, x double")
    with pytest.raises(ValueError, match="window_rows"):
        with_rolling(tdf, "x", ("doc_id",), "ts", window_rows=0)


def test_power_iteration_excludes_null_and_ragged_rows(spark):
    """A NULL or short embedding must not bias mean_s (sum skips it,
    count used to include it) nor crash element_at under ANSI."""
    from audiopro_essentia_spark.operators.decomp import power_iteration

    clean = [(i, [float(i), float(-i), 1.0, 0.5]) for i in range(1, 9)]
    df_clean = spark.createDataFrame(
        clean, "vec_id long, embedding array<double>"
    )
    dirty = clean + [(100, None), (101, [1.0, 2.0])]
    df_dirty = spark.createDataFrame(
        dirty, "vec_id long, embedding array<double>"
    )
    w_clean = power_iteration(df_clean, dim=4, n_iter=1)
    w_dirty = power_iteration(df_dirty, dim=4, n_iter=1)
    assert w_dirty == w_clean  # corrupt rows contribute nothing


def test_hll_ignores_null_values(spark):
    """COUNT(DISTINCT) semantics: NULL values contribute no register —
    previously md5(NULL) made a phantom row that count() counted but the
    dyadic sum skipped, biasing the estimate."""
    from audiopro_essentia_spark.operators.sketch import hll_distinct

    rows = [("a", "x"), ("a", "y"), ("a", None), ("b", None)]
    df = spark.createDataFrame(rows, "source string, w string")
    got = {r.source: r for r in hll_distinct(df, F.col("w"), p=7).collect()}
    assert "b" not in got  # all-NULL group emits no row
    clean = spark.createDataFrame(
        [("a", "x"), ("a", "y")], "source string, w string"
    )
    want = hll_distinct(clean, F.col("w"), p=7).collect()[0]
    assert got["a"].estimate == want.estimate
    assert got["a"].n_reg_nonzero == want.n_reg_nonzero


def test_salted_agg_avg_without_counts(spark):
    """avg_<c> derives from the per-column non-null count and must be
    emitted whenever sums are requested — counts=False used to silently
    drop the documented avg columns while still computing their partial
    aggregates."""
    from audiopro_essentia_spark.operators.skew import salted_agg

    df = spark.createDataFrame(
        [("k", 1.0), ("k", 3.0), ("k", None)], "g string, v double"
    )
    out = salted_agg(df, ("g",), sums=("v",), counts=False).collect()[0]
    assert out.sum_v == 4.0 and out.avg_v == 2.0  # SQL AVG: non-null mean
