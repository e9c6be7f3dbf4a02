"""applyInPandasWithState custom stateful operator + pipeline completion
ratio + IVF assignment."""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_stateful_running_rms_matches_batch(spark):
    from audiopro_essentia_spark.streaming.stream_ops import (
        run_to_memory,
        stateful_running_stats,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    d = tempfile.mkdtemp()
    os.symlink(f"{SF}/events.parquet", os.path.join(d, "e.parquet"))
    stream = spark.readStream.schema(ev.schema).parquet(d)
    out = run_to_memory(
        stateful_running_stats(stream), "stateful_rms", mode="update"
    )
    # final state per user (single micro-batch => one row per user)
    got = {r.user_id: (r.n_events, r.running_rms) for r in out.collect()}
    exp = {
        r.user_id: (r.n, r.rms)
        for r in ev.groupBy("user_id")
        .agg(
            F.count("value").alias("n"),
            F.sqrt(F.avg(F.col("value") * F.col("value"))).alias("rms"),
        )
        .collect()
    }
    assert got.keys() == exp.keys()
    for u in exp:
        assert got[u][0] == exp[u][0]
        assert got[u][1] == pytest.approx(exp[u][1])


def test_completion_ratio_in_write_stats(spark, tmp_path):
    import pyarrow.parquet as pq

    from audiopro_essentia_spark.fixtures import make_sequences
    from audiopro_essentia_spark.plans.pipeline import analyze_sequences

    p = str(tmp_path / "seqs.parquet")
    pq.write_table(make_sequences(profile="tiny"), p)
    res = analyze_sequences(spark, p, out_dir=str(tmp_path / "out"), n_buckets=2)
    st = res["write_stats"]
    assert st["expected_frames"] > 0
    assert st["completion_ratio"] == pytest.approx(1.0)
    assert st["completion_warning"] is False


def test_ivf_assign_clusters(spark):
    from audiopro_essentia_spark.operators.similarity import cosine_expr, ivf_assign

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    assigned, centroids = ivf_assign(emb, n_centroids=4)
    rows = assigned.select("vec_id", "cluster_id", "embedding").collect()
    assert {r.cluster_id for r in rows} <= {0, 1, 2, 3}
    # spot-check: assigned cluster is argmin cosine-distance
    C = np.asarray(centroids, dtype=np.float64)
    for r in rows[:25]:
        v = np.asarray(r.embedding, dtype=np.float64)
        sims = (C @ v) / (np.linalg.norm(C, axis=1) * np.linalg.norm(v))
        assert int(np.argmin(1.0 - sims)) == r.cluster_id, r.vec_id


def test_ivf_assign_empty_corpus_fails_loud(spark):
    """Zero sampleable vectors (empty table / all-NULL column) must raise
    the NAMED guard, not a numpy AxisError from inside the assign UDF
    (found by tools_empty_sweep.py)."""
    from audiopro_essentia_spark.operators.similarity import ivf_assign

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    for bad in (
        emb.limit(0),
        emb.select("vec_id", F.lit(None).cast("array<float>").alias("embedding")),
    ):
        with pytest.raises(ValueError, match="ivf_assign needs >= 1"):
            ivf_assign(bad, n_centroids=4)


def test_foreachbatch_checkpointed_sink_exactly_once(spark, tmp_path):
    """Streaming -> CheckpointedWriter via foreachBatch: complete output,
    restart yields nothing new, and a re-delivered epoch (crash between
    writer commit and streaming-checkpoint commit) is idempotent."""
    from audiopro_essentia_spark.streaming.stream_ops import (
        epoch_writer,
        read_epochs,
        stream_to_checkpointed,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    n_in = ev.count()
    src = tempfile.mkdtemp()
    os.symlink(f"{SF}/events.parquet", os.path.join(src, "e.parquet"))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema(ev.schema).parquet(src)
        stream_to_checkpointed(stream, out, ckpt, key_col="user_id", n_buckets=4)

    run()
    assert read_epochs(spark, out).count() == n_in
    # restart with the same checkpoint: no re-processing, no duplicates
    run()
    assert read_epochs(spark, out).count() == n_in
    # simulate epoch re-delivery: Spark re-runs the SAME (epoch, data)
    handler = epoch_writer(out, key_col="user_id", n_buckets=4)
    handler(ev, 0)
    assert read_epochs(spark, out).count() == n_in
    # and a half-committed epoch (crashed mid-write) heals idempotently
    epoch_dir = os.path.join(out, "epoch=0")
    os.remove(os.path.join(epoch_dir, "_lineage", "commit_2.json"))
    handler(ev, 0)
    back = read_epochs(spark, out)
    assert back.count() == n_in
    assert back.select("event_id").distinct().count() == n_in


def test_pipeline_respects_custom_frame_length(spark, tmp_path):
    """--frame-length must flow into quarantine/doc_meta/expected_frames,
    not just the framing: a 1000-token doc is valid at F=512 (regression:
    it was quarantined by the default F=2048 while frames were emitted)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pandas as pd

    from audiopro_essentia_spark.plans.pipeline import analyze_sequences

    tbl = pa.table(
        {
            "doc_id": ["short", "long"],
            "tokens": pa.array(
                [list(range(1, 1001)), list(range(1, 5001))],
                type=pa.list_(pa.int32()),
            ),
            "n_tok": pa.array([1000, 5000], type=pa.int32()),
            "source": ["wiki", "wiki"],
            "base_ts": pa.array([pd.Timestamp("2026-01-01")] * 2),
        }
    )
    p = str(tmp_path / "seqs.parquet")
    pq.write_table(tbl, p)
    res = analyze_sequences(
        spark, p, frame_length=512, hop=128,
        out_dir=str(tmp_path / "out"), n_buckets=2,
    )
    assert res["quarantine"].count() == 0
    st = res["write_stats"]
    # both docs frame at F=512: (1000-512)//128+1 + (5000-512)//128+1
    assert st["total_rows"] == 4 + 36, st
    assert st["completion_ratio"] == 1.0, st


def test_streaming_dedup_drops_content_duplicates(spark, tmp_path):
    """Streaming exact-dedup == batch exact-dedup on a bounded stream with
    planted duplicate texts; state bounded by the watermark horizon."""
    import datetime as dt

    from audiopro_essentia_spark.streaming.stream_ops import (
        run_to_memory,
        streaming_dedup,
    )

    base = dt.datetime(2026, 1, 1)
    rows = []
    for i in range(40):
        rows.append((i, f"text body {i % 10}", base + dt.timedelta(seconds=i)))
    src = tmp_path / "docs_stream"
    spark.createDataFrame(
        rows, "doc_id long, text string, ts timestamp"
    ).coalesce(1).write.parquet(str(src))

    stream = spark.readStream.schema("doc_id long, text string, ts timestamp").parquet(
        str(src)
    )
    out = run_to_memory(
        streaming_dedup(stream, watermark="10 minutes"), "dedup_stream"
    ).collect()
    # 10 distinct texts survive, each exactly once
    assert len(out) == 10
    assert sorted({r.text for r in out}) == sorted(
        f"text body {i}" for i in range(10)
    )


def test_streaming_token_pipeline_matches_batch(spark, tmp_path):
    """Streamed micro-batches through the fused kernel + checkpointed sink
    must equal the batch pipeline's frame features exactly."""
    import pyarrow.parquet as pq

    from audiopro_essentia_spark.fixtures import make_sequences
    from audiopro_essentia_spark.operators.fused import (
        fused_frame_features,
        nest_frequency_bands,
    )
    from audiopro_essentia_spark.streaming.stream_ops import (
        read_epochs,
        streaming_token_pipeline,
    )

    tbl = make_sequences(profile="tiny")
    src = tmp_path / "seq_stream"
    src.mkdir()
    n = tbl.num_rows
    # two files -> two micro-batches with maxFilesPerTrigger=1
    pq.write_table(tbl.slice(0, n // 2), str(src / "part0.parquet"))
    pq.write_table(tbl.slice(n // 2), str(src / "part1.parquet"))

    batch_df = spark.read.parquet(str(src))
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = tmp_path / "out"
    streaming_token_pipeline(
        stream, str(out), str(tmp_path / "ckpt"), n_buckets=2
    )

    got = read_epochs(spark, str(out))
    exp = nest_frequency_bands(fused_frame_features(batch_df, validate=True))
    assert got.count() == exp.count() > 0
    g = {
        (r.doc_id, r.frame_idx): round(r.rms, 9)
        for r in got.select("doc_id", "frame_idx", "rms").collect()
    }
    e = {
        (r.doc_id, r.frame_idx): round(r.rms, 9)
        for r in exp.select("doc_id", "frame_idx", "rms").collect()
    }
    assert g == e


def test_streaming_dedup_state_spans_micro_batches(spark, tmp_path):
    """A duplicate arriving in a LATER micro-batch (within the watermark)
    must be dropped — the dedup state carries across batches."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from audiopro_essentia_spark.streaming.stream_ops import (
        run_to_memory,
        streaming_dedup,
    )

    base = dt.datetime(2026, 1, 1)
    src = tmp_path / "docs_stream2"
    src.mkdir()

    def write_batch(name, rows):
        pq.write_table(
            pa.table({
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
            }),
            str(src / name),
        )

    write_batch("b0.parquet", [(1, "alpha", base), (2, "beta", base)])
    write_batch("b1.parquet", [
        (3, "alpha", base + dt.timedelta(seconds=30)),  # cross-batch dup
        (4, "gamma", base + dt.timedelta(seconds=30)),
    ])
    # "first wins" below needs b0 to BE the first micro-batch: the file
    # source orders by mtime and same-tick writes tie (listing order).
    os.utime(src / "b0.parquet", (1_000_000_000, 1_000_000_000))
    os.utime(src / "b1.parquet", (1_000_000_060, 1_000_000_060))

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = run_to_memory(
        streaming_dedup(stream, watermark="10 minutes"), "dedup_stream2"
    ).collect()
    assert sorted(r.text for r in out) == ["alpha", "beta", "gamma"]
    assert {r.doc_id for r in out if r.text == "alpha"} == {1}  # first wins


def test_streaming_bloom_seen_set_carries_across_epochs(spark, tmp_path):
    """Production dedup-on-ingest with the Bloom seen-set as EPOCH
    STATE: each micro-batch probes its digests against the persisted
    register table, only possibly-seen keys touch the exact digest
    index, then the batch's own registers OR-merge forward. Pins (a)
    the streamed epoch-1 dup flags equal the batch-mode
    incremental-dedup digest flags, and (b) the carried register state
    after both epochs equals the one-shot Bloom over everything —
    through a REAL foreachBatch stream with parquet-persisted state,
    not a hand-split DataFrame."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from audiopro_essentia_spark.operators.dedup import incremental_dedup_flags
    from audiopro_essentia_spark.operators.sketch import (
        bloom_probe,
        bloom_registers,
    )

    M, K = 4096, 3
    epoch0 = [(i, f"seen doc number {i} content") for i in range(40)]
    epoch1 = (
        [(100 + i, f"fresh doc number {i} content") for i in range(20)]
        + [(200, "seen doc number 7 content"),   # exact dup of epoch 0
           (201, "seen doc number 31 content")]  # exact dup of epoch 0
    )
    src = tmp_path / "docs"
    src.mkdir()
    for i, (name, rows) in enumerate((("e0", epoch0), ("e1", epoch1))):
        p = src / f"{name}.parquet"
        pq.write_table(
            pa.table({"doc_id": [r[0] for r in rows],
                      "text": [r[1] for r in rows]}),
            str(p),
        )
        # FileStreamSource orders micro-batches by file MTIME, not name —
        # two writes in the same mtime tick leave the epoch order to the
        # directory listing (observed flipped). Pin strictly increasing
        # mtimes so e0 is always epoch 0.
        os.utime(p, (1_000_000_000 + i * 60, 1_000_000_000 + i * 60))
    regs_dir = str(tmp_path / "bloom_state")
    idx_dir = str(tmp_path / "digest_index")
    flags: dict[int, list] = {}

    def handler(bdf, eid):
        nh = bdf.select("doc_id", F.md5("text").alias("_h"))
        have_state = os.path.isdir(regs_dir)
        if have_state:
            regs = spark.read.parquet(regs_dir)
            hit = (
                bloom_probe(regs, nh.select("_h"), "_h", M, K)
                .where(F.col("bloom_hit") == 1)
                .select("_h")
            )
            cand = nh.join(F.broadcast(hit), "_h", "left_semi")
            idx = spark.read.parquet(idx_dir)
            dups = set(
                r.doc_id
                for r in cand.join(idx, "_h", "left_semi").collect()
            )
        else:
            dups = set()
        flags[int(eid)] = sorted(dups)
        mine = bloom_registers(
            nh.select(F.lit("seen").alias("_g"), "_h"), F.col("_h"), "_g", M, K
        )
        merged = (
            spark.read.parquet(regs_dir).unionByName(mine)
            .groupBy("grp", "word_idx")
            .agg(F.bit_or("bits").alias("bits"))
            if have_state
            else mine
        )
        merged.localCheckpoint().write.mode("overwrite").parquet(regs_dir + "_next")
        # atomic-enough swap for a test: write aside, then point reads at it
        spark.read.parquet(regs_dir + "_next").write.mode("overwrite").parquet(regs_dir)
        nh.select("_h").write.mode("append").parquet(idx_dir)

    ev = spark.read.parquet(str(src))
    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(handler)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    assert len(flags) == 2
    # file order: Spark lists e0 before e1 (lexicographic); epoch 0 sees
    # no state, epoch 1 must flag exactly the two planted dups
    assert flags[0] == []
    assert flags[1] == [200, 201]
    # streamed flags == batch-mode digest flags over the same split
    e0 = spark.createDataFrame(epoch0, "doc_id long, text string")
    e1 = spark.createDataFrame(epoch1, "doc_id long, text string")
    batch = {
        r.doc_id
        for r in incremental_dedup_flags(e1, e0, k=8, bands=2).collect()
        if r.dup_exact == 1
    }
    assert set(flags[1]) == batch
    # carried state == one-shot Bloom over every doc seen
    all_docs = e0.unionByName(e1)
    want = {
        (r.grp, r.word_idx): r.bits
        for r in bloom_registers(
            all_docs.select(
                F.lit("seen").alias("_g"), F.md5("text").alias("_h")
            ),
            F.col("_h"), "_g", M, K,
        ).collect()
    }
    got = {
        (r.grp, r.word_idx): r.bits
        for r in spark.read.parquet(regs_dir).collect()
    }
    assert got == want
