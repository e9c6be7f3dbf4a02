"""Benchmark harness — prints ONE JSON line.

Measures the engine's headline workloads at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]:

1. the flagship token pipeline (one fused Arrow kernel pass: framing,
   features, quarantine and doc-level enrichment -> as-of label join) over a
   deterministically synthesized sequences table sized to the SF tier —
   reporting sequences/sec and tokens/sec (BASELINE.json metric), and
2. the headline SQL-expressible queries from __spark_entry__ on the driver
   tables — per-query wall seconds.

Scaling evidence (north rule: N vs 4N executors) is produced by
bench_scaling.py (spark-submit at two parallelism levels); this file is the
per-round single-level harness the driver runs.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# synthesized sequences scale per SF tier: ~32k tokens/doc average
# (avg_n_tok=32768 in run_token_pipeline — recorded in the cache marker)
N_DOCS = {"sf0.001": 64, "sf0.01": 256, "sf0.1": 1024}

# max allowed max/min spread across timed samples of one measurement;
# beyond this the window contained a CPU-steal burst (CLAUDE.md rule)
SPREAD_LIMIT = 2.0

# single-thread copy bandwidth below this = a neighbor VM is saturating
# the shared memory bus. Measured: contended window 0.5 GB/s (2026-08-17,
# flagship kernel 3.5x slow while cache-resident queries were unaffected);
# quiet windows on this host measure well above 2. The spread rule CANNOT
# detect this mode — bandwidth contention is sustained and hits only the
# bandwidth-bound fused kernel, so samples agree with each other while
# all being inflated.
BW_CONTENDED_GBPS = 2.0


def memory_bandwidth_probe() -> float:
    """Single-thread big-copy bandwidth in GB/s (read+write bytes). The
    256 MiB working set defeats every cache level, so this reads the
    DRAM bus the fused kernel streams tokens through — the resource the
    shared VM's neighbors actually contend on."""
    import numpy as np

    a = np.zeros(2 ** 25, dtype=np.float64)  # 256 MiB
    best = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        a.copy()
        best = max(best, 2 * a.nbytes / (time.perf_counter() - t0) / 1e9)
    return round(best, 2)

BENCH_QUERIES = (
    "frame_rms",
    "doc_stats",
    "asof_join",
    "sessionize",
    "session_tempo",
    "rolling",
    "minhash_lsh",
    "simhash",
    "embed_neardup",
    "normalized_dedup",
    "incremental_dedup",
    "ann_topk",
    "ivf_ann",
    "kernel_features",
    "spectral_flux",
    "spectral_contrast",
    "rhythm",
    "text_quality",
    "pii_redact",
    "span_dedup",
    "repetition",
    "tfidf",
    "pack_shards",
    "encode_tokens",
    "chunk_documents",
    "hashed_embedding",
    "quantize_embed",
    "corpus_profile",
    "ann_recall",
    "curate",
    "tpch_q1",
    "kernel_full_geometry",
    "semantic_dedup",
    "bigram_surprisal",
    "quality_classifier",
    "bpe_merges",
    "temperature_sample",
    "cap_per_group",
    "silence_segments",
    "mfcc_delta",
    "seq_metadata",
    "bpe_encode",
    "drift_psi",
    "pit_assembly",
    "snapshot_diff",
    "dsir_select",
    "bm25",
    "fertility",
    "c4_clean",
    "pca_power",
    "epoch_shuffle",
    "leak_split",
    "span_scrub",
    "padding_waste",
    "shard_manifest",
    "pack_nosplit",
    "hll_distinct",
    "cms_freq",
    "kl_drift",
    "zipf_slope",
    "source_overlap",
    # r5: the bench-safe heavyweight staged ops (every one has a clean
    # quiet-bracketed sf0.1 min-of-3 record in BENCH/staged_quiet_timing
    # — see CLAUDE.md staged-roster notes). The cheap single-shape
    # staged ops (0.3-0.9 s) are deliberately NOT listed: they would
    # double the sweep's wall-clock while measuring nothing the listed
    # ops don't already cover, and the driver's stdout-tail budget caps
    # the JSON line (see the 1900-char fit logic in main()).
    "bleu",
    "containment",
    "allpairs_jaccard",
    "rrf_hybrid",
    "edit_neardup",
    "pq_ann",
    "bloom_membership",
    "npmi",
    "gopher_quality",
    "line_scrub",
    "cdc_chunks",
    "textrank",
    "lq_quantiles",
    "hill_tail",
    "boot_ci",
    "survival",
)


def _noop_sink(df) -> None:
    """Force full computation without driver materialization. NOTE: no
    trailing count() — save() returns None, so `save() or count()` would
    silently run every benchmarked plan twice."""
    df.write.format("noop").mode("overwrite").save()


def run_token_pipeline(spark, tmp_dir: str, n_docs: int) -> dict:
    import pyarrow.parquet as pq

    from audiopro_essentia_spark.fixtures import make_labels, make_sequences
    from audiopro_essentia_spark.operators.asof import asof_join
    from audiopro_essentia_spark.plans.pipeline import analyze_sequences

    seq_path = os.path.join(tmp_dir, "sequences.parquet")
    # completion marker written LAST: guarding on sequences.parquet alone
    # bricked the cache if a prior run died between the two writes, and
    # said nothing about the corpus params (the marker records them, so a
    # param drift rebuilds instead of silently benchmarking a stale corpus)
    params = f"n_docs={n_docs},avg_n_tok=32768,per_doc=5,profile=bench"
    marker = os.path.join(tmp_dir, "_complete")
    fresh = (
        os.path.exists(marker) and open(marker).read().strip() == params
    )
    if not fresh:
        tbl = make_sequences(n_docs=n_docs, profile="bench", avg_n_tok=32768)
        pq.write_table(tbl, seq_path, row_group_size=32)
        ids = tbl.column("doc_id").to_pylist()
        pq.write_table(make_labels(ids, per_doc=5), os.path.join(tmp_dir, "labels.parquet"))
        with open(marker, "w") as fh:
            fh.write(params)

    seqs_meta = spark.read.parquet(seq_path)
    n_seq = seqs_meta.count()
    n_tok = seqs_meta.selectExpr("sum(n_tok)").collect()[0][0]

    from audiopro_essentia_spark.monitor import PerformanceMonitor

    def one_pass():
        res = analyze_sequences(spark, seq_path, repartition_output=False)
        labels = spark.read.parquet(os.path.join(tmp_dir, "labels.parquet"))
        joined = asof_join(
            res["frame_features"].select(
                "doc_id", "frame_idx", "available_ts", "rms", "volume",
                "spectral_centroid", "mfcc",
            ),
            labels,
            left_ts="available_ts",
            right_ts="label_ts",
        )
        joined.write.format("noop").mode("overwrite").save()  # all columns
        return joined

    # min-of-3, run 1 ALSO the warmup (Python UDF workers, Arrow buffers,
    # page cache): this shared VM throws CPU-steal bursts lasting minutes,
    # and the flagship number is THE headline metric — three samples give
    # one more chance to land inside a quiet window than the per-query
    # min-of-2
    mon = PerformanceMonitor().start()
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        joined = one_pass()
        samples.append(time.perf_counter() - t0)
    # steal check on the POST-warmup samples (run 1 legitimately pays
    # worker spin-up, so it does not vote); >2x spread = steal episode
    if max(samples[1:]) / min(samples[1:]) > SPREAD_LIMIT:
        t0 = time.perf_counter()
        one_pass()
        samples.append(time.perf_counter() - t0)
    elapsed = min(samples)
    steady = samples[1:]
    n_frames = joined.count()
    mon.stop()
    return {
        "pipeline_sec": round(elapsed, 3),
        "pipeline_samples": [round(s, 3) for s in samples],
        "pipeline_steal_suspect": max(steady) / min(steady) > SPREAD_LIMIT,
        "n_sequences": n_seq,
        "n_tokens": int(n_tok),
        "n_frames": n_frames,
        "sequences_per_sec": round(n_seq / elapsed, 2),
        "tokens_per_sec": round(n_tok / elapsed, 1),
        "monitor": mon.summary(),
    }


def main() -> None:
    import tempfile

    from audiopro_essentia_spark.session import get_spark
    import __spark_entry__ as E

    spark = get_spark(
        app_name="bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    spark.sparkContext.setLogLevel("ERROR")

    sf_name = os.path.basename(os.path.normpath(SF_DIR))
    tmp_dir = os.path.join(
        tempfile.gettempdir(), f"bench_seqs_{sf_name}"
    )
    os.makedirs(tmp_dir, exist_ok=True)

    bw_pre = memory_bandwidth_probe()
    pipe = run_token_pipeline(spark, tmp_dir, N_DOCS.get(sf_name, 512))

    qs = E.queries()
    per_query: dict[str, float] = {}
    steal_suspect: list[str] = []
    total = pipe["pipeline_sec"]
    # SPARK_GRAFT_BENCH_QUERIES: comma-sep subset of BENCH_QUERIES to
    # time ("" = pipeline only). Lets a probe-gated watcher capture a
    # clean flagship record inside a short quiet window on a host whose
    # bus flaps faster than the ~5-minute full sweep. Default (unset)
    # runs the full list — the driver's per-round BENCH artifact is
    # unaffected.
    _env = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    names = (
        tuple(n for n in _env.split(",") if n) if _env is not None
        else BENCH_QUERIES
    )
    unknown = [n for n in names if n not in BENCH_QUERIES]
    if unknown:
        raise SystemExit(f"unknown bench queries: {unknown}")
    for name in names:
        _noop_sink(qs[name](spark, SF_DIR))  # warmup: workers/JIT/page cache
        times: list[float] = []
        # min-of-2, plus up to 2 retries while the sample spread says a
        # CPU-steal burst contaminated the window (CLAUDE.md spread rule,
        # applied in code: if max/min > 2 the measurement is garbage)
        for attempt in range(4):
            t0 = time.perf_counter()
            _noop_sink(qs[name](spark, SF_DIR))
            times.append(time.perf_counter() - t0)
            if len(times) >= 2 and max(times) / min(times) <= SPREAD_LIMIT:
                break
        per_query[name] = round(min(times), 3)
        if max(times) / min(times) > SPREAD_LIMIT:
            # still >2x after retries: the MIN may itself be inflated —
            # tag it so a reader never mistakes a steal episode for a
            # regression (the r2 postmortem: 3-5x phantom regressions)
            steal_suspect.append(name)
        total += min(times)
    if pipe["pipeline_steal_suspect"]:
        steal_suspect.insert(0, "token_pipeline")

    bw_post = memory_bandwidth_probe()
    # aggregate 8-process bandwidth: r4 measured windows where the
    # single-thread probe read ~6 GB/s QUIET while 2- and 8-process
    # aggregates were crushed to <1 GB/s (neighbor load alternating on a
    # sub-minute scale and/or hitting only multi-worker scheduling) — the
    # flagship runs 32 workers, so the AGGREGATE number is the one its
    # throughput actually depends on. Quiet host: C(8) ~ 10; contended:
    # can read below the single-thread figure.
    try:
        from tools_bw_profile import aggregate_bw

        # settle 3s, probe twice 3s apart, take MAX: Spark's own teardown
        # afterglow (memory release / worker exits) crushes an immediate
        # probe to 1-2 GB/s for ~2-4s even on a quiet bus (measured),
        # while a real neighbor episode is sustained for minutes — so
        # max-of-2 spaced probes still detects genuine contention but
        # never false-flags our own cleanup
        time.sleep(3.0)
        _p1 = aggregate_bw(8, dur=2.0)
        time.sleep(3.0)
        _p2 = aggregate_bw(8, dur=2.0)
        bw_agg8 = round(max(_p1, _p2), 2)
    except Exception as e:
        # conservative: without the aggregate probe the detector degrades
        # to the single-thread signal r4 measured reading 'quiet' while
        # the 8-proc bus was crushed — so a missing probe must mark the
        # artifact contended, never silently clean
        print(f"WARN: aggregate_bw probe failed ({e!r})", file=sys.stderr)
        bw_agg8 = None
    # sustained neighbor-VM bandwidth contention: the flagship
    # tokens/sec is NOT comparable to quiet-window records when true
    # (the bandwidth-bound kernel slows 3-4x; light queries don't).
    # 8 GB/s: below every quiet reading ever taken on either host
    # (old-host quiet ceiling C(8)=9.9, post-outage host 20-43) and
    # above the contended band (<1-6.4 measured). The old 6.0 let a
    # 6.36 GB/s episode on the new host stamp a 1.8x-slow flagship
    # reading as clean (2026-08-18 23:5x run). A failed probe marks
    # contended — never silently clean.
    contended = (
        min(bw_pre, bw_post) < BW_CONTENDED_GBPS
        or bw_agg8 is None
        or bw_agg8 < 8.0
    )
    out = {
        "metric": "tokens/sec (flagship token pipeline); queries = wall secs",
        "value": pipe["tokens_per_sec"],
        "unit": "tokens/sec",
        "queries": {"token_pipeline": pipe["pipeline_sec"], **per_query},
        "sf": sf_name,
        "total_sec": round(total, 3),
        "steal_suspect": steal_suspect,
        "bw": {"pre": bw_pre, "post": bw_post, "agg8": bw_agg8},
        "contended": contended,
        "cpus": CPUS,
    }
    # The full detail (per-run sample lists, monitor stats, pipeline
    # breakdown) goes to a side file: the round driver keeps only the
    # LAST 2000 chars of stdout, and the r4 artifact's JSON line blew
    # past that — head-truncated tail, parsed: null. The stdout line
    # must stay parseable from a 2000-char tail, so it is compact-
    # separated and hard-budgeted at 1900 chars (steal-suspect names,
    # then the probe block, yield if a long list would overflow —
    # their full values are always in the side file).
    try:
        detail_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH",
            "bench_last_detail.json",
        )
        os.makedirs(os.path.dirname(detail_path), exist_ok=True)
        with open(detail_path, "w") as f:
            json.dump({**out, "pipeline": pipe}, f, indent=1)
    except OSError as e:
        print(f"WARN: detail sidecar write failed ({e!r})", file=sys.stderr)
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:
        out["steal_suspect"] = len(steal_suspect)  # names in the sidecar
        line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:
        out.pop("bw", None)
        line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:
        # a uniformly slow (contended) sweep renders 6-7-char times;
        # 2dp keeps every per-query number meaningful and always fits
        out["queries"] = {k: round(v, 2) for k, v in out["queries"].items()}
        line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:
        out.pop("total_sec", None)
        out.pop("steal_suspect", None)
        line = json.dumps(out, separators=(",", ":"))
    # never crash the driver's bench run over formatting: as an absolute
    # last resort ship the contract-required fields only
    if len(line) > 1900:
        out = {k: out[k] for k in ("metric", "value", "unit", "queries", "sf")}
        line = json.dumps(out, separators=(",", ":"))
    assert len(line) <= 1900, f"bench stdout line {len(line)} > 1900"
    print(line)


if __name__ == "__main__":
    main()
