"""The flagship end-to-end plan — the distributed `analyze_audio`.

Covers the reference orchestrator's DAG (reference
src/audiopro/analysis/controller.py:46-240), which
computes file metadata in its own branch and broadcast-joins it back onto
every frame (J2, controller.py:196-210). Here the frame path is ONE token
pass instead:

    sequences ──┬── fused kernel: framing + features + quarantine
                │   + doc-level J2 columns           (extract_features)
                └── doc profile → doc_metadata / quarantine
                                                     (get_file_metadata)

The kernel attaches rms_amplitude / dynamic_range_db itself through the
doc profile's own per-doc helper (aggregates.doc_profile_np), so each doc
is decoded once on the frame path, and the doc profile is scanned only
when doc_metadata / quarantine (or the writer's completion check) are
evaluated. The writer then commits resumable checkpoints. The reference's
third branch (extract_rhythm) is operators/rhythm.py, outside this plan.

Scale design:
- Framing, features, quarantine and enrichment are one narrow
  Arrow-batched map: no shuffle, no join on the frame path.
- There is one frame path, operators/fused.py. Its reference is the doc
  profile: each frame's rms_amplitude / dynamic_range_db equal its doc's
  doc_metadata row, which is what the reference's J2 broadcast join
  would attach.
- The only shuffles are the writer's completion aggregate and the final
  range partition for ordered output (O1: sortWithinPartitions after
  repartitionByRange — no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import DEFAULT_ERROR_BUDGET_PCT, FRAME_LENGTH, HOP_LENGTH, SAMPLE_RATE
from ..operators.fused import fused_frame_features, nest_frequency_bands
from ..operators.aggregates import DOC_ENRICH_COLS, doc_profile_fused
from ..sources.sinks import CheckpointedWriter


def analyze_sequences(
    spark: SparkSession,
    path: str,
    features: tuple[str, ...] | None = None,
    frame_length: int = FRAME_LENGTH,
    hop: int = HOP_LENGTH,
    sample_rate: int = SAMPLE_RATE,
    start_sec: float | None = None,
    end_sec: float | None = None,
    out_dir: str | None = None,
    n_buckets: int = 16,
    fmt: str = "parquet",
    error_budget_pct: float = DEFAULT_ERROR_BUDGET_PCT,
    repartition_output: bool = True,
    stop_event=None,
) -> dict[str, DataFrame]:
    """Build (and optionally write) the full analysis over a sequences table.

    Returns dict of DataFrames: frame_features, doc_metadata, quarantine.
    When `out_dir` is set, frame_features is committed via the resumable
    CheckpointedWriter with the error-budget gate.
    """
    from ..sources.sequences import read_sequences, slice_time_range

    raw = read_sequences(spark, path)
    raw, start_sample = slice_time_range(raw, start_sec, end_sec)
    # Scan parallelism comes from spark.sql.files.maxPartitionBytes (set it
    # to ~input_bytes/2*cores for narrow inputs), NOT from a repartition():
    # a round-robin shuffle of the full token payload measurably ANTI-scaled
    # here (32 concurrent shuffle writers on one local disk), and at corpus
    # scale the input has thousands of splits anyway. The token payload is
    # not cached either: the frame path scans it once, and a pushdown
    # re-scan is the scale-safe default for the doc profile's second read.

    # one vectorized pass: doc stats + quarantine verdict (A12-A14 + S2/S3)
    profile = doc_profile_fused(raw, frame_length=frame_length)
    if out_dir:
        # the write flow evaluates profile's mapInPandas in >= 2 plan
        # branches (the completion aggregate plus any caller evaluation
        # of doc_metadata/quarantine) — the multi-consumer rule:
        # checkpoint the tiny one-row-per-doc output once instead
        # of re-running a full token-decode pass per branch. Without
        # out_dir (the bench path) the frame path never reads the
        # profile, and an eager checkpoint would only add cost.
        profile = profile.localCheckpoint()
    quarantined = profile.where("reject_reason IS NOT NULL")
    doc_meta = profile.where("reject_reason IS NULL").drop("reject_reason")

    # framing, validation and the J2 enrichment all happen inside the
    # kernel (operators/fused.py): each doc's tokens cross to Python once,
    # rejected docs are skipped without a filter scan, and the doc stats
    # need no profile scan or join. Every input row emits only its own
    # frames, so a doc_id repeated k times yields k x its frames.
    # the doc stats come last (the reference J2 join's column order)
    enriched = nest_frequency_bands(
        fused_frame_features(
            raw,
            features=features,
            frame_length=frame_length,
            hop=hop,
            sample_rate=sample_rate,
            start_sample=start_sample,
            validate=True,
            doc_stats=True,
        ),
        last=DOC_ENRICH_COLS,
    )

    if repartition_output:
        # O1 ordered emission without a global sort
        enriched = enriched.repartitionByRange("doc_id", "frame_idx").sortWithinPartitions(
            "doc_id", "frame_idx"
        )

    result = {
        "frame_features": enriched,
        "doc_metadata": doc_meta,
        "quarantine": quarantined,
    }
    if out_dir:
        writer = CheckpointedWriter(out_dir, n_buckets=n_buckets, fmt=fmt)
        stats = writer.write(
            enriched,
            error_col="ferror",
            error_budget_pct=error_budget_pct,
            # concrete source files (north rule: per-partition lineage
            # carries source file + snapshot id + row counts), not just
            # the root path; capped so one commit JSON stays small
            input_files=sorted(raw.inputFiles())[:1000],
            # cooperative shutdown (process.graceful_shutdown): honored
            # at the writer's atomic-commit boundaries; a stopped run is
            # resumable exactly-once
            stop_event=stop_event,
        )
        # completion check (reference extractor.py:285-289: warn < 97%):
        # expected frames from the accepted docs' n_tok via the count formula
        from ..constants import COMPLETION_WARN_PCT
        from ..operators.framing import n_frames_col

        # ONE aggregate over the profile yields expected frames (accepted
        # docs) AND the quarantined-doc count — callers (CLI summary) must
        # not re-run the profile pass just to count rejects
        agg = profile.select(
            F.sum(
                F.when(
                    F.col("reject_reason").isNull(),
                    n_frames_col(F.col("n_tok"), frame_length, hop),
                ).otherwise(F.lit(0))
            ).alias("e"),
            F.sum(F.col("reject_reason").isNotNull().cast("long")).alias("q"),
        ).collect()[0]
        expected = agg.e or 0
        stats["quarantined_docs"] = int(agg.q or 0)
        written = stats["total_rows"] + sum(
            r["row_count"] for r in writer.lineage() if r["bucket"] in stats["skipped"]
        )
        stats["expected_frames"] = int(expected)
        stats["completion_ratio"] = written / expected if expected else 1.0
        stats["completion_warning"] = stats["completion_ratio"] < COMPLETION_WARN_PCT
        result["write_stats"] = stats
    return result
