"""S1-S3 — the sequences source: scan + input contract + time slice.

The analog of the reference's load-and-validate stage
(/root/reference/src/audiopro/audio/audio_loader.py:22-123,
validator.py:24-123): schema assertion plays the file-extension/MIME
pre-scan checks; the row-level signal checks are the quarantine verdict
of operators/aggregates.py (`reject_reason_col`, `doc_profile_fused`).

Scale notes: reading Parquet/Iceberg gives predicate pushdown and column
pruning for free; `time_range` slicing (P3, audio_loader.py:72-81) is an
F.slice on the token array — a pure map, pushed next to the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StringType

from ..constants import SAMPLE_RATE

REQUIRED = {"doc_id": StringType(), "n_tok": IntegerType(), "source": StringType()}


def read_sequences(spark: SparkSession, path: str) -> DataFrame:
    """Scan the sequences table (Iceberg in production; Parquet here) and
    assert the input_hint contract."""
    df = spark.read.parquet(path)
    assert_sequences_schema(df)
    return df


def assert_sequences_schema(df: DataFrame) -> None:
    fields = {f.name: f.dataType for f in df.schema.fields}
    for name, dt in REQUIRED.items():
        if name not in fields:
            raise ValueError(f"sequences table missing column {name!r}")
        if fields[name].simpleString() != dt.simpleString():
            raise ValueError(
                f"column {name!r}: expected {dt.simpleString()}, got "
                f"{fields[name].simpleString()}"
            )
    tok = fields.get("tokens")
    if not isinstance(tok, ArrayType) or tok.elementType.simpleString() != "int":
        raise ValueError("column 'tokens' must be array<int>")
    # NOTE: containsNull is NOT checked — the parquet reader reports
    # nullable elements even for files with no null element, so a strict
    # schema check would reject every real table. A null ELEMENT arrives
    # in the kernels as NaN and lands in the nonfinite-frame ferror path
    # (reference bad-frame semantics).


def slice_time_range(
    df: DataFrame,
    start_sec: float | None = None,
    end_sec: float | None = None,
    sample_rate: int = SAMPLE_RATE,
    tokens_col: str = "tokens",
) -> tuple[DataFrame, int]:
    """P3 time-range filter: token slice [start*sr, min(end*sr, len))
    (audio_loader.py:72-81). Returns (df, start_sample) — downstream frame
    times are offset by start_sample (processors.py:281-283)."""
    start_sample = int(start_sec * sample_rate) if start_sec else 0
    if start_sample < 0 or (end_sec is not None and end_sec < 0):
        # Spark's 1-based slice interprets a NEGATIVE start as counting
        # from the END of the array — a negative start_sec would silently
        # return the wrong window and shift downstream frame timestamps
        # negative instead of failing loud
        raise ValueError(
            f"start_sec/end_sec must be >= 0 (got start_sec={start_sec}, "
            f"end_sec={end_sec})"
        )
    if start_sample == 0 and end_sec is None:
        return df, 0
    n = F.size(F.col(tokens_col))
    end_sample = (
        F.least(F.lit(int(end_sec * sample_rate)), n) if end_sec is not None else n
    )
    length = F.greatest(end_sample - F.lit(start_sample), F.lit(0))
    out = df.withColumn(
        tokens_col, F.slice(F.col(tokens_col), start_sample + 1, length)
    ).withColumn("n_tok", F.size(F.col(tokens_col)))
    return out, start_sample


def with_sequence_metadata(
    df: DataFrame,
    tokens_col: str = "tokens",
    sample_rate: int = SAMPLE_RATE,
    codec: str = "tokens-v1",
) -> DataFrame:
    """S1 file-metadata analogs of the reference loader's return tuple
    (audio, sr, channels, md5, bit_rate, codec —
    /root/reference/src/audiopro/audio/audio_loader.py:61-63,100-123):

    - content_md5 / content_sha256: digests of the canonical comma-joined
      token rendering (the analogs of the loader's audio-stream MD5 and
      metadata.py's file sha256_hash) — content-addressed identity for
      dedup/lineage;
    - duration_sec: n_tok / sample_rate (the loader's length/sr);
    - sample_rate / channels / codec: contract constants for the tokens
      payload (1-"channel" int32 token stream);
    - vocab_size, tok_min, tok_max: dictionary-size and dynamic-range
      analogs of bit-depth metadata;
    - bit_rate: ceil(log2(vocab_size)) bits-per-token x sample_rate — the
      effective-bit-rate analog of the loader's codec bit_rate.

    Pure narrow JVM projection — no shuffle, no Python; safe to fuse with
    the scan at any scale.
    """
    toks = F.col(tokens_col)
    n = F.size(toks)
    vocab = F.size(F.array_distinct(toks))
    bits = F.when(vocab <= 1, F.lit(1)).otherwise(
        F.ceil(F.log2(vocab.cast("double"))).cast("int")
    )
    # explicit nullReplacement: array_join SKIPS null elements by default,
    # so [1, NULL, 2] and [1, 2] would collide to the same content digest
    # — a content-addressed dedup/lineage corruption (the schema contract
    # permits null elements). 'null' keeps distinct contents distinct.
    canon = F.array_join(
        F.transform(toks, lambda x: x.cast("string")), ",", "null"
    )
    return df.select(
        "doc_id",
        F.md5(canon).alias("content_md5"),
        F.sha2(canon, 256).alias("content_sha256"),
        n.cast("long").alias("n_tok"),
        F.round(n.cast("double") / F.lit(float(sample_rate)), 6).alias(
            "duration_sec"
        ),
        F.lit(sample_rate).cast("int").alias("sample_rate"),
        F.lit(1).cast("int").alias("channels"),
        F.lit(codec).alias("codec"),
        vocab.cast("long").alias("vocab_size"),
        F.array_min(toks).cast("long").alias("tok_min"),
        F.array_max(toks).cast("long").alias("tok_max"),
        (bits.cast("long") * F.lit(sample_rate)).alias("bit_rate"),
    )
