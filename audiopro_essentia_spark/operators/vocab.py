"""Vocabulary building + corpus encoding — the tokenizer stage of a
training-data pipeline (frequency-ranked word vocab, then text -> id
arrays ready for sequence packing / framing).

The reference consumes pre-tokenized signal arrays; this supplies the
missing text->tokens step at corpus scale (pairs with packing.pack_shards
and framing.frame_tokens downstream).

Scale design:
- build_vocab: one explode + one hash-agg (map-side combine) + a rank
  over the AGGREGATED vocab table (size = distinct words <= max_vocab
  cap, orders of magnitude smaller than the corpus — the only window
  runs there, never on corpus rows).
- encode_documents: posexplode (narrow) + broadcast join against the
  bounded vocab + one shuffle back to doc_id with in-group sort by word
  position. OOV words map to UNK_ID, so drift between vocab snapshot and
  corpus never drops tokens silently.
- Everything is JVM expressions; ranking ties break on the word itself,
  making ids deterministic across engines/runs (DuckDB oracle-exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

UNK_ID = 0  # reserved; real ids start at 1 (frequency rank)


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    max_vocab: int | None = None,
    min_count: int = 1,
) -> DataFrame:
    """Frequency-ranked vocabulary: (word, id, cnt), id 1..V by
    (count desc, word asc) — the deterministic tie-break keeps ids stable
    across runs and engines. id 0 is reserved for <unk>."""
    counts = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
    )
    # the window runs on the aggregated vocab table (bounded), not the
    # corpus; single partition is acceptable for <=O(1M) vocab rows —
    # for larger caps, rank via sort + zipWithIndex-style two-phase
    ranked = counts.withColumn(
        "id",
        F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("word"))),
    )
    if max_vocab is not None:
        ranked = ranked.where(F.col("id") <= max_vocab)
    return ranked.select("word", "id", "cnt")


def _maybe_broadcast(vocab: DataFrame, broadcast: bool) -> DataFrame:
    return F.broadcast(vocab) if broadcast else vocab


def encode_documents(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast: bool = True,
) -> DataFrame:
    """text -> array<int> of vocab ids in word order (OOV -> UNK_ID).

    Tokenization matches build_vocab exactly: empty-string tokens from
    doubled/leading/trailing spaces are FILTERED, not encoded — '' is
    never in any vocab, so leaving them in would inflate UNK counts and
    break the decode round-trip on spacing alone. Docs with NULL text
    or no words stay in the output with ids = [] (posexplode_outer
    keeps them through the one broadcast join), never silently vanish.

    posexplode keeps the position; array_sort on (pos, id) structs
    reassembles order after the doc_id shuffle without a per-group
    sort-within-window.

    broadcast=True assumes a CAPPED vocab (build_vocab max_vocab set) —
    the hint forces driver collection, so an UNBOUNDED web-scale vocab
    (hundreds of millions of distinct tokens) must pass broadcast=False
    to degrade to an ordinary shuffled join instead of a driver OOM."""
    ws = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), " "),
        lambda w: w != "",
    )
    # posexplode_OUTER keeps a zero-word doc as one (NULL pos, NULL word)
    # row, so coverage survives the single broadcast join (no second
    # spine join that would plan as a SortMergeJoin); collect_list skips
    # the NULL struct, leaving ids = [] for that doc.
    words = df.select(F.col(id_col), F.posexplode_outer(ws).alias("pos", "word"))
    tagged = words.join(
        _maybe_broadcast(vocab.select("word", "id"), broadcast), "word", "left"
    ).select(
        id_col,
        F.when(
            F.col("pos").isNotNull(),
            F.struct(
                F.col("pos"),
                F.coalesce(F.col("id"), F.lit(UNK_ID)).alias("id"),
            ),
        ).alias("pw"),
    )
    return (
        tagged.groupBy(id_col)
        .agg(F.collect_list("pw").alias("pws"))
        .select(
            id_col,
            F.transform(F.array_sort("pws"), lambda s: s["id"]).alias("ids"),
        )
    )


def decode_documents(
    encoded: DataFrame,
    vocab: DataFrame,
    ids_col: str = "ids",
    id_col: str = "doc_id",
    broadcast: bool = True,
) -> DataFrame:
    """ids -> text (UNK_ID renders as '<unk>'). Round-trip identity holds
    for fully in-vocab corpora — the encode/decode contract test.
    Same broadcast caveat as encode_documents."""
    toks = encoded.select(
        F.col(id_col), F.posexplode(F.col(ids_col)).alias("pos", "id")
    )
    back = toks.join(
        _maybe_broadcast(vocab.select("word", "id"), broadcast), "id", "left"
    ).select(
        id_col,
        F.struct(
            F.col("pos"), F.coalesce(F.col("word"), F.lit("<unk>")).alias("w")
        ).alias("pw"),
    )
    return (
        back.groupBy(id_col)
        .agg(F.collect_list("pw").alias("pws"))
        .select(
            id_col,
            F.concat_ws(
                " ", F.transform(F.array_sort("pws"), lambda s: s["w"])
            ).alias("text"),
        )
    )
