"""C4-style line-level corpus cleaning (Raffel et al. 2020, JMLR — the
public C4 pipeline rules), expressed as pure Catalyst expressions.

Rules implemented (each a narrow JVM expression, no Python, no shuffle):
  line level — keep a line iff it has >= `min_words_per_line` whitespace
    words, ends in a terminal punctuation mark (. ! ? "), and does not
    mention 'javascript' (case-insensitive);
  document level — keep a document iff >= `min_kept_lines` lines survive,
    and the raw text contains neither 'lorem ipsum' (case-insensitive)
    nor a curly brace '{'.

This is the text-corpus analog of the reference's per-file validation
gates (reference: src/audiopro/audio/audio_loader.py:40-58 rejects
files failing load-time integrity checks before any feature work): both
drop malformed payload early, before the expensive pipeline stages.

Scale notes: the whole operator is one whole-stage-codegen projection
over the documents scan — filters compose with Catalyst pushdown, and
`keep` is a plain boolean column so a downstream `.filter("keep")`
prunes before any shuffle. Every rule has an exact DuckDB twin
(string_split / list_filter / array_to_string).

The corpus fixtures are single-line word soup with no punctuation, so
the driver demo first derives a deterministic lined corpus with
`synthesize_lines` (10-word chunks; a chunk gets terminal punctuation
iff the portable md5 hash of its raw text is nonzero mod 3) and injects
lorem/brace contamination keyed on doc_id — the same perturbed-twin
pattern the near-dup demos use, constructed identically in the oracle.
"""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from audiopro_essentia_spark.functions.text import (
    nonempty_words,
    portable_hash32,
)

TERMINAL_PUNCT = (".", "!", "?", '"')


def synthesize_lines(text: Column, words_per_line: int = 10) -> Column:
    """Deterministically re-shape single-line word-soup text into a
    multi-line document: consecutive `words_per_line`-word chunks become
    lines, and a chunk receives a trailing '.' iff
    portable_hash32(chunk) % 3 != 0 (so ~2/3 of lines end in terminal
    punctuation). Pure expressions, exact DuckDB twin."""
    ws = nonempty_words(text, null_as_empty=True)
    n_lines = F.ceil(F.size(ws) / F.lit(float(words_per_line))).cast("int")
    raw = lambda i: F.concat_ws(
        " ", F.slice(ws, (i - F.lit(1)) * words_per_line + F.lit(1), words_per_line)
    )
    # two-stage transform: materialize each raw chunk ONCE, then decorate.
    # The one-stage form re-evaluated the concat_ws slice per reference
    # (once for the text, once inside the hash) — HOF lambdas get no
    # common-subexpression elimination. Identical output.
    line = lambda c: F.concat(
        c,
        F.when(F.pmod(portable_hash32(c), F.lit(3)) != 0, F.lit(".")).otherwise(
            F.lit("")
        ),
    )
    return F.when(n_lines < 1, F.lit("")).otherwise(
        F.array_join(
            F.transform(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(n_lines, F.lit(1))), raw
                ),
                line,
            ),
            "\n",
        )
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
BULLET_PREFIXES = ("•", "-", "*")


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher quality-rule document filter (Rae et al. 2021, "Scaling
    Language Models: Methods, Analysis & Insights from Training Gopher",
    Appendix A1.1) — the named heuristic set most public LLM corpus
    pipelines (MassiveText, RefinedWeb, Dolma) apply before any learned
    classifier. One row per document with the measured signals and the
    composite `keep` verdict:

      - word count in [min_words, max_words]
      - mean word length in [3, 10] characters
      - '#'-to-word and '...'-to-word symbol ratios <= 0.1
      - <= 90% of lines starting with a bullet ('•', '-', '*')
      - <= 30% of lines ending with an ellipsis
      - >= 80% of words containing at least one alphabetic character
      - at least 2 distinct Gopher stop words present
        (the / be / to / of / and / that / have / with)

    This is the corpus-quality analog of the reference's load-time
    signal-integrity gates (reference:
    src/audiopro/audio/audio_loader.py:40-58 — reject malformed payload
    before feature work), as a named published rule set.

    Scale shape: ONE whole-stage-codegen projection over the documents
    scan — no UDF, no shuffle; `keep` filters compose with Catalyst
    pushdown. Cross-engine determinism: every ratio is round-6 of an
    exact-BIGINT division and every rule compares the ROUNDED value, so
    the DuckDB twin reproduces both the doubles and the booleans
    bit-for-bit."""
    df = df.select(F.col(id_col), F.col(text_col))
    t = F.coalesce(F.col(text_col), F.lit(""))
    ws = nonempty_words(F.col(text_col), null_as_empty=True)
    n_words = F.size(ws).cast("long")
    sum_chars = F.aggregate(
        ws, F.lit(0).cast("long"), lambda a, w: a + F.length(w).cast("long")
    )
    mean_wl = F.round(
        F.coalesce(
            F.try_divide(sum_chars.cast("double"), n_words.cast("double")),
            F.lit(0.0),
        ),
        6,
    )
    n_hash = (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))).cast(
        "long"
    )
    # greedy left-to-right '...' count — replace() is non-regex in both
    # engines, so '....' counts one ellipsis in both
    n_ell = (
        (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    ).cast("long")
    ratio_w = lambda n: F.round(
        F.coalesce(
            F.try_divide(n.cast("double"), n_words.cast("double")), F.lit(0.0)
        ),
        6,
    )
    lines = F.split(t, "\n")
    n_lines = F.size(lines).cast("long")  # split('') = [''] -> always >= 1
    n_bullet = F.size(
        F.filter(lines, lambda l: F.substring(l, 1, 1).isin(*BULLET_PREFIXES))
    ).cast("long")
    n_ell_end = F.size(
        F.filter(lines, lambda l: F.substring(l, -3, 3) == "...")
    ).cast("long")
    ratio_l = lambda n: F.round(
        F.try_divide(n.cast("double"), n_lines.cast("double")), 6
    )
    n_alpha = F.size(
        F.filter(ws, lambda w: w.rlike("[A-Za-z]"))
    ).cast("long")
    # per-literal membership probe (NOT array_intersect — its dedup
    # semantics differ across engines; this form is identical in both)
    n_stop = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(ws, s),
        )
    ).cast("long")
    hash_ratio = ratio_w(n_hash)
    ell_ratio = ratio_w(n_ell)
    bullet_ratio = ratio_l(n_bullet)
    ell_line_ratio = ratio_l(n_ell_end)
    alpha_ratio = ratio_w(n_alpha)
    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_wl >= 3.0)
        & (mean_wl <= 10.0)
        & (hash_ratio <= 0.1)
        & (ell_ratio <= 0.1)
        & (bullet_ratio <= 0.9)
        & (ell_line_ratio <= 0.3)
        & (alpha_ratio >= 0.8)
        & (n_stop >= 2)
    )
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        hash_ratio.alias("hash_ratio"),
        ell_ratio.alias("ellipsis_ratio"),
        bullet_ratio.alias("bullet_line_ratio"),
        ell_line_ratio.alias("ellipsis_line_ratio"),
        alpha_ratio.alias("alpha_word_ratio"),
        n_stop.alias("n_stopwords"),
        keep.cast("int").alias("keep"),
    )


def c4_line_keep(line: Column, min_words_per_line: int = 5) -> Column:
    """The C4 per-line predicate (see module docstring)."""
    n_words = F.size(nonempty_words(line))
    last = F.substring(line, -1, 1)
    return (
        (n_words >= min_words_per_line)
        & last.isin(*TERMINAL_PUNCT)
        & ~F.contains(F.lower(line), F.lit("javascript"))
    )


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """(id, n_lines, n_kept_lines, keep, clean_text): C4 line filtering +
    document gates. `clean_text` is the surviving lines re-joined with
    newlines ('' when none survive); `keep` is the document-level verdict."""
    df = df.select(F.col(id_col), F.col(text_col))
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(text, "\n")
    kept = F.filter(lines, lambda l: c4_line_keep(l, min_words_per_line))
    has_lorem = F.contains(F.lower(text), F.lit("lorem ipsum"))
    has_brace = F.contains(text, F.lit("{"))
    return df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        (
            (F.size(kept) >= min_kept_lines) & ~has_lorem & ~has_brace
        ).cast("int").alias("keep"),
        F.array_join(kept, "\n").alias("clean_text"),
    )


def byte_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    low: float = 2.0,
    high: float = 5.5,
    min_printable: float = 0.8,
) -> DataFrame:
    """Shannon entropy of the UTF-8 BYTE histogram per document, plus the
    printable-byte ratio — the classic cheap binary-junk / repetitive-
    garbage gate (the signal behind zlib-ratio filters in CCNet-family
    pipelines, without the codec): single-char spam sits at 0, short
    natural text ~2.3-2.8 nats, long mixed text up to ~4.8. Valid
    UTF-8 cannot exceed ~4.8 (multibyte lead/continuation structure),
    so the default high gate of 5.5 only fires on byte-column payloads
    smuggled through as mojibake strings (true binary junk pushes
    ln(256) = 5.545); the printable gate is what catches garbled text.
    One row per input document:

      (doc_id, n_bytes, n_distinct, entropy, printable_ratio, keep)

    keep = n_bytes > 0 AND low <= entropy <= high AND
    printable_ratio >= min_printable, compared on the ROUNDED values
    (the gopher_quality rule discipline).

    Bytes, not characters: Java splits strings between UTF-16 code
    units (an astral char becomes two surrogates) while DuckDB/utf8proc
    splits code points — byte histograms of the UTF-8 encoding are the
    representation both engines agree on exactly (F.hex == DuckDB hex,
    both uppercase), and byte entropy is what actually detects binary
    payload. Exactness (the DSIR/BM25/npmi micro-nat discipline):
    H = ln N - (1/N) * sum_c n_c ln n_c is computed as
    (N*r(ln N) - sum_c n_c*r(ln n_c)) / (N*1e6) with r(x) =
    round(x*1e6) on exact BIGINT counts — every ln is taken once on an
    exact integer, combined exactly, ONE round-6 division at the end;
    printable_ratio is one division of two exact BIGINTs.

    Scale shape: zero Python. The per-byte explode never crosses the
    wire raw — groupBy(doc, byte) partial-aggregates map-side to at
    most 256 rows per doc before its exchange, and the per-doc rollup
    shuffles those compacted rows once more. Two exchanges total, both
    post-combine; `keep` is a plain boolean column that composes with
    Catalyst pushdown. This is the doc-payload analog of the
    reference's load-time signal-integrity gates (reference:
    src/audiopro/audio/audio_loader.py:40-58 — reject malformed payload
    before feature work)."""
    hx = F.hex(F.encode(F.coalesce(F.col(text_col), F.lit("")), "UTF-8"))
    nb = (F.length(hx) / F.lit(2)).cast("int")
    # sequence(1, 0) DESCENDS in Spark — guard empty docs to an empty
    # array; explode_outer keeps them as one NULL-byte row so every doc
    # yields exactly one output row without a second scan branch.
    pos = F.when(nb >= 1, F.sequence(F.lit(1), nb)).otherwise(
        F.lit(None).cast("array<int>")
    )
    per_byte = (
        df.select(
            F.col(id_col),
            F.explode_outer(pos).alias("_i"),
            hx.alias("_hx"),
        )
        .select(
            F.col(id_col),
            F.when(
                F.col("_i").isNotNull(),
                # substring with a computed start: expr form (the
                # python F.substring signature pins pos/len to ints)
                F.expr("substring(_hx, 2 * _i - 1, 2)"),
            ).alias("_b"),
        )
        .groupBy(id_col, "_b")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )

    def mnat(c: Column) -> Column:
        return F.round(F.log(c.cast("double")) * F.lit(1e6)).cast("long")

    v = F.conv(F.col("_b"), 16, 10).cast("int")
    printable = (v >= 32) & (v <= 126) | v.isin(9, 10, 13)
    zero = F.lit(0).cast("long")
    agg = per_byte.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("_b").isNull(), zero).otherwise(F.col("_cnt"))
        ).alias("n_bytes"),
        F.count(F.col("_b")).alias("n_distinct"),
        F.sum(
            F.when(F.col("_b").isNull(), zero).otherwise(
                F.col("_cnt") * mnat(F.col("_cnt"))
            )
        ).alias("_s_micro"),
        F.sum(
            F.when(F.col("_b").isNotNull() & printable, F.col("_cnt")).otherwise(
                zero
            )
        ).alias("_n_print"),
    )
    n = F.col("n_bytes")
    entropy = F.when(
        n > 0,
        F.round(
            (n * mnat(n) - F.col("_s_micro")).cast("double")
            / (n.cast("double") * F.lit(1e6)),
            6,
        ),
    )
    pratio = F.when(
        n > 0,
        F.round(F.col("_n_print").cast("double") / n.cast("double"), 6),
    )
    return agg.select(
        F.col(id_col),
        n.cast("long").alias("n_bytes"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        entropy.alias("entropy"),
        pratio.alias("printable_ratio"),
        F.coalesce(
            (n > 0)
            & (entropy >= F.lit(low))
            & (entropy <= F.lit(high))
            & (pratio >= F.lit(min_printable)),
            F.lit(False),
        ).alias("keep"),
    )
