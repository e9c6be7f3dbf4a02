"""Iterative graph ranking: exact-integer PageRank power iteration and
TextRank keyword extraction (Mihalcea-Tarau EMNLP 2004) over the word
co-occurrence graph.

The new member of the iterative family (kmeans / PCA power iteration /
BPE): state is a GRAPH-sized score table that stays distributed (never
collected — unlike the k x d / d-vector driver state of the others),
updated by n_iter join+aggregate passes over an edge table built in ONE
corpus pass.

Exactness discipline: scores are integer micro-units end-to-end. With
damping d = damping_pct / 100 and every quantity a positive BIGINT,

    s_0(v)   = 1_000_000
    s_t+1(v) = (100 - damping_pct) * 10_000
               + (damping_pct * SUM_u[ (w(u,v) * s_t(u)) div W(u) ]) div 100

where W(u) = total out-weight of u and `div` is integral division
(truncation == floor on positives, identical in Spark, DuckDB `//` and
Python `//` for non-negative operands — the decomp.tdiv rule never
bites because nothing here is negative). Per-edge truncation before the
sum makes every iteration a pure function of the edge multiset —
bit-stable across engines, partitionings and summation orders. The
classic TextRank update s' = (1-d) + d * sum(w/W * s) is reproduced at
micro resolution with <= 1 micro-unit truncation bias per term.

Reference analog: the reference's iterative estimators (tempo
re-estimation loop, utils/audio.py:16-37) collect to the driver;
here the state is vocabulary-sized so the loop stays a DataFrame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import nonempty_words

START_MICRO = 1_000_000


def pagerank_micro(
    edges: DataFrame,
    n_iter: int = 10,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Weighted PageRank over an explicit edge table, exact integer
    micro-unit arithmetic (module docstring). Every node must appear as
    a source (an undirected/symmetrized graph satisfies this by
    construction — textrank_word_graph does); dangling destinations
    would silently lose mass, so they fail LOUD.

    Scale shape: the edge table is localCheckpoint'ed ONCE (it has
    n_iter + 1 consumers — the multi-consumer recompute rule), each
    iteration is one vocab-sized hash join on src plus one
    map-side-combinable sum on dst, cost O(|E|) per iteration
    independent of the corpus the graph was built from. Returns
    (node, score_micro BIGINT)."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    if not 1 <= damping_pct <= 99:
        raise ValueError(f"damping_pct must be in [1, 99], got {damping_pct}")
    # the caller's edge subtree may be a corpus-scale pass (textrank) and
    # has THREE consumers here (wt aggregate, join probe, dangling check)
    # -> checkpoint once (multi-consumer recompute rule)
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("long").alias("w"),
    ).localCheckpoint(eager=False)
    wt = e.groupBy("src").agg(F.sum("w").alias("tw"))
    # fail LOUD at execution on dangling destinations (a dst that is
    # never a src silently absorbs mass — the pack_shards raise_error
    # pattern, in-plan, with the offending node in the message)
    srcs = wt.select(F.col("src").alias("dst"), F.lit(1).alias("_dok"))
    ew = (
        e.join(wt, "src")
        .join(srcs, "dst", "left")
        .select(
            "src",
            "dst",
            F.when(
                F.col("_dok").isNull(),
                F.raise_error(
                    F.concat(
                        F.lit("pagerank_micro: dangling destination node "),
                        F.col("dst").cast("string"),
                        F.lit(
                            " (never a source) — symmetrize the graph"
                            " or drop the edge"
                        ),
                    )
                ).cast("long"),
            )
            .otherwise(F.col("w"))
            .alias("w"),
            "tw",
        )
        # n_iter downstream consumers -> checkpoint the joined table too
        .localCheckpoint(eager=False)
    )
    s = wt.select(
        F.col("src").alias("node"),
        F.lit(START_MICRO).cast("long").alias("s"),
    )
    base_micro = (100 - damping_pct) * 10_000
    for _ in range(n_iter):
        s = (
            ew.join(s, ew["src"] == s["node"])
            .select("dst", F.expr("(w * s) div tw").alias("c"))
            .groupBy("dst")
            .agg(
                (
                    F.lit(base_micro)
                    + F.expr(f"({damping_pct} * sum(c)) div 100")
                )
                .cast("long")
                .alias("s")
            )
            .select(F.col("dst").alias("node"), "s")
        )
    return s.select("node", F.col("s").alias("score_micro"))


def textrank_word_graph(
    df: DataFrame,
    min_count: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """The TextRank keyword graph: undirected co-occurrence edges
    between ADJACENT words (window 2, the paper's default), self-loops
    (a a) excluded, weight = corpus-wide adjacency count, symmetrized
    by emitting both directions BEFORE the count aggregate (so the
    min_count threshold keeps w(a,b) == w(b,a) and the graph stays
    symmetric). One corpus pass: the bigram explode collapses map-side
    into the vocab-bounded (src, dst) count exchange."""
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    cw = nonempty_words(F.col(text_col), null_as_empty=True)
    base = df.select(cw.alias("_ws"))
    nb = F.greatest(F.size("_ws") - 1, F.lit(0))
    bg = base.select(
        F.explode(
            F.filter(
                F.zip_with(
                    F.slice(F.col("_ws"), 1, nb),
                    F.slice(F.col("_ws"), 2, nb),
                    lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
                ),
                lambda p: p["w1"] != p["w2"],
            )
        ).alias("_bg")
    )
    und = bg.select(
        F.col("_bg.w1").alias("src"), F.col("_bg.w2").alias("dst")
    ).unionAll(
        bg.select(F.col("_bg.w2").alias("src"), F.col("_bg.w1").alias("dst"))
    )
    return (
        und.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= min_count)
    )


def textrank_keywords(
    df: DataFrame,
    n_iter: int = 10,
    damping_pct: int = 85,
    top_k: int = 100,
    min_count: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea-Tarau EMNLP 2004): rank
    words by PageRank over the adjacent-co-occurrence graph — the
    unsupervised keyword scorer that beats raw frequency because a
    word's importance comes from the importance of its neighbors, not
    its count. Graph + iteration semantics in textrank_word_graph /
    pagerank_micro; global top-k is orderBy+limit =
    TakeOrderedAndProject with the (score DESC, word) total order
    making the cut deterministic cross-engine.

    Returns (word, score_micro BIGINT), top_k rows."""
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    g = textrank_word_graph(df, min_count=min_count, text_col=text_col)
    ranked = pagerank_micro(g, n_iter=n_iter, damping_pct=damping_pct)
    return (
        ranked.orderBy(F.desc("score_micro"), "node")
        .limit(top_k)
        .select(F.col("node").alias("word"), "score_micro")
    )
