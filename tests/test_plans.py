"""Plan audits: the declarative contract with Catalyst — filters reach the
parquet scan (PushedFilters), projections prune the read schema
(ReadSchema), small dims broadcast, and the flagship pipeline stays narrow
until its aggregation. A scan that reads all columns for a 2-column
projection is wrong at 100 TB regardless of local timings."""

from __future__ import annotations

import contextlib
import importlib
import io

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet_scan(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(d.filter(F.col("n_chars") > 100).select("doc_id"))
    assert "PushedFilters" in plan and "GreaterThan(n_chars,100)" in plan


def test_projection_prunes_read_schema(spark):
    import __spark_entry__ as E

    # _docs_tokens checkpoints its (doc_id, toks) projection of the
    # spread documents read, so the query plan starts at Scan
    # ExistingRDD. Assert the pruning property on both sides: (a) the
    # (doc_id, text) projection it checkpoints reads only those columns
    # at the scan, through the spread (ReadSchema), and (b) the consumer
    # plan reads only the 2-column materialized schema.
    plan = plan_of(E._t(spark, SF, "documents").select("doc_id", "text"))
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "doc_id" in scan and "text" in scan
    for col in ("lang", "source", "n_chars"):
        assert col not in scan, scan
    qplan = plan_of(E.queries()["frame_rms"](spark, SF))
    assert "Scan ExistingRDD" in qplan, qplan
    for col in ("lang", "source", "n_chars"):
        assert col not in qplan, qplan


def test_sequences_scan_prunes_tokens_when_not_needed(spark, tiny_seqs):
    # doc-level metadata pass must not deserialize the token payload
    plan = plan_of(tiny_seqs.select("doc_id", "n_tok"))
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "tokens" not in scan


def test_enrichment_join_broadcasts_small_side(spark):
    import __spark_entry__ as E

    plan = plan_of(E.queries()["enrich_broadcast"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_flagship_pipeline_single_shuffle_before_sink(spark, tiny_seqs):
    """frame features path: narrow (scan -> mapInArrow); the only
    Exchanges allowed in the doc-profile branch are the 1-row global agg
    and the broadcast."""
    from audiopro_essentia_spark.operators.fused import fused_frame_features
    from audiopro_essentia_spark.sources.bucketed import plan_has_exchange

    assert not plan_has_exchange(
        fused_frame_features(tiny_seqs, features=("rms", "mfcc"))
    )


def test_flagship_frame_path_is_one_token_pass(spark, tiny_seqs):
    """frame_features decodes each doc ONCE: one scan of the sequences
    file feeding one Python map (framing, features, quarantine and the
    J2 doc stats all in the fused kernel) — no doc-profile branch and no
    broadcast join creeping back in as a second token pass."""
    from audiopro_essentia_spark.plans.pipeline import analyze_sequences

    path = tiny_seqs.inputFiles()[0]
    ff = analyze_sequences(spark, path, repartition_output=False)["frame_features"]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ff.explain()
    plan = buf.getvalue()
    python_nodes = sum(
        plan.count(n)
        for n in (
            "MapInPandas",
            "MapInArrow",
            "ArrowEvalPython",
            "BatchEvalPython",
            "FlatMapGroupsInPandas",
        )
    )
    assert python_nodes == 1, plan
    assert plan.count("FileScan parquet") == 1, plan
    assert "BroadcastExchange" not in plan and "BroadcastHashJoin" not in plan, plan


def test_lsh_candidate_stages_are_single_eval(spark):
    """Regression guard for the single-eval restructure: each LSH
    candidate generator must evaluate its signature UDF EXACTLY once in
    the plan (Catalyst used to duplicate it into the scan via
    inferred-filter pushdown, and again on the self-join build side —
    4 ArrowEvalPython nodes where 1 suffices)."""
    from audiopro_essentia_spark.operators.dedup import (
        embedding_neardup_pairs,
        minhash_lsh_candidates,
        simhash_neardup_pairs,
    )

    def simple_plan(df) -> str:
        # "formatted" prints every node twice (tree + detail block) —
        # count on the simple plan
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain()
        return buf.getvalue()

    d = spark.read.parquet(f"{SF}/documents.parquet")
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    assert simple_plan(minhash_lsh_candidates(d, k=16, bands=4)).count(
        "ArrowEvalPython"
    ) == 1
    assert simple_plan(simhash_neardup_pairs(d)).count("ArrowEvalPython") == 1
    # embed: ONE signature eval for candidates; the exact-cosine verify
    # joins back to the raw vectors (pure JVM), adding no Arrow node
    assert simple_plan(embedding_neardup_pairs(e)).count("ArrowEvalPython") == 1


def test_aqe_splits_skewed_join_partitions(spark):
    """The engine's join-skew answer is AQE (salting is reserved for
    aggregations): with one hot key dominating the left side, AQE must
    mark the sort-merge join skew-handled at runtime and still produce
    exact results."""
    conf = spark.conf
    olds = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "16KB",
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        left = spark.range(0, 200_000).selectExpr(
            "CASE WHEN id % 10 < 9 THEN 0 ELSE id END AS k", "id AS v"
        )
        right = spark.range(0, 50).selectExpr("id AS k", "id * 100 AS w")
        j = left.join(right, "k")
        # collect() drives THIS DataFrame's QueryExecution, so its
        # AdaptiveSparkPlan is finalized (count() would plan separately)
        n = len(j.collect())
        # hot key 0 (~180k rows) matches right k=0; the rest match k=id
        assert n == 180_000 + left.filter("k > 0 AND k < 50").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in olds.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_capped_top_n_two_phase_with_group_limit_pushdown(spark):
    """Both window phases must carry Spark's WindowGroupLimit partial
    pushdown (map-side pre-limit), and the salted pre-phase must shuffle
    on (group, salt) — the hot-group stream split the operator exists
    for."""
    from audiopro_essentia_spark.operators.skew import capped_top_n

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(
        capped_top_n(d, n=5, group_col="source", order_col="n_chars")
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        capped_top_n(d, n=5, group_col="source", order_col="n_chars").explain()
    simple = buf.getvalue()
    assert simple.count("WindowGroupLimit") == 4  # Partial+Final x 2 phases
    assert "hashpartitioning(source" in simple
    assert "_csalt" in simple  # phase-1 exchange includes the salt
    # formatted AQE output omits the FileScan detail block; the simple
    # text still carries the scan line with its pushdown summary
    assert "PushedFilters" in simple


def test_silence_segments_single_exchange(spark):
    """Two island windows + the segment groupBy must share ONE doc_id
    exchange (identical partitioning/ordering — Catalyst reuses it); a
    second shuffle would double the wide cost of every segmentation."""
    from audiopro_essentia_spark.operators.framing import frame_tokens
    from audiopro_essentia_spark.operators.segmentation import silence_segments

    d = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "doc_id",
        "transform(split(text, ' '), w -> length(w)) AS toks",
    )
    framed = frame_tokens(
        d, frame_length=8, hop=3, tokens_col="toks",
        id_cols=("doc_id",), carry_cols=(), base_ts_col=None,
    )
    seg = silence_segments(framed, min_energy=175, frame_length=8, hop=3)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        seg.explain()
    simple = buf.getvalue()
    assert simple.count("Exchange") == 1, simple


@pytest.mark.parametrize(
    "name",
    [
        "mfcc_delta",
        "kernel_features",
        "kernel_full_geometry",
        "fused_pipeline",
        "spectral_flux",
        "spectral_contrast",
    ],
)
def test_kernel_query_is_one_map_in_arrow(spark, name):
    """Every kernel query reaches the feature kernel one way: ONE
    MapInArrow that frames each doc in numpy — no JVM window explode
    (Generate), no Series UDF (ArrowEvalPython) and no pandas map.
    Spectral flux and contrast read the kernel's spectrum from the same
    map. mfcc_delta's delta/CMN stack must also share ONE doc_id
    exchange + ONE sort across both Window nodes."""
    import __spark_entry__ as e

    df = e.queries()[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    simple = buf.getvalue()
    assert simple.count("MapInArrow") == 1, simple
    assert "MapInPandas" not in simple, simple
    assert "ArrowEvalPython" not in simple, simple
    assert "Generate" not in simple, simple
    if name == "mfcc_delta":
        assert simple.count("Exchange") == 1, simple
        assert simple.count("+- Sort") == 1, simple
        assert simple.count("Window") == 2, simple


def test_seq_metadata_zero_shuffle_zero_python(spark):
    """S1 metadata analogs are a pure narrow JVM projection — any
    Exchange or Python eval in this plan is a regression."""
    import __spark_entry__ as e

    df = e.queries()["seq_metadata"](spark, SF)
    simple_buf = io.StringIO()
    with contextlib.redirect_stdout(simple_buf):
        df.explain()
    simple = simple_buf.getvalue()
    assert "Exchange" not in simple, simple
    assert "Python" not in simple, simple


def test_dsir_bucket_table_broadcasts_no_cartesian(spark):
    """DSIR's per-feature scoring join must be a BROADCAST of the bounded
    bucket table (512 rows) into the exploded-feature stream — a shuffle
    there would re-partition the whole corpus's features by bucket (512
    hot keys at 100 TB); and no CartesianProduct anywhere."""
    from audiopro_essentia_spark.operators.selection import dsir_importance

    d = spark.read.parquet(f"{SF}/documents.parquet")
    out = dsir_importance(d, is_target=F.col("source") == "src0")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain()
    simple = buf.getvalue()
    assert "CartesianProduct" not in simple
    # the lr score join-back must broadcast (the is_target tag rides the
    # feature rows inline since r6 — no tag join to check anymore)
    assert simple.count("BroadcastHashJoin") >= 1
    # the ONE bucket-key exchange is the counts aggregation, and it must
    # carry map-side partial sums (<=512 tiny rows per map partition) —
    # never the raw feature stream (512 hot keys over the whole corpus)
    assert simple.count("hashpartitioning(_b") == 1
    assert "partial_sum(CASE WHEN _is_tgt" in simple


def test_bm25_query_probe_broadcasts(spark):
    """BM25's inverted-index probe (tf x query terms) and the df/idf
    join-back must both be broadcasts — only the tf aggregation and the
    top-k windows may shuffle the corpus side."""
    from audiopro_essentia_spark.operators.selection import bm25_topk

    d = spark.read.parquet(f"{SF}/documents.parquet")
    qs = spark.createDataFrame(
        [(0, "table scan"), (1, "window agg")], "query_id int, query string"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bm25_topk(d, qs, k=3).explain()
    simple = buf.getvalue()
    assert "CartesianProduct" not in simple
    assert simple.count("BroadcastHashJoin") >= 2  # term probe + df join
    # per-query top-k runs the two-phase salted window
    assert "WindowGroupLimit" in simple
    assert "_csalt" in simple


def test_fertility_single_exchange_zero_python(spark):
    """tokenizer_fertility is one narrow fold + ONE groupBy(source)
    exchange; no Python evaluation of any kind."""
    from audiopro_essentia_spark.operators.aggregates import tokenizer_fertility

    d = spark.read.parquet(f"{SF}/documents.parquet")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        tokenizer_fertility(d).explain()
    simple = buf.getvalue()
    assert simple.count("Exchange") == 1
    assert "ArrowEvalPython" not in simple and "BatchEvalPython" not in simple


@pytest.mark.parametrize(
    "module, op",
    [
        ("operators.vocab", "build_vocab"),
        ("operators.tfidf", "tfidf_top_terms"),
        ("operators.aggregates", "source_kl_divergence"),
        ("operators.dedup", "minhash_lsh_candidates"),
    ],
)
def test_operator_never_repartitions_for_layout(spark, module, op):
    """Operators take the layout they are given: on the one-row-group
    read (ONE scan partition) no operator adds a round-robin spread —
    the entry spreads its tables once, at the read (__spark_entry__._t)."""
    fn = getattr(importlib.import_module(f"audiopro_essentia_spark.{module}"), op)
    d = spark.read.parquet(f"{SF}/documents.parquet")
    assert d.rdd.getNumPartitions() == 1
    simple = fn(d)._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in simple, simple


def test_gopher_zero_shuffle_pruned_scan(spark):
    """gopher_quality is ONE codegen projection over the scan: zero
    Python, zero Exchange, and the scan reads only (doc_id, text)."""
    from audiopro_essentia_spark.functions.cleaning import gopher_quality

    d = spark.read.parquet(f"{SF}/documents.parquet")
    df = gopher_quality(d)
    plan = plan_of(df)
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert simple.count("Exchange") == 0, simple
    assert "ArrowEvalPython" not in simple and "BatchEvalPython" not in simple
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "doc_id" in scan and "text" in scan
    for col in ("lang", "source", "n_chars"):
        assert col not in scan, scan


def test_lq_register_aggregate_is_single_pass(spark):
    """lq_quantiles over lq_registers touches the corpus ONCE: the
    bounded register table is checkpoint-truncated because its two
    consumers (cumulative walk + totals) would otherwise re-run the
    corpus aggregate (bucket>=0 pushes below one branch's aggregate, so
    ReusedExchange cannot fire)."""
    from audiopro_essentia_spark.functions.text import nonempty_words
    from audiopro_essentia_spark.operators.sketch import (
        lq_quantiles,
        lq_registers,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    v = F.size(nonempty_words(F.col("text"), null_as_empty=True))
    out = lq_quantiles(lq_registers(d.withColumn("v", v), "v"))
    out.collect()
    simple = out._jdf.queryExecution().executedPlan().toString()
    # post-checkpoint plan: all downstream work reads the checkpointed
    # registers — the parquet scan ran exactly once, at materialization
    assert "FileScan" not in simple


def test_edit_neardup_single_arrow_eval_no_text_in_buckets(spark):
    """edit_neardup_pairs: ONE Arrow eval (the simhash signature);
    the bucket shuffle carries (id, sig) structs — full text joins back
    only for the sparse candidates."""
    from audiopro_essentia_spark.operators.dedup import edit_neardup_pairs

    d = spark.read.parquet(f"{SF}/documents.parquet")
    out = edit_neardup_pairs(d, max_dist=4)
    simple = out._jdf.queryExecution().executedPlan().toString()
    assert simple.count("ArrowEvalPython") == 1
    assert "levenshtein" in simple


def test_bloom_probe_zero_python_registers_broadcast(spark):
    """bloom_membership: zero Python anywhere (hash/shift/mask/bit_or
    are all JVM expressions), the bounded register table rides a
    BroadcastHashJoin at the probe, and the only nested-loop node is
    the 1-row group-spine cross broadcast (the documented acceptable
    BNLJ shape) — the probe side never shuffles on the key universe."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "_entry_bloomplan",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "__spark_entry__.py",
        ),
    )
    E = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(E)
    df = E._staged_queries()["bloom_membership"](spark, SF)
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in simple
    assert "BatchEvalPython" not in simple
    assert "CartesianProduct" not in simple
    # probe join + final flag join-back both broadcast
    assert simple.count("BroadcastHashJoin") >= 2
    # spine cross: exactly one BNLJ and it must be the Cross build
    assert simple.count("BroadcastNestedLoopJoin") == 1


def test_sessionize_shares_one_sort(spark):
    """sessionize's lag pass and running-sum pass share ONE physical
    Sort: the micros ordering value is a named column, not a per-window
    re-projected expression (the with_time_rolling alias trap — 2 Sort
    nodes before the fix)."""
    import datetime as dt

    from audiopro_essentia_spark.operators.temporal import sessionize

    base = dt.datetime.fromisoformat("2024-01-01 00:00:00")
    df = spark.createDataFrame(
        [(i, "u", base + dt.timedelta(seconds=i * 100)) for i in range(10)],
        "pid long, user string, ts timestamp",
    )
    out = sessionize(df, ("user",), "ts", 300.0)
    simple = out._jdf.queryExecution().executedPlan().toString()
    assert simple.count("- Sort [") == 1
    assert simple.count("Exchange") == 1


PYTHON_NODES = (
    "MapInPandas",
    "MapInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
)


def _asof_plan_counts(df, key: str) -> dict:
    """Counts over the physical plan: all Exchanges, the hash Exchanges
    on `key` alone, Window nodes and Python nodes."""
    import re

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    plan = buf.getvalue()
    return {
        "plan": plan,
        "exchanges": plan.count("Exchange "),
        "key_exchanges": len(
            re.findall(rf"Exchange hashpartitioning\({key}#\d+L?, \d+\)", plan)
        ),
        "windows": len(re.findall(r"\bWindow \[", plan)),
        "python": sum(plan.count(n) for n in PYTHON_NODES),
    }


@pytest.fixture(scope="module")
def flagship_frames_and_labels(spark, tiny_seqs, tiny_table, tmp_path_factory):
    import pyarrow.parquet as pq

    from audiopro_essentia_spark.fixtures import make_labels
    from audiopro_essentia_spark.plans.pipeline import analyze_sequences

    p = str(tmp_path_factory.mktemp("asof_plan") / "labels.parquet")
    pq.write_table(make_labels(tiny_table.column("doc_id").to_pylist()), p)
    path = tiny_seqs.inputFiles()[0]
    feats = analyze_sequences(spark, path, repartition_output=False)["frame_features"]
    return feats, spark.read.parquet(p)


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_flagship_asof_is_one_key_shuffle(spark, flagship_frames_and_labels, direction):
    """The flagship's as-of join (frames <- labels on doc_id) adds ONE
    hash Exchange on the key and no Python node to the one-token-pass
    frame path. backward and forward scan once (one Window); nearest runs
    both scans over that same shuffle (two Windows)."""
    from audiopro_essentia_spark.operators.asof import asof_join

    feats, labels = flagship_frames_and_labels
    out = asof_join(
        feats, labels, left_ts="available_ts", right_ts="label_ts", direction=direction
    )
    c = _asof_plan_counts(out, "doc_id")
    assert c["exchanges"] == 1 and c["key_exchanges"] == 1, c["plan"]
    assert c["windows"] == (2 if direction == "nearest" else 1), c["plan"]
    assert c["python"] == 1, c["plan"]  # the fused kernel's map only


def test_q_asof_join_is_one_key_shuffle(spark):
    """q_asof_join: one hash Exchange on user_id for the join (the other
    Exchange is the purchases' pre-aggregate on (user_id, ts)), one
    Window, no Python node."""
    import __spark_entry__ as e

    c = _asof_plan_counts(e.queries()["asof_join"](spark, SF), "user_id")
    assert c["key_exchanges"] == 1, c["plan"]
    assert c["exchanges"] == 2, c["plan"]
    assert c["windows"] == 1, c["plan"]
    assert c["python"] == 0, c["plan"]
