"""The three workloads. Each runs from one driver process as a closed loop
with one caller: an operation starts only after the previous one ends.

Every workload follows the same shape:
1. generate its inputs from the seed (not timed);
2. start the SparkSession and run one cold operation: `setup_s`;
3. repeat the operation until `seconds` have passed (at least MIN_OPS
   measured), rerunning any operation that lost more than STEAL_CEILING
   of its CPU time to the hypervisor;
4. check the outputs (not timed);
5. with tracing on, time each layer by a growing prefix of the
   pipeline, keyed to the event log by job description.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
from pyspark.sql import functions as F

import harness
import inputs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tests"))

FLAGSHIP_DOCS = 256
WRITER_DOCS = 256
WRITER_BUCKETS = 16
WRITER_STOP_AFTER = 8
WRITER_FEATURES = ("rms", "volume")
# the row counts of the repository's sf0.1 test tables (TESTDATA.md)
SQL_ROWS = {"n_events": 100_000, "n_docs": 5_000}
ROSTER = (
    "rolling",
    "time_rolling",
    "sessionize",
    "asof_join",
    "kl_drift",
    "containment",
    "tfidf",
    "vocab",
    "bigram_surprisal",
)
MIN_OPS = 3
# a roster pass at sf0.1 size takes ~13 s, so two passes already outlast
# the measuring time; roster_s sums 9 per-query medians of 2 runs each
SQL_MIN_PASSES = 2
# seconds of unmeasured operations between the cold one and the measured
# loop: flagship passes keep getting faster for ~8-10 s after the cold
# pass (first warm passes 15-25 % slower). sql_mix needs none: its roster
# time takes each query's median over the passes.
WARMUP_S = {"flagship": 8.0, "writer_resume": 8.0, "sql_mix": 0.0}
# an operation whose CPU time was stolen beyond this share is rerun; past
# twice the measuring time every operation counts, its time corrected
STEAL_CEILING = 0.10
# fixed docs whose frames are checked against the numpy oracle
CHECK_DOC_IDX = (0, 1, FLAGSHIP_DOCS // 2, FLAGSHIP_DOCS - 1)
SCALAR_FEATURES = (
    "rms",
    "volume",
    "zero_crossing_rate",
    "spectral_centroid",
    "spectral_bandwidth",
    "spectral_flatness",
    "spectral_rolloff",
)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Run:
    """One benchmark run: its session, counters and the closed loop."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.session = harness.Session(work, event_log=trace)
        self.attempted = 0
        self.failed = 0
        self.steal_discarded = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.named: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, float] = {}
        self.tracer: harness.Tracer | None = None
        self.events: dict = {}

    def attempt(self, fn):
        """Run one operation; an exception counts as a failed operation."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def setup(self, op) -> float:
        """Session start plus the first (cold) operation."""
        with harness.Timer() as t:
            if self.attempt(op) is None:
                raise RuntimeError("cold operation failed")
        return self.session.start_s + t.s

    def loop(self, op, warmup_s: float, min_ops: int = MIN_OPS) -> list[dict]:
        """Closed loop: `op` returns a dict of named durations with its
        `steal` share, or None when it failed (it counts its own attempts).
        Operations started in the first `warmup_s` seconds are not
        measured, nor are those with more steal than STEAL_CEILING until
        the loop has run for twice `seconds`."""
        warm_until = time.perf_counter() + warmup_s
        while time.perf_counter() < warm_until:
            op()
        out: list[dict] = []
        deadline = time.perf_counter() + self.seconds
        steal_until = deadline + self.seconds
        while len(out) < min_ops or time.perf_counter() < deadline:
            rec = op()
            if rec is None:
                pass
            elif rec["steal"] > STEAL_CEILING and time.perf_counter() < steal_until:
                self.steal_discarded += 1
                print(f"rerun, steal {rec['steal']:.3f}", file=sys.stderr, flush=True)
            else:
                out.append(rec)
                print(f"op {len(out)}: {json.dumps(rec)}", file=sys.stderr, flush=True)
            if self.failed > self.attempted // 2:
                raise RuntimeError("most operations failed")
        return out

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        if not ok:
            self.problems.append(f"{name}: {detail}" if detail else name)


def median_of(recs: list[dict], key: str) -> float:
    return statistics.median(r[key] for r in recs)


def timed(fn) -> harness.Timer:
    with harness.Timer() as t:
        fn()
    return t


def _layer_events(run: Run, ev: dict, prefix: str, desc: str) -> None:
    rec = ev.get(desc)
    if rec is None:
        return
    run.layers[f"{prefix}.python_init_s"] = rec["py_init_ms"] / 1000
    run.layers[f"{prefix}.python_run_s"] = rec["py_run_ms"] / 1000


# -- the pipeline layers (flagship and writer_resume) ------------------------


def _accepted_frames(table) -> int:
    from audiopro_essentia_spark import oracle

    toks = table.column("tokens")
    return sum(
        oracle.n_frames(len(t))
        for t in (np.asarray(toks[i].values) for i in range(len(toks)))
        if oracle.reject_reason(t) is None
    )


def _check_frames_against_oracle(run: Run, feats, table) -> None:
    from audiopro_essentia_spark import oracle

    ids = table.column("doc_id").to_pylist()
    picked = {ids[i]: np.asarray(table.column("tokens")[i].values) for i in CHECK_DOC_IDX}
    rows = feats.filter(F.col("doc_id").isin(list(picked))).collect()
    for doc_id, toks in picked.items():
        wins = oracle.frame_windows(toks)
        got = sorted((r for r in rows if r.doc_id == doc_id), key=lambda r: r.frame_idx)
        run.check(f"oracle frames {doc_id}", len(got) == len(wins), f"{len(got)} != {len(wins)}")
        for row in got:
            exp = oracle.frame_features(wins[row.frame_idx])
            ok = all(
                np.allclose(getattr(row, k), exp[k], rtol=1e-5, atol=1e-8)
                for k in SCALAR_FEATURES
            )
            ok &= np.allclose(row.mfcc, exp["mfcc"], rtol=1e-5, atol=1e-8)
            ok &= np.allclose(row.chroma, exp["chroma"], rtol=1e-3, atol=1e-6)
            bands = row.frequency_bands.asDict()
            ok &= all(
                np.allclose(bands[b], v, rtol=1e-5, atol=1e-8)
                for b, v in exp["frequency_bands"].items()
            )
            if not ok:
                run.check(f"oracle features {doc_id}#{row.frame_idx}", False)
                return


def _trace_chain(run: Run, tr: harness.Tracer, spark, seq_path: str, features, steps) -> dict:
    """Time the growing prefix scan -> profile -> kernel -> enrich, then
    `steps` (name -> callable); each prefix runs under its own span and
    job description `layer|<name>`. Returns the span durations."""
    from audiopro_essentia_spark.operators.aggregates import doc_profile_fused
    from audiopro_essentia_spark.operators.fused import fused_frame_features
    from audiopro_essentia_spark.sources.sequences import read_sequences

    raw = read_sequences(spark, seq_path)
    chain = {
        # size() decodes every token list without turning it into rows
        "scan": lambda: noop(raw.select("doc_id", F.size("tokens"), "base_ts")),
        "profile": lambda: noop(doc_profile_fused(raw)),
        "kernel": lambda: noop(fused_frame_features(raw, features=features, validate=True)),
        **steps,
    }
    for name, fn in chain.items():
        with tr.span(f"layer|{name}"):
            fn()
    d = {n: tr.duration(f"layer|{n}") for n in chain}
    run.layers.update(
        {
            "sequences.scan_s": d["scan"],
            "aggregates.profile_s": d["profile"] - d["scan"],
            "fused.kernel_s": d["kernel"] - d["scan"],
            # enrich runs both branches, each with its own scan
            "pipeline.enrich_self_s": d["enrich"] - d["profile"] - d["kernel"],
        }
    )
    return d


def _chain_events(run: Run, ev: dict) -> None:
    """Event-log counts for the pipeline chain."""
    if "layer|scan" in ev:
        run.layers["sequences.scan_tasks"] = float(ev["layer|scan"]["tasks"])
    if "layer|kernel" in ev:
        run.layers["fused.tasks"] = float(ev["layer|kernel"]["tasks"])
        run.layers["fused.task_skew"] = harness.task_skew(ev["layer|kernel"])
    if "layer|asof" in ev:
        run.layers["asof.shuffle_bytes"] = float(ev["layer|asof"]["shuffle_bytes"])
        run.layers["asof.spill_bytes"] = float(ev["layer|asof"]["spill_bytes"])
    _layer_events(run, ev, "aggregates", "layer|profile")
    _layer_events(run, ev, "fused", "layer|kernel")


class StopAfterCommits:
    """A stop request that turns on once `n` buckets have committed."""

    def __init__(self, out_dir: str, n: int):
        self.pattern = os.path.join(out_dir, "_lineage", "commit_*.json")
        self.n = n

    def is_set(self) -> bool:
        return len(glob.glob(self.pattern)) >= self.n


class Writer:
    """Checkpointed writes of the pipeline into fresh directories: a full
    write, and a write stopped after WRITER_STOP_AFTER commits followed by
    its resume. Each raises when the writer's own stats are wrong."""

    def __init__(self, spark, seq_path: str, work: str, features):
        self.spark, self.seq_path, self.work, self.features = spark, seq_path, work, features
        self.n = 0

    def _out_dir(self) -> str:
        self.n += 1
        return os.path.join(self.work, f"out{self.n}")

    def _write(self, out: str, stop=None) -> dict:
        from audiopro_essentia_spark.plans.pipeline import analyze_sequences

        return analyze_sequences(
            self.spark,
            self.seq_path,
            features=self.features,
            out_dir=out,
            n_buckets=WRITER_BUCKETS,
            stop_event=stop,
        )["write_stats"]

    @staticmethod
    def _expect(ok: bool, what: str) -> None:
        if not ok:
            raise RuntimeError(what)

    def fresh(self) -> tuple[harness.Timer, dict, str]:
        stats: dict = {}
        out = self._out_dir()
        took = timed(lambda: stats.update(self._write(out)))
        self._expect(len(stats["committed"]) == WRITER_BUCKETS, "fresh write left buckets")
        self._expect(stats["completion_ratio"] == 1.0, "fresh write incomplete")
        return took, stats, out

    def stop_and_resume(self) -> tuple[harness.Timer, dict, str]:
        """Timer from the stopped write's start until the resumed write
        has stamped _SUCCESS; the resume's stats; the output dir."""
        out = self._out_dir()
        with harness.Timer() as t:
            first = self._write(out, StopAfterCommits(out, WRITER_STOP_AFTER))
            second = self._write(out)
        self._expect(os.path.exists(os.path.join(out, "_SUCCESS.json")), "no _SUCCESS")
        self._expect(first["stopped"], "write did not stop")
        self._expect(
            len(first["committed"]) == WRITER_STOP_AFTER
            and len(second["committed"]) == WRITER_BUCKETS - WRITER_STOP_AFTER,
            "resume did not split the buckets 8 + 8",
        )
        return t, second, out


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _trace_sink(run: Run, tr: harness.Tracer, writer: Writer, enrich_s: float) -> None:
    """Sink layer: a fresh checkpointed write, then a stop-and-resume
    cycle, each against the enrich prefix it reruns."""
    from audiopro_essentia_spark.sources.sinks import CheckpointedWriter

    with tr.span("layer|write"):
        _, _, fresh_dir = writer.fresh()
    with tr.span("layer|resume_cycle"):
        _, resumed, _ = writer.stop_and_resume()
    write_s = tr.duration("layer|write")
    cycle_s = tr.duration("layer|resume_cycle")
    run.layers.update(
        {
            "sinks.write_self_s": write_s - enrich_s,
            # the stopped write and the resume each rerun the pipeline
            "sinks.resume_self_s": cycle_s - 2 * enrich_s,
            "sinks.bytes_written": float(_dir_bytes(os.path.join(fresh_dir, "data"))),
            "sinks.buckets_committed": float(
                len(CheckpointedWriter(fresh_dir, n_buckets=WRITER_BUCKETS).lineage())
            ),
            "sinks.buckets_rewritten": float(len(resumed["committed"])),
        }
    )


# -- flagship ------------------------------------------------------------------


def flagship(run: Run) -> None:
    from audiopro_essentia_spark.operators.asof import asof_join
    from audiopro_essentia_spark.plans.pipeline import analyze_sequences

    corpus = inputs.write_corpus(run.seed, FLAGSHIP_DOCS, run.work)
    table = corpus["table"]
    n_tokens = int(table.column("n_tok").to_numpy().sum())
    spark = run.session.start()

    def build():
        feats = analyze_sequences(spark, corpus["sequences"], repartition_output=False)[
            "frame_features"
        ]
        labels = spark.read.parquet(corpus["labels"])
        return feats, asof_join(feats, labels, left_ts="available_ts", right_ts="label_ts")

    def op() -> dict:
        t = timed(lambda: noop(build()[1]))
        return {"pass_s": t.s, "wall_s": t.wall, "steal": t.steal_share}

    setup_s = run.setup(op)
    passes = run.loop(lambda: run.attempt(op), WARMUP_S["flagship"])
    pass_s = median_of(passes, "pass_s")

    # correctness, outside the timed region; the cached frames feed both
    # the as-of aggregate and the per-doc oracle check
    feats, _ = build()
    feats = feats.persist()
    joined = asof_join(
        feats, spark.read.parquet(corpus["labels"]), left_ts="available_ts", right_ts="label_ts"
    )
    expected = _accepted_frames(table)
    agg = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id", "frame_idx").alias("k"),
        F.sum((F.col("matched_ts") > F.col("available_ts")).cast("long")).alias("leak"),
    ).collect()[0]
    run.check("frame count", agg.n == expected, f"{agg.n} != {expected}")
    run.check("as-of keeps every frame once", agg.k == agg.n, f"{agg.k} != {agg.n}")
    run.check("no temporal leakage", not agg.leak, f"{agg.leak} rows")
    _check_frames_against_oracle(run, feats, table)
    feats.unpersist()

    run.named.update(
        tokens_per_s=(n_tokens / pass_s, "1/s"),
        pass_s=(pass_s, "s"),
        wall_pass_s=(median_of(passes, "wall_s"), "s"),
        steal_share=(median_of(passes, "steal"), "ratio"),
        frames=(float(agg.n), "count"),
    )
    run.e2e = {"setup_s": setup_s, "work_per_s": n_tokens / pass_s, "op_s": pass_s}

    if run.trace:
        run.tracer = tr = harness.Tracer(spark)
        with tr.span("op|traced"), harness.Timer() as traced:
            noop(build()[1])
        d = _trace_chain(
            run, tr, spark, corpus["sequences"], None,
            {"enrich": lambda: noop(build()[0]), "asof": lambda: noop(build()[1])},
        )
        # the sink after the as-of prefix: the pipeline's checkpointed writer
        # (all features, so its self time is measured against this enrich)
        _trace_sink(run, tr, Writer(spark, corpus["sequences"], run.work, None), d["enrich"])
        run.layers.update(
            {
                "asof.self_s": d["asof"] - d["enrich"],
                "fused.frames": float(agg.n),
                "trace.overhead_s": traced.s - pass_s,
            }
        )


# -- writer_resume ---------------------------------------------------------------


def writer_resume(run: Run) -> None:
    from audiopro_essentia_spark.plans.pipeline import analyze_sequences
    from audiopro_essentia_spark.sources.sinks import CheckpointedWriter

    corpus = inputs.write_corpus(run.seed, WRITER_DOCS, run.work)
    expected = _accepted_frames(corpus["table"])
    spark = run.session.start()
    writer = Writer(spark, corpus["sequences"], run.work, WRITER_FEATURES)
    last: dict = {}

    def cycle() -> dict:
        fresh, stats, fresh_dir = writer.fresh()
        shutil.rmtree(fresh_dir)
        resume, resumed, out = writer.stop_and_resume()
        if last:
            shutil.rmtree(last["dir"])
        last.update(dir=out, stats=resumed)
        return {
            "fresh_s": fresh.s,
            "resume_s": resume.s,
            "frames": stats["total_rows"],
            "steal": max(fresh.steal_share, resume.steal_share),
        }

    def cold() -> dict:
        shutil.rmtree(writer.fresh()[2])
        return {}

    setup_s = run.setup(cold)
    cycles = run.loop(lambda: run.attempt(cycle), WARMUP_S["writer_resume"])
    fresh_s = median_of(cycles, "fresh_s")
    resume_s = median_of(cycles, "resume_s")
    frames = cycles[-1]["frames"]

    # exactly-once check on the last resumed output, outside the timed region
    out = CheckpointedWriter(last["dir"], n_buckets=WRITER_BUCKETS)
    back = out.read(spark).agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id", "frame_idx").alias("k")
    ).collect()[0]
    run.check("read-back rows", back.n == expected, f"{back.n} != {expected}")
    run.check("no duplicate frames", back.k == back.n, f"{back.k} != {back.n}")
    run.check("16 committed buckets", len(out.lineage()) == WRITER_BUCKETS)
    run.check("_SUCCESS", os.path.exists(os.path.join(last["dir"], "_SUCCESS.json")))
    run.check("completion_ratio", last["stats"]["completion_ratio"] == 1.0)
    run.check("committed frames", frames == expected, f"{frames} != {expected}")

    run.named.update(
        frames_written_per_s=(frames / fresh_s, "1/s"),
        resume_s=(resume_s, "s"),
        fresh_write_s=(fresh_s, "s"),
        steal_share=(median_of(cycles, "steal"), "ratio"),
    )
    run.e2e = {"setup_s": setup_s, "work_per_s": frames / fresh_s, "op_s": resume_s}

    if run.trace:
        run.tracer = tr = harness.Tracer(spark)
        enrich = lambda: noop(  # noqa: E731
            analyze_sequences(spark, corpus["sequences"], features=WRITER_FEATURES)[
                "frame_features"
            ]
        )
        d = _trace_chain(run, tr, spark, corpus["sequences"], WRITER_FEATURES, {"enrich": enrich})
        with tr.span("op|traced"), harness.Timer() as traced:
            _trace_sink(run, tr, writer, d["enrich"])
        run.layers.update(
            {
                "fused.frames": float(frames),
                "trace.overhead_s": traced.s - fresh_s - resume_s,
            }
        )


# -- sql_mix -------------------------------------------------------------------


class _Collected:
    """Stands in for a DataFrame whose rows were already collected, so the
    twin compare checks the very rows the cold pass produced."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def sql_mix(run: Run) -> None:
    import __spark_entry__ as E
    from driver_compare import compare_one, duck_con

    tables = os.path.join(run.work, "tables")
    os.makedirs(tables)
    inputs.write_sql_tables(run.seed, tables, **SQL_ROWS)
    queries, oracles = E.queries(), E.oracle_sql()
    spark = run.session.start()
    collected: dict = {}

    def cold_query(name: str):
        df = queries[name](spark, tables)
        collected[name] = _Collected(df.columns, df.collect())
        return True

    def roster_pass() -> dict | None:
        per: dict = {}
        for name in ROSTER:
            t = run.attempt(lambda: timed(lambda: noop(queries[name](spark, tables))))
            if t is None:
                return None
            per[name] = t.s
            per["wall_s"] = per.get("wall_s", 0.0) + t.wall
        per["steal"] = 1.0 - sum(per[n] for n in ROSTER) / per["wall_s"]
        return per

    # cold pass: each query's first run collects its rows (timed as set-up)
    with harness.Timer() as t:
        for name in ROSTER:
            run.attempt(lambda: cold_query(name))
    setup_s = run.session.start_s + t.s

    # correctness, not timed: the cold rows against each query's DuckDB twin
    con = duck_con(tables)
    for name in ROSTER:
        if name not in collected:
            run.check(f"twin {name}", False, "cold run failed")
            continue
        problems, _ = compare_one(
            spark, con, name, lambda s, p, c=collected[name]: c, oracles[name], tables
        )
        run.check(f"twin {name}", not problems, "; ".join(problems))
    con.close()

    # a roster pass is made of query runs, each one attempted operation
    passes = run.loop(roster_pass, WARMUP_S["sql_mix"], SQL_MIN_PASSES)
    # each query's median over the passes, summed: one slow query run
    # does not move the roster time
    roster_s = sum(median_of(passes, n) for n in ROSTER)

    run.named.update(
        roster_s=(roster_s, "s"),
        queries_per_s=(len(ROSTER) / roster_s, "1/s"),
        wall_roster_s=(median_of(passes, "wall_s"), "s"),
        steal_share=(median_of(passes, "steal"), "ratio"),
        **{f"q.{n}.median_s": (median_of(passes, n), "s") for n in ROSTER},
    )
    run.e2e = {"setup_s": setup_s, "work_per_s": len(ROSTER) / roster_s, "op_s": roster_s}

    if run.trace:
        tr = harness.Tracer(spark)
        with tr.span("op|traced"), harness.Timer() as traced:
            for name in ROSTER:
                with tr.span(f"q|{name}"):
                    noop(queries[name](spark, tables))
        for name in ROSTER:
            run.layers[f"q.{name}.s"] = tr.duration(f"q|{name}")
        run.layers["trace.overhead_s"] = traced.s - roster_s
        run.tracer = tr


def _roster_events(run: Run, ev: dict) -> None:
    for name in ROSTER:
        rec = ev.get(f"q|{name}")
        if rec is None:
            continue
        run.layers[f"q.{name}.shuffle_bytes"] = float(rec["shuffle_bytes"])
        run.layers[f"q.{name}.task_skew"] = harness.task_skew(rec)
        _layer_events(run, ev, f"q.{name}", f"q|{name}")


WORKLOADS = {"flagship": flagship, "writer_resume": writer_resume, "sql_mix": sql_mix}


def execute(workload: str, seed: int, seconds: float, trace: bool, work: str) -> Run:
    run = Run(seed, seconds, trace, work)
    try:
        WORKLOADS[workload](run)
    finally:
        run.session.stop()
    run.e2e["peak_mem_gb"] = run.session.peak_mem_gb()
    run.named.update(
        peak_rss_gb=(run.session.peak_rss_gb(), "GB"),
        jvm_heap_gb=(run.session.jvm_heap_gb(), "GB"),
        workers_rss_gb=(run.session.workers_rss_gb(), "GB"),
        steal_discarded=(float(run.steal_discarded), "count"),
    )
    if trace:
        ev = harness.parse_event_log(run.session.event_dir)
        run.layers["session.start_s"] = run.session.start_s
        run.layers["spark.failed_tasks"] = float(sum(r["failed_tasks"] for r in ev.values()))
        _chain_events(run, ev)
        _roster_events(run, ev)
        run.events = ev
    return run
