"""Dump the physical plans of headline driver queries into PLANS.md —
the plan-audit artifact: each plan is annotated with the shape intended
at 100 TB. Regenerate after any operator change:

    python tools_dump_plans.py
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

NOTES = {
    "minhash_lsh": "ONE ArrowEvalPython (signature UDF), one shuffle to (band,bsig) buckets, in-bucket pairs, distinct",
    "simhash": "ONE ArrowEvalPython; chunk-bucket pigeonhole candidates; popcount verify",
    "embed_neardup": "ONE ArrowEvalPython (banding); vectors+norms ride the single (band,bval) shuffle; per-bucket pair scan is ONE FlatMapGroupsInPandas (bit-identical ordered fold, star-capped); round-6 threshold JVM-side",
    "asof_join": "union-tag + window ffill: one hash shuffle + in-partition sort, no join explosion",
    "session_tempo": "one window pass + one hash agg sharing the shuffle",
    "tfidf": "linear shuffles; corpus size N enters as a broadcast one-row aggregate",
    "pack_shards": "distributed two-phase prefix sum; the only single-partition window is the B-row bucket-offset table",
    "spectral_flux": "ONE MapInArrow (framing + the kernel's spectrum output); cross-frame diff is a declarative window lag; onset threshold reuses the same sort",
    "repetition": "grams built once in the explode path; counts fall out of the same aggregate",
    "kernel_features": "ONE MapInArrow frames each doc in numpy and runs the kernel: no Generate, no ArrowEvalPython",
    "spectral_contrast": "same MapInArrow spectrum as spectral_flux; band sort/quantile means are JVM array expressions, narrow",
    "decontaminate": "benchmark shingles broadcast; the corpus is never shuffled",
    "surprisal": "word-count agg with map-side combine; broadcast one-row total; linear join-back",
    "hashed_embedding": "slot counts -> map -> dense transform; norm is a scalar from the SAME aggregate (no projection-collapse blow-up)",
    "incremental_dedup": "md5 + signature left-semi joins; increment cost O(|new|)",
    "pii_redact": "pure JVM regexp chain inside the scan projection — narrow, zero shuffle",
    "span_dedup": "span docfreq pre-agg joins back on the 32-bit span hash (broadcast at small SF, SMJ at scale) — counts only, never collect_list, so hot spans cannot straggle; no self-join",
    "encode_tokens": "vocab ranked on the aggregated table; posexplode + broadcast vocab join + ONE doc_id shuffle (array_sort reassembly, no per-group window sort)",
    "quantize_embed": "narrow zero-shuffle projection; scale enters the lambda via zip_with(array_repeat) — one O(d) max per row, not O(d^2)",
    "salted_join": "hot-key equi-join: salt on big side, replicated broadcast small side — BroadcastHashJoin, zero join shuffle",
    "corpus_rollup": "detail + subtotal + grand total in ONE Expand + hash-agg pass (no triple scan)",
    "monitor_stats": "pass-1 tiny per-group stats broadcast back; trim filter is a map-side predicate, then one hash agg",
    "token_budget": "per-source total (tiny agg) broadcast back as a per-mille rate; the budget filter stays a narrow hash predicate — no per-source cumsum window",
    "semantic_dedup": "assignment localCheckpoint'ed (UDF runs ONCE; was 10 ArrowEvalPython across the 3 consuming branches); within-cluster pair scan is ONE FlatMapGroupsInPandas over cluster_id (bit-identical ordered fold, conservative margin prefilter), round-6 threshold stays JVM-side — no self-join, no cartesian",
    "bigram_surprisal": "bigram/unigram count aggs (map-side combine) + 1-row broadcast vocab + linear join-back; <2-word docs restored by a doc_id left join",
    "quality_classifier": "ONE narrow JVM projection — zero Exchange, zero Python; hashed-BoW weights are an array literal inside the scan projection",
    "bpe_merges": "iterative pair-count agg on the BOUNDED word-freq table (corpus read ONCE); each merge is one map-side-combinable agg + TakeOrdered(1) argmax; merge apply is a pure JVM fold; localCheckpoint truncates the M-deep lineage",
    "temperature_sample": "per-source share agg (tiny) broadcast back as a tau-scaled keep-rate; the sample decision is a narrow content-hash predicate — no shuffle of the corpus",
    "cap_per_group": "two-phase (group,salt)->group window with WindowGroupLimit partial pushdown on BOTH phases — a hot group's top-N spreads over n_salts reducers before the final per-group limit",
    "silence_segments": "gap-and-island windows + segment agg all partitioned on doc_id — ONE exchange reused across both window passes and the groupBy; per-frame energy is an exact-integer JVM fold",
    "mfcc_delta": "ONE MapInArrow (framing + kernel), then ONE doc_id Exchange + ONE Sort serving BOTH Window nodes (delta lags/edge values + CMN doc moments)",
    "seq_metadata": "pure narrow JVM projection fused with the scan — zero Exchange, zero Python (md5/distinct/min/max are per-row array expressions)",
    "bpe_encode": "training reuses the bpe_merges loop (bounded word-freq table); the 6-merge apply is one linear chain of JVM folds over the SAME table — no extra shuffle beyond the word agg",
    "drift_psi": "ONE map-side-combinable (group,bucket) count shuffle over the corpus; spine cross-join, rest-of-corpus subtraction and the PSI fold all run on the n_groups x n_buckets aggregate (broadcast joins)",
    "pit_assembly": "three chained union-window as-of joins, each ONE user_id hash shuffle + in-partition sort — never a join explosion; the error feature is a window cumsum on the pre-aggregated (user,ts) stream",
    "c4_clean": "ONE whole-stage-codegen projection fused with the scan — zero Exchange, zero Python; line synthesis + line filter + doc gates are all array/string expressions",
    "epoch_shuffle": "global rank WITHOUT a global window: order-preserving hash-range buckets, per-bucket row_number, B-row offsets broadcast back (the only order-only window runs on B rows)",
    "span_scrub": "occurrences shuffle ONCE on the span hash; canonical+count one aggregate; sparse non-canonical mask joins back; mask application is a narrow array expression — no self-join",
    "pca_power": "projection stage after the driver-side 2-step power iteration (each step ONE narrow d+2-sum aggregate): a zero-shuffle literal-dot projection fused with the scan",
    "leak_split": "near-dup clusters (min-label propagation, localCheckpoint-truncated) -> split keyed on CLUSTER id: sparse cluster table joins broadcast; the split is a narrow content-hash predicate",
    "padding_waste": "ONE map-side-combinable groupBy over a 2-column scan; all pad math is exact integer expressions inside the aggregate",
    "pack_nosplit": "bucket-aligned greedy fold: ONE shuffle into id buckets + ONE FlatMapGroupsInPandas; no global state, no prefix-sum chain",
    "drift_psi": "ONE map-side-combinable (group,bucket) count shuffle, checkpoint-truncated at its n_groups x n_buckets output (spine/totals/PSI-fold consumers re-ran the corpus aggregate per reference before — 8 FileScans measured); exact micro-nat sum",
    "hll_distinct": "ONE map-side-combinable register groupBy (bounded at groups x 2^p rows); estimate math on the tiny aggregate; zero Python",
    "cms_freq": "ONE map-side-combinable (grp,row,col) register groupBy (bounded at groups x d x w rows); audit-term probe is a broadcast d-row expansion against the bounded register table; exact-count companion runs only on the broadcast-filtered terms; all-integer, zero Python",
    "kl_drift": "THREE corpus passes total (global head count, head-restricted (group,word) count, narrow group spine), each checkpoint-truncated at its bounded output — downstream consumers re-ran the full scan+explode subtree per reference before (16 FileScans measured); exact BIGINT micro-nat sum",
    "zipf_slope": "per-group top-N via WindowGroupLimit pushdown; regression on exact integer sums, zero Python",
    "source_overlap": "ONE corpus-scale shuffle (explode straight into the per-shingle collect_set groupBy — map-side set dedup replaces the old separate .distinct() pass, whose sizes branch re-scanned the corpus); size + pair increments emitted from one narrow explode into a single count aggregate, checkpoint-truncated at its bounded n_sources^2 output; exact BIGINT intersections, one round-6 division",
    "bm25": "inverted-index probe BELOW the tf aggregate: broadcast query-term filter on the exploded tokens BEFORE the (doc,term) groupBy (term is a grouping key, so counts are bit-identical; Catalyst will not push a broadcast join under an aggregate on its own) — the corpus-wide shuffle shrinks to matching tokens; df/idf on the probed subset; salted two-phase top-k",
}

HEADLINE = (
    "minhash_lsh", "simhash", "embed_neardup", "incremental_dedup",
    "asof_join", "session_tempo", "tfidf", "surprisal", "decontaminate",
    "pack_shards", "spectral_flux", "spectral_contrast", "repetition",
    "hashed_embedding", "kernel_features", "pii_redact", "span_dedup",
    "encode_tokens", "quantize_embed", "salted_join", "corpus_rollup",
    "monitor_stats", "token_budget", "semantic_dedup", "bigram_surprisal",
    "quality_classifier", "bpe_merges", "temperature_sample",
    "cap_per_group", "silence_segments", "mfcc_delta", "seq_metadata",
    "bpe_encode", "drift_psi", "pit_assembly", "c4_clean", "epoch_shuffle",
    "span_scrub", "pca_power", "leak_split", "padding_waste",
    "pack_nosplit", "hll_distinct", "kl_drift", "zipf_slope",
    "source_overlap", "cms_freq", "bm25",
)

STAGED_NOTES = {
    "rrf_hybrid": "fusion input is bounded per-query top-K lists; ONE map-side-combinable groupBy on (query, id) + the salted two-phase top-k (WindowGroupLimit x4); upstream bm25/brute keep their own shapes — zero Python",
    "priority_sample": "rank <= k+1 hits WindowGroupLimit; tau rides the SAME single exchange; zero Python",
    "line_scrub": "ONE corpus shuffle on the 64-bit line key serves the (doc,line) collapse AND the doc-freq window; sparse mask joins back",
    "funnel": "type filter pushed to the scan; ONE user shuffle into sorted per-type arrays; chain is zip_with(array_repeat) scalars — zero Python, zero Sort",
    "cohort_retention": "window-min cohorting: 1 FileScan, 1 corpus shuffle on user; distinct reuses it (subset rule); grid-sized tail exchanges",
    "cdc_chunks": "ZERO shuffles: narrow projection (one md5 per candidate position / per chunk) + narrow explode; the demo adds groupBy/join on (doc, chunk_md5)",
    "npmi": "map-side-combinable bigram/unigram counts — 3 corpus scans, none wasted (narrow size() totals; vocab table checkpointed for its two joins); min_count prefilter BEFORE the unigram joins; TakeOrderedAndProject top-k",
    "allpairs_jaccard": "LOSSLESS prefix-filtered candidates (rarest-first global order, per-doc prefix of n - ceil(t*n) + 1): linear shuffles, in-bucket pairs under the size filter, exact-integer verify — no cartesian, no Python, no recall loss",
    "zorder_key": "1-row broadcast bounds; fixed-width exact-BIGINT buckets; unrolled Morton shift/mask interleave in one codegen projection — zero Python; layout = ONE repartitionByRange on the key",
    "gopher_quality": "zero Exchange, zero Python; (doc_id,text)-pruned scan",
    "edit_neardup": "simhash 16-bit-chunk blocked candidates; Levenshtein verify only on hamming-qualified pairs",
    "lq_quantiles": "mergeable log-histogram registers; single-pass post-checkpoint cumulative walk",
    "bloom_membership": "broadcast probe joins against the bounded register table; single spine BNLJ is a 1-row aggregate",
    "interval_join": "bucket-equi-join with BETWEEN residual inside the join — hash join, never BNLJ",
    "time_rolling": "ONE Exchange + ONE Sort serves every (horizon, agg) column",
    "pq_ann": "1 Arrow eval in encode, 2 total in search; queries broadcast with precomputed LUTs; WindowGroupLimit on the rank filter",
    "gini_tokens": "ONE (group, value) histogram pass + the shared _hist_prefix two-phase bucketed below-prefix; tie-run arithmetic-series fold; zero Python",
    "weight_ess": "ONE map-side-combinable aggregate — zero windows, zero joins, zero Python",
    "chao1_vocab": "ONE (group, term) histogram pass; frequency-of-frequency folds on the bounded vocab table",
    "robust_tokens": "ONE corpus histogram; MAD histogram DERIVES from the value histogram (zero extra passes); rank selection off _hist_prefix",
    "qnorm_tokens": "histogram + _hist_prefix; the only corpus join is the assignment join back on the same (group, value) key the histogram aggregated on",
    "target_enc": "ONE map-side-combinable groupBy(group, category); group totals aggregate the category table itself — zero windows, zero Python",
    "target_enc_loo": "same single corpus pass + ONE equi-join back on the (group, category) key the aggregate shuffled on (subset-of-keys)",
    "mi_leakage": "ONE groupBy(group, x, y) corpus pass; cell table checkpointed for its four consumers; micro-nat exact sums",
    "ols_trend": "FIVE exact DECIMAL(38) sufficient statistics in ONE aggregate — the whole operator is one corpus pass",
    "decay_features": "ONE map-side-combinable groupBy(key); per-row micro-rounding before the sums makes shard/epoch merge pure BIGINT addition",
    "fdr_monitors": "input is a TEST table (one row per monitor); map-side histogram + bounded suffix-min window over distinct p + join-back on (group, p)",
    "exact_pcts": "ONE (group, value) histogram + _hist_prefix + exact integer ceil-rank selection — exact AND distributed, no per-group buffering",
    "transitions": "ONE hash exchange + in-partition sort feeds the lag window; ONE map-side-combinable groupBy onto the bounded |types|^2 table",
    "lang_kappa": "ONE groupBy(group, a, b) corpus pass; everything downstream on the bounded checkpointed confusion table",
    "spearman": "two histograms + two join-backs + one aggregate = three corpus passes; doubled midranks off _hist_prefix — zero corpus sorts",
    "ranking_eval": "per-query bounded candidate lists; ONE hash exchange feeds both window sorts, then one map-side-combinable groupBy",
    "pr_curve": "shares the auc histogram + _hist_prefix; curve rows live on the distinct-score table",
    "calibration": "ONE map-side-combinable groupBy(group, bin) — micro-unit Brier/ECE on the bounded bin table",
    "isotonic": "ONE groupBy(group, bin) corpus pass; the PAV minimax lives on the bounded <= n_bins^2 pair table",
    "ks_drift": "group-vs-baseline histogram join + _hist_prefix; exact integer sup-gap",
    "unimax": "ONE corpus-scale per-source sum; the waterfall closed form is G-row tiny",
    "auc_eval": "two-phase bucketed _hist_prefix — never a corpus-scale single-partition window",
    "textrank": "bounded per-doc word-graph; exact-integer PageRank iterations on the edge table",
    "winnow_fp": "lag/lead run-length reformulation of the MOSS window minimum — one exchange, no per-window explode",
    "byte_entropy": "narrow codegen projection over bytes — zero shuffle before the demo aggregate",
    "kmv_distinct": "bounded k-minimum-values registers per source; merge = list union + truncate",
    "kmv_jaccard": "pairwise source sketches on the bounded register table — never a corpus cross join",
    "containment": "probe-prefix x FULL-inverted-index streaming equi-join; exact size bound is the only pruning; linear shuffles, no per-shingle collect",
    "dq_checks": "ONE shared map-side-combinable corpus pass for all non-value checks + one bounded (group, value) pass per uniqueness column (LEFT-joined group spine)",
    "boot_ci": "one plain corpus pass + one explode(B)-widened map-side-combinable groupBy(group, b); downstream bounded by groups x B",
    "cusum_drift": "monitor-series input; three windows on ONE named sort key -> single Sort (CollapseWindow)",
    "ab_welch": "exact HUGEINT conditional sufficient stats in ONE map-side-combinable aggregate — zero windows, zero joins",
    "backtest": "ZERO shuffles: in-row literal fold array + HOF filter over a NAMED micros column; row amplification bounded by k",
    "hill_tail": "histogram + _hist_prefix threshold selection; tail sum on the bounded above-threshold levels; LEFT JOIN ON TRUE global spine",
    "winsor_tokens": "histogram + _hist_prefix bound selection; the only corpus join is the broadcast group-bounds join-back",
    "conformal": "calibration histogram + _hist_prefix rank selection; new frame LEFT-joins the broadcast group-quantile table",
    "survival": "at-risk counts off _hist_prefix; ln prefix-sum window over the bounded distinct-duration curve",
    "qbin_tokens": "histogram + _hist_prefix boundary selection; bin assignment is integer compares against the broadcast group-bounds join-back",
    "chi2_assoc": "one (group,x,y) cell pass; zero-cell identity folds observed cells only; bounded-table margin joins, broadcast totals",
    "sorted_block": "ONE Exchange + ONE Sort + ONE Window for all leads (named sort columns); zero self-joins — pairing via lead",
    "dp_release": "one map-side-combinable count shuffle; noise is a codegen literal fold over the portable hash — zero joins/windows",
    "linreg": "ONE aggregate builds the HUGEINT normal equations; Cramer solve is a codegen projection over the bounded group table",
    "neg_pairs": "epoch_shuffle two-phase rank (checkpointed once for 3 consumers); ONE uniform position equi-join, k probes per anchor",
    "bleu": "row-level gram totals (no explode); overlap via two (id,n,gram) count aggs + one inner equi-join — the tfidf class",
    "rouge2": "same shape as bleu at a single n; recall divides by the reference totals",
    "ref_integrity": "one key histogram per side + ONE full-outer histogram join; 1-row broadcast combines",
    "golden": "melted explode -> value counts -> bounded election windows -> conditional-agg pivot; per-cluster representative window",
    "pref_winrate": "ONE count shuffle onto the bounded pair table; Wilson chain is a codegen projection — zero joins/windows",
    "fleiss": "one (group,item,label) cell pass; per-item + marginal folds on THAT table; pico-unit order-free P_e fold",
    "kripp": "same cell pass; included-only marginals; per-item rational terms micro-rounded then exact-summed",
    "cluster_quality": "one posexplode pass -> bounded (cluster,dim) HUGEINT sums; scatter identities, no centroid table, no row distances",
    "jsd_drift": "kl_drift's spine-pruned one-shuffle shape; bounded JSD term fold",
}


def main() -> None:
    import __spark_entry__ as E
    from audiopro_essentia_spark.session import get_spark

    spark = get_spark()
    qs = E.queries()
    sf = "/root/testdata/sf0.01"
    out = [
        "# PLANS — physical plans of headline queries (sf0.01, AQE on)",
        "",
        "Generated by `python tools_dump_plans.py`. Each plan is the shape",
        "intended at 100 TB — see the one-line note above each.",
        "",
    ]
    def _dump(name: str, df, note: str) -> None:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain()
        plan = buf.getvalue().strip()
        plan = re.sub(
            r"CASE WHEN [^\n]{120,}", lambda m: m.group(0)[:120] + " …]", plan
        )
        plan = "\n".join(line[:200] for line in plan.splitlines())
        out.append(f"## {name}\n\n{note}\n\n```\n{plan}\n```\n")

    for name in HEADLINE:
        _dump(name, qs[name](spark, sf), NOTES.get(name, ""))
    sqs = E._staged_queries()
    out.append("# Staged entries (pre-window, r5 rotation roster)\n")
    for name in sqs:
        _dump(
            f"staged:{name}", sqs[name](spark, sf),
            STAGED_NOTES.get(name, ""),
        )
    with open(os.path.join(os.path.dirname(__file__), "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
