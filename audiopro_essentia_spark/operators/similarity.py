"""Similarity search over embedding columns (array<float>): brute-force
cosine top-k (exact baseline) and LSH / IVF bucketed variants (scale path).

Scale design:
- brute-force: queries are broadcast (small side), corpus streams; the dot
  product is a native `F.aggregate(F.zip_with(...))` — JVM-side, no Python.
  At 100 TB the corpus scan parallelizes; cost is linear per query, so it is
  the oracle/baseline, not the serving path.
- LSH (random hyperplanes): deterministic seeded hyperplanes -> sign-bit
  signature -> candidates share a signature prefix band; only candidates get
  exact cosine. One equi-join shuffle on the band key.
- IVF: k centroids (deterministic seeded sample), assign each corpus vector
  to nearest centroid (one broadcast map pass); a query probes only its
  `nprobe` nearest centroid lists.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return F.coalesce(
        F.try_divide(dot_expr(a, b), norm_expr(a) * norm_expr(b)), F.lit(0.0)
    )


def cosine_precomputed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """cosine with per-row norms computed ONCE upstream of the pair join
    (CLAUDE.md O(pairs) rule): the pair expression pays only the dot.
    Same IEEE ops in the same order as cosine_expr — norm_expr evaluated
    per row yields the bit-identical double it yields per pair — so
    round-6 oracle twins are unchanged."""
    return F.coalesce(F.try_divide(dot_expr(a, b), na * nb), F.lit(0.0))


# semantic_dedup hot-cluster block split: clusters above this many rows
# cut into id-range blocks so the O(m^2) pair scan parallelizes across
# block-pair tasks (module constant so the equivalence test can shrink
# it and compare split vs unsplit output bit-for-bit)
SEMANTIC_BLOCK_ROWS = 2048


def margin_pair_fold(ids, vecs, norms, margin, max_bucket=None):
    """The ONE in-UDF pair-cosine fold shared by semantic_dedup and
    dedup.embedding_neardup_pairs — the IEEE-order contract lives here
    and nowhere else (a drifted second copy would silently break the
    other caller's round-6 oracle twin).

    Inputs: ids (ascending), vecs (object array of per-row vectors),
    norms (f64, computed ONCE upstream), margin (conservative prefilter
    threshold - 1e-6; the authoritative round-6 decision stays JVM-side
    on the returned double). Returns (ia, ib, cos): global-index pairs
    with ia < ib positions whose unrounded cosine passes the margin.

    Bit-identical to the SQL aggregate(zip_with(...)) left fold: the
    dot accumulates plane-by-plane in dimension order (((0.0 + p_0) +
    p_1) + ...; numpy elementwise * and + are the same f64 ops Spark's
    codegen emits), den = na*nb, zero den -> cosine 0.0, NaN fails the
    margin like SQL round(NaN) >= t.

    Ragged lengths: SQL zip_with NULL-pads a mixed-length pair -> NULL
    dot -> coalesce(try_divide(...), 0.0) -> fails any positive
    threshold. Mirrored here by folding only within same-length
    classes and dropping cross-length pairs — observably identical,
    where an unconditional np.stack would crash the whole job on one
    corrupt row.

    max_bucket: past it, star pattern — the GLOBAL min-id row vs every
    other member (of its own length class; cross-length pairs drop as
    above), never all pairs (the pinned star-cap edge contract).

    NULL vectors (length sentinel -1) never pair: SQL zip_with(NULL, b)
    -> NULL dot -> cosine 0.0 -> fails any positive threshold."""
    g = len(ids)
    lengths = np.fromiter(
        (-1 if v is None else len(v) for v in vecs), dtype=np.int64, count=g
    )
    uniform = bool(lengths[0] >= 0 and (lengths == lengths[0]).all())
    if max_bucket is not None and g > max_bucket:
        members = (
            np.arange(g, dtype=np.int64)
            if uniform
            else (
                np.nonzero(lengths == lengths[0])[0]
                if lengths[0] >= 0
                else np.zeros(1, dtype=np.int64)  # NULL rep: star emits nothing
            )
        )
        others = members[members != 0]
        if not len(others):
            z = np.zeros(0, dtype=np.int64)
            return z, z, np.zeros(0, dtype=np.float64)
        v0 = np.asarray(vecs[0], dtype=np.float64)
        E = np.stack([np.asarray(vecs[i], dtype=np.float64) for i in others])
        acc = np.zeros(len(others), dtype=np.float64)
        for j in range(E.shape[1]):
            acc += v0[j] * E[:, j]
        dots, dens = acc, norms[0] * norms[others]
        ia, ib = np.zeros(len(others), dtype=np.int64), others
    else:
        classes = (
            [np.arange(g, dtype=np.int64)]
            if uniform
            else [
                np.nonzero(lengths == L)[0]
                for L in np.unique(lengths)
                if L >= 0
            ]
        )
        # Tiled upper-triangle scan (r6): the old single (m, m)
        # accumulator was 200 MB+ per 5k-row cluster and its 64
        # incremental full passes streamed gigabytes through DRAM —
        # measured bus-bound on the shared VM. 256-wide tiles keep the
        # accumulator cache-resident; each pair's dot still adds its
        # j-th product plane in dimension order onto a 0.0 start
        # (acc_tile[p, q] += Ei[p, j] * Ej[q, j] — the identical IEEE
        # multiply/add sequence per pair the full-matrix form ran), so
        # every returned cosine is bit-identical; only the row ORDER of
        # the returned pair list changes (callers distinct/aggregate).
        # The margin filter applies per tile — same kept set.
        tile = 256
        ia_l, ib_l, cos_l = [], [], []
        for idx in classes:
            m = len(idx)
            if m < 2:
                continue
            E = np.stack([np.asarray(vecs[i], dtype=np.float64) for i in idx])
            nn = norms[idx]
            d = E.shape[1]
            for i0 in range(0, m, tile):
                i1 = min(i0 + tile, m)
                Ei = E[i0:i1]
                for j0 in range(i0, m, tile):
                    j1 = min(j0 + tile, m)
                    Ej = E[j0:j1]
                    acc = np.zeros((i1 - i0, j1 - j0), dtype=np.float64)
                    for j in range(d):
                        acc += np.multiply.outer(Ei[:, j], Ej[:, j])
                    den = np.multiply.outer(nn[i0:i1], nn[j0:j1])
                    if j0 == i0:
                        ua, ub = np.triu_indices(i1 - i0, 1)
                    else:
                        ua, ub = np.divmod(
                            np.arange((i1 - i0) * (j1 - j0)), j1 - j0
                        )
                    dots_t = acc[ua, ub]
                    dens_t = den[ua, ub]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos_t = np.where(
                            dens_t == 0.0, 0.0, dots_t / dens_t
                        )
                    keep = cos_t >= margin  # NaN compares False, like SQL
                    if keep.any():
                        ia_l.append(idx[i0 + ua[keep]])
                        ib_l.append(idx[j0 + ub[keep]])
                        cos_l.append(cos_t[keep])
        if not ia_l:
            z = np.zeros(0, dtype=np.int64)
            return z, z, np.zeros(0, dtype=np.float64)
        return (
            np.concatenate(ia_l),
            np.concatenate(ib_l),
            np.concatenate(cos_l),
        )
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.where(dens == 0.0, 0.0, dots / dens)
    keep = cos >= margin  # NaN compares False, like SQL
    return ia[keep], ib[keep], cos[keep]


def margin_cross_fold(vecs_a, norms_a, vecs_b, norms_b, margin):
    """Rectangular companion of margin_pair_fold for the hot-cluster
    block split (r6; guide §2.5 "split hot keys"): every (a, b) pair
    with a from the A side and b from the B side, same tile loop, same
    plane-ordered IEEE accumulation (acc += outer(Ai[:, j], Bj[:, j])
    onto a 0.0 start), same zero-den/NaN margin semantics — so a pair's
    unrounded cosine is bit-identical whether it was evaluated here or
    in margin_pair_fold's upper triangle. Pairs only fold within equal
    vector lengths (the zip_with NULL-pad contract); NULL vectors
    (length -1) never pair. Returns (ia, ib, cos) as LOCAL indices
    into the A / B inputs."""
    la = np.fromiter(
        (-1 if v is None else len(v) for v in vecs_a),
        dtype=np.int64,
        count=len(vecs_a),
    )
    lb = np.fromiter(
        (-1 if v is None else len(v) for v in vecs_b),
        dtype=np.int64,
        count=len(vecs_b),
    )
    tile = 256
    ia_l, ib_l, cos_l = [], [], []
    for L in np.unique(la):
        if L < 0:
            continue
        idx_a = np.nonzero(la == L)[0]
        idx_b = np.nonzero(lb == L)[0]
        if not len(idx_a) or not len(idx_b):
            continue
        A = np.stack([np.asarray(vecs_a[i], dtype=np.float64) for i in idx_a])
        B = np.stack([np.asarray(vecs_b[i], dtype=np.float64) for i in idx_b])
        na, nb = norms_a[idx_a], norms_b[idx_b]
        d = A.shape[1]
        for i0 in range(0, len(idx_a), tile):
            i1 = min(i0 + tile, len(idx_a))
            Ai = A[i0:i1]
            for j0 in range(0, len(idx_b), tile):
                j1 = min(j0 + tile, len(idx_b))
                Bj = B[j0:j1]
                acc = np.zeros((i1 - i0, j1 - j0), dtype=np.float64)
                for j in range(d):
                    acc += np.multiply.outer(Ai[:, j], Bj[:, j])
                den = np.multiply.outer(na[i0:i1], nb[j0:j1])
                ua, ub = np.divmod(
                    np.arange((i1 - i0) * (j1 - j0)), j1 - j0
                )
                dots_t = acc[ua, ub]
                dens_t = den[ua, ub]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos_t = np.where(dens_t == 0.0, 0.0, dots_t / dens_t)
                keep = cos_t >= margin  # NaN compares False, like SQL
                if keep.any():
                    ia_l.append(idx_a[i0 + ua[keep]])
                    ib_l.append(idx_b[j0 + ub[keep]])
                    cos_l.append(cos_t[keep])
    if not ia_l:
        z = np.zeros(0, dtype=np.int64)
        return z, z, np.zeros(0, dtype=np.float64)
    return np.concatenate(ia_l), np.concatenate(ib_l), np.concatenate(cos_l)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query: broadcast the queries, one corpus scan,
    Window row_number <= k. Deterministic tie-break on (cosine desc, id asc).

    Each side's L2 norm is computed once per ROW below the join (queries:
    at broadcast build; corpus: once per streamed row, before codegen's
    inner loop over the broadcast rows), so the per-pair expression pays
    only the dot — the inline form re-folded both dim-d norms per pair,
    tripling the flops of the scan."""
    q = queries.select(
        F.col(query_id),
        F.col(query_vec).alias("_qv"),
        norm_expr(F.col(query_vec)).alias("_qn"),
    )
    c = corpus.select(
        F.col(corpus_id),
        F.col(corpus_vec).alias("_cv"),
        norm_expr(F.col(corpus_vec)).alias("_cn"),
    )
    joined = c.crossJoin(F.broadcast(q)).select(
        query_id,
        F.col(corpus_id),
        F.round(
            cosine_precomputed(
                F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")
            ),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.desc("cosine"), F.asc(corpus_id)
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((n_planes, dim))



def make_lsh_band_udf(n_planes: int, band_bits: int, seed: int = 42):
    """Arrow-vectorized banded sign-LSH: embedding -> array of
    n_planes//band_bits packed band values. Hyperplanes are built lazily
    per DIMENSION seen (deterministic given seed; no driver-side
    .first() action to sniff dim) — a corrupt/ragged row of a different
    length is signed with its own dim's seeded planes instead of
    crashing the whole stage in np.stack; cross-length pairs then drop
    in the pair fold (margin_pair_fold), mirroring the SQL zip_with
    NULL-pad semantics. Sign of dot(v, plane) is scale-invariant, so no
    normalization pass is needed. NULL embeddings yield NULL signatures
    (downstream candidate joins drop them), same contract as the
    minhash/simhash UDFs."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if band_bits < 1 or n_planes % band_bits != 0:
        # a remainder would silently drop the trailing planes, changing
        # the advertised recall without any error
        raise ValueError(
            f"band_bits must divide n_planes ({n_planes} % {band_bits} != 0)"
        )
    bands = n_planes // band_bits
    state: dict = {}

    @pandas_udf("array<long>")
    def _bands(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        vlist = vecs.tolist()
        out = [None] * len(vlist)
        by_dim: dict = {}
        for i, v in enumerate(vlist):
            if v is not None:
                by_dim.setdefault(len(v), []).append(i)
        for d, idx in by_dim.items():
            planes = state.get(d)
            if planes is None:
                planes = _hyperplanes(d, n_planes, seed)
                state[d] = planes
            E = np.stack([np.asarray(vlist[i], dtype=np.float64) for i in idx])
            bits = (E @ planes.T) >= 0  # (B, n_planes)
            vals = np.zeros((len(E), bands), dtype=np.int64)
            for b in range(bands):
                for r in range(band_bits):
                    vals[:, b] |= bits[:, b * band_bits + r].astype(np.int64) << r
            for i, row in zip(idx, list(vals)):
                out[i] = row
        return pd.Series(out, dtype=object)

    return _bands


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates = corpus rows sharing the query's full
    LSH signature; exact cosine re-rank inside the bucket. Recall grows
    with fewer planes; this is the scale path (equi-join instead of cross
    join). Signatures via one Arrow pass (make_lsh_band_udf, single band =
    whole signature)."""
    udf = make_lsh_band_udf(n_planes, band_bits=n_planes, seed=seed)
    c = corpus.withColumn(
        "_sig", F.element_at(udf(F.col(corpus_vec)), 1)
    ).withColumn("_cn", norm_expr(F.col(corpus_vec)))
    q = queries.select(
        F.col(query_id),
        F.col(query_vec).alias("_qv"),
        F.element_at(udf(F.col(query_vec)), 1).alias("_sig"),
        norm_expr(F.col(query_vec)).alias("_qn"),
    )
    joined = c.join(F.broadcast(q), "_sig").select(
        query_id,
        F.col(corpus_id),
        F.round(
            cosine_precomputed(
                F.col("_qv"), F.col(corpus_vec), F.col("_qn"), F.col("_cn")
            ),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return joined.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def semantic_dedup(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    threshold: float = 0.95,
    iters: int = 1,
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication (public recipe: Abbas et
    al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication"): cluster the embedding space with spherical
    k-means, then look for near-duplicates ONLY within a cluster — the
    cluster assignment replaces the quadratic all-pairs scan.

    Keep rule (deterministic): inside a cluster, a row is a duplicate iff
    some SMALLER-id row of the same cluster has round-6 cosine >=
    threshold with it (min-id star representative — the transitive-exact
    variant is dedup_clusters' connected components, deliberately not
    repeated here).

    Output: corpus + cluster_id + is_dup.

    100-TB shape: k grows with the corpus (the SemDeDup paper runs ~100k
    clusters) so per-cluster membership — and with it the within-cluster
    pair join — stays bounded; the only wide ops are the k-means
    passes (narrow Arrow map + O(k*d) aggregate) and ONE equi-join
    shuffle on cluster_id. No cartesian anywhere. With iters=1 the whole
    query (md5-deterministic init included) is DuckDB-expressible —
    duck_twins.semantic_dedup_sql is the oracle twin.

    The assignment is localCheckpoint'ed: it feeds THREE plan branches
    (both pair-join sides + the output join), and Catalyst would
    otherwise re-run the centroid-assignment Arrow UDF in each (measured
    10 ArrowEvalPython nodes -> 1). Materialize-assignments-once is also
    the production shape — at corpus scale this checkpoint is a table
    write.

    Each row's L2 norm rides along in the checkpoint, so the O(pairs)
    within-cluster cosine only pays the dot product.

    The within-cluster pair scan runs as ONE applyInPandas over
    cluster_id groups (group size bounded by cluster membership — the
    same boundedness the equi-join relied on) instead of a self-join:
    the dot is a dimension-ordered vectorized fold that reproduces the
    SQL `aggregate(zip_with(...))` left fold BIT-IDENTICALLY (same IEEE
    multiplies and adds in the same order: acc starts 0.0 and adds the
    j-th product plane for j = 0..d-1; numpy elementwise * and + are the
    same f64 ops Spark's codegen emits), and the same holds for the
    norm product and division, so the unrounded cosine that leaves the
    UDF is the exact double the replaced join produced. The UDF applies
    only a CONSERVATIVE margin prefilter (cosine >= threshold - 1e-6;
    round-6 moves a value by <= 5e-7, so no pair that can pass the
    round-6 threshold is dropped) — the authoritative round-6 >=
    threshold decision stays JVM-side on the returned double. Replaced
    a 1M-pair x dim-64 higher-order-function fold (the dominant cost)
    with k gemm-shaped batch folds; round-6 values (and the DuckDB
    twin) are unchanged by construction."""
    assigned, _ = kmeans_lite(corpus, vec_col=vec_col, k=k, iters=iters)
    assigned = assigned.withColumn(
        "_norm", norm_expr(F.col(vec_col))
    ).localCheckpoint()

    import pandas as pd

    margin = threshold - 1e-6

    id_sql_type = assigned.schema[id_col].dataType.simpleString()

    # Hot-cluster block split (r6; guide §2.5 "split hot keys"): one
    # cluster = one applyInPandas task made the biggest cluster a
    # straggler (measured med 0.6 s / max 4.5 s across the 7-task pair
    # stage at the sf1.0 tier — O(m^2) concentrates on the hottest
    # key). Rows are ranked by id within their cluster and cut into
    # ceil(m / 2048) id-RANGE blocks; every unordered pair (i < j)
    # then falls in exactly ONE (block_p <= block_q) group — diagonal
    # groups run the original triangle fold, cross groups the
    # rectangular margin_cross_fold, and both evaluate a pair with the
    # identical plane-ordered IEEE fold, so every candidate cosine is
    # bit-identical and the distinct/round-6 decision downstream is
    # unchanged. A row is shipped to its ~nb block-pair groups (the
    # standard skew-split trade: O(nb) extra shuffle copies to divide
    # O(m^2) work by ~nb(nb+1)/2); clusters under 2048 rows keep nb=1
    # — exactly the old one-group topology.
    block_rows = SEMANTIC_BLOCK_ROWS
    base = assigned.select(
        F.col("cluster_id"),
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.col("_norm").alias("_n"),
    )
    wcl = Window.partitionBy("cluster_id")
    base = base.withColumn(
        "_m", F.count(F.lit(1)).over(wcl)
    ).withColumn("_rk", F.row_number().over(wcl.orderBy("_id")))
    nb = F.ceil(F.col("_m") / F.lit(block_rows)).cast("int")
    blk = F.floor(
        (F.col("_rk") - 1).cast("double")
        * nb.cast("double")
        / F.col("_m").cast("double")
    ).cast("int")
    base = base.withColumn("_nb", nb).withColumn("_b", blk)
    up = F.transform(
        F.sequence(F.col("_b"), F.col("_nb") - 1),
        lambda q: F.struct(F.col("_b").cast("int").alias("p"),
                           q.cast("int").alias("q")),
    )
    down = F.when(
        F.col("_b") > 0,
        F.transform(
            F.sequence(F.lit(0), F.col("_b") - 1),
            lambda p: F.struct(p.cast("int").alias("p"),
                               F.col("_b").cast("int").alias("q")),
        ),
    ).otherwise(F.array().cast("array<struct<p:int,q:int>>"))
    pairs_df = base.select(
        "cluster_id", "_id", "_v", "_n", "_b",
        F.explode(F.concat(up, down)).alias("_pq"),
    ).select(
        "cluster_id", "_id", "_v", "_n", "_b",
        F.col("_pq.p").alias("_p"), F.col("_pq.q").alias("_q"),
    )

    import pyarrow as pa_

    def _vec_objects(tbl):
        """Object array of per-row f64 vectors from the Arrow list
        column — matrix-view fast path when no row is NULL and all
        lengths agree (one flatten + reshape instead of per-row python
        list boxing; the row views hold the identical f64 values, so
        the fold's IEEE stream is unchanged), per-row fallback
        otherwise (ragged/NULL rows keep the zip_with contract)."""
        m = tbl.num_rows
        v = tbl.column("_v")
        v = v.combine_chunks() if v.num_chunks != 1 else v.chunk(0)
        out = np.empty(m, dtype=object)
        if v.null_count == 0 and m:
            flat = v.flatten().to_numpy(zero_copy_only=False)
            offs = v.offsets.to_numpy(zero_copy_only=False)
            lens = np.diff(offs)
            if lens.min() == lens.max() and lens[0] > 0:
                M = flat.reshape(m, int(lens[0])).astype(
                    np.float64, copy=False
                )
                for i in range(m):
                    out[i] = M[i]
                return out
        for i, x in enumerate(v.to_pylist()):
            out[i] = x
        return out

    def _pair_candidates(tbl):
        ids_arr = tbl.column("_id")
        id_type = ids_arr.type

        def empty():
            return pa_.Table.from_arrays(
                [
                    pa_.array([], type=id_type),
                    pa_.array([], type=pa_.float64()),
                ],
                names=["_cid", "_cos"],
            )

        m = tbl.num_rows
        if m < 2:
            return empty()
        ids = ids_arr.to_numpy(zero_copy_only=False)
        n = tbl.column("_n").to_numpy(zero_copy_only=False).astype(
            np.float64
        )
        vecs = _vec_objects(tbl)
        p = tbl.column("_p")[0].as_py()
        q = tbl.column("_q")[0].as_py()
        if p == q:
            order = np.argsort(ids, kind="stable")
            ids_s = ids[order]
            # ids sorted asc => id_a < id_b; fold contract:
            # margin_pair_fold
            _, ib, c = margin_pair_fold(
                ids_s, vecs[order], n[order], margin
            )
            cid = ids_s[ib]
        else:
            am = tbl.column("_b").to_numpy(zero_copy_only=False) == p
            if not am.any() or am.all():
                return empty()
            # cross group: every a (lower-id block) x b — id_a < id_b
            # by the id-ranked block construction; only the larger-id
            # side is ever a dup candidate, as in the triangle fold
            _, jb, c = margin_cross_fold(
                vecs[am], n[am], vecs[~am], n[~am], margin
            )
            cid = ids[~am][jb]
        return pa_.Table.from_arrays(
            [pa_.array(cid, type=id_type), pa_.array(c)],
            names=["_cid", "_cos"],
        )

    cand = pairs_df.groupBy("cluster_id", "_p", "_q").applyInArrow(
        _pair_candidates, f"_cid {id_sql_type}, _cos double"
    )
    dropped = (
        cand.where(F.round(F.col("_cos"), 6) >= F.lit(threshold))
        .select(F.col("_cid").alias(id_col))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        assigned.join(dropped, id_col, "left")
        .withColumn("is_dup", F.coalesce(F.col("_dup"), F.lit(False)))
        .drop("_dup", "_norm")
    )


def _nearest_centroids_udf(centroids: np.ndarray, n: int):
    """embedding -> n nearest centroid ids by cosine distance, as ONE Arrow
    pass with the centroid matrix captured in the closure (broadcast via
    task serialization). A per-centroid CASE-WHEN expression chain blows up
    Catalyst past ~64 centroids (projection-collapse re-inlining).

    NULL embeddings and corrupt rows whose length differs from the
    centroid dim get a NULL assignment (they can never be candidates)
    instead of crashing the stage in np.stack; kmeans_lite's driver
    update already skips the resulting NULL/ragged group defensively."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    d = C.shape[1]

    @pandas_udf("array<int>")
    def _nearest(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        vlist = vecs.tolist()
        ok = [i for i, v in enumerate(vlist) if v is not None and len(v) == d]
        out = [None] * len(vlist)
        if ok:
            E = np.stack([np.asarray(vlist[i], dtype=np.float64) for i in ok])
            norms = np.linalg.norm(E, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            sims = (E / norms) @ C.T  # (B, n_centroids)
            # argsort desc with centroid-id tiebreak (stable sort on -sim)
            order = np.argsort(-sims, axis=1, kind="stable")[:, :n]
            for i, row in zip(ok, order):
                out[i] = row.astype(np.int32).tolist()
        return pd.Series(out, dtype=object)

    return _nearest


def sample_key_expr(vec_col: str) -> Column:
    """Cross-engine deterministic ordering key for vector sampling: md5 of
    the comma-joined round(x*1e9)-as-BIGINT rendering of the elements.
    Scaled-integer rendering (NOT float-to-string) because Java renders
    floats < 1e-3 in E-notation while DuckDB renders plain decimal, and
    printf('%.Ne') diverges on exact decimal-half ties (Java HALF_UP vs C
    round-half-even — measured on -0.27392578125). round() on the exact
    widened double rounds ties away from zero in BOTH engines, so the
    strings are byte-identical (verified at sf0.001/0.01/0.1). DuckDB twin:
    md5(array_to_string(list_transform(v, x ->
      CAST(CAST(round(CAST(x AS DOUBLE)*1000000000.0) AS BIGINT) AS
      VARCHAR)), ','))."""
    return F.md5(
        F.concat_ws(
            ",",
            F.transform(
                F.col(vec_col),
                lambda x: F.round(x.cast("double") * F.lit(1000000000.0))
                .cast("long")
                .cast("string"),
            ),
        )
    )


def _md5_sample(
    corpus: DataFrame, vec_col: str, n: int, distinct: bool
) -> np.ndarray:
    """Deterministic pseudo-random vector sample: order by md5 of the
    rendered vector (sample_key_expr — DuckDB-reproducible), take n.
    `distinct=True` dedups vectors first so exact-duplicate rows (the norm
    in web corpora) cannot yield duplicate seeds. Returns (m, d) with
    m <= n; callers decide whether m < n is an error.

    Sampling is restricted to the corpus's MODAL vector length (ties
    broken toward the smaller length; NULLs excluded) — a single
    corrupt ragged row that wins the md5 race must not poison the
    centroid matrix (np.array would raise on inhomogeneous shapes and
    kill the job). A no-op on well-formed corpora, so the DuckDB
    init-sampling twins are unchanged where oracles exist; costs one
    tiny map-side-combinable size() count."""
    src = corpus.select(vec_col).where(F.col(vec_col).isNotNull())
    if distinct:
        src = src.distinct()
    mode = (
        src.groupBy(F.size(F.col(vec_col)).alias("_d"))
        .count()
        .orderBy(F.desc("count"), F.asc("_d"))
        .first()
    )
    if mode is None:
        return np.array([], dtype=np.float64)
    src = src.where(F.size(F.col(vec_col)) == mode["_d"])
    return np.array(
        [
            r[0]
            for r in src.orderBy(sample_key_expr(vec_col)).limit(n).collect()
        ],
        dtype=np.float64,
    )


def ivf_assign(
    corpus: DataFrame,
    n_centroids: int = 16,
    corpus_vec: str = "embedding",
) -> tuple[DataFrame, np.ndarray]:
    """IVF coarse quantizer: deterministic centroid sample (md5-ordered
    corpus rows — content-addressed, NOT seeded; a seed param here would
    be dead API, the sample depends only on the data), assign every
    vector to its nearest centroid in one narrow Arrow map pass
    (broadcast centroid matrix; no shuffle, no expression chain).
    Returns (corpus + cluster_id, centroids).

    distinct=False in the sample keeps the original recipe (and its
    DuckDB oracle twin) bit-stable; kmeans_lite uses the distinct form.

    Fewer than n_centroids sampled vectors is fine (IVF degrades to
    fewer lists), but ZERO is fail-loud: an all-NULL or empty vector
    column would otherwise surface as a raw numpy AxisError from the
    centroid normalization deep inside the assign UDF (found by the
    empty-input sweep, tools_empty_sweep.py)."""
    sample = _md5_sample(corpus, corpus_vec, n_centroids, distinct=False)
    if sample.shape[0] == 0:
        raise ValueError(
            "ivf_assign needs >= 1 non-NULL corpus vector to sample "
            "centroids, found 0"
        )
    udf = _nearest_centroids_udf(sample, 1)
    return (
        corpus.withColumn(
            "cluster_id", F.element_at(udf(F.col(corpus_vec)), 1)
        ),
        sample,
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """IVF search: each query probes its nprobe nearest centroid lists,
    exact cosine re-rank inside the probed cells. The probe side
    (queries x nprobe rows) is broadcast, so the corpus is never shuffled;
    with nprobe == n_centroids this degenerates to exact brute force
    (used as the driver-oracle configuration). The quantizer is
    content-addressed (md5 sample) — no seed parameter by design."""
    assigned, centroids = ivf_assign(corpus, n_centroids, corpus_vec)
    probe_udf = _nearest_centroids_udf(centroids, min(nprobe, len(centroids)))
    q = queries.select(
        F.col(query_id),
        F.col(query_vec).alias("_qv"),
        F.explode(probe_udf(F.col(query_vec))).alias("cluster_id"),
        norm_expr(F.col(query_vec)).alias("_qn"),
    )
    joined = (
        assigned.withColumn("_cn", norm_expr(F.col(corpus_vec)))
        .join(F.broadcast(q), "cluster_id")
        .select(
            query_id,
            F.col(corpus_id),
            F.round(
                cosine_precomputed(
                    F.col("_qv"), F.col(corpus_vec), F.col("_qn"), F.col("_cn")
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return joined.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ann_recall(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    seed: int = 42,
    corpus_id: str = "vec_id",
) -> DataFrame:
    """Measure, don't guess: per-query recall of the LSH approximate top-k
    against the exact brute-force top-k — the evaluation every ANN
    deployment needs before trading exactness for the equi-join scale
    path. Output: (query_id, n_exact, n_hit, recall)."""
    exact = brute_force_topk(corpus, queries, k=k, corpus_id=corpus_id)
    approx = lsh_topk(corpus, queries, k=k, n_planes=n_planes, seed=seed,
                      corpus_id=corpus_id)
    hits = exact.select("query_id", corpus_id).join(
        approx.select("query_id", corpus_id), ["query_id", corpus_id],
        "left_semi",
    )
    n_exact = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit"))
    return n_exact.join(n_hit, "query_id", "left").select(
        "query_id",
        "n_exact",
        F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
        F.round(
            F.coalesce("n_hit", F.lit(0)).cast("double") / F.col("n_exact"), 6
        ).alias("recall"),
    )


def kmeans_lite(
    corpus: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 5,
) -> tuple[DataFrame, np.ndarray]:
    """Distributed spherical k-means (Lloyd's) — the topic-clustering /
    IVF-training stage of an embedding pipeline, with no ML library.

    Init: deterministic md5-ordered corpus rows (same recipe as
    ivf_assign, so runs are reproducible). Each iteration is ONE narrow
    Arrow assignment pass (centroid matrix broadcast in the UDF closure)
    + ONE map-side-combinable hash-agg of per-(cluster, dim) sums via
    posexplode. The driver holds only k x d aggregates per iteration —
    never vectors — so the reduce is O(k*d), independent of corpus size;
    this driver-loop-over-tiny-aggregates is the canonical Spark shape
    for Lloyd's (an iterative algorithm, deliberately NOT expressible as
    one SQL query). Empty clusters keep their previous centroid.

    Init sampling is over DISTINCT vectors — exact-duplicate rows are the
    norm in web corpora, and duplicate initial centroids can never
    separate (k_effective < k with no warning). Fails loudly when the
    corpus has fewer than k distinct vectors.

    Returns (corpus + cluster_id, final centroids ndarray)."""
    C = _md5_sample(corpus, vec_col, k, distinct=True)
    if C.ndim != 2 or C.shape[0] < k:
        found = 0 if C.ndim != 2 else C.shape[0]
        raise ValueError(
            f"kmeans_lite needs >= {k} distinct vectors, found {found}"
        )
    dim = C.shape[1]
    assigned = None
    for _ in range(max(iters, 1)):
        udf = _nearest_centroids_udf(C, 1)
        assigned = corpus.withColumn(
            "cluster_id", F.element_at(udf(F.col(vec_col)), 1)
        )
        stats = (
            assigned.select(
                "cluster_id", F.posexplode(F.col(vec_col)).alias("pos", "val")
            )
            .groupBy("cluster_id", "pos")
            .agg(
                F.sum(F.col("val").cast("double")).alias("s"),
                F.count(F.lit(1)).alias("c"),
            )
            .collect()
        )
        by_cluster: dict[int, dict[int, tuple[float, int]]] = {}
        for r in stats:
            by_cluster.setdefault(r["cluster_id"], {})[r["pos"]] = (r["s"], r["c"])
        new_c = C.copy()
        for cid, dims in by_cluster.items():
            if len(dims) != dim:
                continue  # defensive: ragged vector slipped through
            cnt = dims[0][1]
            mean = np.array([dims[p][0] for p in range(dim)]) / cnt
            if np.linalg.norm(mean) > 0:
                new_c[cid] = mean
        C = new_c
    # final assignment under the FINAL centroids (the loop's `assigned`
    # used the pre-update matrix)
    assigned = corpus.withColumn(
        "cluster_id", F.element_at(_nearest_centroids_udf(C, 1)(F.col(vec_col)), 1)
    )
    return assigned, C


def cluster_quality(
    df: DataFrame,
    cluster_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """(k, n, dim, within, between, total, ch) — clustering quality
    from the scatter decomposition T = W + B (total = within +
    between) plus the Calinski-Harabasz index CH = (B/(k-1)) /
    (W/(n-k)) (Calinski & Harabasz 1974 — the variance-ratio
    criterion: higher = tighter, better-separated clusters; the
    standard k-selection curve): the QC the kmeans_lite /
    semantic_dedup family was missing — an assignment exists, but
    nothing measured whether it explains the data. Silhouette is the
    O(n^2) alternative; CH is the O(n) one that survives corpus
    scale.

    Identities used (no per-row distance to a centroid is ever
    computed, so no centroid table is needed):
      T = sum_i ||x_i||^2            - n * ||global_mean||^2
      W = sum_i ||x_i||^2 - sum_c n_c ||mean_c||^2 ;  B = T - W

    Exactness: components micro-quantize ONCE; sum-of-squares and
    per-(cluster, dim) component sums are exact DECIMAL(38,0)/
    HUGEINT from ONE exploded corpus pass. Each cluster/dim's
    mean-square term (s_u * s_u / n_c, doubles built from the exact
    integers) is rounded ONCE to integer PICO units (1e-12 — the
    fleiss_kappa lesson: the fold over dims/clusters is
    engine-order-dependent, so each term must be rounded then summed
    exactly; squared-share scale needs pico, not micro) and summed
    exactly; W/B/T/CH are fixed-order double chains over those exact
    pico sums, micro-rounded once. Degenerate contracts: k == 1 (no
    between structure) or k == n (no within freedom) give NULL ch
    with W/B/T visible; W == 0 with k < n (duplicate points per
    cluster) is a genuine +inf variance ratio — reported NULL too
    (ch is a comparison statistic; an infinite one orders nothing).
    NULL cluster/vector and ragged vector dims fail LOUD.

    Scale shape: ONE posexplode corpus pass -> map-side-combinable
    (cluster, dim) sums (bounded k*d table) -> bounded folds +
    1-row broadcast combines. Zero windows, zero Python.

    Reference parity: no reference analog; standard-literature QC for
    the engine's clustering/dedup family (kmeans_lite,
    semantic_dedup)."""
    d38 = "decimal(38,0)"
    cl = F.when(
        F.col(cluster_col).isNull(),
        F.raise_error(
            F.lit(f"cluster_quality: NULL {cluster_col}")
        ).cast("string"),
    ).otherwise(F.col(cluster_col).cast("string"))
    vec = F.when(
        F.col(vec_col).isNull() | (F.size(F.col(vec_col)) < 1),
        F.raise_error(
            F.lit(f"cluster_quality: NULL/empty {vec_col}")
        ).cast(df.schema[vec_col].dataType),
    ).otherwise(F.col(vec_col))
    ex = df.select(cl.alias("_cl"), F.posexplode(vec).alias("_d", "_v"))
    m = F.round(F.col("_v").cast("double") * F.lit(1_000_000)).cast(
        "long"
    )
    cd = ex.groupBy("_cl", "_d").agg(
        F.sum(m.cast(d38)).alias("_s"),
        F.sum((m.cast(d38) * m.cast(d38))).alias("_ss"),
        F.count(F.lit(1)).cast("long").alias("_nc"),
    ).localCheckpoint(eager=False)
    # ragged-dim guard: every (cluster, dim) cell must hold the same
    # count as dim 0 of its cluster — enforced via per-cluster
    # min/max over the bounded cell table
    percl = cd.groupBy("_cl").agg(
        F.min("_nc").alias("_nmin"),
        F.max("_nc").alias("_nmax"),
        F.max(F.col("_d") + 1).cast("long").alias("_dim"),
        F.sum("_ss").alias("_ssq"),
        F.sum(
            F.round(
                F.col("_s").cast("double")
                * F.col("_s").cast("double")
                / F.col("_nc").cast("double")
            )
            .cast("long")
            .cast(d38)
        ).alias("_msq_p"),
    )
    # the ragged check must ride a CONSUMED column (Catalyst prunes an
    # unused raise_error projection — the guard silently dies): fold
    # it into _dim, which the output's dim check reads
    nck = F.when(
        F.col("_nmin") != F.col("_nmax"),
        F.raise_error(
            F.concat(
                F.lit("cluster_quality: ragged vector dims in cluster "),
                F.col("_cl"),
            )
        ).cast("long"),
    ).otherwise(F.col("_dim"))
    gd = cd.groupBy("_d").agg(
        F.sum("_s").alias("_gs"), F.sum("_nc").cast("long").alias("_gn")
    )
    gstats = gd.groupBy().agg(
        F.max("_gn").cast("long").alias("_n"),
        F.sum(
            F.round(
                F.col("_gs").cast("double")
                * F.col("_gs").cast("double")
                / F.col("_gn").cast("double")
            )
            .cast("long")
            .cast(d38)
        ).alias("_gmsq_p"),
    )
    ctab = percl.select(
        F.col("_cl"),
        nck.alias("_dim"),
        "_ssq",
        "_msq_p",
    )
    ag = ctab.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.min("_dim").alias("_dmin"),
        F.max("_dim").alias("_dmax"),
        F.sum("_ssq").alias("_ssq_all"),
        F.sum("_msq_p").alias("_msq_all"),
    )
    out = ag.crossJoin(F.broadcast(gstats))
    dimck = F.when(
        F.col("_dmin") != F.col("_dmax"),
        F.raise_error(
            F.lit("cluster_quality: clusters disagree on vector dim")
        ).cast("long"),
    ).otherwise(F.col("_dmax"))
    ssq_d = F.col("_ssq_all").cast("double") / F.lit(1e12)
    w = ssq_d - F.col("_msq_all").cast("double") / F.lit(1e12)
    t = ssq_d - F.col("_gmsq_p").cast("double") / F.lit(1e12)
    b = t - w
    kk = F.col("k").cast("double")
    nn = F.col("_n").cast("double")
    ch = (b / (kk - F.lit(1.0))) / (w / (nn - kk))

    def rnd(e):
        return F.round(e * F.lit(1e6)).cast("long").cast("double") / F.lit(
            1e6
        )

    ok = (
        (F.col("k") > 1)
        & (F.col("_n") > F.col("k"))
        & (F.round(w * F.lit(1e6)).cast("long") > 0)
    )
    return out.where(F.col("k") > 0).select(
        "k",
        F.col("_n").alias("n"),
        dimck.alias("dim"),
        rnd(w).alias("within"),
        rnd(b).alias("between"),
        rnd(t).alias("total"),
        F.when(ok, rnd(ch)).alias("ch"),
    )
