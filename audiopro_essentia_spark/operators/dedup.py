"""Deduplication suite for training-data pipelines: exact, n-gram Jaccard,
MinHash+LSH, SimHash, and embedding-cosine near-dup.

Scale design notes (the point of each variant at 100 TB):
- exact: one hash-agg shuffle on a 16-byte digest; min(doc_id) keeps a
  deterministic canonical row.
- ngram-Jaccard: candidate generation via an inverted shingle index
  grouped into per-shingle buckets (one shuffle, in-bucket pairs) so the
  cross product never materializes; exact Jaccard only on candidates.
- MinHash+LSH: K portable permutation-hashes, banded into B bands of R rows;
  ONE signature pass + ONE shuffle into (band_id, band_signature) buckets;
  collisions verified with exact Jaccard. P(catch sim s) = 1-(1-s^R)^B.
- SimHash: one 64-bit signature per doc; near-dup = small Hamming distance;
  banded lookup over bit-chunks for scale.
- embedding cosine: banded sign-LSH candidates + exact verify (default);
  the all-pairs block join survives only as a tiny-N test oracle.
- dup-group clustering: pairs -> connected components (iterative min-label
  propagation) -> canonical min-id representative.

Everything except SimHash's Hamming verify is pure Spark SQL expressions;
the portable hash (md5-prefix) makes MinHash reproducible in DuckDB for the
driver's oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import portable_hash32, portable_hash32_hi, word_ngrams

MERSENNE = 2_147_483_647  # 2^31 - 1


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one deterministic representative (min id) per exact duplicate
    group (md5 of the text)."""
    return (
        df.withColumn("_h", F.md5(F.col(text_col)))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_dups"))
        .drop("_h")
    )


def _minhash_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod p."""
    rng_a, rng_b = 1_103_515_245, 12_345
    out = []
    a, b = 7, 3
    for _ in range(k):
        a = (a * rng_a + rng_b) % MERSENNE
        b = (b * rng_a + rng_b) % MERSENNE
        out.append((a | 1, b))
    return out


def minhash_signature(
    shingles: Column, k: int = 32
) -> Column:
    """K-wide MinHash signature over a distinct-shingle array column.
    h_i = min over shingles of (a_i * H32(s) + b_i) mod p — all portable
    (same expression exists in DuckDB for the oracle)."""
    base = F.transform(shingles, portable_hash32)
    sigs = []
    for a, b in _minhash_params(k):
        sigs.append(
            F.array_min(
                F.transform(base, lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MERSENNE))
            )
        )
    return F.array(*sigs)


def make_minhash_band_udf(k: int, bands: int):
    """Arrow-vectorized banded MinHash: shingle array -> array of `bands`
    comma-joined signature strings. ONE evaluation per row (the pure-expr
    form gets re-inlined by projection collapse — k x bands md5 passes);
    arithmetic is IDENTICAL to minhash_signature / the DuckDB oracle."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if bands < 1 or k % bands != 0:
        # a remainder would silently leave the trailing k %% bands hashes
        # out of every band, weakening P(catch s) = 1-(1-s^R)^B with no
        # error and desynchronizing from the generated oracle
        raise ValueError(f"bands must divide k ({k} % {bands} != 0)")
    rows = k // bands
    params = np.array(_minhash_params(k), dtype=np.int64)  # (k, 2)
    A, B = params[:, 0][:, None], params[:, 1][:, None]

    # NOTE: no type annotations — `from __future__ import annotations` makes
    # them strings, which pandas_udf's signature inspection rejects
    @pandas_udf("array<string>")
    def _bands(shingles):
        out = []
        for sh in shingles:
            if sh is None or len(sh) == 0:
                out.append(None)
                continue
            hs = np.array(
                [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in sh],
                dtype=np.int64,
            )[None, :]
            sig = ((hs * A + B) % MERSENNE).min(axis=1)  # (k,)
            out.append(
                [
                    ",".join(str(v) for v in sig[b * rows : (b + 1) * rows])
                    for b in range(bands)
                ]
            )
        return pd.Series(out, dtype=object)

    return _bands


def _bucket_pairs(ids: Column, max_bucket: int) -> Column:
    """All (a < b) pairs from a SORTED id array — or, past `max_bucket`,
    the linear star pattern (min-id representative paired with every other
    member). The star keeps the bucket CONNECTED for downstream
    connected-components clustering while emitting O(n) instead of O(n^2)
    rows; a pathological bucket therefore cannot blow up the pair count.
    (In the curate pipeline exact-dedup runs first, so identical-text
    degenerate buckets never reach this stage.)"""
    all_pairs = F.flatten(
        F.transform(
            ids,
            lambda a, i: F.transform(
                F.slice(ids, i + 2, F.greatest(F.size(ids) - i - 1, F.lit(0))),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    star = F.transform(
        F.slice(ids, 2, F.size(ids) - 1),
        lambda b: F.struct(F.element_at(ids, 1).alias("id_a"), b.alias("id_b")),
    )
    return F.when(F.size(ids) <= max_bucket, all_pairs).otherwise(star)


def minhash_band_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    bands: int = 8,
    ngram: int = 3,
) -> DataFrame:
    """(id, band, bsig) — the persistable LSH index table. In production
    this is MATERIALIZED once per corpus (bucketed by (band, bsig)), so an
    incremental batch joins against the index exchange-free instead of
    re-signing 100 TB per increment. One nondeterministic-marked Arrow UDF
    pass (see minhash_lsh_candidates for why)."""
    udf = make_minhash_band_udf(k, bands).asNondeterministic()
    return df.select(
        F.col(id_col),
        udf(word_ngrams(F.col(text_col), ngram)).alias("bsigs"),
    ).select(id_col, F.posexplode("bsigs").alias("band", "bsig"))


def seen_set_bloom(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    bands: int = 8,
    ngram: int = 3,
    m_bits: int = 1 << 20,
    n_hashes: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """The persistable Bloom pair for incremental dedup: (digest_regs,
    band_regs) — membership filters over the corpus's exact md5 digests
    and its (band:bsig) LSH keys (operators/sketch.bloom_registers).

    This is the production seen-set artifact: built ONCE per corpus
    epoch (or OR-merged forward as increments commit — bit union is the
    register merge), persisted next to the minhash_band_signatures
    index, and broadcast to every increment. m_bits=2^20 is 32 K
    BIGINT words (~256 KB) — comfortably broadcastable at any corpus
    size; size m to ~10 bits/key for ~1% false positives at your key
    count (fill monitoring: sketch.bloom_stats)."""
    dig = corpus.select(
        F.lit("seen").alias("_g"), F.md5(F.col(text_col)).alias("_v")
    )
    bnd = minhash_band_signatures(corpus, text_col, id_col, k, bands, ngram).select(
        F.lit("seen").alias("_g"),
        F.concat(F.col("band").cast("string"), F.lit(":"), F.col("bsig")).alias("_v"),
    )
    from .sketch import bloom_registers

    return (
        bloom_registers(dig, F.col("_v"), "_g", m_bits, n_hashes),
        bloom_registers(bnd, F.col("_v"), "_g", m_bits, n_hashes),
    )


def _bloom_hit_keys(
    regs: DataFrame, keys: DataFrame, key_col: str, m_bits: int, n_hashes: int
) -> DataFrame:
    """Distinct key values whose Bloom probe hits (candidate survivors)."""
    from .sketch import bloom_probe

    return (
        bloom_probe(regs, keys, key_col, m_bits, n_hashes)
        .where(F.col("bloom_hit") == 1)
        .select(key_col)
    )


def incremental_dedup_flags(
    new: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    bands: int = 8,
    ngram: int = 3,
    bloom: tuple[DataFrame, DataFrame] | None = None,
    bloom_m_bits: int = 1 << 20,
    bloom_n_hashes: int = 3,
) -> DataFrame:
    """Dedup a NEW batch against an existing corpus — the production
    incremental pattern (daily increments never re-pair the whole corpus).

    Output: one row per new doc — (id, dup_exact, dup_near) with 0/1
    flags. dup_exact = md5(text) already in the corpus (left-semi join on
    the 16-byte digest); dup_near = >=1 MinHash band collision with the
    corpus signature index (left-semi equi-join on (band, bsig) — in
    production the right side is the materialized minhash_band_signatures
    table, so the increment-side cost is O(|new|), not O(|corpus|)).

    `bloom` (optional): the seen_set_bloom register pair, prefiltering
    BOTH semi-joins — only keys the Bloom flags as possibly-seen enter
    the exact joins, so on a typical increment (dup rate a few %) the
    join-side traffic drops to the hit fraction while the ~KB register
    tables ride a broadcast. The exact semi-joins stay AUTHORITATIVE for
    survivors: Bloom false positives are eliminated there, and false
    negatives don't exist by construction, so the output is IDENTICAL
    with and without the prefilter (pytest-pinned). bloom_m_bits /
    bloom_n_hashes must match the build (the cms_estimate/bloom_probe
    parameter-mismatch rule)."""
    nh = new.select(F.col(id_col), F.md5(F.col(text_col)).alias("_h"))
    ch = corpus.select(F.md5(F.col(text_col)).alias("_h")).distinct()
    ns = minhash_band_signatures(new, text_col, id_col, k, bands, ngram)
    if bloom is not None:
        dig_regs, band_regs = bloom
        nh_probe = _bloom_hit_keys(
            dig_regs, nh.select("_h"), "_h", bloom_m_bits, bloom_n_hashes
        )
        nh_cand = nh.join(F.broadcast(nh_probe), "_h", "left_semi")
        nk = ns.select(
            "*",
            F.concat(F.col("band").cast("string"), F.lit(":"), F.col("bsig")).alias("_bk"),
        )
        ns_probe = _bloom_hit_keys(
            band_regs, nk.select("_bk"), "_bk", bloom_m_bits, bloom_n_hashes
        )
        ns_cand = nk.join(F.broadcast(ns_probe), "_bk", "left_semi").drop("_bk")
    else:
        nh_cand, ns_cand = nh, ns
    exact_ids = nh_cand.join(ch, "_h", "left_semi").select(id_col)
    cs = minhash_band_signatures(corpus, text_col, id_col, k, bands, ngram)
    near_ids = (
        ns_cand.join(
            cs.select("band", "bsig").distinct(), ["band", "bsig"], "left_semi"
        )
        .select(id_col)
        .distinct()
    )
    flag = lambda ids, name: ids.withColumn(name, F.lit(1))  # noqa: E731
    return (
        new.select(id_col)
        .join(flag(exact_ids, "_e"), id_col, "left")
        .join(flag(near_ids, "_n"), id_col, "left")
        .select(
            id_col,
            F.coalesce("_e", F.lit(0)).alias("dup_exact"),
            F.coalesce("_n", F.lit(0)).alias("dup_near"),
        )
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    bands: int = 8,
    ngram: int = 3,
    max_bucket: int = 1024,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) whose MinHash signatures
    collide in >=1 LSH band.

    Scale shape: ONE Arrow UDF pass over the corpus (the UDF is marked
    nondeterministic so Catalyst neither duplicates it into the scan
    via inferred-filter pushdown nor re-evaluates it on a
    self-join build side — measured 4 ArrowEvalPython nodes collapsing to
    1), then ONE shuffle into (band, signature) buckets, then in-bucket
    pair generation (star-capped past `max_bucket`, see _bucket_pairs).
    Output equals the textbook banded self-join EXACTLY while every
    bucket fits max_bucket; an oversized bucket degrades to the linear
    star pattern (connectivity preserved, pair set reduced) — raise
    max_bucket for textbook-exact output at the cost of O(n^2) pairs in
    that bucket."""
    banded = minhash_band_signatures(df, text_col, id_col, k, bands, ngram)
    buckets = (
        banded.groupBy("band", "bsig")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return (
        buckets.select(
            F.explode(_bucket_pairs(F.col("ids"), max_bucket)).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def jaccard_expr(a: Column, b: Column) -> Column:
    """|A ∩ B| / |A ∪ B| on distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.coalesce(F.try_divide(inter, union), F.lit(0.0))


def _jaccard_candidate_pairs(
    sh: DataFrame, id_col: str, max_df: int | None
) -> DataFrame:
    """Candidate (id_a, id_b) pairs sharing >=1 indexed shingle.

    max_df is the document-frequency cap (standard prefix-filtering): a
    shingle present in > max_df docs contributes df^2 candidate rows —
    one boilerplate shingle shared by f docs makes f(f-1)/2 pairs, the
    quadratic blow-up that kills the self-join at corpus scale. Hot
    shingles are dropped from CANDIDATE GENERATION only (the exact Jaccard
    verify still uses full shingle sets), so a pair is missed only if ALL
    its shared shingles are boilerplate — near-dups at meaningful
    thresholds always share specific shingles.

    Bucket shape (not a self-join): ONE shuffle groups the inverted index
    by shingle, the df-cap becomes a filter on that same aggregate (no
    separate hot-list job + anti-join), and pairs are generated in-bucket
    — the index is built and shuffled once instead of twice."""
    inv = sh.select(id_col, F.explode("shingles").alias("shingle"))
    buckets = inv.groupBy("shingle").agg(
        F.sort_array(F.collect_list(id_col)).alias("ids")
    )
    if max_df is not None:
        buckets = buckets.filter(F.size("ids") <= max_df)
    return (
        buckets.filter(F.size("ids") > 1)
        .select(
            F.explode(
                _bucket_pairs(F.col("ids"), max_df or 2_147_483_647)
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs >= threshold. Candidates from an
    inverted shingle index (never a cross join); pass max_df to cap
    hot-shingle candidate blow-up (see _jaccard_candidate_pairs).

    max_df caveat: a group of > max_df near-identical docs shares ONLY
    hot shingles, so its pairs would vanish from the capped index. The
    byte-identical case (the common one) is restored exactly by unioning
    md5-equality pairs below — quadratic only within exact-dup groups,
    where the all-pairs OUTPUT is itself quadratic. Large groups of
    near-but-not-byte-identical docs remain approximate under the cap:
    collapse exact dups first (exact_dedup) or raise max_df."""
    sh = df.select(
        F.col(id_col), word_ngrams(F.col(text_col), ngram).alias("shingles")
    ).filter(F.size("shingles") > 0)
    cand = _jaccard_candidate_pairs(sh, id_col, max_df)
    if max_df is not None:
        hashed = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("_h"))
        exact_pairs = (
            hashed.alias("l")
            .join(
                hashed.alias("r"),
                (F.col("l._h") == F.col("r._h"))
                & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
            )
            .select(
                F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"),
            )
        )
        cand = cand.union(exact_pairs).distinct()
    a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard_expr(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash64(text: Column, ngram: int = 2) -> Column:
    """64-bit SimHash over word n-grams: bit j = sign of sum over shingles of
    (+1 if bit j of H(s) else -1). The 64 bits come from the TWO halves of
    one md5 digest (hex 1-8 and 9-16) — one hash pass per shingle, both
    halves portable to DuckDB."""
    sh = word_ngrams(text, ngram)
    h_lo = F.transform(sh, portable_hash32)
    h_hi = F.transform(sh, portable_hash32_hi)

    def bit_sum(hashes: Column, j: int) -> Column:
        return F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1),
        )

    def bit_lit(pos: int):
        # bit 63 = int64 sign bit: 1<<63 overflows a long literal
        return F.lit(-(1 << 63) if pos == 63 else (1 << pos)).cast("long")

    bits = F.lit(0).cast("long")
    for j in range(32):
        bits = bits + F.when(bit_sum(h_lo, j) > 0, bit_lit(j)).otherwise(0)
    for j in range(32):
        bits = bits + F.when(bit_sum(h_hi, j) > 0, bit_lit(j + 32)).otherwise(0)
    return bits


def make_simhash_udf():
    """Arrow-vectorized SimHash64 over a shingle array column — identical
    bit semantics to simhash64 (the two halves of one md5 digest, same
    +/-1 bit sums) but numpy instead of 64 interpreted Catalyst folds
    (85s -> sub-second for 5k docs), and ONE hash pass per shingle."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(32, dtype=np.int64)

    ushifts = np.arange(32, dtype=np.uint64)

    @pandas_udf("long")
    def _sim(shingles):
        out = []
        for sh in shingles:
            if sh is None or len(sh) == 0:
                out.append(0)
                continue
            # ONE md5 per shingle; its two hex halves are the two 32-bit
            # hashes (matches portable_hash32 / portable_hash32_hi)
            digs = [hashlib.md5(s.encode()).hexdigest()[:16] for s in sh]
            # 16 hex chars can exceed int64 — parse unsigned, split halves
            both = np.array([int(d, 16) for d in digs], dtype=np.uint64)
            lo = (both >> np.uint64(32)).astype(np.int64)
            hi = (both & np.uint64(0xFFFFFFFF)).astype(np.int64)
            # bit j sum of +/-1 across shingles; sign -> bit
            blo = (((lo[:, None] >> shifts) & 1) * 2 - 1).sum(axis=0) > 0
            bhi = (((hi[:, None] >> shifts) & 1) * 2 - 1).sum(axis=0) > 0
            v = (blo.astype(np.uint64) << ushifts).sum() | (
                (bhi.astype(np.uint64) << ushifts).sum() << np.uint64(32)
            )
            val = int(v)
            if val >= 1 << 63:
                val -= 1 << 64  # int64 two's complement
            out.append(val)
        return pd.Series(out, dtype="int64")

    return _sim


def simhash64_fast(df: DataFrame, text_col: str = "text", ngram: int = 2) -> Column:
    """Column form of the vectorized simhash (apply to `text_col`)."""
    return make_simhash_udf()(word_ngrams(F.col(text_col), ngram))


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    ngram: int = 2,
    max_bucket: int = 1024,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming. Candidate
    generation by 16-bit chunk equality (4 chunks: any pair within Hamming 3
    shares >=1 identical chunk — pigeonhole), then exact popcount verify.

    Same single-eval bucket shape as minhash_lsh_candidates: ONE
    nondeterministic-marked Arrow UDF pass computes the signatures, ONE
    shuffle into (chunk, chunk-value) buckets, in-bucket pair generation
    carrying both signatures for the Hamming verify (star-capped past
    `max_bucket` — star pairs still Hamming-verified, so an oversized
    bucket degrades recall linearly, never correctness)."""
    if max_hamming >= 4:
        # pigeonhole holds only below the chunk count: at Hamming 4 a
        # pair can differ in one bit per 16-bit chunk and share NO
        # bucket, silently violating the advertised recall contract
        # (same fail-loud rule as make_minhash_band_udf's divisibility
        # check)
        raise ValueError(
            f"max_hamming must be < 4 (4 x 16-bit chunk pigeonhole); "
            f"got {max_hamming}"
        )
    # checkpointed so the size filter below reads the materialized
    # shingle arrays instead of being pushed into the scan with the
    # whole word_ngrams build
    sig = (
        df.select(
            F.col(id_col), word_ngrams(F.col(text_col), ngram).alias("_sh")
        )
        .localCheckpoint(eager=False)
        .filter(F.size("_sh") > 0)  # empty docs carry no near-dup signal
        .select(
            F.col(id_col),
            make_simhash_udf().asNondeterministic()(F.col("_sh")).alias("sig"),
        )
    )
    chunks = sig.select(
        F.struct(F.col(id_col).alias("id"), F.col("sig")).alias("m"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned("sig", 16 * c)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("cval"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cs"),
    ).select("m", "cs.chunk", "cs.cval")
    # sort_array on struct(id, sig) orders by id first -> deterministic
    buckets = (
        chunks.groupBy("chunk", "cval")
        .agg(F.sort_array(F.collect_list("m")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    # popcount verify BEFORE the distinct: most bucket-mates share a
    # 16-bit chunk without being near-dups (common-vocab corpora), so
    # filtering first shrinks the distinct's exchange to qualifying
    # pairs only — and the shuffled rows carry (id_a, id_b, hamming)
    # instead of two ids plus two 64-bit signatures. A pair can still
    # surface from up to 4 chunks, so the distinct remains required;
    # hamming is deterministic per pair, so distinct-after-filter is
    # set-identical to the old filter-after-distinct.
    hamming = F.bit_count(
        F.col("p.id_a.sig").bitwiseXOR(F.col("p.id_b.sig"))
    )
    return (
        buckets.select(F.explode(_bucket_pairs(F.col("ms"), max_bucket)).alias("p"))
        .select(
            F.col("p.id_a.id").alias("id_a"),
            F.col("p.id_b.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def edit_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 8,
    max_hamming: int = 3,
    ngram: int = 2,
    max_bucket: int = 1024,
) -> DataFrame:
    """Edit-distance-verified near-duplicate pairs: simhash chunk
    blocking (the candidates-then-verify recall contract of
    simhash_neardup_pairs) followed by an exact BOUNDED Levenshtein
    verify — the character-level complement of the token-level
    (minhash/jaccard) and semantic (embedding) near-dup family. Catches
    the template/boilerplate near-dups token-set measures under-rate:
    two docs differing by a handful of character edits anywhere.

    Output: (id_a, id_b, hamming, edit_dist) for candidate pairs with
    Hamming(simhash) <= max_hamming AND Levenshtein <= max_dist.

    100-TB shape: candidates come from simhash_neardup_pairs' single
    Arrow eval + single (chunk, value) bucket shuffle — full TEXT never
    rides that shuffle; only the sparse candidate ids equi-join text
    back (one join per side, broadcast or sort-merge as AQE decides).
    The verify uses Spark's bounded Levenshtein (threshold=max_dist),
    which abandons a pair once the bound is provably exceeded —
    O(max_dist * len) per pair instead of O(len^2) — entirely JVM-side.
    DuckDB twin: same simhash chunk self-join + unbounded
    levenshtein(a, b) <= max_dist (identical kept set and distances)."""
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0; got {max_dist}")
    cand = simhash_neardup_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        max_hamming=max_hamming,
        ngram=ngram,
        max_bucket=max_bucket,
    )
    ta = df.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta"))
    tb = df.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb"))
    dist = F.levenshtein(F.col("_ta"), F.col("_tb"), int(max_dist))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select("id_a", "id_b", "hamming", dist.alias("edit_dist"))
        # bounded levenshtein returns -1 past the threshold
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_dist))
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 32,
    band_bits: int = 8,
    seed: int = 42,
    max_bucket: int = 1024,
) -> DataFrame:
    """Embedding-cosine near-dup pairs >= threshold via banded sign-LSH
    candidates + exact cosine verify — the candidates-then-verify shape
    MinHash uses, NOT an all-pairs join (which is O(N^2) rows: 10^16 pairs
    at 10^8 vectors).

    Recall: a qualifying pair at angle theta is missed with probability
    (1 - (1 - theta/pi)^band_bits)^(n_planes/band_bits). Fewer bits per
    band -> higher recall, looser candidates; band_bits=1 makes a miss
    require disagreement on EVERY plane ((theta/pi)^n_planes — vanishing
    for near-dups). Tune (n_planes, band_bits) to the threshold; the
    exact all-pairs form survives as embedding_neardup_pairs_exact for
    tiny-N test oracles.

    Execution shape (round-4): vectors + per-row norms ride the ONE
    (band, bval) bucket shuffle and each bucket's pair scan runs as a
    single applyInPandas fold — no JVM pair-struct materialization, no
    pair distinct shuffle, no vector join-backs, no per-pair SQL
    higher-order fold (profiled: candidate generation + verify joins
    were ~100% of wall time at sf0.1's 295k candidates). The in-UDF dot
    is the dimension-ordered vectorized fold that reproduces
    aggregate(zip_with(...)) BIT-identically (CLAUDE.md recipe); the
    UDF applies only a conservative margin (threshold - 1e-6), the
    authoritative round-6 threshold stays JVM-side, and a final
    distinct collapses pairs caught by multiple bands (identical
    doubles, so the rows are identical). Star-capping past max_bucket
    is preserved inside the fold. At corpus scale the shuffle is
    O(n x bands x d) — in skewed-bucket regimes strictly less traffic
    than the O(candidate pairs) rows the join form shuffled."""
    import numpy as np
    import pandas as pd

    from .similarity import make_lsh_band_udf, margin_pair_fold, norm_expr

    udf = make_lsh_band_udf(n_planes, band_bits, seed).asNondeterministic()
    banded = (
        df.select(
            F.col(id_col),
            F.col(vec_col).alias("_v"),
            norm_expr(F.col(vec_col)).alias("_n"),
            udf(F.col(vec_col)).alias("_bands"),
        )
        .select(
            id_col, "_v", "_n", F.posexplode("_bands").alias("band", "bval")
        )
    )
    margin = threshold - 1e-6
    id_t = df.schema[id_col].dataType.simpleString()

    def _bucket_dots(pdf):
        if len(pdf) < 2:
            empty = pdf[id_col][:0]
            return pd.DataFrame({"id_a": empty, "id_b": empty, "_c": []})
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        vecs = pdf["_v"].to_numpy()[order]
        n = pdf["_n"].to_numpy()[order].astype(np.float64)
        # full pairs <= max_bucket, min-id star past it; IEEE fold
        # order, zero-den and ragged-length contracts: margin_pair_fold
        ia, ib, cos = margin_pair_fold(
            ids, vecs, n, margin, max_bucket=max_bucket
        )
        return pd.DataFrame({"id_a": ids[ia], "id_b": ids[ib], "_c": cos})

    cand = banded.groupBy("band", "bval").applyInPandas(
        _bucket_dots, f"id_a {id_t}, id_b {id_t}, _c double"
    )
    return (
        cand.select(
            "id_a", "id_b", F.round(F.col("_c"), 6).alias("cosine")
        )
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


def embedding_neardup_pairs_exact(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """Exact all-pairs cosine threshold join — O(N^2); a TEST ORACLE for
    tiny N, never the corpus-scale path (use embedding_neardup_pairs)."""
    from .similarity import cosine_expr

    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine_expr(F.col("v_a"), F.col("v_b")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def source_ngram_overlap(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    ngram: int = 3,
) -> DataFrame:
    """Cross-source n-gram overlap / Jaccard matrix — the
    source-contamination map a mixture designer reads before weighting
    corpora (which crawls share boilerplate, whether a 'curated' source
    is secretly a subset of common-crawl, how much an eval-adjacent
    source leaks into training sources). Decontamination
    (`decontaminate`) answers doc-vs-benchmark; this answers
    source-vs-source.

    Output: one row per UNORDERED source pair that shares at least one
    shingle: (src_a < src_b, n_common, n_a, n_b, jaccard round-6).
    Zero-overlap pairs are omitted (their jaccard is exactly 0).

    100-TB shape: ONE corpus-scale shuffle total — explode straight into
    the per-shingle groupBy (collect_set dedups (source, shingle)
    map-side exactly like the old separate .distinct() pass did, without
    paying its extra full-volume exchange), per-group state bounded by
    the SOURCE COUNT (tiny). Each shingle group then emits BOTH kinds of
    increment through one narrow explode — a (src, NULL) size increment
    per member source and a (src_a, src_b) pair increment per unordered
    shared pair (bounded by n_sources^2 per shingle) — so per-source
    distinct-shingle counts and pair intersections come out of a single
    count aggregate instead of two separately-shuffled ones. That count
    table is bounded (n_sources + n_sources^2 rows) and lazily
    checkpointed because two consumers split it below; broadcast size
    join closes the matrix. The corpus is never self-joined; shingles
    use the same word_ngrams/_shingle twin convention as MinHash."""
    g = F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
    gs = (
        df.select(
            g.alias("grp"),
            F.explode(word_ngrams(F.col(text_col), ngram)).alias("gram"),
        )
        .groupBy("gram")
        .agg(F.sort_array(F.collect_set("grp")).alias("gs"))
    )
    null_b = F.lit(None).cast("string")
    counts = (
        gs.select(
            F.explode(
                F.concat(
                    F.transform(
                        F.col("gs"),
                        lambda s: F.struct(
                            s.alias("id_a"), null_b.alias("id_b")
                        ),
                    ),
                    # n_sources is tiny, so the cap never engages — all
                    # unordered pairs of the sorted set
                    _bucket_pairs(F.col("gs"), 1_000_000),
                )
            ).alias("p")
        )
        .groupBy(
            F.col("p.id_a").alias("src_a"), F.col("p.id_b").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    sizes = counts.filter(F.col("src_b").isNull())
    pairs = counts.filter(F.col("src_b").isNotNull()).withColumnRenamed(
        "cnt", "n_common"
    )
    sa = sizes.select(F.col("src_a").alias("src_a"), F.col("cnt").alias("n_a"))
    sb = sizes.select(F.col("src_a").alias("src_b"), F.col("cnt").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def duplicate_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 3,
) -> DataFrame:
    """Span-level exact-duplicate profiling — the curation signal behind
    substring deduplication (Lee et al., "Deduplicating Training Data
    Makes Language Models Better"): how much of each document is made of
    word-spans that ALSO occur in other documents.

    Documents are cut into consecutive non-overlapping `span_words`-word
    spans (a partial tail span is dropped); a span is "duplicated" when
    its text occurs in >=2 DISTINCT documents. Output per doc:
    (doc_id, n_spans, n_dup_spans, dup_ratio round-6).

    Scale design (the span_scrub one-pass window shape): ONE corpus
    scan + explode builds the span table; a map-side-combinable
    groupBy on (doc, span) collapses within-doc repeats while KEEPING
    their count (this subsumes the old separate `.distinct()` pass);
    per-span document frequency is then count(*) over a WINDOW
    partitioned by the span key — the deduped rows ARE one row per
    (doc, span), so no docfreq side exists to aggregate separately and
    join back (the old aggregate-then-join form re-ran the scan +
    explode + md5 as a second map stage because the distinct's
    exchange keys on (doc, h, h2), never reusable for the (h, h2)
    join). Final hash-agg on doc_id. No self-join, no cross product,
    and the span text itself never shuffles. A span occurring in
    millions of docs puts its distinct-doc rows in one window
    partition — the same residency the old sort-merge join gave that
    key's probe side; the window's sort is the SMJ sort it replaces.
    Pure JVM expressions (portable md5-prefix hash), so DuckDB runs
    the identical computation as the oracle.

    The span key is BOTH 32-bit halves of one md5 (64 effective bits,
    the simhash64 trick): at ~10^9 distinct spans a single 32-bit key
    collides for ~20% of spans, systematically inflating dup_ratio.
    """
    ws = F.split(F.col(text_col), " ")
    n_spans = (F.size(ws) / span_words).cast("int")
    # guard BEFORE the explode: sequence(0, -1) would generate a DESCENDING
    # range, not an empty one — docs shorter than one span yield no rows
    spans = (
        df.select(F.col(id_col), ws.alias("_ws"), n_spans.alias("_n"))
        .where(F.col("_n") >= 1)
        .select(
            F.col(id_col),
            F.col("_ws"),
            F.explode(F.sequence(F.lit(0), F.col("_n") - 1)).alias("_i"),
        )
    ).select(
        id_col,
        portable_hash32(
            F.concat_ws(" ", F.slice("_ws", F.col("_i") * span_words + 1, span_words))
        ).alias("_h"),
        portable_hash32_hi(
            F.concat_ws(" ", F.slice("_ws", F.col("_i") * span_words + 1, span_words))
        ).alias("_h2"),
    )
    # collapse within-doc repeats but KEEP their multiplicity, so a span
    # repeated inside one doc does not count as cross-doc duplication
    # while n_spans still counts every raw span
    per_doc = spans.groupBy(id_col, "_h", "_h2").agg(
        F.count(F.lit(1)).alias("_n_in_doc")
    )
    w = Window.partitionBy("_h", "_h2")
    flagged = per_doc.select(
        id_col,
        "_n_in_doc",
        F.count(F.lit(1)).over(w).alias("_docfreq"),
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.sum("_n_in_doc").alias("n_spans"),
            F.sum(
                F.col("_n_in_doc") * (F.col("_docfreq") >= 2).cast("long")
            ).alias("n_dup_spans"),
        )
        .select(
            id_col,
            F.col("n_spans").cast("long").alias("n_spans"),
            F.col("n_dup_spans").cast("long").alias("n_dup_spans"),
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 6).alias("dup_ratio"),
        )
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Duplicate-GROUP resolution: candidate pairs -> connected components
    -> (id, cluster_id = min id in component). The step every dedup
    pipeline needs after pair generation — near-dup relations are not
    transitive-closed, so keeping one doc per PAIR over-deletes.

    Iterative min-label propagation on the symmetric edge list: each round
    every vertex takes the min label among itself and its neighbors; stops
    at fixpoint (checked with a cheap count per round) or max_iterations.
    Rounds needed = component diameter — tiny for dup clusters (near-
    cliques), so typically 1-3 shuffles. localCheckpoint truncates the
    iterative lineage so Catalyst never sees an exponentially growing
    plan (standard iterative-DataFrame hygiene)."""
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    changed = -1
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias(
                    "label"
                ),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # silently returning split components would over-count "distinct"
        # docs downstream — fail loud; callers raise max_iterations
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"iterations ({changed} labels still changing) — component "
            "diameter exceeds max_iterations"
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    bands: int = 8,
    ngram: int = 3,
    max_bucket: int = 1024,
) -> DataFrame:
    """End-to-end near-dup grouping: MinHash-LSH candidate pairs ->
    connected components -> (doc_id, cluster_id). Docs with no near-dup
    candidate are singletons and omitted (callers left-join and coalesce
    cluster_id to doc_id)."""
    pairs = minhash_lsh_candidates(
        df, text_col, id_col, k, bands, ngram, max_bucket
    )
    return connected_components(pairs).select(
        F.col("id").alias(id_col), "cluster_id"
    )


def contamination_flags(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 5,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag TRAIN docs sharing >= min_shared
    word n-grams with ANY benchmark doc — the eval-set hygiene pass every
    pretraining corpus runs (n-gram-overlap decontamination as described
    in public LM reports; independent implementation).

    Scale shape: the benchmark set is small by nature (eval suites), so
    its distinct shingles BROADCAST; the train side streams through a
    broadcast hash join — no shuffle of the corpus, one narrow pass plus
    the per-doc count aggregate.

    Output: (id, n_shared, contaminated 0/1) for every train doc."""
    bsh = (
        benchmark.select(
            F.explode(word_ngrams(F.col(text_col), ngram)).alias("shingle")
        )
        .distinct()
    )
    tsh = train.select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), ngram)).alias("shingle")
    )
    shared = (
        tsh.join(F.broadcast(bsh), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        train.select(id_col)
        .join(shared, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) >= min_shared)
            .cast("int")
            .alias("contaminated"),
        )
    )


def span_scrub(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Exact duplicate-span REMOVAL — the action half of span-level dup
    profiling (duplicate_span_stats above): every n-word span that occurs
    more than once in the corpus is removed from all but its canonical
    first occurrence, the word-granular re-spec of exact-substring
    training-data dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better" — public method, independent
    implementation; their 50-BPE-token threshold scales here to n words).

    Semantics (identical in the DuckDB twin; 1-based positions because
    DuckDB lists are 1-based):
      occurrence table: (doc, pos, h64(span)) for every n-word window,
      h64 = BOTH 32-bit halves of one md5 (the duplicate_span_stats /
      simhash64 trick) — span_scrub DELETES text, and a single 32-bit
      key collides for ~116 span pairs per 10^6 distinct spans
      (birthday bound), silently removing innocent words at corpus
      scale;
      canonical occurrence of a span = lexicographic min (doc, pos);
      a doc's masked word set = union of [pos, pos+n) over its
      NON-canonical occurrences of spans with count >= 2;
      scrub_text = the unmasked words rejoined.

    Scale shape: ONE pass over the text builds the occurrence table
    (one md5 per span), occurrences shuffle ONCE on the 64-bit span key
    (linear in corpus words), and per-occurrence count + canonical come
    from an unbounded WINDOW over that one shuffle — no stats side at
    all, so nothing to broadcast (the old aggregate-then-join form made
    Catalyst either broadcast a distinct-spans table that is itself
    corpus-scale, or run the text scan + md5 explode TWICE as separate
    map stages; measured 3.14 s -> 1.63 s min-of-4 at sf0.1). Only docs
    owning a non-canonical duplicate occurrence carry rows in the
    sparse mask table joined back (semi-join shape); the mask
    application is a narrow per-row array expression, O(W * dup
    starts). No self-join, no all-pairs. A pathologically hot span
    sorts into one window partition — the same residency any
    co-partitioned join of raw occurrences would have; the window's
    per-partition sort is the SMJ sort it replaces."""
    ws = F.filter(F.split(F.coalesce(F.col(text_col), F.lit("")), " "),
                  lambda w: w != "")
    # the word arrays are consumed twice (occurrence build + mask
    # join-back): materialize them once
    base = df.select(F.col(id_col), ws.alias("_ws")).localCheckpoint(
        eager=False
    )
    span_txt = lambda i: F.concat_ws(" ", F.slice(F.col("_ws"), i, n))
    # ONE md5 hex per span inside the transform lambda; the two 32-bit
    # halves split in the outer (codegen) projection. Higher-order-
    # function lambdas are interpreted per element with NO common-
    # subexpression elimination, so calling portable_hash32 and
    # portable_hash32_hi there computed the digest — and the concat_ws
    # slice feeding it — twice per span (same h/h2 values either way).
    occ = (
        base.where(F.size("_ws") >= n)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_ws") - (n - 1)),
                    lambda i: F.struct(
                        i.alias("pos"), F.md5(span_txt(i)).alias("hx")
                    ),
                )
            ).alias("_sp"),
        )
        .select(
            F.col(id_col),
            F.col("_sp.pos").alias("pos"),
            F.conv(F.substring(F.col("_sp.hx"), 1, 8), 16, 10)
            .cast("long")
            .alias("h"),
            F.conv(F.substring(F.col("_sp.hx"), 9, 8), 16, 10)
            .cast("long")
            .alias("h2"),
        )
    )
    w = Window.partitionBy("h", "h2")
    flagged = occ.select(
        id_col,
        "pos",
        F.count(F.lit(1)).over(w).alias("cnt"),
        F.min(F.struct(F.col(id_col), F.col("pos"))).over(w).alias("canon"),
    )
    dup = (
        flagged.where(
            (F.col("cnt") >= 2)
            & ~(
                (F.col(id_col) == F.col(f"canon.{id_col}"))
                & (F.col("pos") == F.col("canon.pos"))
            )
        )
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("_starts"))
    )
    j = base.join(dup, id_col, "left").select(
        F.col(id_col),
        F.col("_ws"),
        F.coalesce(F.col("_starts"), F.array().cast("array<int>")).alias("_starts"),
    )
    # sequence(1, 0) DESCENDS in Spark — guard the empty-doc case
    idx = F.when(F.size("_ws") < 1, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(1), F.greatest(F.size("_ws"), F.lit(1)))
    )
    masked = lambda i: F.exists(
        F.col("_starts"), lambda s: (s <= i) & (i < s + F.lit(n))
    )
    keep_idx = F.filter(idx, lambda i: ~masked(i))
    return j.select(
        F.col(id_col),
        F.size("_ws").cast("long").alias("n_words"),
        (F.size("_ws") - F.size(keep_idx)).cast("long").alias("n_masked"),
        F.array_join(
            F.transform(keep_idx, lambda i: F.element_at("_ws", i)), " "
        ).alias("scrub_text"),
    )


def line_scrub(
    df: DataFrame,
    min_doc_freq: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-frequency line (paragraph) scrubbing — the CCNet/C4
    boilerplate rule (Wenzek et al. 2020 dedup paragraphs by hash across
    shards; C4 drops repeated lines): any NON-EMPTY line that appears in
    >= min_doc_freq DISTINCT documents is boilerplate (nav bars, cookie
    banners, subscribe footers, license headers) and is removed from
    EVERY document — unlike span_scrub there is no canonical keeper,
    because a line that common is template, not content. Lines are
    compared as exact byte strings (no normalization — normalize
    upstream if wanted); empty lines are structure and are never
    counted or removed. Doc-frequency, not occurrence count: a doc
    repeating its own header 50 times contributes 1.

    Scale shape (the span_scrub one-pass window shape at line
    granularity): explode (doc, pos, md5-h64(line)) ONCE — the 64-bit
    two-half key, because a 32-bit key collides for ~116 line pairs per
    10^6 distinct lines and this operator DELETES text; groupBy
    (doc, h, h2) collapses within-doc multiplicity while carrying the
    bounded position list, so the ONE shuffle on the line key moves at
    most one row per (doc, distinct line); doc-frequency is count(*)
    over a window on that same shuffle (rows are distinct docs per
    line — no second scan, no COUNT DISTINCT, nothing broadcast); only
    docs owning a frequent line carry rows in the sparse mask joined
    back. Reassembly is a narrow per-row array expression. A
    pathologically hot line (every doc's footer) sorts into one window
    partition — the same residency the equivalent join would have; the
    payload behind it is one row per owning doc, not per occurrence.

    Output: (id, n_lines, n_scrubbed, text_clean) for EVERY input doc
    (NULL text behaves as '' -> one empty line, nothing scrubbed;
    all-lines-scrubbed docs yield text_clean = '')."""
    if min_doc_freq < 2:
        raise ValueError(f"min_doc_freq must be >= 2, got {min_doc_freq}")
    lines_arr = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    # the line arrays are consumed twice (occurrence build + reassembly
    # join-back): materialize them once
    base = df.select(F.col(id_col), lines_arr.alias("_ls")).localCheckpoint(
        eager=False
    )
    occ = base.select(
        F.col(id_col),
        F.posexplode("_ls").alias("_p0", "_line"),
    ).where(F.col("_line") != "")
    # one md5 per distinct (doc, line); positions collapse into the group
    g = (
        occ.select(
            F.col(id_col),
            (F.col("_p0") + 1).alias("pos"),  # 1-based (the DuckDB rule)
            F.md5("_line").alias("_hx"),
        )
        .select(
            id_col,
            "pos",
            F.conv(F.substring("_hx", 1, 8), 16, 10).cast("long").alias("h"),
            F.conv(F.substring("_hx", 9, 8), 16, 10).cast("long").alias("h2"),
        )
        # ONE corpus-scale shuffle on the line key: HashPartitioning on
        # (h, h2) satisfies the clustering requirement of BOTH the
        # (doc, h, h2) aggregate (subset-of-keys rule) and the (h, h2)
        # window, so neither plans its own exchange — without this the
        # same rows crossed the wire twice (groupBy keyed its exchange
        # on all three columns, which the window can't reuse). Cost:
        # the shuffle carries per-OCCURRENCE rows instead of per
        # distinct (doc, line) — within-doc duplicate lines are the
        # delta, negligible next to a whole second corpus shuffle.
        .repartition(F.col("h"), F.col("h2"))
        .groupBy(id_col, "h", "h2")
        .agg(F.sort_array(F.collect_list("pos")).alias("_poss"))
    )
    docfreq = F.count(F.lit(1)).over(Window.partitionBy("h", "h2"))
    mask = (
        g.withColumn("_df", docfreq)
        .where(F.col("_df") >= min_doc_freq)
        .groupBy(id_col)
        .agg(
            F.sort_array(F.flatten(F.collect_list("_poss"))).alias("_starts")
        )
    )
    j = base.join(mask, id_col, "left").select(
        F.col(id_col),
        F.col("_ls"),
        F.coalesce(F.col("_starts"), F.array().cast("array<int>")).alias(
            "_starts"
        ),
    )
    idx = F.sequence(F.lit(1), F.size("_ls"))  # split() never yields size 0
    keep_idx = F.filter(
        idx, lambda i: ~F.array_contains(F.col("_starts"), i)
    )
    return j.select(
        F.col(id_col),
        F.size("_ls").cast("long").alias("n_lines"),
        (F.size("_ls") - F.size(keep_idx)).cast("long").alias("n_scrubbed"),
        F.array_join(
            F.transform(keep_idx, lambda i: F.element_at("_ls", i)), "\n"
        ).alias("text_clean"),
    )


def cdc_chunks(
    df: DataFrame,
    divisor: int = 16,
    window_words: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunking (CDC) at word granularity — the
    rsync/LBFS technique (Muthitacharoen et al. SOSP 2001; the backbone
    of every dedup backup store): split each doc into chunks at
    positions the CONTENT chooses, so an edit only re-fingerprints the
    chunk it lands in. A boundary falls AFTER word i exactly when
    hash32 of the window_words-word shingle ENDING at i satisfies
    h % divisor == 0; since the test looks only at local content, an
    insertion shifts later words' positions but not their shingles —
    the chunking realigns one boundary later and every downstream chunk
    fingerprint is UNCHANGED. Whole-doc digests (dedup_exact) lose the
    entire doc to a one-word edit; positional spans (span_scrub keys
    include pos) lose everything after it; CDC loses one chunk.
    Expected chunk length = divisor words (each position is a boundary
    with probability 1/divisor). Deliberately UNBOUNDED (no min/max
    chunk clamps): classic min-size suppression makes each boundary
    depend on the previous one — a sequential recurrence — while the
    pure form is embarrassingly position-parallel and exactly
    reproducible in the SQL twin; a repeated boundary shingle can
    therefore make word-sized chunks (documented, harmless: tiny
    chunks still dedup).

    Scale shape: ZERO shuffles — one narrow projection per doc
    (tokenize; one md5 per candidate position inside the filter
    lambda, the span_scrub one-digest discipline; starts/ends as array
    expressions; one md5 per chunk) followed by a narrow explode.
    Cost O(words x window_words) per doc, embarrassingly parallel;
    every downstream use (chunk-fingerprint dedup, incremental diff)
    is a groupBy/join on chunk_md5 the caller chooses.

    Output: (id, chunk_idx 1-based INT, start_pos 1-based BIGINT,
    n_words BIGINT, chunk_md5 of the space-rejoined chunk words).
    Docs with zero words (NULL/empty/whitespace text) emit NO rows —
    there is no content to chunk (document the contract; dedup_exact
    is the right tool for empty-doc identity)."""
    if divisor < 2:
        raise ValueError(f"divisor must be >= 2, got {divisor}")
    if window_words < 1:
        raise ValueError(f"window_words must be >= 1, got {window_words}")
    w = int(window_words)
    ws = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), " "),
        lambda x: x != "",
    )
    # checkpointed so the derived `size(_ws) >= 1` filter reads the
    # materialized split instead of being pushed into the scan with it
    base = (
        df.select(F.col(id_col), ws.alias("_ws"))
        .localCheckpoint(eager=False)
        .where(F.size("_ws") >= 1)
    )
    n = F.size("_ws")
    # boundary candidates live in [w, n-1] (a chunk always runs to the
    # last word; no shingle ends before w). sequence() DESCENDS when
    # stop < start — guard to the empty array instead.
    cand = F.when(
        n - 1 >= w, F.sequence(F.lit(w), n - 1)
    ).otherwise(F.array().cast("array<int>"))
    shingle = lambda i: F.concat_ws(
        " ", F.slice(F.col("_ws"), i - (w - 1), w)
    )
    # portable_hash32: the shared low-half-md5 recipe, so a future
    # recipe change cannot silently desync this boundary test from the
    # DuckDB H32 template (only span ops inline it — they split TWO
    # halves from one digest)
    bounds = F.filter(
        cand, lambda i: portable_hash32(shingle(i)) % F.lit(divisor) == 0
    )
    starts = F.concat(
        F.array(F.lit(1)), F.transform(bounds, lambda b: b + 1)
    )
    with_starts = base.select(
        F.col(id_col), F.col("_ws"), starts.alias("_starts")
    )
    n2 = F.size("_ws")
    chunk = lambda j: F.struct(
        j.alias("chunk_idx"),
        F.element_at("_starts", j).alias("start_pos"),
        (
            F.coalesce(F.try_element_at("_starts", j + 1) - 1, n2)
            - F.element_at("_starts", j)
            + 1
        ).alias("n_words"),
        F.md5(
            F.concat_ws(
                " ",
                F.slice(
                    F.col("_ws"),
                    F.element_at("_starts", j),
                    F.coalesce(F.try_element_at("_starts", j + 1) - 1, n2)
                    - F.element_at("_starts", j)
                    + 1,
                ),
            )
        ).alias("chunk_md5"),
    )
    return with_starts.select(
        F.col(id_col),
        F.explode(
            F.transform(F.sequence(F.lit(1), F.size("_starts")), chunk)
        ).alias("_c"),
    ).select(
        F.col(id_col),
        F.col("_c.chunk_idx").cast("int").alias("chunk_idx"),
        F.col("_c.start_pos").cast("long").alias("start_pos"),
        F.col("_c.n_words").cast("long").alias("n_words"),
        F.col("_c.chunk_md5").alias("chunk_md5"),
    )


def allpairs_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """LOSSLESS all-pairs Jaccard similarity join via prefix filtering
    (Bayardo, Ma, Srikant, "Scaling Up All Pairs Similarity Search",
    WWW 2007; the SSJoin/PPJoin family) — the exact-recall counterpart
    of ngram_jaccard_pairs' df-capped index: that cap trades recall on
    boilerplate-only pairs for bucket safety, while the prefix filter
    is guaranteed complete at the chosen threshold.

    Principle: order every doc's distinct shingles by ONE global total
    order (document frequency ascending, shingle string tie-break —
    rarest first, which is what keeps buckets small) and index only the
    first n - ceil(t*n) + 1 of them. If J(A,B) >= t then
    |A intersect B| >= t*|A union B| >= t*max(|A|,|B|), so fewer than
    ceil(t*n) elements of either doc can be non-shared; skipping only
    the last ceil(t*n)-1 of each doc's ordered shingles therefore
    cannot skip every shared shingle — any qualifying pair collides in
    at least one prefix bucket. The candidate length filter
    t*max(n_a,n_b) <= min(n_a,n_b) is the same bound applied to sizes.

    Exactness: the threshold enters ONLY as integer micro-units
    (t_micro = round(t*1e6)): min-overlap = ceil-div(t_micro*n, 1e6) in
    BIGINT math, the length filter is t_micro*n_b <= 1e6*n_a, and the
    final acceptance is 1e6*inter >= t_micro*union on exact intersect/
    union counts — the only float in the operator is the reported
    round-6 jaccard. threshold must be a multiple of 1e-6.

    Scale shape: linear shuffles only, never a cross join — inverted
    index -> df counts (map-side combinable) -> df join-back on the
    SAME shingle key (subset-of-keys: the aggregate side reuses its
    partitioning) -> per-doc regroup to slice the prefix -> per-shingle
    prefix buckets with in-bucket (sorted-by-size) pair generation
    under the length filter -> distinct -> exact verify join. Bucket
    sizes are the algorithm's own lever: prefixes hold each doc's
    RAREST shingles, so hot boilerplate shingles never index a doc
    unless the doc is mostly boilerplate. Worst case (f near-identical
    docs) is Theta(f^2) candidates — but so is the correct OUTPUT;
    run exact_dedup first, as with ngram_jaccard_pairs.

    Output: (id_a < id_b, n_inter, n_union exact BIGINTs, jaccard
    round-6) for every pair with J >= threshold. Docs with zero
    shingles (< ngram words) never pair by contract.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    t_micro = round(threshold * 1e6)
    if abs(threshold * 1e6 - t_micro) > 1e-6:
        raise ValueError(
            f"threshold must be a multiple of 1e-6, got {threshold!r}"
        )
    if ngram < 1:
        raise ValueError(f"ngram must be >= 1, got {ngram}")
    # the shingle build is materialized ONCE: it feeds FIVE plan
    # branches (dfreq, ranked, and the two verify sides below), each of
    # which would otherwise re-run it
    sh = (
        df.select(
            F.col(id_col), word_ngrams(F.col(text_col), ngram).alias("shingles")
        )
        .localCheckpoint(eager=False)
        .filter(F.size("shingles") > 0)
        .withColumn("_n", F.size("shingles").cast("long"))
    )
    inv = sh.select(
        F.col(id_col), F.col("_n"), F.explode("shingles").alias("_sh")
    )
    # df(shingle) as a WINDOW count (r6 wave 3; guide §2.4): replaces
    # the groupBy(_sh) + join-back that exchanged the token-scale inv
    # twice and paid a sort-merge join — identical per-shingle document
    # frequency (shingles are distinct per doc), ONE exchange + sort.
    ranked = inv.withColumn(
        "_dfc", F.count(F.lit(1)).over(Window.partitionBy("_sh"))
    )
    # prefix_len = n - ceil(t_micro*n/1e6) + 1 in pure BIGINT math
    # (float t*n then ceil() can land on either side of an exact integer)
    min_ov = F.expr(f"CAST(({t_micro} * _n + 999999) div 1000000 AS BIGINT)")
    docp = (
        ranked.groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("_dfc").alias("d"), F.col("_sh").alias("s"))
                )
            ).alias("_ord"),
            F.max("_n").alias("_n"),
        )
        .select(
            F.col(id_col),
            F.col("_n"),
            F.slice(
                F.transform("_ord", lambda x: x.getField("s")),
                F.lit(1),
                (F.col("_n") - min_ov + 1).cast("int"),
            ).alias("_prefix"),
        )
    )
    pidx = docp.select(
        F.col(id_col), F.col("_n"), F.explode("_prefix").alias("_sh")
    )
    mem = F.sort_array(
        F.collect_list(F.struct(F.col("_n").alias("n"), F.col(id_col).alias("i")))
    )
    # members sorted by (n, id): for pair (a at i, b after i) n_a <= n_b,
    # so the size filter is t_micro * n_b <= 1e6 * n_a
    pairs = F.flatten(
        F.transform(
            F.col("_mem"),
            lambda a, i: F.transform(
                F.filter(
                    F.slice(
                        F.col("_mem"),
                        i + 2,
                        F.greatest(F.size("_mem") - i - 1, F.lit(0)),
                    ),
                    lambda b: F.lit(t_micro) * b.getField("n")
                    <= F.lit(1_000_000) * a.getField("n"),
                ),
                lambda b: F.struct(
                    F.least(a.getField("i"), b.getField("i")).alias("id_a"),
                    F.greatest(a.getField("i"), b.getField("i")).alias("id_b"),
                ),
            ),
        )
    )
    cand = (
        pidx.groupBy("_sh")
        .agg(mem.alias("_mem"))
        .filter(F.size("_mem") > 1)
        .select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    a = sh.select(
        F.col(id_col).alias("id_a"),
        F.col("shingles").alias("_sha"),
        F.col("_n").alias("_na"),
    )
    b = sh.select(
        F.col(id_col).alias("id_b"),
        F.col("shingles").alias("_shb"),
        F.col("_n").alias("_nb"),
    )
    # acceptance 1e6*inter >= t_micro*(na+nb-inter) is rewritten as
    # inter*(1e6+t_micro) >= t_micro*(na+nb) — exact-integer-equivalent
    # with a SINGLE mention of the intersect: Catalyst pushes this
    # filter into the verify join's condition, and every mention
    # re-inlines the whole O(n) array_intersect per candidate pair
    # (the two-mention form measured 3 evals: twice in the join
    # condition, once in the projection)
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_sha", "_shb")).cast("long").alias("n_inter"),
            "_na",
            "_nb",
        )
        .filter(
            F.col("n_inter") * F.lit(1_000_000 + t_micro)
            >= F.lit(t_micro) * (F.col("_na") + F.col("_nb"))
        )
        .select(
            "id_a",
            "id_b",
            "n_inter",
            (F.col("_na") + F.col("_nb") - F.col("n_inter")).alias("n_union"),
        )
        .select(
            "id_a",
            "id_b",
            "n_inter",
            "n_union",
            F.round(
                F.col("n_inter").cast("double") / F.col("n_union").cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    k_gram: int = 3,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    SIGMOD 2003 — the MOSS algorithm): per document, hash every
    k_gram-word shingle, slide a `window`-hash window over the hash
    sequence, and select the RIGHTMOST MINIMUM of each window. The
    selection guarantee CDC cannot give: any shared word run of at
    least window + k_gram - 1 words between two documents shares at
    least one fingerprint HASH (cdc_chunks realigns after edits but a
    boundary-free region yields one giant chunk; winnowing guarantees
    fingerprint density — at least one per window positions, expected
    2/(window+1) of positions selected).

    Sequential-looking, computed position-parallel: instead of
    materializing per-window argmins (a per-row O(m*window) array fold
    whose HOF lambdas re-inline the hash array per element), position
    p is selected iff SOME valid window start i exists with p the
    rightmost min, which reduces to run lengths:

      L(p) = longest run left of p with H >= H[p]   (ties lose leftward)
      R(p) = longest run right of p with H >  H[p]  (ties win rightward)
      selected(p) <=> greatest(1, p-wm+1, p-L)
                        <= least(p, m-wm+1, p+R-wm+1),  wm = least(w, m)

    where the runs are capped at window-1 by a lag/lead chain over ONE
    (doc, pos) sort. Both run caps clamp safely: an over-long run only
    loosens a bound the window-validity clamp already enforces.

    Scale shape: one narrow projection per doc (one md5 per position
    inside a transform lambda — the cdc_chunks one-digest discipline),
    a narrow posexplode of the hash array (no word array rides the
    explode — and the per-doc position count m rides ALONGSIDE it as
    size(ws)-k+1 instead of a second count window), then ONE hash
    exchange on doc and ONE sort serving the whole lag/lead chain.
    Zero Python, one Window node.

    Output: (id, pos 1-based BIGINT, fp BIGINT). Docs with fewer than
    k_gram words emit NO rows (no shingle exists — the cdc empty-doc
    contract). Docs with m < window positions emit the rightmost min
    of the single short window (standard winnowing edge)."""
    if k_gram < 1:
        raise ValueError(f"k_gram must be >= 1, got {k_gram}")
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    from pyspark.sql.window import Window

    kk, w = int(k_gram), int(window)
    ws = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), " "),
        lambda x: x != "",
    )
    base = df.select(F.col(id_col), ws.alias("_ws")).where(
        F.size("_ws") >= kk
    )
    m_arr = F.size("_ws") - (kk - 1)
    gram = lambda i: F.concat_ws(" ", F.slice(F.col("_ws"), i, kk))
    h_arr = F.transform(
        F.sequence(F.lit(1), m_arr), lambda i: portable_hash32(gram(i))
    )
    ex = base.select(
        F.col(id_col),
        m_arr.cast("long").alias("_m"),
        F.posexplode(h_arr).alias("_p0", "h"),
    )
    ex = ex.select(
        F.col(id_col), "_m", (F.col("_p0") + 1).cast("long").alias("p"), "h"
    )
    ord_w = Window.partitionBy(id_col).orderBy("p")
    lags = [F.lag("h", j).over(ord_w).alias(f"_l{j}") for j in range(1, w)]
    leads = [F.lead("h", j).over(ord_w).alias(f"_f{j}") for j in range(1, w)]
    staged = ex.select(id_col, "p", "h", "_m", *lags, *leads)

    # prefix-run length: L = largest j with l1..lj ALL >= h (a gap at
    # any jj < j breaks the run, so cond_j re-tests the full prefix —
    # w is small, the chain stays a few comparisons). A NULL lag (doc
    # boundary) makes the comparison NULL -> when() falls through:
    # runs stop at the document edge exactly as they must.
    L = F.lit(0)
    for j in range(1, w):
        cond = F.col(f"_l{j}") >= F.col("h")
        for jj in range(1, j):
            cond = cond & (F.col(f"_l{jj}") >= F.col("h"))
        L = F.when(cond, F.lit(j)).otherwise(L)
    R = F.lit(0)
    for j in range(1, w):
        cond = F.col(f"_f{j}") > F.col("h")
        for jj in range(1, j):
            cond = cond & (F.col(f"_f{jj}") > F.col("h"))
        R = F.when(cond, F.lit(j)).otherwise(R)
    wm = F.least(F.lit(w), F.col("_m"))
    p = F.col("p")
    selected = F.greatest(
        F.lit(1), p - wm + 1, p - L
    ) <= F.least(p, F.col("_m") - wm + 1, p + R - wm + 1)
    return staged.where(selected).select(
        F.col(id_col), p.alias("pos"), F.col("h").alias("fp")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """LOSSLESS all-pairs CONTAINMENT join: every ORDERED pair (a, b)
    with C(A, B) = |A intersect B| / |A| >= threshold — "a's shingles
    are mostly inside b" — the ASYMMETRIC member of the near-dup
    family that symmetric Jaccard structurally cannot express: a quote
    embedded in a long article, a doc re-crawled with an appended
    footer, a subset shard repackaged inside a bigger one all have
    C(A, B) ~ 1 while J(A, B) ~ |A|/|B| ~ 0, so allpairs_jaccard_pairs
    at any useful threshold never surfaces them.

    Prefix filter (lossless, the Bayardo-Ma-Srikant argument adapted
    to containment): order A's distinct shingles by the global
    (document frequency ASC, shingle) total order; C(A, B) >= t means
    fewer than ceil(t * n_a) of A's shingles can be OUTSIDE B, so A's
    first n_a - ceil(t * n_a) + 1 ordered shingles cannot all miss B —
    every qualifying pair collides where A's PREFIX meets B's FULL
    shingle set. The probe side therefore indexes prefixes (rarest
    shingles — hot boilerplate never probes unless the doc is mostly
    boilerplate, the same bucket-size lever as allpairs), while the
    candidate join runs against the full inverted index as a plain
    streaming equi-JOIN on the shingle key — never a per-shingle
    array collect (a hot shingle's full posting list must stream
    through the join, not materialize in one aggregation buffer).
    The only candidate pruning is the exact size bound n_b >=
    ceil(t * n_a) (the container must hold at least the required
    overlap); there is NO upper size filter — that asymmetry is the
    point.

    Exactness: threshold enters ONLY as integer micro-units —
    min-overlap = ceil-div(t_micro * n_a, 1e6) in BIGINT math,
    acceptance is 1e6 * inter >= t_micro * n_a on the exact intersect
    count; the only float is the reported round-6 containment.
    threshold must be a multiple of 1e-6.

    Scale shape: linear shuffles only — inverted index -> df counts
    (map-side combinable) -> join-back on the same shingle key
    (subset-of-keys) -> per-doc regroup to slice the prefix -> probe
    join against the full index on the shingle key -> distinct ->
    exact verify join (single intersect mention in the filter — the
    allpairs Catalyst-collapse lesson). Worst case (f copies of one
    doc) is Theta(f^2) candidates — but so is the correct OUTPUT; run
    exact_dedup first.

    Output: (id_a, id_b, n_inter, n_a, n_b, containment) for every
    ordered pair with C(A, B) >= threshold, a != b; both directions
    appear when both qualify. Zero-shingle docs never pair."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    t_micro = round(threshold * 1e6)
    if abs(threshold * 1e6 - t_micro) > 1e-6:
        raise ValueError(
            f"threshold must be a multiple of 1e-6, got {threshold!r}"
        )
    if ngram < 1:
        raise ValueError(f"ngram must be >= 1, got {ngram}")
    # shingle build materialized once (five consumers); same shape as
    # allpairs_jaccard_pairs
    sh = (
        df.select(
            F.col(id_col), word_ngrams(F.col(text_col), ngram).alias("shingles")
        )
        .localCheckpoint(eager=False)
        .filter(F.size("shingles") > 0)
        .withColumn("_n", F.size("shingles").cast("long"))
    )
    inv = sh.select(
        F.col(id_col), F.col("_n"), F.explode("shingles").alias("_sh")
    )
    # df(shingle) as a WINDOW count over the inverted index (r6 wave 3;
    # guide §2.4): the former groupBy(_sh) + join-back exchanged the
    # token-scale inv twice and paid a sort-merge join; one
    # count-over-partition computes the identical per-shingle document
    # frequency (shingles are distinct per doc) with ONE exchange + one
    # sort, and its output stays hash-partitioned/sorted on _sh for the
    # probe join below to reuse.
    ranked = inv.withColumn(
        "_dfc", F.count(F.lit(1)).over(Window.partitionBy("_sh"))
    )
    min_ov = F.expr(f"CAST(({t_micro} * _n + 999999) div 1000000 AS BIGINT)")
    docp = (
        ranked.groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("_dfc").alias("d"), F.col("_sh").alias("s")
                    )
                )
            ).alias("_ord"),
            F.max("_n").alias("_n"),
        )
        .select(
            F.col(id_col),
            F.col("_n"),
            F.slice(
                F.transform("_ord", lambda x: x.getField("s")),
                F.lit(1),
                (F.col("_n") - min_ov + 1).cast("int"),
            ).alias("_prefix"),
        )
    )
    probe = docp.select(
        F.col(id_col).alias("id_a"),
        F.col("_n").alias("_na"),
        F.explode("_prefix").alias("_sh"),
    )
    full = inv.select(
        F.col(id_col).alias("id_b"),
        F.col("_n").alias("_nb"),
        F.col("_sh"),
    )
    cand = (
        probe.join(full, "_sh")
        .where(
            (F.col("id_a") != F.col("id_b"))
            & (
                F.lit(1_000_000) * F.col("_nb")
                >= F.lit(t_micro) * F.col("_na")
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    a = sh.select(
        F.col(id_col).alias("id_a"),
        F.col("shingles").alias("_sha"),
        F.col("_n").alias("_na"),
    )
    b = sh.select(
        F.col(id_col).alias("id_b"),
        F.col("shingles").alias("_shb"),
        F.col("_n").alias("_nb"),
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_sha", "_shb"))
            .cast("long")
            .alias("n_inter"),
            "_na",
            "_nb",
        )
        .filter(
            F.lit(1_000_000) * F.col("n_inter")
            >= F.lit(t_micro) * F.col("_na")
        )
        .select(
            "id_a",
            "id_b",
            "n_inter",
            F.col("_na").alias("n_a"),
            F.col("_nb").alias("n_b"),
            F.round(
                F.col("n_inter").cast("double") / F.col("_na").cast("double"),
                6,
            ).alias("containment"),
        )
    )
