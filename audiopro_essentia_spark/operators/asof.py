"""J1 — the point-in-time / as-of join: the engine's flagship operator.

The distributed promotion of the reference's ordered index<->feature
alignment (/root/reference/src/audiopro/audio/extractor.py:211-213 ordered
imap; processors.py:281-285 idx->time). Spark SQL has no native ASOF JOIN,
so it is built from first principles two ways:

1. strategy='union' (default, pure JVM): union-tag both sides, ONE
   hash-shuffle on the key + an in-partition sort on (ts, side), then a
   running `last(value, ignorenulls=True)` forward-fill carries the most
   recent right-side row onto every left row. O(n log n) per partition, no
   Python, AQE-coalesced. Ties (right.ts == left.ts) MATCH (as-of
   semantics, same as pandas merge_asof / DuckDB ASOF JOIN). All three
   directions run here: 'forward' is the identical running-last over time
   REVERSED (one extra sort, same single shuffle); 'nearest' computes both
   scans over the one shuffle and picks the closer match (backward wins
   equal distances — pandas' rule).
2. strategy='cogroup' (Arrow): groupBy(key).cogroup().applyInPandas with
   pd.merge_asof per key — an independent cross-check in tests and the
   escape hatch for semantics Spark expressions don't cover.

Tolerance: a match further back than `tolerance_us` is nulled out (pandas
merge_asof tolerance semantics).

Zero temporal leakage (north rule): join on the LEFT side's availability
timestamp (frame END per SURVEY.md §1.3) so no feature row can see right-
side facts from its own future; tests poison future rows and assert
invariance (tests/test_asof.py).

Scale notes: the union approach shuffles each side once on the join key —
identical cost to the shuffle of a sort-merge join, but skips the join
build side entirely. Heavy keys: a single doc_id's rows must be co-located
(window semantics); sub-key salting is NOT semantics-preserving here, so
heavy keys are bounded upstream by doc size, which the corpus guarantees
(a doc's frames ~ n_tok/H rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType


def _q(name: str) -> str:
    """`name` as a SQL identifier (dots, spaces and backticks included)."""
    return "`" + name.replace("`", "``") + "`"


def _orderable(dt) -> bool:
    """MapType is not orderable in Spark, at any nesting depth."""
    if isinstance(dt, MapType):
        return False
    if isinstance(dt, ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: tuple[str, ...] = ("doc_id",),
    left_ts: str = "available_ts",
    right_ts: str = "label_ts",
    right_values: tuple[str, ...] | None = None,
    tolerance_us: int | None = None,
    direction: str = "backward",
    strategy: str = "union",
    matched_ts_col: str = "matched_ts",
) -> DataFrame:
    """As-of join `left` with the most recent `right` row per key.

    Output = all left rows + right_values columns (null when no match /
    outside tolerance) + `matched_ts_col` (the matched right timestamp).
    """
    # the plan is built from SQL text over one read of each schema: every
    # Column-API call costs driver round trips plus a call-site capture,
    # ~0.25 s over the flagship's ~20 left columns on a 4-core host
    rschema = right.schema
    if right_values is None:
        right_values = tuple(
            c for c in rschema.names if c not in on and c != right_ts
        )
    clash = (set(right_values) | {matched_ts_col}) & set(left.columns)
    if clash:
        raise ValueError(
            f"right_values/matched_ts collide with left columns: {sorted(clash)}; "
            "rename or pass explicit right_values"
        )
    if matched_ts_col in right_values:
        # would emit two columns with the same name (union path) or
        # duplicate pandas labels feeding merge_asof (cogroup path)
        raise ValueError(
            f"right_values contains {matched_ts_col!r}, which is also the "
            "matched-timestamp output column; rename one of them"
        )
    # a right row with NULL ts can never be a valid as-of match — without
    # this filter the union path's NULLS-FIRST sort would forward-fill it
    # into every left row before the first real right row (silent wrong
    # data), and pandas merge_asof refuses NULL right keys outright
    right = right.where(f"{_q(right_ts)} IS NOT NULL")
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward/forward/nearest, got {direction!r}"
        )
    if strategy == "cogroup":
        return _asof_cogroup(
            left, right, on, left_ts, right_ts, right_values,
            tolerance_us, direction, matched_ts_col,
        )

    keys = [_q(k) for k in on]
    # left rows carry their whole row as `_lv`, right rows their match as
    # `_rv`; unionByName fills each side's missing struct with a typed NULL
    l2 = left.selectExpr(
        *keys,
        f"unix_micros(CAST({_q(left_ts)} AS TIMESTAMP)) AS _ts",
        "1 AS _side",
        "struct(*) AS _lv",
    )
    rts = f"unix_micros(CAST({_q(right_ts)} AS TIMESTAMP))"
    r2 = right.selectExpr(
        *keys,
        f"{rts} AS _ts",
        "0 AS _side",  # sorts BEFORE left at equal ts -> tie matches
        f"struct({', '.join([f'{rts} AS _rts', *map(_q, right_values)])}) AS _rv",
    )
    u = l2.unionByName(r2, allowMissingColumns=True)

    # `_rv` as the final sort key makes right-side ties on (key, ts)
    # deterministic (struct compare): last() picks the max struct, not an
    # arbitrary partition-order row. Left rows carry NULL _rv (sorts first
    # within its (_ts, _side) group; ignorenulls skips it). MapType is not
    # orderable in Spark — if any right_values column contains one, fall
    # back to (_ts, _side) ordering (tie choice then partition-dependent).
    tie = ", _rv" if all(_orderable(rschema[c].dataType) for c in right_values) else ""

    def _fill(reverse: bool) -> str:
        # forward scan = the same running-last over time REVERSED.
        # DESC NULLS FIRST keeps NULL-left-ts rows ahead of every right
        # row in BOTH scan directions (plain DESC puts NULLs last, which
        # would hand a NULL-ts left row the earliest right row — silent
        # wrong data); _side ASC keeps right (0) before left (1) at equal
        # ts, so ties match in both directions, matching merge_asof.
        ts = "_ts DESC NULLS FIRST" if reverse else "_ts"
        return (
            f"last(_rv, true) OVER (PARTITION BY {', '.join(keys)} "
            f"ORDER BY {ts}, _side{tie} "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )

    if direction == "backward":
        filled = u.selectExpr("*", f"{_fill(False)} AS _rv_f")
        dist = "_ts - _rv_f._rts"
    elif direction == "forward":
        filled = u.selectExpr("*", f"{_fill(True)} AS _rv_f")
        dist = "_rv_f._rts - _ts"
    else:  # nearest: both scans share ONE shuffle (same partitioning);
        # equal distances resolve backward, pandas merge_asof's rule
        filled = u.selectExpr(
            "*", f"{_fill(False)} AS _b", f"{_fill(True)} AS _f"
        ).selectExpr(
            "*",
            "CASE WHEN _b IS NULL THEN _f WHEN _f IS NULL THEN _b "
            "WHEN _ts - _b._rts <= _f._rts - _ts THEN _b ELSE _f END AS _rv_f",
        )
        dist = "abs(_ts - _rv_f._rts)"

    keep = "_rv_f IS NOT NULL"
    if tolerance_us is not None:
        keep += f" AND {dist} <= {int(tolerance_us)}"
    return filled.where("_side = 1").selectExpr(
        "_lv.*",
        f"CASE WHEN {keep} THEN timestamp_micros(_rv_f._rts) END AS {_q(matched_ts_col)}",
        *[f"CASE WHEN {keep} THEN _rv_f.{_q(c)} END AS {_q(c)}" for c in right_values],
    )


def _asof_cogroup(
    left: DataFrame,
    right: DataFrame,
    on: tuple[str, ...],
    left_ts: str,
    right_ts: str,
    right_values: tuple[str, ...],
    tolerance_us: int | None,
    direction: str,
    matched_ts_col: str,
) -> DataFrame:
    """Arrow cogroup variant: pd.merge_asof per key group."""
    import pandas as pd

    # normalize ts dtypes BEFORE the cogroup: merge_asof needs real
    # datetimes on both sides (string ts columns sort lexicographically
    # into an object-dtype MergeError; the union path casts to timestamp
    # too, this path must match)
    left = left.withColumn(left_ts, F.col(left_ts).cast("timestamp"))
    right = right.withColumn(right_ts, F.col(right_ts).cast("timestamp"))

    lcols = list(left.columns)
    out_schema = left.schema.simpleString()[7:-1]  # strip struct<...>
    rv_fields = []
    rschema = dict(right.dtypes)
    for c in right_values:
        rv_fields.append(f"{c}: {rschema[c]}")
    ddl = (
        out_schema
        + f", {matched_ts_col}: timestamp"
        + ("," + ",".join(rv_fields) if rv_fields else "")
    )

    tol = pd.Timedelta(microseconds=tolerance_us) if tolerance_us is not None else None

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if len(lpdf) == 0:
            return pd.DataFrame(
                columns=lcols + [matched_ts_col] + list(right_values)
            )
        # NULL-ts LEFT rows pass through unmatched (merge_asof refuses
        # NaT keys; the union path gives them no-match too). NULL-ts
        # right rows were filtered before dispatch.
        null_l = lpdf[lpdf[left_ts].isna()]
        lpdf = lpdf[lpdf[left_ts].notna()].sort_values(left_ts)
        rpdf = rpdf.sort_values(right_ts).rename(columns={right_ts: matched_ts_col})
        rpdf = rpdf[[matched_ts_col, *right_values]]
        no_match = {matched_ts_col: pd.NaT, **{c: None for c in right_values}}
        merged = pd.merge_asof(
            lpdf,
            rpdf,
            left_on=left_ts,
            right_on=matched_ts_col,
            direction=direction,
            tolerance=tol,
        ) if len(lpdf) else lpdf.assign(**no_match)
        if len(null_l):
            merged = pd.concat(
                [merged, null_l.assign(**no_match)], ignore_index=True
            )
        return merged[lcols + [matched_ts_col] + list(right_values)]

    return (
        left.groupBy(*on)
        .cogroup(right.groupBy(*on))
        .applyInPandas(lambda l, r: merge(l, r), ddl)
    )
