"""As-of join edges the SQL-text plan must get right (operators/asof.py):
a MapType right value (no struct tie key), column names that need SQL
quoting, and one timestamp name shared by both sides (q_asof_join's
shape). Each runs in all three directions against pandas merge_asof, and
the shared-ts case also against strategy='cogroup'."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from audiopro_essentia_spark.operators.asof import asof_join

DIRECTIONS = ["backward", "forward", "nearest"]
BASE = dt.datetime(2024, 1, 1)


def _ts(s: float) -> dt.datetime:
    return BASE + dt.timedelta(seconds=s)


def _golden(lpdf, rpdf, on, left_ts, right_ts, values, direction, matched="matched_ts"):
    """pd.merge_asof per key, in the union path's output column order."""
    r = rpdf.rename(columns={right_ts: matched})[[*on, matched, *values]]
    m = pd.merge_asof(
        lpdf.sort_values(left_ts), r.sort_values(matched),
        left_on=left_ts, right_on=matched, by=list(on), direction=direction,
    )
    return m[[*lpdf.columns, matched, *values]]


def _rows(df, sort_by):
    pdf = df.toPandas() if not isinstance(df, pd.DataFrame) else df
    pdf = pdf.sort_values(sort_by).reset_index(drop=True)
    return [
        tuple(None if (not isinstance(v, (list, dict)) and pd.isna(v)) else v for v in row)
        for row in pdf.itertuples(index=False)
    ]


# left: 2 keys x 4 rows; right: distinct ts per key, so no tie decides
LEFT = [
    ("k1", 1, 1.0), ("k1", 2, 2.5), ("k1", 3, 4.0), ("k1", 4, 9.0),
    ("k2", 5, 0.5), ("k2", 6, 3.0), ("k2", 7, 3.5), ("k2", 8, 7.0),
]
RIGHT = [("k1", 2.0, 10), ("k1", 4.0, 11), ("k1", 6.0, 12), ("k2", 1.0, 20), ("k2", 5.0, 21)]


@pytest.mark.parametrize("direction", DIRECTIONS)
def test_asof_map_type_right_value(spark, direction):
    """A MapType value is not orderable, so the union path drops its
    struct tie key; with distinct right ts per key the match is still
    exactly merge_asof's."""
    left = spark.createDataFrame(
        [(k, i, _ts(s)) for k, i, s in LEFT], "k string, id long, lts timestamp"
    )
    right = spark.createDataFrame(
        [(k, _ts(s), {"v": v}, v) for k, s, v in RIGHT],
        "k string, rts timestamp, m map<string,int>, v int",
    )
    got = asof_join(
        left, right, on=("k",), left_ts="lts", right_ts="rts",
        right_values=("m", "v"), direction=direction,
    )
    assert got.columns == ["k", "id", "lts", "matched_ts", "m", "v"]
    rpdf = pd.DataFrame(
        [(k, _ts(s), {"v": v}, v) for k, s, v in RIGHT], columns=["k", "rts", "m", "v"]
    )
    lpdf = pd.DataFrame([(k, i, _ts(s)) for k, i, s in LEFT], columns=["k", "id", "lts"])
    exp = _golden(lpdf, rpdf, ("k",), "lts", "rts", ("m", "v"), direction)
    got_rows = [
        (k, i, lts, mts, dict(m) if m is not None else None, v)
        for k, i, lts, mts, m, v in _rows(got, "id")
    ]
    exp_rows = [
        (k, i, lts.to_pydatetime(), None if mts is None else mts.to_pydatetime(), m,
         None if v is None else int(v))
        for k, i, lts, mts, m, v in _rows(exp, "id")
    ]
    assert got_rows == exp_rows


DOTS_SPACES = {"k": "key.with dot", "id": "id no.", "lts": "left ts", "rts": "right.ts", "v": "val x.y"}
BACKTICKS = {"k": "key`k", "id": "id `tick`", "lts": "left`ts", "rts": "r.ts `b`", "v": "val `x` y"}


@pytest.mark.parametrize("names", [DOTS_SPACES, BACKTICKS], ids=["dots_spaces", "backticks"])
@pytest.mark.parametrize("direction", DIRECTIONS)
def test_asof_names_that_need_quoting(spark, direction, names):
    """Key, timestamps, left and right values whose names carry a dot, a
    space or a backtick pass through unchanged in all three directions.
    (pyspark's cogroup resolves every column by its unquoted name, so
    strategy='cogroup' cannot take these names; pandas is the check.)"""
    n = names
    left = spark.createDataFrame(
        [(k, i, _ts(s)) for k, i, s in LEFT], [n["k"], n["id"], n["lts"]]
    )
    right = spark.createDataFrame(
        [(k, _ts(s), v) for k, s, v in RIGHT], [n["k"], n["rts"], n["v"]]
    )
    union = asof_join(
        left, right, on=(n["k"],), left_ts=n["lts"], right_ts=n["rts"],
        direction=direction, tolerance_us=2_500_000, matched_ts_col="matched.ts",
    )
    cols = [n["k"], n["id"], n["lts"], "matched.ts", n["v"]]
    assert union.columns == cols

    lpdf = pd.DataFrame([(k, i, _ts(s)) for k, i, s in LEFT], columns=cols[:3])
    rpdf = pd.DataFrame([(k, _ts(s), v) for k, s, v in RIGHT], columns=[n["k"], n["rts"], n["v"]])
    exp = _golden(lpdf, rpdf, (n["k"],), n["lts"], n["rts"], (n["v"],), direction, "matched.ts")
    # the 2.5 s tolerance, applied the way merge_asof's `tolerance` does
    far = (exp[n["lts"]] - exp["matched.ts"]).abs() > pd.Timedelta(seconds=2.5)
    exp.loc[far, ["matched.ts", n["v"]]] = None
    got = [(k, i, lts, mts, None if v is None else int(v)) for k, i, lts, mts, v in _rows(union, n["id"])]
    want = [
        (k, i, lts.to_pydatetime(), None if mts is None else mts.to_pydatetime(),
         None if v is None else int(v))
        for k, i, lts, mts, v in _rows(exp, n["id"])
    ]
    assert got == want


@pytest.mark.parametrize("direction", DIRECTIONS)
def test_asof_shared_ts_name(spark, direction):
    """left_ts == right_ts ('ts' on both sides, q_asof_join's shape),
    with equal-ts rows on both sides: the tie matches, and the left's ts
    survives next to the matched right ts."""
    left_rows = [(k, i, _ts(s)) for k, i, s in LEFT] + [("k1", 9, _ts(4.0 + 2.0))]
    left = spark.createDataFrame(left_rows, "user string, event_id long, ts timestamp")
    right = spark.createDataFrame(
        [(k, _ts(s), float(v)) for k, s, v in RIGHT], "user string, ts timestamp, pvalue double"
    )
    kw = dict(on=("user",), left_ts="ts", right_ts="ts", right_values=("pvalue",), direction=direction)
    union = asof_join(left, right, **kw)
    cogroup = asof_join(left, right, strategy="cogroup", **kw)
    assert union.columns == ["user", "event_id", "ts", "matched_ts", "pvalue"]
    assert _rows(union, "event_id") == _rows(cogroup, "event_id")

    lpdf = pd.DataFrame(left_rows, columns=["user", "event_id", "ts"])
    rpdf = pd.DataFrame(
        [(k, _ts(s), float(v)) for k, s, v in RIGHT], columns=["user", "ts", "pvalue"]
    )
    exp = _golden(lpdf, rpdf, ("user",), "ts", "ts", ("pvalue",), direction)
    want = [
        (k, i, ts.to_pydatetime(), None if m is None else m.to_pydatetime(), p)
        for k, i, ts, m, p in _rows(exp, "event_id")
    ]
    assert _rows(union, "event_id") == want
    # left rows at a right row's exact ts (k1 @ 4.0 s and 6.0 s) match it
    by_id = {r[1]: r for r in want}
    assert by_id[3][3] == _ts(4.0) and by_id[9][3] == _ts(6.0)
