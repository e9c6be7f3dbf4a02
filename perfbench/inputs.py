"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives the
same tables, byte for byte. The program under test only ever sees the
written Parquet files.

- `sequences` / `labels`: the flagship corpus. Same schema and length
  distribution as the package's bench fixture
  (`fixtures.make_sequences(profile="bench")`, `fixtures.make_labels`),
  generated here so the benchmark owns its inputs; `check_corpus.py`
  proves that seed 42 reproduces the fixture exactly.
- `events` / `documents`: the SQL roster's tables, sized and shaped like
  the repository's sf0.1 test tables (TESTDATA.md): same schemas, row
  counts, per-user density, vocabulary, near-duplicate share and value
  domains, one row group per table. perfbench/README.md lists the figures.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEQ_BASE_TS = dt.datetime(2026, 1, 1)
SOURCES = ("common_crawl", "wiki", "code")
SOURCE_P = (0.80, 0.15, 0.05)


def make_sequences(seed: int, n_docs: int, avg_n_tok: int = 32768) -> pa.Table:
    """`doc_id, tokens array<int32>, n_tok, source, base_ts` — n_tok is
    uniform on [2048, 2*avg_n_tok - 2048), tokens uniform int16-range."""
    rng = np.random.default_rng(seed)
    lo, hi = 2048, max(2049, 2 * avg_n_tok - 2048)
    lens = rng.integers(lo, hi, size=n_docs)
    # one draw per doc, in doc order, after the length draws
    sources = [str(rng.choice(SOURCES, p=SOURCE_P)) for _ in range(n_docs)]
    tokens = [
        np.random.default_rng(seed + i).integers(
            -32768, 32767, size=int(n), dtype=np.int32
        )
        for i, n in enumerate(lens)
    ]
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    values = np.concatenate(tokens) if tokens else np.empty(0, np.int32)
    return pa.table(
        {
            "doc_id": pa.array([f"doc{i:06d}" for i in range(n_docs)], pa.string()),
            "tokens": pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()), pa.array(values, pa.int32())
            ),
            "n_tok": pa.array(lens.astype(np.int32), pa.int32()),
            "source": pa.array(sources, pa.string()),
            "base_ts": pa.array(
                [SEQ_BASE_TS + dt.timedelta(seconds=i) for i in range(n_docs)],
                pa.timestamp("us"),
            ),
        }
    )


def make_labels(seed: int, doc_ids: list[str], per_doc: int = 5) -> pa.Table:
    """Sparse labels for the as-of join: one label 1.5 s before each doc's
    first frame, the rest scattered over the following ~3 s."""
    rng = np.random.default_rng(seed + 777)
    docs, ts, labels = [], [], []
    for i, d in enumerate(doc_ids):
        base = SEQ_BASE_TS + dt.timedelta(seconds=i)
        offs = np.concatenate(
            [[-1.5], np.sort(rng.uniform(0.0, 3.0, size=per_doc - 1))]
        )
        for off in offs:
            docs.append(d)
            ts.append(base + dt.timedelta(seconds=float(off)))
            labels.append(float(rng.normal()))
    return pa.table(
        {
            "doc_id": pa.array(docs, pa.string()),
            "label_ts": pa.array(ts, pa.timestamp("us")),
            "label": pa.array(labels, pa.float64()),
        }
    )


def write_corpus(seed: int, n_docs: int, out_dir: str) -> dict:
    """Write sequences (32-doc row groups, so the scan splits) and labels."""
    seqs = make_sequences(seed, n_docs)
    paths = {
        "sequences": os.path.join(out_dir, "sequences.parquet"),
        "labels": os.path.join(out_dir, "labels.parquet"),
    }
    pq.write_table(seqs, paths["sequences"], row_group_size=32)
    pq.write_table(
        make_labels(seed, seqs.column("doc_id").to_pylist()), paths["labels"]
    )
    return {"table": seqs, **paths}


# -- SQL roster tables -----------------------------------------------------

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)
WORDS = (
    "a the spark join stream small order merge column group customer part "
    "value window big scan table vector row filter hash batch sort slow fast "
    "key data query line agg"
).split()
# sf0.1 test tables: 100,000 events from 1,500 users; 250 of 5,000
# documents are another document plus a " dup" tail
USERS_PER_EVENT = 3 / 200
DUP_SHARE = 0.05


def _one_group(path: str, table: pa.Table) -> None:
    # one row group per table, like the repository's test tables
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def make_events(rng: np.random.Generator, n: int) -> pa.Table:
    t0 = dt.datetime(2024, 1, 1)
    span_us = 30 * 86400 * 10**6
    ts_us = np.sort(rng.integers(0, span_us, size=n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(
                [t0 + dt.timedelta(microseconds=int(u)) for u in ts_us],
                pa.timestamp("us"),
            ),
            "user_id": pa.array(
                rng.integers(0, max(1, round(n * USERS_PER_EVENT)), size=n), pa.int64()
            ),
            "event_type": pa.array(
                [EVENT_TYPES[k] for k in rng.integers(0, len(EVENT_TYPES), size=n)],
                pa.string(),
            ),
            "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
            "props": pa.array(
                [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, size=n)],
                pa.string(),
            ),
        }
    )


def make_documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [
        " ".join(WORDS[w] for w in rng.integers(0, len(WORDS), size=k))
        for k in rng.integers(10, 100, size=n)
    ]
    # near duplicates: a copy of another doc with a " dup" tail
    for i in rng.choice(n, size=round(n * DUP_SHARE), replace=False):
        src = int(rng.integers(0, n))
        texts[i] = texts[src] + " dup"
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[k] for k in langs], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_sql_tables(seed: int, out_dir: str, n_events: int, n_docs: int) -> None:
    rng = np.random.default_rng(seed)
    _one_group(os.path.join(out_dir, "events.parquet"), make_events(rng, n_events))
    _one_group(os.path.join(out_dir, "documents.parquet"), make_documents(rng, n_docs))
