"""Prove the benchmark's corpus generator matches the package fixture.

    python3 perfbench/check_corpus.py

At seed 42, `inputs.make_sequences` / `inputs.make_labels` must reproduce
`fixtures.make_sequences(n_docs=1024, profile="bench", avg_n_tok=32768)`
and `fixtures.make_labels` byte for byte (sha256 of the Arrow IPC
stream), with 33,769,725 tokens and 62,371 frames. Exits 1 on any
mismatch.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import hashlib  # noqa: E402

import pyarrow as pa  # noqa: E402

from audiopro_essentia_spark import fixtures, oracle  # noqa: E402

import inputs  # noqa: E402

N_DOCS = 1024
TOKENS = 33_769_725
FRAMES = 62_371


def table_digest(table: pa.Table) -> str:
    """sha256 over the table's Arrow IPC stream (schema + every buffer)."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table.combine_chunks())
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def main() -> int:
    ours = inputs.make_sequences(42, N_DOCS)
    ref = fixtures.make_sequences(n_docs=N_DOCS, profile="bench", avg_n_tok=32768)
    ids = ours.column("doc_id").to_pylist()
    checks = {
        "sequences_digest": table_digest(ours) == table_digest(ref),
        "labels_digest": table_digest(inputs.make_labels(42, ids))
        == table_digest(fixtures.make_labels(ids, per_doc=5)),
        "tokens": int(ours.column("n_tok").to_numpy().sum()) == TOKENS,
        "frames": sum(oracle.n_frames(int(n)) for n in ours.column("n_tok").to_numpy())
        == FRAMES,
    }
    for name, ok in checks.items():
        print(f"{name}: {'ok' if ok else 'MISMATCH'}")
    print(f"sequences sha256 {table_digest(ours)}")
    return 0 if all(checks.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
