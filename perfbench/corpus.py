"""The benchmark's input: a fixed slice of the engine's sf0.1 corpus.

``data/documents.parquet`` holds, unchanged, the 600 documents with
``doc_id < 600`` of the sf0.1 ``documents.parquet`` the engine's
correctness gate and ``bench.py`` read (doc_id, text, lang, source,
n_chars). Regenerate it with

    python3 perfbench/corpus.py <sf0.1 directory>

A run's ``--seed`` decides the row order the program reads, which must
not change any output, and, for ``build``, which pages form the
incremental batch.
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "data", "documents.parquet")
FIXTURE_DOCS = 600


def documents(n_docs: int) -> pa.Table:
    """The fixture's documents with ``doc_id < n_docs``, in doc_id order."""
    table = pq.read_table(FIXTURE)
    return table.filter(pc.less(table["doc_id"], n_docs)).sort_by("doc_id")


def split_batch(table: pa.Table, k: int, seed: int) -> tuple[pa.Table, pa.Table]:
    """(prior, batch): ``k`` rows chosen by ``seed``, and the rest."""
    pick = np.zeros(table.num_rows, dtype=bool)
    pick[np.random.default_rng([seed, 1]).choice(table.num_rows, k, replace=False)] = True
    return table.filter(pa.array(~pick)), table.filter(pa.array(pick))


def write(table: pa.Table, seed: int, out_dir: str) -> str:
    """Write ``table`` in the seed's row order to ``out_dir`` and return
    the directory (the program reads ``<dir>/documents.parquet``)."""
    order = np.random.default_rng(seed).permutation(table.num_rows)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table.take(pa.array(order)), os.path.join(out_dir, "documents.parquet"))
    return out_dir


def spec(n_docs: int) -> str:
    """Key under which a slice's stored oracle digests are kept."""
    with open(FIXTURE, "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()[:12]
    return f"sf0.1-{digest}-first{n_docs}"


def main(sf_dir: str) -> int:
    table = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    table = table.filter(pc.less(table["doc_id"], FIXTURE_DOCS)).sort_by("doc_id")
    os.makedirs(os.path.dirname(FIXTURE), exist_ok=True)
    pq.write_table(table.replace_schema_metadata(None), FIXTURE)
    print(f"{FIXTURE}: {table.num_rows} documents")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 2:
        raise SystemExit(__doc__)
    raise SystemExit(main(sys.argv[1]))
