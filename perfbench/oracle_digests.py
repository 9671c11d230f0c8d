"""Regenerate ``digests.json``: the stored DuckDB-oracle digests.

    python3 perfbench/oracle_digests.py

Most workload outputs are checked against the oracle in
``graphiti_spark/oracle.py`` computed in each run, after the timed
region. The curation oracle is a quadratic self-join, so its digest is
computed here once, over the workload's documents, and stored under the
corpus key (``corpus.spec``). The file is rewritten with exactly the
entries the current workloads use. Row order does not enter the digest,
so one digest serves every ``--seed``."""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DIGESTS = os.path.join(HERE, "digests.json")


def main() -> int:
    sys.path.insert(0, ROOT)
    import pyarrow.parquet as pq

    import corpus
    from workloads import STORED_ORACLES, WORKLOADS, oracle_digest

    stored: dict = {"_command": "python3 perfbench/oracle_digests.py"}
    tmp = os.path.join(ROOT, ".bench_work", "oracle")
    os.makedirs(tmp, exist_ok=True)
    for name, query in STORED_ORACLES.items():
        w = WORKLOADS[name]
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(corpus.documents(w.n_docs), path)
        t0 = time.monotonic()
        digest = oracle_digest(query, path)
        os.remove(path)
        stored.setdefault(corpus.spec(w.n_docs), {})[query] = digest
        print(f"{name}: {query} rows={digest['rows']} ({time.monotonic() - t0:.1f}s)",
              flush=True)
    with open(DIGESTS, "w") as fh:
        json.dump(stored, fh, indent=2, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
