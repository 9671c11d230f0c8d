"""Size ``operators.cc.GATE``: run connected_components in both regimes
over random graphs of N undirected edges (36-character ids, 2N node
slots) and print one JSON line per N — whole-call wall and Spark jobs
per regime, the driver regime's collect and union-find + Arrow time,
and the driver's RSS growth. Both regimes must return the same mapping.

Usage: SPARK_GRAFT_DRIVER_MEM=3g python scripts/cc_gate.py [N ...]
       (default N: 10000 100000 1000000)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from graphiti_spark.operators import cc  # noqa: E402
from graphiti_spark.session import get_spark  # noqa: E402


def rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmRSS:")) / 1024


def main() -> None:
    spark = get_spark(master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '4')}]")
    sc = spark.sparkContext
    jvm_pid = int(sc._jvm.ProcessHandle.current().pid())
    gate = cc.GATE
    for n in [int(a) for a in sys.argv[1:]] or [10_000, 100_000, 1_000_000]:
        ids = [
            F.format_string("%036d", F.abs(F.xxhash64("id", F.lit(k))) % (2 * n))
            for k in (1, 2)
        ]
        pairs = spark.range(n).select(ids[0].alias("src"), ids[1].alias("dst"))
        pairs = pairs.localCheckpoint(eager=True)
        rec: dict = {"edges": n}
        digests = []
        for regime, regime_gate in (("driver", max(gate, 2 * n)), ("distributed", 0)):
            cc.GATE = regime_gate
            sc.setJobGroup(f"{regime}{n}", regime)
            py0, jvm0 = rss_mb(os.getpid()), rss_mb(jvm_pid)
            t = time.time()
            m = cc.connected_components(pairs).localCheckpoint(eager=True)
            rec[regime] = {
                "wall_s": round(time.time() - t, 2),
                "jobs": len(sc.statusTracker().getJobIdsForGroup(f"{regime}{n}")),
                "py_rss_delta_mb": round(rss_mb(os.getpid()) - py0, 1),
                "jvm_rss_delta_mb": round(rss_mb(jvm_pid) - jvm0, 1),
            }
            digests.append(m.agg(F.count("*"), F.sum(
                F.xxhash64("uuid", "canonical_uuid").cast("decimal(38,0)"))).first())
        cc.GATE = max(gate, 2 * n)
        edges = cc._symmetrize(pairs).localCheckpoint(eager=True)
        t = time.time()
        head = edges.limit(cc.GATE + 1).toArrow()
        rec["driver"]["collect_s"] = round(time.time() - t, 2)
        t = time.time()
        cc._driver_components(spark, head)
        rec["driver"]["unionfind_arrow_s"] = round(time.time() - t, 2)
        rec["equal"] = digests[0] == digests[1]
        print(json.dumps(rec), flush=True)
    cc.GATE = gate
    spark.stop()


if __name__ == "__main__":
    main()
