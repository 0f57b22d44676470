"""A/B bed for the distributed Louvain sweep loop.

Round-4 finding: part_louvain's level-0 sweeps cost ~2.2-2.5s each on
a 1.2M-edge / 20k-vertex graph at local[32] — pure per-sweep plan
overhead, since the data is tiny. Each sweep used to rebuild the
symmetrized weighted view from the level's edge parquet and shuffle it
into the membership join, then run separate base/best passes.
Materializing sym ONCE per level as a bucketed side table
(StateLoop.side), gathering only the active parity's
candidates, and fusing base+best into one aggregation brought the
steady sweep to ~1.0s on this bed (10-sweep level 67.4s → 21.2s),
with identical per-sweep move counts and community count.

Usage:  python scripts/profile_louvain.py [sweeps] [sf_dir]
Env:    BENCH_MODE=tables|dir (default tables, the bench shape)
Prints one JSON line with per-sweep seconds for the current engine.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

if os.path.isdir("/dev/shm"):
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
    os.environ.setdefault("SPARK_GRAFT_WAREHOUSE", "/dev/shm/spark-warehouse")
    os.environ.setdefault("SPARK_GRAFT_STATE_DIR", "/dev/shm")

from communitydetection_jl_spark.session import get_spark


def main() -> None:
    sweeps = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("louvain-profile", cores=cpus, shuffle_partitions=cpus)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    from __spark_entry__ import _part_edges
    from communitydetection_jl_spark.operators.louvain import _distributed_level

    edges = _part_edges(spark, sf_dir).localCheckpoint(eager=True)
    m = edges.count()

    mode = os.environ.get("BENCH_MODE", "tables")
    t0 = time.time()
    memb, info = _distributed_level(edges, eps=1e-7, max_sweeps=sweeps,
                                    mode=mode)
    total = time.time() - t0
    q = memb.select("comm").distinct().count()
    print(json.dumps({
        "edges": m, "sweeps": info["sweeps"], "q": q,
        "level_seconds": round(total, 2),
        "sweep_seconds": info["sweep_seconds"],
        "sweep_moved": info["sweep_moved"],
        "parts": info["parts"],
    }))


if __name__ == "__main__":
    main()
