"""Isolated re-time of ONE query in a fresh session (noise audit).

The full-sweep bench shares a machine with other work and r7/r8 showed
2-3x per-entry swings on unchanged plans; the classification protocol
for a slow-looking entry is an ISOLATED re-time: fresh process, the
same warm-up and spool builds as bench.py (its own functions), then
min-of-3. Within noise of the best capture => co-tenant burst, record
in SURVEY; reproduces => rewrite. Wall time alone did not resolve a 2x
change here, so each query's profile row (jobs, stages, tasks,
executor time, bytes, steal over its three runs) prints beside its
min: stages and CPU show which layer moved.

Usage: python tools/isolated_retime.py <query> [<query> ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
       SPARK_GRAFT_CPUS   (default: the usable core count).
Run one query per process for true isolation; multiple names share a
session (still useful, but the first pays any residual warmup).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    unknown = sorted(set(names) - set(bench.QUERIES))
    if not names or unknown:
        sys.exit(f"usage: isolated_retime.py <query> [...]; unknown: {unknown}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark, profile = bench.start_session("isolated-retime")
    try:
        bench.warm_up(spark, sf_dir, profile)
        bench.build_spools(spark, sf_dir, profile)
        runs = {}
        for name in names:
            runs[name] = profile.time_runs(
                name, lambda: bench.materialize(bench.QUERIES[name](spark, sf_dir)), 3
            )
        spark.stop()  # flushes and closes the event log
        rows = profile.fold()
    finally:
        profile.close()
    for name in names:
        rec = {"metric": "isolated_retime_seconds", "query": name, "min": min(runs[name]),
               "runs": runs[name], "sf_dir": sf_dir, "profile": rows[name]}
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
