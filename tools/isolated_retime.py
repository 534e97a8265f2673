"""Isolated re-time of ONE query in a fresh session (noise audit).

The full-sweep bench shares a machine with the driver's other work and
r7/r8 showed 2-3x per-entry swings on unchanged plans; per VERDICT the
classification protocol for a slow-looking entry is an ISOLATED re-time:
fresh process, same warm condition as bench.py (session spools built
untimed first), min-of-3. Within noise of the best capture => co-tenant
burst, record in SURVEY; reproduces => rewrite.

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
import time

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from manipula_o_de_dataframes_spark.operators.spool import ARTIFACTS  # noqa: E402
from manipula_o_de_dataframes_spark.queries import QUERIES  # noqa: E402
from manipula_o_de_dataframes_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    assert names and all(n in QUERIES for n in names), sorted(
        set(names) - set(QUERIES)
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("isolated-retime")
    spark.sparkContext.setLogLevel("ERROR")

    def materialize(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    materialize(QUERIES["abc_classification"](spark, "/root/testdata/sf0.001"))
    materialize(QUERIES["multimodal_features"](spark, "/root/testdata/sf0.001"))
    for build in ARTIFACTS.values():
        build(spark, sf_dir)

    for name in names:
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            materialize(QUERIES[name](spark, sf_dir))
            runs.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext._jvm.System.gc()
        print(
            json.dumps(
                {
                    "metric": "isolated_retime_seconds",
                    "query": name,
                    "min": min(runs),
                    "runs": runs,
                    "sf_dir": sf_dir,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
