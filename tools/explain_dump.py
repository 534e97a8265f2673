"""Dump `.explain("formatted")` for named queries into plans/<round>/.

Usage: python tools/explain_dump.py <suffix> <query> [<query> ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
       SPARK_GRAFT_CPUS   (default: the usable core count).

Writes plans/$SPARK_GRAFT_PLAN_ROUND/<query>_<suffix>.txt (round dir
defaults to r11; suffix = "before" / "after").
Spools are built first so the captured plan is the warm, serving-shape
plan — the same condition bench.py times.
"""

from __future__ import annotations

import os
import sys

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from manipula_o_de_dataframes_spark.operators.spool import ARTIFACTS  # noqa: E402
from manipula_o_de_dataframes_spark.queries import QUERIES  # noqa: E402
from manipula_o_de_dataframes_spark.session import get_spark  # noqa: E402


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    assert suffix in ("before", "after"), suffix
    assert names and all(n in QUERIES for n in names), sorted(
        set(names) - set(QUERIES)
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("explain-dump")
    spark.sparkContext.setLogLevel("ERROR")
    for build in ARTIFACTS.values():
        build(spark, sf_dir)
    out_dir = os.path.join(
        _REPO_DIR, "plans", os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r11")
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
