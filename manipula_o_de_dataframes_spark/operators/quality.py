"""Data-quality / metadata diagnostics (SURVEY.md §2.12, Q1/Q3).

The reference surfaces correctness to a human (diagnosticar_dados,
MAC:519-557; join-compatibility report MAC:726-774). Here they are
single-pass aggregate plans: per-column null counts are ONE scan with N
conditional counts (not N scans), and the join report reuses the J5
anti-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def join_compatibility(facts: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """Q3: unmatched-key count and percentage (MAC:726-774).

    One lazy plan, no driver actions: distinct fact keys broadcast-left-
    joined to the dim's distinct keys, then a single aggregate. (An
    earlier eager variant ran two .count() actions; one code path now —
    VERDICT r1 #8.)
    """
    dkeys = dim.select(key).distinct().withColumn("__hit", F.lit(1))
    keys = facts.select(key).distinct()
    joined = keys.join(dkeys, key, "left")
    n = F.count(F.lit(1))
    miss = F.count(F.when(F.col("__hit").isNull(), 1))
    return joined.agg(
        n.alias("fact_keys"),
        miss.alias("unmatched"),
        # 0 fact keys → 0.0, not NULL (0/0) — the report is "nothing
        # incompatible", mirrored in the oracle's CASE
        F.when(n == 0, F.lit(0.0))
        .otherwise(miss.cast("double") / n.cast("double") * 100)
        .alias("unmatched_pct"),
    )
