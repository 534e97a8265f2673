"""Set operations / dedup (SURVEY.md §2.8, U1–U3).

pandas ``concat`` aligns by column NAME with an outer column set and
NaN fill (AP:48) — so the Spark mapping is ``unionByName(
allowMissingColumns=True)``, never positional ``union``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame


def union_by_name(*frames: DataFrame) -> DataFrame:
    """U1: union of N frames by column name, missing columns → null."""
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)
