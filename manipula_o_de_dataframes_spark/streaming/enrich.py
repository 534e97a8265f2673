"""Stream-static dimension enrich — THE most common production
streaming pattern (a live fact feed joined to a slowly-changing
dimension), previously missing from the streaming surface.

The stream side is the staged events feed; the static side is the
customer→nation dimension read as a plain batch frame. Spark executes
a stream-static equi-join MAP-SIDE against the (broadcast) static
relation — no join state at all, unlike the stream-stream interval
join in ``joins.py`` — so the only stateful operator is the final
per-nation aggregate: |nations| rows of running (count, decimal sum),
the cheapest possible streaming state. The per-nation rollup then
drains availableNow into a memory sink and the batch twin
(``queries.q_event_value_by_nation``) shares its DuckDB oracle — the
same kappa-parity claim ``drift_stream`` makes, verified by hash.

Scale posture: at 100 TB/day of events the static dim re-broadcasts
per micro-batch (Spark re-plans the batch side each trigger, which is
exactly how dim updates propagate); state stays |groups| rows
regardless of volume. DECIMAL sums keep the drain bit-identical to
the batch plan under any partitioning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import read_table
from .drain import drain
from .joins import _events_stream


def _nation_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return c.join(
        F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]
    ).select("c_custkey", "n_name")


def _finalize(agg: DataFrame) -> DataFrame:
    """Shared output shape for the batch twin and the drained stream:
    per-nation event count and exact decimal value total (cast to
    double at the edge, the repo-wide money convention)."""
    return agg.select(
        F.col("n_name").alias("nacao"),
        F.col("__n").cast("long").alias("n_events"),
        F.col("__v").cast("double").alias("valor_total"),
    )


def enrich_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    with drain(spark, "stream_enrich") as d:
        d.link(os.path.join(sf_dir, "events.parquet"), "events.parquet")
        agg = (
            _events_stream(spark, d.watch)
            .join(_nation_dim(spark, sf_dir), F.col("user_id") == F.col("c_custkey"))
            .groupBy("n_name")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                F.sum(F.col("value").cast("decimal(18,2)")).alias("__v"),
            )
        )
        d.run(agg, "complete")
        drained = d.collect()
    return _finalize(drained)
