"""Structured Streaming variant of the weekly-snapshot ingest (EP2).

The reference's only streaming-ish construct is the ordered multi-file
weekly upload (analise_pendentes.py:29-48) — repeated batch over file
snapshots. There is no reference semantic to match beyond batch parity
(SURVEY §2.10), so this module re-expresses the same pipeline over a
Structured Streaming file source:

- each parquet file dropped into the watched directory is one snapshot;
- the snapshot label derives from ``input_file_name()`` (in streaming
  the file IS the micro-batch identity — positional "Semana -N" labels
  only exist for a user-ordered upload, so file name is the right key);
- event-time weekly tumbling windows + watermark handle late rows;
- ``foreachBatch`` gives the batch-sink escape hatch (e.g. the Excel
  sink for small summaries).

Batch remains the source of truth; this is the scale path for a feed
that keeps producing snapshots.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .drain import drain


def pending_stream(
    spark: SparkSession,
    watch_dir: str,
    schema,
    status_col: str = "o_orderstatus",
    pending_value: str = "P",
    ts_col: str = "o_orderdate",
    value_col: str = "o_totalprice",
    key_col: str = "o_custkey",
    watermark: str = "14 days",
) -> DataFrame:
    """Streaming pending-consolidation: per (snapshot file, week) metrics."""
    stream = spark.readStream.schema(schema).parquet(watch_dir)
    pending = (
        stream.filter(F.col(status_col) == pending_value)
        .withColumn("snapshot", F.element_at(F.split(F.input_file_name(), "/"), -1))
        .withWatermark(ts_col, watermark)
    )
    return pending.groupBy(
        "snapshot", F.window(F.col(ts_col), "7 days").alias("semana")
    ).agg(
        F.count(F.lit(1)).alias("n_pendentes"),
        F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double").alias("valor_total"),
        F.approx_count_distinct(key_col).alias("n_clientes_approx"),
    )


def pending_stream_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable streaming run: drain one snapshot, return the result.

    The streaming pipeline (file source → filter → epoch-aligned 7-day
    tumbling window → aggregate) executed with trigger availableNow into
    a memory sink, so a batch DataFrame of the final state comes back.
    Event time is TIMESTAMP_NTZ (o_orderdate's parquet type) — window
    boundaries are then pure wall-clock epoch arithmetic, identical
    under any session timezone, which is what makes a DuckDB oracle
    possible at all. No watermark on this path: Spark only accepts
    watermarks on TIMESTAMP, and for a drain-everything availableNow
    trigger in complete mode a watermark would do nothing anyway; the
    live-feed variant (``pending_stream``) keeps one on a TIMESTAMP
    event-time column.
    """
    # The file source watches a *directory*; the snapshot is staged into
    # a fresh one as a live feed would drop it there. The small final
    # aggregate is re-hosted in a local DataFrame that outlives the sink.
    with drain(spark, "stream") as d:
        d.link(os.path.join(sf_dir, "orders.parquet"), "orders.parquet")
        schema = spark.read.parquet(f"{sf_dir}/orders.parquet").schema
        stream = spark.readStream.schema(schema).parquet(d.watch)
        pending = (
            stream.filter(F.col("o_orderstatus") == "P")
            .withColumn("snapshot", F.element_at(F.split(F.input_file_name(), "/"), -1))
        )
        agg = pending.groupBy(
            "snapshot", F.window(F.col("o_orderdate"), "7 days").alias("semana")
        ).agg(
            F.count(F.lit(1)).alias("n_pendentes"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("valor_total"),
        )
        out = agg.select(
            "snapshot",
            F.date_format(F.col("semana.start"), "yyyy-MM-dd").alias("semana_inicio"),
            "n_pendentes",
            "valor_total",
        )
        d.run(out, "complete")
        return d.collect()
