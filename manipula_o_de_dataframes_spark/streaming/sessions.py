"""Streaming sessionization — the native session_window operator run
as a stream (the streaming twin of queries.q_sessionize_native).

Session windows are the one windowing shape tumbling/sliding can't
express: per-key windows whose END moves with each event (gap-based).
Spark's streaming planner handles the merge: within a micro-batch and
across batches, overlapping [start, last+gap) ranges for the same key
are merged in the session-window state store.

Scale posture: state is (key, open sessions) partitioned by the group
key — one shuffle per batch, bounded by active keys. A live feed would
watermark the event-time column so closed sessions age out of state;
this drain runs availableNow in COMPLETE mode (event time here is
TIMESTAMP_NTZ, which ``withWatermark`` rejects — the same documented
trade as every other drain in this package).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.formatting import dsum
from .drain import drain
from .joins import _events_stream


def sessionize_stream(spark: SparkSession, sf_dir: str, gap: str = "30 minutes") -> DataFrame:
    """Drain gap-based session aggregates over one events snapshot.

    Same output contract as q_sessionize_native (sessions identified by
    (usuario, inicio, fim), metrics per session), so the two share one
    oracle — the streaming plan must MERGE partial sessions across
    micro-batches to match it, which is exactly what this exercises.
    """
    from ..operators.spool import spool  # noqa: PLC0415

    with drain(spark, "stream_sess") as d:
        d.link(os.path.join(sf_dir, "events.parquet"), "events.parquet")
        agg = (
            _events_stream(spark, d.watch)
            .groupBy(
                F.col("user_id").alias("usuario"),
                F.session_window("ts", gap),
            )
            .agg(
                F.count(F.lit(1)).alias("n_eventos"),
                F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("inicio"),
                F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("fim"),
                dsum("value").alias("valor_total"),
            )
        )
        d.run(agg.select("usuario", "inicio", "fim", "n_eventos", "valor_total"), "complete")
        # ~95k session rows at sf0.1: spool executor-side instead of
        # collect+createDataFrame, which round-trips every row through
        # the driver twice (py4j out, py4j back in)
        return spool(d.sink)
