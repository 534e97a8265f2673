"""Stream-stream time-bounded join — the streaming twin of the batch
as-of/interval attribution (queries.q_event_attribution).

Two live feeds (purchases, views) joined on user with a bounded time
window: each purchase pairs with every view of the same user in the
preceding hour. In production both sides carry watermarks so Spark can
evict join state; the oracle-checkable drain below runs availableNow
with no watermark (event time is TIMESTAMP_NTZ, which ``withWatermark``
rejects, and a drain-everything trigger needs no state eviction — the
same trade documented in pending_stream).

Scale posture: stream-stream joins shuffle both sides on the join key
and keep only the in-window rows in state; with watermarked feeds the
state is bounded by (watermark + window) per key, the standard Flink/
Spark interval-join shape.
"""

from __future__ import annotations

import os
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .drain import drain

# events.parquet's ts physical type has shifted between fixture
# generations (TIMESTAMP(NANOS) in early rounds, TIMESTAMP(MICROS)
# isAdjustedToUTC=false since). The streaming source needs an explicit
# schema, so probe the footer once (driver-side, pyarrow) and pick the
# matching read: NANOS → nanosAsLong bigint + div-1000 conversion;
# MICROS → native TIMESTAMP_NTZ. A wrong hard-coded unit is silent and
# catastrophic (every interval predicate still "applies", 1000× off) —
# this burned us when the fixture flipped units between rounds.
_EVENTS_SCHEMA_NANOS = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)
_EVENTS_SCHEMA_MICROS = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)
_NTZ_TS = "convert_timezone('UTC', timestamp_micros(ts div 1000))"


def _events_ts_unit(watch_dir: str) -> str:
    """Probe the ts column's time unit ('ns'/'us') from a staged file."""
    import glob  # noqa: PLC0415

    import pyarrow.parquet as pq  # noqa: PLC0415

    files = sorted(glob.glob(os.path.join(watch_dir, "*.parquet")))
    # A staged entry may be a directory-style dataset (multi-part parquet
    # write): resolve an actual part file for the footer probe. And an
    # empty watch dir must fail with a message, not IndexError.
    resolved = []
    for f in files:
        if os.path.isdir(f):
            resolved.extend(sorted(glob.glob(os.path.join(f, "*.parquet"))))
        else:
            resolved.append(f)
    if not resolved:
        raise FileNotFoundError(
            f"no parquet files staged under {watch_dir!r} — cannot probe the "
            "events ts unit; stage at least one snapshot before starting the "
            "stream"
        )
    return pq.ParquetFile(resolved[0]).schema_arrow.field("ts").type.unit


def _events_footer_max_ts(sf_dir: str):
    """max(ts) of the events table from parquet row-group FOOTER
    statistics — a driver-side metadata read, zero Spark jobs (the
    same footer trick zone-map pruning rides). Returns None when any
    row group lacks usable stats, so callers can fall back to a real
    aggregation. Only safe for uses where the exact value is
    non-semantic (e.g. picking a staging split point): a NANOS footer
    truncates to the datetime's micros."""
    import glob  # noqa: PLC0415
    from datetime import datetime  # noqa: PLC0415

    import pyarrow.parquet as pq  # noqa: PLC0415

    path = os.path.join(sf_dir, "events.parquet")
    files = (
        [path]
        if os.path.isfile(path)
        else sorted(glob.glob(os.path.join(path, "*.parquet")))
    )
    if not files:
        return None
    mx = None
    for f in files:
        pf = pq.ParquetFile(f)
        try:
            ci = pf.metadata.schema.names.index("ts")
        except ValueError:
            return None
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max or not isinstance(st.max, datetime):
                return None
            mx = st.max if mx is None else max(mx, st.max)
    return mx


def _events_stream(spark: SparkSession, watch_dir: str) -> DataFrame:
    if _events_ts_unit(watch_dir) == "ns":
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        stream = spark.readStream.schema(_EVENTS_SCHEMA_NANOS).parquet(watch_dir)
        return stream.withColumn("ts", F.expr(_NTZ_TS))
    return spark.readStream.schema(_EVENTS_SCHEMA_MICROS).parquet(watch_dir)


def attribution_pairs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the purchase×view interval join over one events snapshot.

    Purchases and views are two independent file-source streams over
    the same watched directory (no self-join restrictions), inner-joined
    on user with ``view.ts in (purchase.ts - 1h, purchase.ts]``. The
    availableNow trigger drains everything into an append-mode memory
    sink; the result is re-hosted in a local DataFrame and every staged
    resource (watch dir, checkpoint, sink table) is torn down.
    """
    with drain(spark, "stream_join") as d:
        d.link(os.path.join(sf_dir, "events.parquet"), "events.parquet")
        buys = (
            _events_stream(spark, d.watch)
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("compra"),
                F.col("user_id").alias("usuario"),
                F.col("ts").alias("ts_compra"),
            )
        )
        views = (
            _events_stream(spark, d.watch)
            .filter(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("visita"),
                F.col("user_id").alias("v_usuario"),
                F.col("ts").alias("ts_view"),
            )
        )
        pairs = buys.join(
            views,
            on=[
                buys["usuario"] == views["v_usuario"],
                views["ts_view"] <= buys["ts_compra"],
                views["ts_view"] > buys["ts_compra"] - F.expr("INTERVAL 1 HOUR"),
            ],
            how="inner",
        ).select(
            "compra",
            "visita",
            "usuario",
            F.date_format("ts_compra", "yyyy-MM-dd HH:mm:ss").alias("quando_compra"),
            F.date_format("ts_view", "yyyy-MM-dd HH:mm:ss").alias("quando_view"),
        )
        d.run(pairs, "append")
        return d.collect()


def dedup_stream_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: the same events snapshot arrives
    TWICE (two files in the watch dir — a redelivered feed), and
    ``dropDuplicates`` on the event key collapses the replay so the
    drained per-type counts equal the batch distinct.

    In production the dedup key carries a watermark
    (``dropDuplicatesWithinWatermark``) so state ages out; the drain
    here keeps unbounded state for the one-shot availableNow pass
    (event time is TIMESTAMP_NTZ — same trade as the other drains).
    """
    with drain(spark, "stream_dedup") as d:
        d.link(
            os.path.join(sf_dir, "events.parquet"),
            "events_delivery1.parquet",
            "events_delivery2.parquet",
        )
        deduped = (
            _events_stream(spark, d.watch)
            .dropDuplicates(["event_id"])
            .groupBy(F.col("event_type").alias("tipo"))
            .agg(
                F.count(F.lit(1)).alias("n_eventos"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("valor_total"),
            )
        )
        d.run(deduped, "complete")
        return d.collect()


def attribution_pairs_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of the interval join: both feeds carry
    watermarks so Spark EVICTS join state as event time advances —
    `attribution_pairs_stream` documents that posture; this one runs
    it, and the eviction is measured (`last_removed` > 0 asserted in
    tests), with the result still bit-identical to the batch oracle.

    Mechanics: the snapshot is staged as two TIME-ORDERED deliveries
    split three days before the end (maxFilesPerTrigger=1 → one
    micro-batch each, so the watermark from delivery 1 evicts stale
    view/purchase state while delivery 2 is processed). Event time is
    the session-tz-independent NUMERIC epoch-second LTZ (the
    `late_drop_drained` construction — withWatermark rejects NTZ and
    a session-tz cast would shift half-hour zones); the original NTZ
    ts rides along as payload purely for rendering, while the JOIN
    CONDITION references the watermarked columns — required, or
    Spark cannot bound either side's state. Because deliveries are
    time-ordered, no pair is lost to eviction: a delivery-2 purchase
    needs views back to tb−1h, and the view-state retention
    (wm − 1h − delay) always reaches past the split. 10-minute
    delay; pairs identical to the un-watermarked drain.
    """
    from ..sources.io import read_table  # noqa: PLC0415

    with drain(spark, "wmjoin") as d:
        e = read_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "ts"
        )
        # The split point is non-semantic (ANY time-ordered 2-way split
        # yields the identical pair set — see the retention argument
        # above), so read max(ts) from the parquet footer stats when
        # available instead of paying a Spark aggregation job.
        footer_max = _events_footer_max_ts(sf_dir)
        if footer_max is not None:
            split = footer_max - timedelta(days=3)
        else:
            split = e.agg(
                F.expr("max(ts) - INTERVAL 3 DAYS").alias("cut")
            ).collect()[0]["cut"]
        d.split(e, F.when(F.col("ts") < F.lit(split), 1).otherwise(2), 2)
        schema = "event_id long, user_id long, event_type string, ts timestamp_ntz"
        ts_i = F.expr(
            "timestamp_seconds(timestampdiff(SECOND, TIMESTAMP '1970-01-01 00:00:00', ts))"
        )

        def feed():
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(d.watch)
                .withColumn("ts_i", ts_i)
                .withWatermark("ts_i", "10 minutes")
            )

        buys = feed().filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("compra"),
            F.col("user_id").alias("usuario"),
            F.col("ts").alias("ts_compra"),
            F.col("ts_i").alias("tb"),
        )
        views = feed().filter(F.col("event_type") == "view").select(
            F.col("event_id").alias("visita"),
            F.col("user_id").alias("v_usuario"),
            F.col("ts").alias("ts_view"),
            F.col("ts_i").alias("tv"),
        )
        pairs = buys.join(
            views,
            on=[
                buys["usuario"] == views["v_usuario"],
                views["tv"] <= buys["tb"],
                views["tv"] > buys["tb"] - F.expr("INTERVAL 1 HOUR"),
            ],
            how="inner",
        ).select(
            "compra",
            "visita",
            "usuario",
            F.date_format("ts_compra", "yyyy-MM-dd HH:mm:ss").alias("quando_compra"),
            F.date_format("ts_view", "yyyy-MM-dd HH:mm:ss").alias("quando_view"),
        )
        q = d.run(pairs, "append")
        result = d.collect()
    attribution_pairs_watermarked.last_removed = sum(  # test hook
        so.get("numRowsRemoved", 0)
        for p in q.recentProgress
        for so in p.get("stateOperators", [])
    )
    return result
