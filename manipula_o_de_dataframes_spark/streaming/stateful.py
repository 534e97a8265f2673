"""Custom stateful streaming operator (applyInPandasWithState).

The escape hatch for streaming semantics windowed aggregates can't
express: arbitrary per-key state carried across micro-batches. Here the
state is a running (count, total) per key — the same plumbing carries
dedup sets, feature accumulators, or session carts in production. Each
micro-batch the function receives that key's new rows as Arrow-backed
pandas frames plus its GroupState, and emits the updated running row.

Scale shape: state lives in the state store, partitioned by key (one
shuffle on the grouping key per batch); the Python worker only ever
sees one key's delta at a time, so per-batch memory is O(batch), not
O(history).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from .drain import drain

OUTPUT_SCHEMA = "key string, n long, total double"
# state carries exact integer cents — a double field here would silently
# null out the int values the worker stores
STATE_SCHEMA = "n long, cents long"


def running_totals_stream(stream_df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Per-key running (count, exact-cents total) across micro-batches.

    Money is accumulated in integer cents inside the worker (exact, so
    the running total is independent of how rows split across batches)
    and rendered to a double only on emit.
    """
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    def update(key, pdfs, state):
        (k,) = key
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # round each VALUE to cents, then sum ints — rounding a
            # float batch-sum instead would make the total depend on
            # how rows split across micro-batches
            cents += int(pdf[value_col].map(lambda v: round(v * 100)).sum())
        state.update((n, cents))
        yield pd.DataFrame({"key": [k], "n": [n], "total": [cents / 100.0]})

    renamed = stream_df.withColumnRenamed(key_col, "key")
    return renamed.groupBy("key").applyInPandasWithState(
        update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_totals_drained(spark, sf_dir: str) -> DataFrame:
    """Drive the stateful operator across REAL micro-batch boundaries
    and return the final per-type running totals.

    The events snapshot is staged as TWO deliveries with
    ``maxFilesPerTrigger=1``, so availableNow runs (at least) two
    micro-batches and every key's state genuinely persists across a
    batch boundary — the thing a single-batch drain cannot test. The
    update-mode sink then holds one emission per key per batch; the
    final state is the row with the largest ``n`` (counts only grow),
    rank-selected under (n desc) per key. Because both deliveries are
    the same snapshot, the final totals are exactly 2× the batch
    aggregate — which is what the DuckDB oracle computes, making the
    cross-batch state arithmetic hash-verified.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415
    from pyspark.sql import Window  # noqa: PLC0415

    with drain(spark, "stateful") as d:
        d.link(os.path.join(sf_dir, "events.parquet"), "delivery1.parquet", "delivery2.parquet")
        # partial schema: only the two columns the operator touches —
        # sidesteps the fixture's variable ts unit entirely, and
        # maxFilesPerTrigger=1 forces one micro-batch PER delivery so
        # state truly crosses a batch boundary
        stream = (
            spark.readStream.schema("event_type string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(d.watch)
        )
        d.run(running_totals_stream(stream, "event_type", "value"), "update")
        emitted = d.collect()
    w = Window.partitionBy("key").orderBy(F.col("n").desc())
    return (
        emitted.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("key", F.col("n").cast("long").alias("n"), "total")
        .orderBy("key")
    )


def late_drop_drained(spark, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics made hash-checkable: hourly event
    counts where a deterministic ~1/8 md5 shard of the snapshot
    arrives one micro-batch LATE, behind a 30-minute watermark.

    Staging: delivery 1 = the on-time 7/8, delivery 2 = an EMPTY
    heartbeat, delivery 3 = the late shard. The heartbeat exists
    because Spark's late-record filter runs one batch BEHIND the
    eviction watermark (measured: a late row arriving in the batch
    right after the data that should expire it is still accepted,
    aggregated, and flushed — `dropped=0`; the same row one batch
    later is dropped — `dropped=1`). With the heartbeat in between,
    the late batch filters against wm = max(on-time ts) − 30 min and
    every late row whose hour window is already finalized
    (window end ≤ wm) is genuinely dropped
    (`numRowsDroppedByWatermark` > 0, exposed via the
    `last_dropped` hook and asserted in tests; note the metric counts
    the map-side-combined window PARTIALS hitting the state store —
    one per distinct finalized late window — not raw input rows). APPEND mode is the
    semantics under test: the sink holds exactly the finalized
    windows with pure on-time counts; update mode would hide the
    drop (measured: it aggregates the late rows, re-emits the old
    windows, then evicts — dropped=0, removed=529). The DuckDB
    oracle replays the finalization rule; the cross-batch ACCEPT
    path is `stream_running_totals`' job.

    The three deliveries are real parquet files with forced mtime
    order (maxFilesPerTrigger=1 → one micro-batch each).
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    from ..sources.io import read_table  # noqa: PLC0415

    with drain(spark, "late") as d:
        e = read_table(spark, sf_dir, "events").select("event_id", "ts")
        is_late = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("late:"), F.col("event_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 8
            == 0
        )
        # on-time rows are delivery 1, late rows delivery 3; delivery 2
        # is the empty heartbeat
        d.split(e, F.when(is_late, 3).otherwise(1), 3)
        stream = spark.readStream.schema("event_id long, ts timestamp_ntz").option(
            "maxFilesPerTrigger", 1
        ).parquet(d.watch)
        # withWatermark rejects TIMESTAMP_NTZ; build the required LTZ
        # instant NUMERICALLY (epoch seconds of the wall clock), which
        # is session-tz-independent — a plain NTZ→LTZ cast would shift
        # by the session offset and misalign hour windows in
        # half-hour-offset zones. The window start converts back to an
        # NTZ wall time the same arithmetic way before rendering.
        ts_i = F.expr(
            "timestamp_seconds(timestampdiff(SECOND, TIMESTAMP '1970-01-01 00:00:00', ts))"
        )
        agg = (
            stream.select(ts_i.alias("ts_i"))
            .withWatermark("ts_i", "30 minutes")
            .groupBy(F.window("ts_i", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.date_format(
                    F.expr(
                        "timestampadd(SECOND, CAST(unix_timestamp(window.start) AS INT), "
                        "CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ))"
                    ),
                    "yyyy-MM-dd HH:mm:ss",
                ).alias("janela"),
                "n",
            )
        )
        q = d.run(agg, "append")
        emitted = d.collect()
    late_drop_drained.last_dropped = sum(  # test hook: the real drop count
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
    )
    return emitted.select("janela", F.col("n").cast("long").alias("n")).orderBy(
        "janela"
    )
