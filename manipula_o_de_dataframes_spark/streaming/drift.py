"""Streaming distribution-drift guard — the governance monitor run off
a live ingest instead of a batch snapshot.

The stream side produces ONLY the (week, type, count) census (a
tumbling 7-day windowed count — fixed-size mergeable state per
(window, type), the cheapest possible streaming aggregate); the
χ²/L1 comparison is the same post-processing the batch query uses
(queries._drift_from_counts), so batch and stream share one oracle —
the kappa-architecture claim ("replay the stream, get the batch
answer") verified by hash, not asserted.

Scale posture: state is |open windows × types| rows regardless of
event volume; a live feed would watermark ts so closed weeks age out
(TIMESTAMP_NTZ drains here run availableNow in COMPLETE mode, the
same documented trade as every other drain in this package).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .drain import drain
from .joins import _events_stream


def drift_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..queries import _drift_from_counts  # noqa: PLC0415

    with drain(spark, "stream_drift") as d:
        d.link(os.path.join(sf_dir, "events.parquet"), "events.parquet")
        counts = (
            _events_stream(spark, d.watch)
            .groupBy(
                F.window("ts", "7 days")["start"].alias("__wk"),
                "event_type",
            )
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        d.run(counts, "complete")
        drained = d.collect()
    return _drift_from_counts(drained)
