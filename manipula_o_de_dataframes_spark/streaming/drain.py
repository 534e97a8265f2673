"""The one availableNow drain every streaming module runs through.

A drain stages a bounded snapshot into a watched directory, runs one
streaming query over it with ``trigger(availableNow=True)`` and tears
everything down. This module alone decides:

- how a drain's scratch space is made and removed: each directory is a
  ``manipula_<tag>_<part>_`` temp dir, and one ``finally`` drops the
  memory-sink view and removes every directory, whether or not the run
  raised;
- the order of deliveries: FileStreamSource orders files by
  modification time, so staged deliveries get strictly increasing
  mtimes in delivery order (a tie would reorder micro-batches and
  silently flip any order-dependent sink: last-writer-wins upserts,
  index builds, watermark eviction);
- the drain-scoped shuffle partition count (``drain_shuffle_partitions``);
- how the sink is run (memory sink or ``foreachBatch``) and read back.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import threading
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

# serializes drains: two overlapping drains would capture each other's
# temporary value as "old" and leave the session pinned at the drain
# setting after both restore
_DRAIN_LOCK = threading.Lock()


def pin_increasing_mtimes(watch_dir: str, names) -> None:
    """Pin strictly increasing mtimes on staged deliveries, in the order
    given; a delivery is one file or a directory of part files."""
    for i, name in enumerate(names, start=1):
        t = 1_000_000_000 + i * 100
        path = os.path.join(watch_dir, name)
        files = [path] if os.path.isfile(path) else [
            os.path.join(root, fn) for root, _dirs, fns in os.walk(path) for fn in fns
        ]
        for f in files:
            os.utime(f, (t, t))


@contextmanager
def drain_shuffle_partitions(spark: SparkSession):
    """Scope ``spark.sql.shuffle.partitions`` down to 4 for a one-shot drain.

    Each stateful operator keeps one state store PER shuffle partition
    and commits every store every micro-batch — overhead linear in the
    partition count, regardless of data volume. An availableNow drain
    of a bounded snapshot wants a small fixed count (measured 2× on the
    stream-stream join at 32→8, and a further ~0.7s at 8→4 — the
    symmetric hash join keeps FOUR stores per partition, so the
    commit count is 4·n·batches; below 4 the gain flattens while
    per-partition state grows). The conf is restored on exit, so batch
    parallelism outside the drain is untouched; streaming queries latch
    the value at .start(), which this context encloses.
    """
    with _DRAIN_LOCK:
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)


class Drain:
    """Scratch dirs and the query of one drain; see ``drain``."""

    def __init__(self, spark: SparkSession, tag: str):
        self.spark = spark
        self.tag = tag
        self.name = f"{tag}_{uuid.uuid4().hex}"
        self.dirs: list[str] = []

    def mkdir(self, part: str) -> str:
        path = tempfile.mkdtemp(prefix=f"manipula_{self.tag}_{part}_")
        self.dirs.append(path)
        return path

    def link(self, src: str, *names: str) -> None:
        """Stage ``src`` into the watch dir under each name (symlink, no
        copy), as a live feed would drop it there."""
        for name in names:
            os.symlink(src, os.path.join(self.watch, name))

    def split(self, frame: DataFrame, delivery_col, n: int) -> None:
        """Stage ``frame`` as ``n`` single-file deliveries
        ``delivery<i>.parquet``, row by row to delivery ``delivery_col``
        (1..n), with increasing mtimes. One ``partitionBy`` job splits
        every delivery in a single scan; a delivery with no rows is an
        empty file of the frame's physical schema, written driver-side
        with no Spark job."""
        import pyarrow.parquet as pq  # noqa: PLC0415
        from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

        stage = self.mkdir("stage")
        frame.withColumn("__d", delivery_col).coalesce(1).write.partitionBy(
            "__d"
        ).mode("overwrite").parquet(stage)
        names = [f"delivery{i}.parquet" for i in range(1, n + 1)]
        for i, name in enumerate(names, start=1):
            dst = os.path.join(self.watch, name)
            parts = glob.glob(os.path.join(stage, f"__d={i}", "part-*.parquet"))
            if parts:
                shutil.copyfile(parts[0], dst)
            else:
                pq.write_table(to_arrow_schema(frame.schema).empty_table(), dst)
        pin_increasing_mtimes(self.watch, names)

    def run(self, df: DataFrame, mode: str | None = None, batch=None) -> StreamingQuery:
        """Drain ``df`` availableNow into the memory sink ``name``, or
        through ``foreachBatch(batch)``; returns the finished query, whose
        ``recentProgress`` holds the per-batch state metrics."""
        w = (
            df.writeStream.queryName(self.name)
            .trigger(availableNow=True)
            .option("checkpointLocation", self.ckpt)
        )
        if mode:
            w = w.outputMode(mode)
        w = w.foreachBatch(batch) if batch else w.format("memory")
        with drain_shuffle_partitions(self.spark):
            q = w.start()
            q.awaitTermination()
        return q

    @property
    def sink(self) -> DataFrame:
        """The memory sink; it is dropped when the drain ends."""
        return self.spark.table(self.name)

    def collect(self) -> DataFrame:
        """The memory sink's rows re-hosted in a local frame that outlives
        the drain (for small sinks)."""
        sink = self.sink
        return self.spark.createDataFrame(sink.collect(), sink.schema)


@contextmanager
def drain(spark: SparkSession, tag: str, *extra: str):
    """Yield a ``Drain`` with ``watch``, ``ckpt`` and one attribute per
    name in ``extra``, each a fresh temp dir; on exit, drop its sink
    view and remove every dir it made."""
    d = Drain(spark, tag)
    try:
        for part in ("watch", "ckpt", *extra):
            setattr(d, part, d.mkdir(part))
        yield d
    finally:
        spark.catalog.dropTempView(d.name)
        for path in d.dirs:
            shutil.rmtree(path, ignore_errors=True)
