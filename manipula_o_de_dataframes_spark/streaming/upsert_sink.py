"""Streaming MERGE/upsert sink via ``foreachBatch`` — the production
pattern for applying a CDC feed to a keyed table without a lakehouse
format: each micro-batch is merged into a parquet state directory by
read → full-outer-join → overwrite (the relational core of Delta/
Iceberg MERGE, hand-rolled the way ``q_upsert`` does it for one
batch).

Idempotence note (the real reason foreachBatch sinks are subtle): the
merge is last-writer-wins BY KEY, so re-delivering a batch leaves the
state unchanged — re-run safety is asserted in tests by draining the
same staged feed twice into the same state dir and hashing the result.

Scale shape: state I/O is one keyed full-outer join per micro-batch
(shuffle on the key, or zero-shuffle under bucketed state layout);
nothing driver-side is data-proportional. The read-merge-overwrite
cycle is exactly what a MERGE-capable table format does under the
hood, minus the transaction log.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .drain import drain, pin_increasing_mtimes

MERGED_SCHEMA = "pedido long, situacao string, total double, origem string"


def merge_batch(state_dir: str, batch: DataFrame) -> None:
    """MERGE one micro-batch of final-form rows into the parquet
    state: batch rows win on key collision (last-writer-wins), state
    rows survive otherwise.

    The overwrite is staged (write ``.next``, swap via rename). The
    two renames are not jointly atomic — a crash between them leaves
    no ``state_dir`` — so recovery is explicit: a surviving ``.old``
    with no live state dir is promoted back on the next call, and any
    stale ``.next``/``.old`` from a crashed run is cleared up front so
    the renames can't collide. In a lakehouse format the transaction
    log does this job; here the recovery protocol is the log.

    Last-writer-wins is ROW-level: the merge picks the whole batch-side
    struct when the key matched, never coalescing column-by-column, so
    a NULL field in a batch row correctly overwrites (not resurrects)
    the old value.
    """
    spark = batch.sparkSession
    old = state_dir + ".old"
    tmp_out = state_dir + ".next"
    # Recover from a crash between the two renames: promote .old back.
    if not os.path.exists(os.path.join(state_dir, "_SUCCESS")) and os.path.exists(
        os.path.join(old, "_SUCCESS")
    ):
        shutil.rmtree(state_dir, ignore_errors=True)
        os.rename(old, state_dir)
    shutil.rmtree(tmp_out, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    b = batch.select("pedido", "situacao", "total", "origem")
    if os.path.exists(os.path.join(state_dir, "_SUCCESS")):
        state = spark.read.schema(MERGED_SCHEMA).parquet(state_dir)
        bn = b.select(F.col("pedido").alias("__bk"), F.struct("*").alias("__b"))
        sn = state.select(F.col("pedido").alias("__sk"), F.struct("*").alias("__s"))
        merged = (
            bn.join(sn, bn["__bk"] == sn["__sk"], "full_outer")
            .select(F.coalesce(F.col("__b"), F.col("__s")).alias("__r"))
            .select("__r.*")
        )
    else:
        merged = b
    merged.write.mode("overwrite").parquet(tmp_out)
    if os.path.exists(state_dir):
        os.rename(state_dir, old)
    os.rename(tmp_out, state_dir)
    shutil.rmtree(old, ignore_errors=True)


def upsert_drained(spark: SparkSession, sf_dir: str, state_dir: str | None = None) -> DataFrame:
    """Drive the MERGE sink across two REAL micro-batches and return
    the final keyed state.

    Delivery 1 = the full orders snapshot in final-row form (origem
    'original'); delivery 2 = the CDC update set (every 7th order,
    repriced +10, status 'F', origem 'atualizado' — the exact
    ``q_upsert`` derivation, so the BATCH upsert oracle verifies the
    streaming path hash-for-hash: kappa parity for MERGE).
    ``maxFilesPerTrigger=1`` forces one micro-batch per delivery, so
    the update batch genuinely merges against persisted state, not
    against co-delivered rows.
    """
    from ..functions.formatting import MONEY  # noqa: PLC0415
    from ..operators.spool import spool  # noqa: PLC0415
    from ..sources.io import read_table  # noqa: PLC0415

    with drain(spark, "upsert", "state") as d:
        state_dir = state_dir or os.path.join(d.state, "state")
        o = read_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            F.col("o_totalprice").cast(MONEY).alias("__t"),
        )
        base = o.select(
            F.col("o_orderkey").alias("pedido"),
            F.col("o_orderstatus").alias("situacao"),
            F.col("__t").cast("double").alias("total"),
            F.lit("original").alias("origem"),
        )
        upd = o.filter(F.col("o_orderkey") % 7 == 0).select(
            F.col("o_orderkey").alias("pedido"),
            F.lit("F").alias("situacao"),
            (F.col("__t") + F.lit(10).cast(MONEY)).cast("double").alias("total"),
            F.lit("atualizado").alias("origem"),
        )
        base.coalesce(1).write.parquet(os.path.join(d.watch, "d1_base"))
        upd.coalesce(1).write.parquet(os.path.join(d.watch, "d2_updates"))
        # an mtime tie would invert the batch order and let
        # last-writer-wins flip updates back to 'original'
        pin_increasing_mtimes(d.watch, ("d1_base", "d2_updates"))
        stream = (
            spark.readStream.schema(MERGED_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(d.watch + "/*")
        )
        d.run(stream, batch=lambda batch, _id: merge_batch(state_dir, batch))
        # materialize before the state dir is removed — spooled
        # executor-side (150k rows at sf0.1; a collect+createDataFrame
        # here pushed every row through the driver, ~0.5s of py4j)
        out = spool(spark.read.schema(MERGED_SCHEMA).parquet(state_dir))
    return out.orderBy("pedido")
