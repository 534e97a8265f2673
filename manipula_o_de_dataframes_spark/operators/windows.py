"""Window semantics (SURVEY.md §2.6, W1–W3; A7/A8).

The ABC cumulative window is *global* (unpartitioned). That is safe by
construction: it always runs on the post-aggregation customer table
(|customers| rows), never on raw facts — at 100 TB the window input is
still only as wide as the customer dimension (SURVEY §4.2). For
pathological cardinality the documented scale-out is two-pass
(per-partition sums → broadcast prefix offsets); not needed here.

Determinism: cumulative sums run over DECIMAL inputs (exact, so the
running values are identical regardless of how the engine associates
the additions) and every ORDER BY carries a unique tie-break column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .spool import spool as _spool


def abc_bucket(cum_pct) -> Column:
    """W3: ABC bucketing on cumulative percent (APC:92-94, MAC:482-485).

    <=80 → 'A'; <=95 → 'B'; else 'C'. The reference's two variants
    (apply-lambda vs .loc masks) are semantically identical.
    """
    c = F.col(cum_pct) if isinstance(cum_pct, str) else cum_pct
    return F.when(c <= 80, "A").when(c <= 95, "B").otherwise("C")


def with_pct_and_cum(
    df: DataFrame,
    value_dec: str,
    pct_col: str = "percentual",
    cum_col: str = "percentual_acumulado",
    tiebreak: str | None = None,
) -> DataFrame:
    """A7+A8: percent-of-total and running cumulative percent.

    ``value_dec`` must be a DECIMAL column (exact). Grand total via an
    empty-frame window sum (one broadcast-style exchange over the small
    aggregated input); cumulative via a global ordered window with a
    unique tie-break. Both stay in decimal until the final double cast,
    so the doubles are bit-reproducible.
    """
    order = [F.col(value_dec).desc()] + ([F.col(tiebreak)] if tiebreak else [])
    w_all = Window.partitionBy()
    w_cum = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grand = F.sum(value_dec).over(w_all)
    cum = F.sum(value_dec).over(w_cum)
    return df.withColumns(
        {
            pct_col: F.col(value_dec).cast("double") / grand.cast("double") * 100,
            cum_col: cum.cast("double") / grand.cast("double") * 100,
        }
    )


def with_pct_and_cum_scaled(
    df: DataFrame,
    value_dec: str,
    pct_col: str = "percentual",
    cum_col: str = "percentual_acumulado",
    tiebreak: str | None = None,
    n_buckets: int = 32,
    rank_col: str | None = None,
) -> DataFrame:
    """A7 scale-out: the two-pass cumulative sum (SURVEY §7 hard-4).

    The plain version runs one global single-partition window — safe on
    a post-aggregation customer table, a straggler when the windowed
    input itself is huge. This variant removes the single partition:

    1. range-bucket the descending order key at approximate quantiles
       (boundary ties all land in the upper bucket, so rows with equal
       values never split across buckets and the tie-break stays local);
    2. per-bucket decimal sums aggregate to ≤ n_buckets rows IN-plan;
    3. exact prefix offsets via a window over that tiny frame,
       broadcast-joined back (no driver collect);
    4. per-bucket windows run in parallel; cum = within-bucket cum +
       bucket offset.

    Because every sum is DECIMAL (exact, association-independent), the
    result is bit-identical to the single-window version — the oracle
    for ``abc_classification`` verifies this variant unchanged. The
    quantile approximation only shifts bucket *sizes* (skew), never
    values. Requires non-null ``value_dec`` — and since the in-plan
    offset rewrite, a NULL value would not just get NULL outputs: its
    NULL bucket fails the offset join (row silently dropped) and a
    NULL-bucket group would sort first in the offset window, shifting
    every bucket's rank offset. The requirement is ENFORCED: a NULL
    count observed during the spool write raises ``ValueError``.

    When ``rank_col`` is given, the global SQL RANK() over the
    descending value is computed the same two-pass way: within-bucket
    rank + preceding-bucket row counts. Exact because value ties never
    cross a bucket boundary.
    """
    from decimal import Decimal  # noqa: PLC0415

    # The input is read twice (quantile probe, final plan — which
    # scans it once more for the tiny bucket aggregate).
    # It is the POST-aggregation totals frame (|customers| rows),
    # so spool it to scratch parquet once: the expensive upstream fact
    # join computes exactly once (VERDICT r2 #1) and every later pass —
    # including the caller's final materialization — reads the spool.
    # Unlike persist/localCheckpoint this pins nothing in the block
    # manager (VERDICT r1 #7; checkpoint blocks linger until JVM GC,
    # measured, not bounded). On a cluster the spool dir would be
    # scratch HDFS/S3; decimals round-trip parquet exactly, so results
    # stay bit-identical.
    from pyspark.sql import Observation  # noqa: PLC0415

    probs = [i / n_buckets for i in range(1, n_buckets)]
    # The quantile probe rides the spool write as an OBSERVED metric:
    # percentile_approx (KLL-style sketch, map-side partial merge)
    # collected DURING the write action, so the bounds cost zero extra
    # jobs — the write pass was happening anyway. (A separate .agg()
    # probe was a whole extra Spark job over the totals frame.)
    obs = Observation("scaled_cumsum_quantiles")
    df = _spool(
        df.observe(
            obs,
            F.percentile_approx(
                F.col(value_dec).cast("double"),
                F.array(*[F.lit(p) for p in probs]),
                F.lit(10_000),
            ).alias("__q"),
            F.count_if(F.col(value_dec).isNull()).alias("__nulls"),
        )
    )
    # Loud guard for the non-null requirement documented above: a NULL
    # value would silently drop at the offsets join AND shift every real
    # bucket's __cnt_off (NULL bucket sorts first in the prefix window),
    # corrupting ranks without any error. The count rides the same spool
    # write as the quantile probe — zero extra jobs.
    if obs.get["__nulls"]:
        raise ValueError(
            f"with_pct_and_cum_scaled requires non-null {value_dec!r}: "
            f"{obs.get['__nulls']} NULL rows found — filter or fill upstream"
        )
    bounds = sorted(set(obs.get["__q"] or []), reverse=True)

    # bucket 0 holds the largest values; a row equal to a boundary stays
    # in the bucket above it (v < b, strict), keeping ties together.
    bucket = F.lit(0)
    for b in bounds:
        bucket = bucket + (F.col(value_dec) < F.lit(b)).cast("int")
    bucketed = df.withColumn("__bucket", bucket)

    # Exact prefix offsets and the grand total stay IN the lazy plan:
    # aggregate to ≤n_buckets rows, run decimal prefix windows over
    # that tiny frame (single-partition window on ≤32 rows — free),
    # and broadcast-join the offsets back. No driver collect, one
    # fewer Spark job than a collect-then-createDataFrame round trip,
    # and the arithmetic is exact decimal either way. (A 32-deep
    # nested-WHEN literal chain instead of the tiny join costs real
    # Janino compile time and bloats the generated code.)
    agg = bucketed.groupBy("__bucket").agg(
        F.sum(value_dec).alias("__s"), F.count(F.lit(1)).alias("__c")
    )
    w_off = Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = agg.select(
        "__bucket",
        F.coalesce(F.sum("__s").over(w_off), F.lit(Decimal(0)))
        .cast("decimal(28,2)")
        .alias("__sum_off"),
        F.coalesce(F.sum("__c").over(w_off), F.lit(0)).cast("long").alias("__cnt_off"),
        F.sum("__s").over(w_all).cast("decimal(28,2)").alias("__grand"),
    )
    bucketed = bucketed.join(F.broadcast(offsets), "__bucket")

    order = [F.col(value_dec).desc()] + ([F.col(tiebreak)] if tiebreak else [])
    w_cum = (
        Window.partitionBy("__bucket")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(value_dec).over(w_cum) + F.col("__sum_off")
    grand_dbl = F.col("__grand").cast("double")
    cols = {
        pct_col: F.col(value_dec).cast("double") / grand_dbl * 100,
        cum_col: cum.cast("double") / grand_dbl * 100,
    }
    if rank_col:
        w_rank = Window.partitionBy("__bucket").orderBy(F.col(value_dec).desc())
        cols[rank_col] = (F.rank().over(w_rank) + F.col("__cnt_off")).cast("long")
    return bucketed.withColumns(cols).drop(
        "__bucket", "__sum_off", "__cnt_off", "__grand"
    )


def global_rank_scaled(
    df: DataFrame,
    value_col: str,
    out_col: str,
    *,
    ascending: bool = True,
    tiebreaks: tuple[str, ...] = (),
    partition_cols: tuple[str, ...] = (),
    n_buckets: int = 32,
    kind: str = "row_number",
    count_col: str | None = None,
) -> DataFrame:
    """Bucketed two-pass global ROW_NUMBER/RANK — the scale-out for
    ``row_number().over(Window.orderBy(...))`` (VERDICT r5 #4).
    One-spec wrapper over ``global_ranks_scaled`` (the N-column form —
    callers needing several global ranks over the SAME frame share one
    spool write instead of chaining N calls that each pay their own
    parquet round-trip; the rfm_segments r10-opt rewrite).

    A plain global ordered window funnels the whole frame through ONE
    task (Exchange SinglePartition) — correct, but a straggler the
    moment the windowed input is data-proportional. This computes the
    same numbers with no unbounded single-partition stage:

    1. range-bucket ``value_col`` at approximate quantiles (probe rides
       the spool write as an observed metric — zero extra jobs). The
       bucket is a pure function of the value, so ties NEVER split
       across buckets regardless of sketch error;
    2. per-(partition, bucket) row counts aggregate to
       ≤ |partitions|·n_buckets rows in-plan;
    3. exact prefix offsets via a window over that tiny census,
       broadcast-joined back (the only single-partition window in the
       plan runs on the census, not the data);
    4. per-bucket windows run in parallel;
       global rn = within-bucket rn + preceding-bucket count.

    Exactness: row_number needs the (value, *tiebreaks) order to be
    total within a partition — the same contract the single-window
    version already required. ``kind="rank"`` (ties share) is exact
    because rank ties have equal ``value_col`` and equal values share a
    bucket. ``count_col`` additionally emits the per-partition total
    (the usual companion ``count().over(Window.partitionBy())`` —
    riding the same census, no extra global stage).

    NULL ``value_col`` would corrupt every bucket offset (NULL bucket
    sorts first in the prefix window) — enforced with the same loud
    ValueError as ``with_pct_and_cum_scaled``. NaN is equally fatal for
    floating inputs (every strict boundary compare is false, so NaN
    lands in bucket 0 while a plain orderBy sorts it LAST, shifting
    every later offset) — observed and rejected the same way, riding
    the same spool write (r6 ADVICE).
    """
    return global_ranks_scaled(
        df,
        ((value_col, out_col, ascending, tiebreaks),),
        partition_cols=partition_cols,
        n_buckets=n_buckets,
        kind=kind,
        count_col=count_col,
    )


def global_ranks_scaled(
    df: DataFrame,
    specs: tuple[tuple[str, str, bool, tuple[str, ...]], ...],
    *,
    partition_cols: tuple[str, ...] = (),
    n_buckets: int = 32,
    kind: str = "row_number",
    count_col: str | None = None,
) -> DataFrame:
    """N bucketed two-pass global ranks over the SAME frame from ONE
    spool write. Each spec is ``(value_col, out_col, ascending,
    tiebreaks)``; per-spec semantics are exactly ``global_rank_scaled``.

    Why a multi-column form exists: rank calls CHAIN (each needs the
    previous call's output columns), so N chained ``global_rank_scaled``
    calls spool N times — and every spool is a real parquet write+read
    round trip whose only purposes are carrying the quantile
    Observation and pinning the upstream, both of which one write
    covers for every spec at once (percentile_approx sketches are
    per-column and don't interact). Each spec's census/offsets/window
    then consume the shared spool; the within-bucket windows still run
    one after another, exactly as the chained form's did.

    Exactness is per spec and unchanged from the single form: buckets
    are pure functions of each spec's value column (ties never split),
    offsets are exact integer counts, and the within-bucket window
    carries the spec's own tie-breaks. ``count_col`` (the per-partition
    total) rides the first spec's census — the total is the same frame
    count whichever spec computes it.
    """
    from pyspark.sql import Observation  # noqa: PLC0415

    # Validate before the spool write (ADVICE r10): an empty spec tuple
    # would still pay the parquet round trip and silently return an
    # unranked frame (dropping count_col); duplicate out_col names
    # would silently overwrite earlier specs' ranks.
    if not specs:
        raise ValueError("global_ranks_scaled: specs must be non-empty")
    outs = [out for _v, out, _a, _t in specs]
    if len(set(outs)) != len(outs):
        raise ValueError(
            f"global_ranks_scaled: duplicate out_col names across specs: {outs}"
        )

    probs = [i / n_buckets for i in range(1, n_buckets)]
    obs = Observation("global_rank_quantiles")
    metrics = []
    for si, (value_col, _out, _asc, _ties) in enumerate(specs):
        vd = F.col(value_col).cast("double")
        metrics += [
            F.percentile_approx(
                vd, F.array(*[F.lit(p) for p in probs]), F.lit(10_000)
            ).alias(f"__q_{si}"),
            F.count_if(F.col(value_col).isNull()).alias(f"__nulls_{si}"),
            F.count_if(F.isnan(vd)).alias(f"__nans_{si}"),
        ]
    df = _spool(df.observe(obs, *metrics))
    got = obs.get
    for si, (value_col, _out, _asc, _ties) in enumerate(specs):
        if got[f"__nulls_{si}"]:
            raise ValueError(
                f"global_rank_scaled requires non-null {value_col!r}: "
                f"{got[f'__nulls_{si}']} NULL rows found — filter or fill "
                "upstream"
            )
        if got[f"__nans_{si}"]:
            raise ValueError(
                f"global_rank_scaled requires NaN-free {value_col!r}: "
                f"{got[f'__nans_{si}']} NaN rows found — NaN buckets to 0 "
                "under strict boundary compares but sorts LAST under "
                "orderBy, so every later bucket offset would shift — "
                "filter upstream"
            )

    pc = list(partition_cols)
    out = df
    for si, (value_col, out_col, ascending, tiebreaks) in enumerate(specs):
        bounds = sorted(set(got[f"__q_{si}"] or []), reverse=not ascending)

        # bucket 0 holds the FIRST rows of the order; a row equal to a
        # boundary stays in the bucket above it (strict compare),
        # keeping value ties together.
        bucket = F.lit(0)
        v = F.col(value_col)
        for b in bounds:
            bucket = bucket + (
                (v > F.lit(b)) if ascending else (v < F.lit(b))
            ).cast("int")
        bcol = f"__gr_bucket_{si}" if len(specs) > 1 else "__gr_bucket"
        out = out.withColumn(bcol, bucket)

        # census from the SHARED spool (the bucket is a pure function
        # of the value column, so it needs none of the earlier specs'
        # rank columns — each census stays a short scan of the spool)
        census = (
            df.withColumn(bcol, bucket)
            .groupBy(*pc, bcol)
            .agg(F.count(F.lit(1)).alias("__gr_c"))
        )
        w_off = (
            Window.partitionBy(*pc)
            .orderBy(bcol)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        w_all = (
            Window.partitionBy(*pc)
            .orderBy(bcol)
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        off_cols = [
            F.col(c) for c in pc
        ] + [
            F.col(bcol),
            F.coalesce(F.sum("__gr_c").over(w_off), F.lit(0))
            .cast("long")
            .alias("__gr_off"),
        ]
        if count_col and si == 0:
            off_cols.append(
                F.sum("__gr_c").over(w_all).cast("long").alias(count_col)
            )
        offsets = census.select(*off_cols)
        out = out.join(F.broadcast(offsets), [*pc, bcol])

        order = [v.asc() if ascending else v.desc()] + [
            F.col(t) for t in tiebreaks
        ]
        w_in = Window.partitionBy(*pc, bcol).orderBy(*order)
        fn = F.row_number() if kind == "row_number" else F.rank()
        out = out.withColumn(
            out_col, (fn.over(w_in) + F.col("__gr_off")).cast("long")
        ).drop(bcol, "__gr_off")
    return out


def ntile_from_rank(rn, n, k: int):
    """Spark/ANSI NTILE(k) derived arithmetically from a global
    row_number ``rn`` and total count ``n`` — the piece that lets
    ``global_rank_scaled`` replace an ntile window: the first n%k
    tiles hold ⌈n/k⌉ rows, the rest ⌊n/k⌋ (SQL spec distribution,
    identical in Spark and DuckDB).
    """
    rn = F.col(rn) if isinstance(rn, str) else rn
    n = F.col(n) if isinstance(n, str) else n
    q = F.floor(n / k).cast("long")  # small-tile size
    r = (n % k).cast("long")  # number of big (q+1-row) tiles
    big = r * (q + 1)  # rows covered by the big tiles
    # q == 0 whenever a partition has fewer than k rows; the when()
    # branch then covers every row, but guard the otherwise-divisor so
    # the dead branch stays well-defined under eager evaluation
    # (r6 ADVICE).
    q_safe = F.greatest(q, F.lit(1))
    return (
        F.when(rn <= big, F.floor((rn - 1) / (q + 1)))
        .otherwise(r + F.floor((rn - big - 1) / q_safe))
        .cast("long")
        + 1
    )
