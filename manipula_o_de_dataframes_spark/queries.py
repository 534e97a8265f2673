"""The engine's query surface — one callable per SURVEY.md §2 operator.

Each function takes ``(spark, sf_dir)`` and returns a lazy DataFrame on
the driver's TPC-H-ish testdata (FIXTURES.md §4 mapping). Every computed
column is aliased to match the DuckDB oracle in ``oracles.py`` exactly
(the driver's compare sorts columns by name before value-hashing).

Determinism rules used throughout (SURVEY §7 "hard" list):
- money/quantity sums go through DECIMAL(18,2) (exact ⇒ partitioning-
  independent) and come back as double;
- every first/last/keep-first pins an explicit total order;
- counts/ranks are cast to long (BIGINT in the oracle);
- timestamps are rendered as strings at the output edge.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.formatting import MONEY, brl, dsum, dsum_dec, pct
from .functions.text import (
    dup_token_ratio,
    fingerprint,
    lang_id,
    mean_token_len,
    quality_score,
    stopword_hits,
    token_count,
    tokens,
)
from .operators import dedup as dd
from .operators import multimodal as mm
from .operators import sampling as smp
from .operators import similarity as sim
from .operators import temporal as tmp
from .operators.aggregates import all_equal_collapse, first_by
from .operators.cleaning import clean, dedupe_rows
from .operators.filters import dynamic as dynamic_filter
from .operators import joins as jn
from .operators.joins import enrich, left_unique, unmatched_keys
from .operators.sets import union_by_name
from .operators.sorting import paginate, sorted_distinct, top_k
from .operators.spool import session_artifact, spool
from .operators.windows import (
    global_rank_scaled,
    global_ranks_scaled,
    ntile_from_rank,
)
from .plans.abc import abc_classification, abc_classification_scaled
from .plans.history import product_client_history
from .plans.pending import pending_by_week
from .sources.io import read_table, read_table_parallel

__all__ = ["NO_ORACLE", "QUERIES"]

# Queries with no DuckDB oracle BY DESIGN; the driver runs its weaker
# rows-only check. Only k-means remains (float-reassociation-sensitive
# training); hll_mergeable and events_sketches both graduated to
# oracle-checked projections in round 3 — exact fields + per-engine
# sketch-accuracy flags instead of raw implementation-defined estimates.
# Empty since r5: every registered query is hash-checkable against its
# DuckDB oracle. The one legitimately non-oracleable computation —
# k-means TRAINING (float averaging is reassociation-sensitive) — lives
# in tests (test_kmeans_training_rows_only), not in the registry;
# ``kmeans_assign`` carries the family's oracle with fixed centroids.
NO_ORACLE = frozenset()


# --- reference-surface queries (SURVEY §2) ---------------------------------


def q_customer_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A4/A5/A6 + deterministic pandas-'first' (min_by on explicit order)."""
    c = read_table(spark, sf_dir, "customer")
    return c.groupBy(F.col("c_mktsegment").alias("segmento")).agg(
        F.count(F.lit(1)).alias("n_clientes"),
        F.countDistinct("c_nationkey").alias("n_paises"),
        dsum("c_acctbal").alias("saldo_total"),
        F.min("c_acctbal").alias("saldo_min"),
        F.max("c_acctbal").alias("saldo_max"),
        F.min_by("c_name", F.col("c_custkey")).alias("primeiro_cliente"),
    )


def q_first_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/J3: deterministic keep-first — earliest order per customer."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("dt"), "o_orderkey"
    )
    return o.groupBy(F.col("o_custkey").alias("cliente")).agg(
        first_by("dt", ["dt", "o_orderkey"]).alias("primeira_data"),
        first_by("o_orderkey", ["dt", "o_orderkey"]).alias("primeiro_pedido"),
    )


def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 (deterministic): one lineitem per (partkey, suppkey), first by ship order."""
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_partkey", "l_suppkey")).select(
        "l_partkey",
        "l_suppkey",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("dt"),
        "l_orderkey",
        "l_linenumber",
    )
    return dedupe_rows(li, ["l_partkey", "l_suppkey"], ["dt", "l_orderkey", "l_linenumber"])


def q_anti_join_unmatched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/U2: distinct fact keys absent from a (filtered) dimension."""
    li = read_table(spark, sf_dir, "lineitem")
    dim = read_table(spark, sf_dir, "part").filter(F.col("p_size") <= 25)
    return unmatched_keys(li, dim.withColumnRenamed("p_partkey", "l_partkey"), "l_partkey")


def q_enrich_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J4: broadcast left enrich with defaults for unmatched keys."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey"
    )
    dim = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 25)
        .select(
            F.col("p_partkey").alias("l_partkey"),
            F.col("p_brand").alias("marca"),
            F.col("p_type").alias("tipo"),
        )
    )
    return enrich(li, dim, "l_partkey", {"marca": "SEM CADASTRO", "tipo": ""})


def q_enrich_unique_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: dedup-then-left-join enrich (APC:109 verbatim shape).

    Reference: pd.merge(df_clientes, df[['Cliente','UF','Cidade']]
    .drop_duplicates(subset=['Cliente']), how='left') — the build side
    is deduped to one row per key (pandas keeps first-in-file-order;
    here "first" is pinned by (primeira_data, o_orderkey)), then
    broadcast-left-joined onto the customer frame. Customers with no
    orders keep NULL attrs (left semantics).
    """
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cliente"),
        F.col("c_name").alias("nome_cliente"),
        F.col("c_mktsegment").alias("segmento"),
    )
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cliente"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("primeira_data"),
        F.col("o_orderpriority").alias("prioridade"),
        "o_orderkey",
    )
    return left_unique(
        c, o, "cliente",
        [F.col("primeira_data"), F.col("o_orderkey")],
        ["primeira_data", "prioridade"],
    )


def q_lenient_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: lenient date parse on dirty strings (errors='coerce').

    Reference: pd.to_datetime(..., errors='coerce') (APC:261, MAC:270)
    — malformed inputs become NaT, never an error. Builds a dirty
    string column from orders (a non-date, an impossible month/day, and
    valid renders), routes it through clean(date_cols=...) — which
    parses with try_to_timestamp — and renders the result; bad dates
    are NULL exactly as DuckDB's try_cast.
    """
    o = read_table(spark, sf_dir, "orders")
    raw = (
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("not a date"))
        .when(F.col("o_orderkey") % 5 == 1, F.lit("2024-13-45"))
        .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd"))
    )
    dirty = o.select("o_orderkey", raw.alias("raw_dt"), raw.alias("dt"))
    cleaned = clean(dirty, keys=["o_orderkey"], date_cols=["dt"])
    return cleaned.select(
        "o_orderkey", "raw_dt", F.date_format("dt", "yyyy-MM-dd").alias("data")
    )


def q_dynamic_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F3: sidebar-style spec filters + date range, pushed to the scan."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    joined = o.join(c, o.o_custkey == c.c_custkey)
    filtered = dynamic_filter(
        joined,
        {"o_orderstatus": "F", "c_mktsegment": "BUILDING", "o_orderpriority": "Todos"},
    ).filter(F.col("o_orderdate").between("1996-01-01", "1997-12-31"))
    return filtered.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("data"),
        "o_totalprice",
        F.col("c_name").alias("nome_cliente"),
    )


def q_paginate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6: page 3 (size 25) under the stable order (totalprice desc, key)."""
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return paginate(o, [F.col("o_totalprice").desc(), F.col("o_orderkey")], page=3, page_size=25)


def q_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek) pagination — the scale-correct counterpart to
    ``paginate_orders``' offset pagination. OFFSET N is O(N) per page
    at any engine (the sort must produce and discard N rows before the
    page); a keyset cursor turns every page into an O(page) indexed
    seek: WHERE (sort key) > (cursor) ORDER BY sort key LIMIT k.

    Page 4 (size 20) under (o_orderdate, o_orderkey): the cursor — the
    last row of page 3 — is fetched with one bounded 60-row top-k
    (driver-side single-row artifact, the model-constant posture; in
    production the CLIENT carries it), then the page query is a pure
    filter + TakeOrderedAndProject whose date bound PUSHES DOWN to the
    parquet scan (plan-pinned) — at 100 TB with date-partitioned
    layout the seek prunes partitions while OFFSET reads them all.
    """
    page_size, page = 20, 4
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    cursor = (
        o.orderBy("o_orderdate", "o_orderkey")
        .limit(page_size * (page - 1))
        .orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
        .limit(1)
        .collect()[0]
    )
    # The cursor's timestamp must become an NTZ literal via a WALL-CLOCK
    # string parse: F.lit(datetime) infers session-tz TimestampType, and
    # comparing that against the NTZ sort column shifts by the session
    # offset — under America/Sao_Paulo the page silently re-included the
    # cursor row (caught by the r5 full-surface non-UTC parity sweep).
    d0 = F.to_timestamp_ntz(
        F.lit(cursor["o_orderdate"].strftime("%Y-%m-%d %H:%M:%S"))
    )
    k0 = cursor["o_orderkey"]
    return (
        o.filter(
            (F.col("o_orderdate") > d0)
            | ((F.col("o_orderdate") == d0) & (F.col("o_orderkey") > F.lit(k0)))
        )
        .orderBy("o_orderdate", "o_orderkey")
        .limit(page_size)
        .select(
            "o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("data")
        )
    )


def q_top_k_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """top-k: 10 richest customers, tie-broken by key."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    return top_k(c, [F.col("c_acctbal").desc(), F.col("c_custkey")], 10)


def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: by-name union of frames with different column sets (null fill)."""
    o = read_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    b = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey",
        "o_orderstatus",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("data"),
    )
    return union_by_name(a, b)


def q_null_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1/F6: per-column null counts in one pass (over the U1 union)."""
    u = q_union_by_name(spark, sf_dir)
    return u.agg(
        F.count(F.when(F.col("o_totalprice").isNull(), 1)).alias("o_totalprice_nulls"),
        F.count(F.when(F.col("data").isNull(), 1)).alias("data_nulls"),
        F.count(F.lit(1)).alias("total_rows"),
    )


def q_all_equal_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: scalar-or-list collapse — scalar iff the group is uniform."""
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",))
    collapsed, full = all_equal_collapse("l_returnflag")
    return li.groupBy(F.col("l_orderkey").alias("pedido")).agg(
        collapsed.alias("flag_unico"),
        F.array_join(full, ",").alias("flags"),
        F.count(F.lit(1)).alias("n"),
    )


def q_format_currency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2/X3: BRL currency + percent rendering (exact-decimal grouping)."""
    c = read_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 50)
    return c.select(
        "c_custkey",
        brl("c_acctbal").alias("saldo_brl"),
        pct(F.col("c_acctbal") / 100).alias("saldo_pct"),
    )


def q_distinct_combinations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12/O4: distinct (brand, type) combinations, plus sorted distinct check."""
    p = read_table(spark, sf_dir, "part")
    return p.select(F.col("p_brand").alias("marca"), F.col("p_type").alias("tipo")).distinct()


def q_sorted_distinct_weeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: sorted distinct values (the AP:95 'semanas' dropdown)."""
    o = read_table(spark, sf_dir, "orders").select(
        F.date_format(F.date_trunc("week", "o_orderdate"), "yyyy-MM-dd").alias("semana")
    )
    return sorted_distinct(o, "semana")


def q_projection_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1–P5: select/rename/computed column in one projection."""
    p = read_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_name").alias("nome"),
        ((F.col("p_retailprice").cast(MONEY) * 11).cast("double") / 10).alias("preco_com_taxa"),
        brl("p_retailprice").alias("preco_brl"),
    )


def q_join_compatibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3: join-compatibility report — unmatched-key count and percentage.

    Lazy single-DataFrame version of the reference's diagnostic
    (MAC:726-774): distinct fact keys broadcast-left-joined to the dim's
    distinct keys, then one aggregate.
    """
    from .operators.quality import join_compatibility  # noqa: PLC0415

    li = read_table(spark, sf_dir, "lineitem")
    dim = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 25)
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    return join_compatibility(li, dim, "l_partkey")


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: split each user's event stream at >30-min gaps.

    lag → gap flag → running sum (the classic session-window decompose);
    one shuffle on user_id, windows stay inside each user partition. The
    streaming twin is session_window() in streaming/.
    """
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts") - F.lag("ts").over(w)
    flag = F.when(gap > F.expr("INTERVAL 30 MINUTES"), 1).otherwise(0)
    sess = e.withColumn(
        "sessao",
        F.sum(flag).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"),
    )
    return sess.groupBy(F.col("user_id").alias("usuario"), "sessao").agg(
        F.count(F.lit(1)).alias("n_eventos"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("inicio"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("fim"),
        dsum("value").alias("valor_total"),
    )


def q_sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via the Catalyst-native session_window operator.

    Same 30-minute-gap semantics as sessionize_events but expressed as
    ONE groupBy over F.session_window — Spark plans a merging-sessions
    aggregate instead of lag → flag → running-sum windows (and the same
    expression is streaming-ready). Boundary note: the native operator
    starts a NEW session at a gap of exactly 30 min (an event at
    last+30min falls outside [start, last+30)), where the lag variant
    merges it — the oracle mirrors the native (>=) rule. Sessions are
    identified by time range, not ordinal, so the output compares on
    (usuario, inicio, fim, metrics).
    """
    e = read_table(spark, sf_dir, "events")
    agg = e.groupBy(
        F.col("user_id").alias("usuario"),
        F.session_window("ts", "30 minutes"),
    ).agg(
        F.count(F.lit(1)).alias("n_eventos"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("inicio"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("fim"),
        dsum("value").alias("valor_total"),
    )
    return agg.select("usuario", "inicio", "fim", "n_eventos", "valor_total")


def q_weekly_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-window staples the reference lacks: week-over-week
    delta (lag), 4-week moving average, revenue decile (ntile).

    All run on the post-aggregation weekly table (~|weeks| rows), so
    the global windows are safe (same posture as the ABC cumsum). The
    moving average is sum/count over the frame — decimal window sum
    cast to double, then one double division, bit-reproducible against
    the oracle (a native avg() would return engine-specific decimal
    scales).
    """
    o = read_table(spark, sf_dir, "orders")
    wk = o.groupBy(
        F.date_format(F.date_trunc("week", "o_orderdate"), "yyyy-MM-dd").alias("semana")
    ).agg(F.sum(F.col("o_totalprice").cast(MONEY)).alias("__dec"))
    w = Window.orderBy("semana")
    wma = w.rowsBetween(-3, 0)
    return wk.select(
        "semana",
        F.col("__dec").cast("double").alias("valor_total"),
        (F.col("__dec") - F.lag("__dec").over(w)).cast("double").alias("delta_semana"),
        (
            F.sum("__dec").over(wma).cast("double")
            / F.count(F.lit(1)).over(wma).cast("double")
        ).alias("media_movel_4s"),
        F.ntile(10).over(Window.orderBy(F.col("__dec").desc(), F.col("semana")))
        .cast("long")
        .alias("decil"),
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt) — the inverse of events_pivot via
    stack(): one generator expression, no shuffle beyond the pivot's
    own aggregate, zero-count cells kept (deterministic long shape)."""
    piv = q_events_pivot(spark, sf_dir)
    pairs = ", ".join(f"'{t}', n_{t}" for t in EVENT_TYPES)
    return piv.select(
        "semana", F.expr(f"stack({len(EVENT_TYPES)}, {pairs}) AS (tipo, n)")
    )


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-week event counts, one column per event type.

    Explicit value list keeps the pivot a single pass (no extra distinct
    job) and pins the output schema.
    """
    e = read_table(spark, sf_dir, "events")
    sem = F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("semana")
    piv = e.groupBy(sem).pivot("event_type", EVENT_TYPES).count()
    return piv.select(
        "semana",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in EVENT_TYPES],
    )


def q_sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all subtotal combinations in
    one pass (the OLAP rollup surface the reference lacked)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_quantity").alias("total_qtd"),
    )


def q_sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (nation, mktsegment) with GROUPING flags: the
    hierarchical-subtotal companion to sales_cube (drill-down totals at
    customer level, nation level, grand total in one pass).
    """
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    base = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    return (
        base.rollup("n_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_clientes"),
            dsum("c_acctbal").alias("saldo_total"),
            F.grouping("n_name").cast("long").alias("agg_nacao"),
            F.grouping("c_mktsegment").cast("long").alias("agg_segmento"),
        )
        .select(
            F.col("n_name").alias("nacao"),
            F.col("c_mktsegment").alias("segmento"),
            "n_clientes",
            "saldo_total",
            "agg_nacao",
            "agg_segmento",
        )
    )


def q_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert semantics as a plan (CDC apply without a table
    format): an updates batch overrides matching target rows and
    appends the rest.

    Updates batch = every 7th order with a repriced total (derived
    deterministically so the oracle can rebuild it). Plan: full outer
    join on the key + coalesce(update, target) per column — one
    shuffle, the exact relational core of Delta/Iceberg MERGE. The
    ``origem`` flag marks which side won, so the hash check verifies
    row-level provenance, not just values.
    """
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.col("o_totalprice").cast(MONEY).alias("__t")
    )
    upd = o.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey"),
        F.lit("F").alias("u_status"),
        (F.col("__t") + F.lit(10).cast(MONEY)).alias("u_total"),
    )
    merged = o.join(upd, "o_orderkey", "full_outer")
    return merged.select(
        F.col("o_orderkey").alias("pedido"),
        F.coalesce("u_status", "o_orderstatus").alias("situacao"),
        F.coalesce("u_total", "__t").cast("double").alias("total"),
        F.when(F.col("u_status").isNotNull(), F.lit("atualizado"))
        .otherwise(F.lit("original"))
        .alias("origem"),
    )


def q_tuple_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13/D2/X5: the variable-arity tuple, rendered.

    Reference builds Tupla_Dados = (date, prob, consultant[, reason]) —
    arity 3 when the no-sale reason is absent (APC:213-221) — and joins
    it for display (APC:311). concat_ws skips NULLs, which reproduces
    the variable arity in one expression (no UDF).
    """
    li = read_table(spark, sf_dir, "lineitem")
    motivo = F.when(
        F.col("l_returnflag") == "R", F.concat(F.lit("DEVOLUCAO-"), F.col("l_linestatus"))
    )
    tupla = F.concat_ws(
        " | ",
        F.date_format("l_shipdate", "yyyy-MM-dd"),
        F.col("l_discount").cast("string"),
        F.col("l_returnflag"),
        motivo,
    )
    return li.select("l_orderkey", "l_linenumber", tupla.alias("tupla"))


def q_group_median_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3/A13: the applyInPandas UDAF escape hatch, oracle-checked.

    Per-event-type median via an Arrow-batched grouped-map program —
    the surface for per-group logic that genuinely can't decompose into
    built-ins. One shuffle on the group key; pandas inside the executor.
    """
    import pandas as pd  # noqa: PLC0415

    def med(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "tipo": [pdf["event_type"].iloc[0]],
                "mediana_raw": [pdf["value"].median()],
                "n": [len(pdf)],
            }
        )

    e = read_table(spark, sf_dir, "events")
    out = e.groupBy("event_type").applyInPandas(
        med, schema="tipo string, mediana_raw double, n long"
    )
    return out.select("tipo", F.round("mediana_raw", 6).alias("mediana"), "n")


def q_events_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events rollup: per-type counts, distinct users, exact value sum."""
    e = read_table(spark, sf_dir, "events")
    return e.groupBy(F.col("event_type").alias("tipo")).agg(
        F.count(F.lit(1)).alias("n_eventos"),
        F.countDistinct("user_id").alias("n_usuarios"),
        dsum("value").alias("valor_total"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("primeiro"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("ultimo"),
    )


# --- north-star LLM-pipeline queries ----------------------------------------


def _docs_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents table spread across all cores.

    The testdata ships documents as one small parquet file → one input
    partition, which would serialize the md5/Pandas-UDF-heavy operators
    onto a single core. An explicit repartition(N) survives AQE (user-
    specified partitioning is not coalesced) and costs one tiny shuffle
    of the text column. On a real 100 TB table the scan is already
    thousands of splits and this repartition would be dropped.
    """
    d = read_table(spark, sf_dir, "documents")
    return d.repartition(spark.sparkContext.defaultParallelism)


def _basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-order co-purchase pairs (u < v), one row per occurrence.

    ONE fact shuffle: lineitem co-locates by order, each order's parts
    collapse to a sorted set riding that same shuffle, and the a<b
    pairs are generated EXPRESSION-side from the array (sortedness
    gives both the < order and within-basket dedup for free) — a
    self-join would cost distinct + join re-shuffles instead. The
    quadratic is bounded within an order (~7 lineitems in TPC-H
    shape, the LSH-bucket discipline applied to baskets).

    Shared spine of the graph family — ``basket_pairs``,
    ``pagerank_items``, ``triangle_counts``, ``label_propagation``,
    ``trust_propagation`` all start here; callers add distinct /
    symmetric union per their graph semantics.
    """
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",)).select(
        "l_orderkey", "l_partkey"
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("__ps")
    )
    ps = F.col("__ps")
    pair_structs = F.flatten(
        F.transform(
            ps,
            lambda x, i: F.transform(
                F.slice(ps, i + 2, F.size(ps)),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    return baskets.select(F.explode(pair_structs).alias("__p")).select("__p.u", "__p.v")


# Shared graph-family spools (VERDICT r5 #7): the five-query graph
# shelf re-derived the SAME distinct edge set (and its symmetric,
# degree-annotated form) per query — in a bench/sweep session that is
# five identical basket-explode + distinct shuffles. Each shared frame
# below is a `session_artifact` (operators/spool.py): the first caller
# pays the build, every later query in the session reads the spool.


@session_artifact("edges_uv")
def _edges_uv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct co-purchase edges (u < v), spooled once per session."""
    return spool(_basket_pairs(spark, sf_dir).distinct())


@session_artifact("edges_sym_deg")
def _edges_sym_deg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric distinct edges annotated with the source degree
    (u, v, __deg of u), spooled once per session. u<v edges union
    their swap — strict u<v means no self-loops, so the union IS the
    symmetric distinct set without another distinct shuffle."""
    e = _edges_uv(spark, sf_dir)
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("__deg"))
    return spool(sym.join(deg, "u"))


@session_artifact("symdeg_nodes")
def _symdeg_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, __deg) — the node-degree frame of `_edges_sym_deg`, spooled
    (r10-opt): ``link_prediction`` feeds it to three plan subtrees (seed
    top-k, both degree attaches) and Spark re-ran the edge-list
    distinct per reference — 12 spool scans / 3 distinct aggregations
    in the before plan (plans/r10, no ReusedExchange)."""
    return spool(_edges_sym_deg(spark, sf_dir).select("u", "__deg").distinct())


@session_artifact("nation_week_rev")
def _nation_week_rev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(nation, __wk, __rev) — weekly LINEITEM revenue per nation
    (exact decimal sum), spooled once per session: the regression pair
    ``weekly_trend`` (OLS slope) and ``changepoint_weeks`` (CUSUM peak)
    both reduce this identical census, and each previously re-ran the
    lineitem⋈orders join per call. Bounded |nations|·|weeks| artifact;
    decimals round-trip parquet exactly (the `_weekly_nation_census`
    posture on the revenue axis)."""
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",)).select(
        "l_orderkey", "l_extendedprice"
    )
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    wk = F.floor(F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")) / 7).cast(
        "long"
    )
    return spool(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), wk.alias("__wk"))
        .agg(dsum_dec("l_extendedprice").alias("__rev"))
    )


@session_artifact("event_transition_census")
def _event_transition_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(de, para, n, rowtot) — the first-order Markov transition census
    over event types (per-user lag pairing), spooled once per session:
    ``event_transitions`` (the matrix) and ``transition_steady_state``
    (3 power iterations over it) both reduce this identical ≤|types|²
    artifact, and each previously re-ran the events lag pass per
    call."""
    e = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return spool(
        e.withColumn("__prev", F.lag("event_type").over(w))
        .filter(F.col("__prev").isNotNull())
        .groupBy(F.col("__prev").alias("de"), F.col("event_type").alias("para"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rowtot", F.sum("n").over(Window.partitionBy("de")))
    )


@session_artifact("order_spans")
def _order_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_nationkey, __open, __close) — each order's open interval
    (order date → last line's ship date, clamped so open ≤ close),
    spooled once per session: `open_order_concurrency` (interval
    sweep) and `littles_law_audit` (the conservation audit over the
    same sweep) both start from this identical frame, and each
    previously re-ran the lineitem max-shipdate aggregate + orders
    join per call. Dates round-trip parquet exactly."""
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",))
    close = li.groupBy("l_orderkey").agg(
        F.date_trunc("day", F.max("l_shipdate")).cast("date").alias("__close")
    )
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.date_trunc("day", "o_orderdate").cast("date").alias("__open"),
    )
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    return spool(
        o.join(close, o["o_orderkey"] == close["l_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        # the synthetic feed contains ship dates BEFORE the order date;
        # clamp so every interval is well-formed (open ≤ close) instead
        # of letting a reversed span decrement the sweep before its +1
        .select(
            "c_nationkey",
            "__open",
            F.greatest("__close", "__open").alias("__close"),
        )
    )


@session_artifact("pair_support")
def _pair_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-pair census (u, v, __nuv with support ≥ 2) over order
    baskets, spooled once per session — the Apriori L2 artifact shared
    by ``apriori_triples`` (its three sub-pair prunes) and
    ``association_rules`` (the directed-rule base). Both previously
    re-ran the identical basket fan-out + (u, v) count census PER CALL;
    the artifact is support-pruned, so it stays bounded at any corpus
    size (the Apriori downward-closure argument — at real minsup this
    is a model artifact, not data), exactly the persisted-feature
    posture of ``_minhash_sig8``."""
    return spool(
        _basket_pairs(spark, sf_dir)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("__nuv"))
        .filter(F.col("__nuv") >= 2)
    )


@session_artifact("doc_clusters")
def _doc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster labels for the documents table — the SHARED
    artifact of the dedup shelf: `dedup_clusters` runs a spooled
    O(log n) fixpoint, and three queries (dedup_clusters,
    dedup_survivors, cluster_safe_split) need the identical (doc_id,
    cluster) frame, so the first caller in a session pays the fixpoint
    and the rest read the spool."""
    return spool(dd.dedup_clusters(_docs_parallel(spark, sf_dir), "text", "doc_id"))


@session_artifact("minhash_sig8")
def _minhash_sig8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 8-hash MinHash signature + shingle frame over documents
    (doc_id, __sh, mh0..mh7), spooled once per session — the shared
    artifact of the 8-hash near-dup shelf: three queries
    (`banding_recall_audit`, `near_dup_jaccard_banded`,
    `edit_distance_near_dup`) band over the IDENTICAL signatures, and
    the first two also verify on the identical shingle sets, so the
    first caller pays the one shingle+md5 scan and the rest read the
    spool. At 100 TB this IS the persisted feature-index posture
    (`incremental_near_dups`' index_features): signatures band,
    shingles verify, text itself never re-scanned per query."""
    return spool(
        dd.minhash_signature(
            _docs_parallel(spark, sf_dir),
            "text",
            "doc_id",
            8,
            keep_shingles=True,
        )
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token count, quality score, language-ID, fingerprint."""
    d = _docs_parallel(spark, sf_dir)
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.round(quality_score("text"), 9).alias("qualidade"),
        lang_id("text").alias("idioma_pred"),
        fingerprint("text").alias("fingerprint"),
    )


def q_doc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per identical text."""
    d = read_table(spark, sf_dir, "documents")
    return dd.exact_dedup(d, "text", "doc_id").select("doc_id", "lang", "source")


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (4 min-wise hashes over 3-word shingles),
    read from the session-shared `_minhash_sig4` spool view."""
    return _minhash_sig4(spark, sf_dir).drop("__sh")


def _minhash_sig4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 4-hash signature + shingle view of `_minhash_sig8`: hash i
    of the md5-slice family is the same expression whatever n_hashes
    is (slice i%4 of digest group i//4), so the first four columns of
    the 8-hash spool ARE the 4-hash signature bit-for-bit — the whole
    4-hash shelf (`minhash_signatures`, `near_dup_jaccard`,
    `containment_near_dup`, `incremental_dedup`) rides the one spooled
    scan for free.

    Cold-session cost (ADVICE r8): because the spool is EAGER, a
    session whose first (or only) MinHash query needs 4 hashes still
    pays the 8-hash digest work plus one spool write — roughly 2× the
    md5 cost of a lazy 4-hash scan. Deliberate: the shelf posture
    assumes a session serves the family, not one query, and keying the
    spool by n_hashes would double-build (4 then 8) in exactly the
    sessions that touch both. The one-off overpay is bounded (digest
    slice width, not extra scans) and is charged to
    `spool_build_seconds` in the bench, never to a query."""
    sig = _minhash_sig8(spark, sf_dir)
    return sig.select("doc_id", "__sh", "mh0", "mh1", "mh2", "mh3")


def q_near_dup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates + exact n-gram Jaccard verify on
    candidates. Signatures and verify shingles from the session-shared
    `_minhash_sig4` spool view."""
    sig = _minhash_sig4(spark, sf_dir)
    cands = dd.near_dup_pairs_from_sig(sig.drop("__sh"), "doc_id", 4)
    verified = cands.join(
        sig.select(F.col("doc_id").alias("id_a"), F.col("__sh").alias("__sha")),
        "id_a",
    ).join(
        sig.select(F.col("doc_id").alias("id_b"), F.col("__sh").alias("__shb")),
        "id_b",
    )
    inter = F.size(F.array_intersect("__sha", "__shb")).cast("double")
    union = F.size(F.array_union("__sha", "__shb")).cast("double")
    return verified.select(
        "id_a", "id_b", "n_agree", F.round(inter / union, 9).alias("jaccard")
    )


def q_containment_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subset-duplicate detection: MinHash-LSH candidates + exact
    max-containment |A∩B| / min(|A|,|B|) ≥ 0.8 verify.

    The duplicate class Jaccard structurally misses: a document pasted
    verbatim inside one 5× larger scores j ≈ 0.2 (below every dedup
    bar) but containment 1.0 — the boilerplate-wrapped / quote-expanded
    dup a training corpus accumulates. Candidates use the PERMISSIVE
    r=1 banding deliberately: containment targets low-Jaccard pairs by
    nature, and MinHash collision probability follows Jaccard, so the
    steep r≥2 S-curve that is correct for near_dup_jaccard_banded would
    crush exactly the pairs this detector exists to find (P[candidate]
    at j=0.2: 59% with 4×r=1 vs 1.6% with 2×r=2). The verify bar then
    restores precision. Set sizes ride along so the output shows which
    side is the fragment. Signatures and verify shingles from the
    session-shared `_minhash_sig4` spool view.
    """
    sig = _minhash_sig4(spark, sf_dir)
    cands = dd.near_dup_pairs_from_sig(sig.drop("__sh"), "doc_id", 4)
    verified = cands.join(
        sig.select(F.col("doc_id").alias("id_a"), F.col("__sh").alias("__sha")),
        "id_a",
    ).join(
        sig.select(F.col("doc_id").alias("id_b"), F.col("__sh").alias("__shb")),
        "id_b",
    )
    inter = F.size(F.array_intersect("__sha", "__shb")).cast("double")
    smaller = F.least(F.size("__sha"), F.size("__shb")).cast("double")
    con = verified.select(
        "id_a",
        "id_b",
        "n_agree",
        F.size("__sha").cast("long").alias("n_sh_a"),
        F.size("__shb").cast("long").alias("n_sh_b"),
        (inter / smaller).alias("containment"),
    )
    return con.filter(F.col("containment") >= 0.8).select(
        "id_a",
        "id_b",
        "n_agree",
        "n_sh_a",
        "n_sh_b",
        F.round("containment", 9).alias("containment"),
    )


def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate mining: the top-5 most document-frequent shingles per
    source — the concrete strings a C4-style cleaning pass would strip
    (navigation, footers, injected templates repeat VERBATIM across a
    source's documents; organic text doesn't).

    ``shingles()`` is per-doc distinct, so ``count(*)`` over the
    exploded (source, shingle) pairs IS document frequency — no
    count-distinct shuffle. The share is exact integer ppm
    (df·10⁶ // n_docs), and the top-5 uses row_number over the total
    order (df desc, shingle asc), so the cut is deterministic in any
    engine. Scale shape: one map-side-combinable (source, shingle)
    aggregate; the rank's per-source partition holds the source's
    DISTINCT-shingle vocabulary (bounded by content diversity), never
    the corpus — and at 100 TB you'd pre-filter df ≥ k before ranking,
    which this plan admits without reshaping.
    """
    d = _docs_parallel(spark, sf_dir)
    ex = d.select("source", F.explode(dd.shingles(F.col("text"))).alias("shingle"))
    df_counts = ex.groupBy("source", "shingle").agg(F.count("*").alias("df"))
    n_docs = d.filter(F.col("text").isNotNull()).groupBy("source").agg(
        F.count("*").alias("n_docs")
    )
    w = Window.partitionBy("source").orderBy(F.col("df").desc(), F.col("shingle").asc())
    return (
        df_counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .join(F.broadcast(n_docs), "source")
        .select(
            "source",
            "shingle",
            F.col("df").cast("long").alias("df"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.expr("df * 1000000 div n_docs").alias("share_ppm"),
        )
    )


def q_gapfill_weeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense calendar resample (gap-fill): per-status weekly revenue on
    a COMPLETE week spine — absent (status, week) cells surface as
    explicit zero rows instead of silently missing.

    The time-series staple every dashboard/forecast consumer needs (a
    lag/delta over a sparse series silently compares non-adjacent
    weeks). The spine is built IN-PLAN: one-row min/max aggregate →
    ``sequence(lo, hi, interval 7 days)`` explode → broadcast cross
    join with the distinct-status dimension — no driver collect, no
    literal calendar. Fact rows shuffle exactly once (the weekly
    aggregate); the spine join touches only post-aggregation rows
    (|weeks| × |statuses|), so the fill costs nothing at 100 TB.
    Revenue stays DECIMAL through the fill (zero is exact) and casts
    to double once at the edge.
    """
    o = read_table(spark, sf_dir, "orders")
    wk = o.groupBy(
        F.col("o_orderstatus").alias("status"),
        F.date_trunc("week", "o_orderdate").cast("date").alias("__wk"),
    ).agg(
        F.sum(F.col("o_totalprice").cast(MONEY)).alias("__dec"),
        F.count(F.lit(1)).alias("__n"),
    )
    span = o.agg(
        F.date_trunc("week", F.min("o_orderdate")).cast("date").alias("lo"),
        F.date_trunc("week", F.max("o_orderdate")).cast("date").alias("hi"),
    )
    spine = span.select(
        F.explode(F.expr("sequence(lo, hi, interval 7 days)")).alias("__d")
    ).select(F.col("__d").cast("date").alias("__wk"))
    statuses = o.select(F.col("o_orderstatus").alias("status")).distinct()
    full = spine.crossJoin(F.broadcast(statuses))  # bounded: 3 order statuses
    return full.join(wk, ["status", "__wk"], "left").select(
        "status",
        F.date_format("__wk", "yyyy-MM-dd").alias("semana"),
        F.coalesce(F.col("__dec"), F.lit(0).cast(MONEY)).cast("double").alias("valor_total"),
        F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_orders"),
    )


def q_grouped_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe grouped split: every document of a source lands on
    the SAME side (split keyed on md5(source), not doc_id) — the split
    discipline that stops near-identical intra-source documents from
    straddling train and eval.

    The no-straddle invariant is structural, not audited after the
    fact: the split column is a pure function of the group key, so a
    source cannot appear in two splits in ANY engine. Same zero-
    shuffle split expression as train_split; the audit aggregate
    shuffles (split, partials) only. n_sources is exact distinct per
    split — group keys are disjoint across splits, so the counts sum
    to the corpus total.
    """
    d = read_table(spark, sf_dir, "documents")
    return (
        smp.hash_split(d, "source")
        .groupBy("split")
        .agg(
            F.countDistinct("source").alias("n_sources"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: for each probe vector, the top-5 most
    cosine-similar vectors with a DIFFERENT label — the contrastive-
    training data prep step (easy negatives teach nothing; the
    near-miss neighbors carry the gradient).

    Same one-scan shape as embedding_batch_topk (broadcast probe rows,
    per-row scoring inside one map stage) plus the label-mismatch
    predicate, which is evaluated BEFORE the cosine so same-label rows
    — the bulk, in a clustered corpus — never pay the 64-dim fold.
    The per-probe top-k shuffles (query_id, id, label, score) tuples
    only, never vectors.
    """
    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("embedding").alias("__qv"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))  # bounded: 4 probe vectors (vec_id < 4)
        .filter(F.col("label") != F.col("query_label"))
        .select(
            "query_id",
            "query_label",
            "vec_id",
            F.col("label").alias("neg_label"),
            sim.cosine(F.col("embedding"), F.col("__qv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 5)
        .drop("__rn")
    )


def q_event_value_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation event-value rollup through the customer→nation
    dimension — the batch twin of ``enrich_stream`` (both share ONE
    oracle, the drift_stream kappa-parity pattern). Inner join on
    user_id = c_custkey: feed rows without a matching customer drop,
    mirrored in the oracle.

    Scale: the customer dim is data-proportional, so no broadcast
    hint (VERDICT r10 #1) — the size-checked planner/AQE broadcasts
    it where it actually fits; the fact scans once, aggregates
    map-side, and only |nations| (count, decimal sum) partials
    shuffle. DECIMAL keeps the totals partitioning-independent.
    """
    from .streaming.enrich import _finalize, _nation_dim  # noqa: PLC0415

    e = read_table(spark, sf_dir, "events").select("user_id", "value")
    dim = _nation_dim(spark, sf_dir)
    agg = (
        e.join(dim, F.col("user_id") == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("__v"),
        )
    )
    return _finalize(agg)


def q_enrich_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``event_value_by_nation``: the live feed
    joined MAP-SIDE to the static customer→nation dim (stream-static
    join — zero join state, the production dim-enrich shape), rolled
    up per nation in complete mode and drained availableNow
    (streaming/enrich.py). Shares the batch twin's oracle: replay the
    stream, get the batch answer, verified by hash."""
    from .streaming.enrich import enrich_stream  # noqa: PLC0415

    return enrich_stream(spark, sf_dir)


def q_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-center greedy coreset selection (Gonzalez 1985, the 2-approx
    farthest-point heuristic; Sener & Savarese 2018 for its coreset
    use): pick k=4 maximally-spread vectors — the diverse-subset
    selection a training pipeline runs when it wants coverage of the
    embedding space rather than a uniform sample (actively used for
    data-efficient finetuning / eval-set construction). Start at the
    min vec_id, then 3× take the vector FARTHEST from the chosen set.

    Determinism: distances are the SQL-rendered ``exact_sqdist``
    against literal center vectors (rational ops on exact floats,
    round 9 — bit-identical cross-engine), argmax ties break to the
    lowest vec_id, so the greedy trajectory is engine-exact and the
    DuckDB oracle replays it with 4 unrolled CTE levels. Each chosen
    center is a bounded ONE-ROW collect (the k-means-centroid model-
    artifact posture); everything else is map-side.

    Scale: per round one scan computing least(prev_min, dist-to-new-
    center) — k scans total, zero shuffles until the final ≤k-row
    assignment count. At 100 TB this is exactly how coreset selection
    runs: k bounded, distances fused into the scan, the only driver
    state k vectors. Output: each center with its assigned-vector
    count and coverage radius (the max assigned distance — the
    quantity the 2-approx bounds).
    """
    k = 4
    e = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    # each collect returns the row WITH its vector — one bounded
    # one-row job per center, never a separate vector-fetch scan
    first = e.orderBy("vec_id").limit(1).collect()[0]
    centers = [(first["vec_id"], [float(x) for x in first["embedding"]])]
    cur = e.select(
        "vec_id",
        "embedding",
        F.round(sim.exact_sqdist("embedding", centers[0][1]), 9).alias("__d"),
    )
    for _ in range(k - 1):
        far = cur.orderBy(F.col("__d").desc(), "vec_id").limit(1).collect()[0]
        centers.append((far["vec_id"], [float(x) for x in far["embedding"]]))
        cur = cur.select(
            "vec_id",
            "embedding",
            F.least(
                F.col("__d"),
                F.round(sim.exact_sqdist("embedding", centers[-1][1]), 9),
            ).alias("__d"),
        )
    # assign each vector to its nearest center (distance ties to the
    # earlier-chosen center), then per-center occupancy + radius
    assign = F.lit(0)
    best = F.round(sim.exact_sqdist("embedding", centers[0][1]), 9)
    for i in range(1, k):
        di = F.round(sim.exact_sqdist("embedding", centers[i][1]), 9)
        assign = F.when(di < best, F.lit(i)).otherwise(assign)
        best = F.least(best, di)
    assigned = e.select(assign.alias("__c"), best.alias("__d"))
    center_tbl = spark.createDataFrame(
        [(i, cid) for i, (cid, _) in enumerate(centers)],
        "center_idx int, center_vec_id long",
    )
    return (
        assigned.groupBy("__c")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            F.max("__d").alias("coverage_radius"),
        )
        .join(F.broadcast(center_tbl), F.col("__c") == F.col("center_idx"))  # bounded: k = 4 centers
        .select(
            "center_idx",
            "center_vec_id",
            F.col("n_assigned").cast("long").alias("n_assigned"),
            "coverage_radius",
        )
        .orderBy("center_idx")
    )


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + local clustering coefficient on the
    co-purchase graph — the subgraph-counting companion to
    ``pagerank_items``'s centrality (community cohesion: a part whose
    neighbors also co-occur with each other anchors a bundle; one
    whose neighbors never meet is a bridge). The MapReduce classic
    (Suri & Vassilvitskii, WWW'11): orient edges low→high degree, so
    every triangle {a,b,c} is found exactly once as the wedge
    (a–b, a–c) closed by edge (b–c) — here in the COMPACTED adjacency
    form (r11): wedges stay implicit as per-apex sorted-suffix arrays
    and close via array_intersect against the middle node's
    out-neighbor array, instead of materializing ~36M wedge rows into
    a (b,c)-keyed semi-join (the r9/r10 shape, measured 7.9 s; this
    form ~3 s — the third exact-count attempt VERDICT r10 #4 asked
    for, and the first to win).

    Integer-exact throughout: triangle counts are BIGINTs; the local
    clustering coefficient 2·T(v)/(deg(v)·(deg(v)−1)) is ONE rational
    double rounded at the edge (IEEE-exact cross-engine). Scale: edges
    orient LOW-degree → HIGH-degree (ties to the lower id), so suffix
    arrays grow only at low-degree apexes — the O(m^1.5) bound that
    makes triangle counting tractable on POWER-LAW graphs (real
    co-purchase and crawl graphs), where the naive Σ deg² explodes at
    hub nodes; the per-node out-adjacency array is ≤ O(√m) elements
    under this orientation, so no row is unbounded. The triangle SET
    is orientation-independent, so the DuckDB oracle keeps the simpler
    id-orientation wedge join and hashes identical results. Top-10 by
    (triangles, part).
    """
    edges = _edges_uv(spark, sf_dir)  # u < v by construction, spooled
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("__deg"))
    )
    # Degree-orient: src = the (deg, id)-smaller endpoint. Wedges then
    # form only at low-degree apexes (Suri–Vassilvitskii), and the
    # closing edge between b and c carries the same orientation, so
    # each triangle closes exactly once.
    du = deg.select(F.col("node").alias("u"), F.col("__deg").alias("__du"))
    dv = deg.select(F.col("node").alias("v"), F.col("__deg").alias("__dv"))
    ed = edges.join(du, "u").join(dv, "v")
    u_first = (F.col("__du") < F.col("__dv")) | (
        (F.col("__du") == F.col("__dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("__dv")).otherwise(F.col("__du")).alias("__ddst"),
    )
    # Compacted wedge closure (r11-opt, VERDICT r10 #4, guide §2.3):
    # the r9/r10 shape MATERIALIZED every wedge as a row (the e1⋈e2
    # self-join — ~36M (a,b,c) rows at sf0.1) and shuffled them all
    # into a (b,c)-keyed semi-join against the edge set (~900 MB of
    # exchange). Compaction keeps the wedge set implicit: each apex's
    # out-neighbors are collected ONCE into an array sorted by the
    # same (degree, id) total order the wedge filter used; one row per
    # oriented edge (a→b) then carries the SUFFIX of a's adjacency
    # after b — exactly the former wedge partners
    # {c : (__db,b) < (__dc,c)} — and array_intersect(suffix, N⁺(b))
    # applies the former semi-join predicate (c ∈ N⁺(b)) as an
    # in-partition set operation. Only actual TRIANGLES (~0.2M rows)
    # ever materialize; the shuffled bytes drop to the adjacency
    # build (30 MB) + one |E|-row suffix exchange. Same triangle set
    # by construction — hash-identical output, pinned by the oracle
    # and the brute-force clique test.
    adj = oriented.groupBy("src").agg(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("__ddst").alias("d"), F.col("dst").alias("v"))
                )
            ),
            lambda s: s["v"],
        ).alias("__nbrs")
    )
    sfx = (
        adj.select(
            F.col("src").alias("a"),
            F.col("__nbrs"),
            F.posexplode("__nbrs").alias("__i", "b"),
        )
        .select(
            "a",
            "b",
            F.expr("slice(__nbrs, __i + 2, size(__nbrs))").alias("__cs"),
        )
        .filter(F.size("__cs") > 0)
    )
    nb = adj.select(F.col("src").alias("b"), F.col("__nbrs").alias("__nb"))
    tris = sfx.join(nb, "b").select(
        "a", "b", F.explode(F.array_intersect("__cs", "__nb")).alias("c")
    )
    per_node = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        per_node.join(deg, "node")
        .select(
            F.col("node").alias("part"),
            F.col("__deg").cast("long").alias("degree"),
            F.col("triangles").cast("long").alias("triangles"),
            F.when(
                F.col("__deg") >= 2,
                F.round(
                    F.lit(2.0)
                    * F.col("triangles").cast("double")
                    / (
                        F.col("__deg").cast("double")
                        * (F.col("__deg").cast("double") - 1.0)
                    ),
                    9,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
        .orderBy(F.col("triangles").desc(), "part")
        .limit(10)
    )


def q_maxsim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval (ColBERT MaxSim, Khattab & Zaharia
    2020): score each document against the probe doc as the SUM over
    probe chunks of the MAX cosine to any document chunk — the
    fine-grained relevance model that whole-doc embeddings blur (a doc
    matching every part of the query beats one matching a single part
    strongly). Probe = the corpus's min doc_id; chunks = 64-char
    windows; chunk features = 8-dim byte-stride sums (the
    ``embed_stub`` convention — deterministic stand-ins for real chunk
    encoders, with the plumbing and the math real and mirrored).

    Float policy: chunk features are exact integer byte sums, each
    pair cosine is ONE double expression over exact integers
    (dot/(√ssa·√ssb), round 9 — sqrt and ÷ are IEEE-correctly-rounded,
    so bit-exact cross-engine), the per-(doc, probe-chunk) max is over
    rounded values, and the MaxSim sum runs in DECIMAL(12,9) so
    addition order cannot matter. Zero-norm chunks are excluded (their
    cosine is 0/0) in both engines.

    Scale: this IS the ColBERT serving shape — the probe's chunk table
    is a bounded broadcast (one doc), document chunk features compute
    map-side in the scan (at 100 TB they are a precomputed index
    column, like PQ codes), and the shuffle carries only
    (doc, probe_chunk, max-partial) tuples with map-side max combine.
    Nothing quadratic in the corpus; per-doc cost is |doc chunks| ×
    |probe chunks| inside the map stage.
    """
    chunk_w, dims = 64, 8
    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    n_chunks = F.ceil(F.length("text") / F.lit(chunk_w)).cast("int")
    chunks = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("c_idx"),
        F.col("text"),
    ).select(
        "doc_id",
        "c_idx",
        F.expr(f"substr(text, c_idx * {chunk_w} + 1, {chunk_w})").alias("__ck"),
    )
    # The CASE guard: Spark's sequence(a, b, step) requires a <= b for a
    # positive step (a final chunk shorter than the stride offset would
    # throw); DuckDB's generate_series just returns empty — the guard
    # makes both produce an exact 0 for strides past the chunk end.
    stride_sum = [
        F.expr(
            f"CASE WHEN length(__ck) >= {c + 1} THEN "
            f"aggregate(transform(sequence({c + 1}, length(__ck), {dims}), "
            f"j -> ascii(substr(__ck, j, 1))), 0L, (acc, x) -> acc + x) "
            f"ELSE 0L END"
        ).alias(f"s{c}")
        for c in range(dims)
    ]
    # spooled: the chunk-feature frame is the precomputed index column
    # the docstring promises — the probe projection and the scoring
    # join otherwise each re-ran the ascii-stride feature stack

    feats = spool(
        chunks.select("doc_id", "c_idx", *stride_sum)
        .withColumn(
            "__ss",
            sum(F.col(f"s{c}") * F.col(f"s{c}") for c in range(dims)),
        )
        .filter(F.col("__ss") > 0)
    )
    probe_id = d.agg(F.min("doc_id").alias("__qid"))
    q = (
        feats.join(F.broadcast(probe_id), feats["doc_id"] == probe_id["__qid"])
        .select(
            F.col("c_idx").alias("q_idx"),
            *[F.col(f"s{c}").alias(f"q{c}") for c in range(dims)],
            F.col("__ss").alias("__qss"),
        )
    )
    dot = None
    for c in range(dims):
        t = F.col(f"s{c}") * F.col(f"q{c}")
        dot = t if dot is None else dot + t
    cos = F.round(
        dot.cast("double")
        / (F.sqrt(F.col("__ss").cast("double")) * F.sqrt(F.col("__qss").cast("double"))),
        9,
    )
    pairs = (
        feats.crossJoin(F.broadcast(probe_id))
        .filter(F.col("doc_id") != F.col("__qid"))
        .join(F.broadcast(q))
        .select("doc_id", "q_idx", cos.alias("__cos"))
    )
    per_q = pairs.groupBy("doc_id", "q_idx").agg(F.max("__cos").alias("__mx"))
    return (
        per_q.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_probe_chunks"),
            F.sum(F.col("__mx").cast("decimal(12,9)"))
            .cast("double")
            .alias("maxsim"),
        )
        .orderBy(F.col("maxsim").desc(), "doc_id")
        .limit(10)
    )


def q_pagerank_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-ppm PageRank over the product co-purchase graph — link
    analysis on the item graph (the relational face of the crawl-graph
    centrality a web-corpus pipeline uses for quality priors; Page et
    al. 1999). Edges: distinct directed part pairs sharing an order
    (the ``basket_pairs`` fan-out, symmetric); 3 unrolled power
    iterations of r' = 0.15 + 0.85·Σ r(u)/deg(u), uniform start.

    Float policy: ranks live as ppm BIGINTs (start 1,000,000 = uniform
    × N) and every iteration is pure integer arithmetic —
    ``r div deg`` per edge, ``(85 · Σ) div 100`` per node — so the
    fixpoint is bit-identical cross-engine with NO rounding sites at
    all (the BPE-merges precedent: unroll the loop, keep integers).
    Symmetric edges mean no dangling mass; truncation loss per step is
    < deg ppm, the standard price of fixed-point PageRank.

    Scale: the basket fan-out is quadratic only within an order
    (bounded, ~7 lineitems); the degree-annotated edge list is SPOOLED
    once (without it every iteration would recompute the whole basket
    fan-out lineage — measured 31 exchanges vs ≤12), then each
    iteration is ONE shuffle of (node, rank) tuples joined against the
    spooled edges — the Pregel shape with census-row payloads, never
    baskets. 3 iterations = 3 joins; top-20 is TakeOrderedAndProject
    under a total order.
    """
    edges_deg = _edges_sym_deg(spark, sf_dir)
    deg = edges_deg.select("u", "__deg").distinct()
    r = deg.select(F.col("u").alias("node"), F.lit(1000000).cast("long").alias("__r"))
    for _ in range(3):
        r = (
            edges_deg.join(r, edges_deg["u"] == r["node"])
            .groupBy("v")
            .agg(F.sum(F.expr("__r div __deg")).alias("__s"))
            .select(
                F.col("v").alias("node"),
                (F.lit(150000) + F.expr("(85 * __s) div 100")).cast("long").alias("__r"),
            )
        )
    return (
        r.join(deg, r["node"] == deg["u"])
        .select(
            F.col("node").alias("part"),
            F.col("__deg").cast("long").alias("degree"),
            F.col("__r").alias("rank_ppm"),
        )
        .orderBy(F.col("rank_ppm").desc(), "part")
        .limit(20)
    )


def q_prefix_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-prefix duplicate groups: documents whose first 12 tokens
    are identical — the crawl-artifact class (shared boilerplate
    headers, truncated re-crawls, templated pages) that slips past
    whole-document MinHash when tails diverge but is pure noise for
    training mixes. The operational sibling of ``containment`` /
    ``cross_doc_block_dedup`` at the cheapest possible granularity.

    One shuffle of (prefix-md5, doc_id, source) triples — text never
    leaves the scan — then group stats for groups of ≥ 2: size,
    distinct sources (cross-source prefix sharing is the template
    signal), representative min doc_id, and the prefix itself for
    triage. At 100 TB this is exactly exact-dedup's cost profile with
    a 12-token key instead of the full text digest.
    """
    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    toks = F.split(F.col("text"), " ")
    prefix = F.array_join(F.slice(toks, 1, 12), " ")
    keyed = d.select(
        "doc_id", "source", prefix.alias("__pfx"), F.md5(prefix).alias("__k")
    )
    groups = (
        keyed.groupBy("__k")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
            F.min("doc_id").alias("rep_doc_id"),
            F.min("__pfx").alias("prefix"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return groups.select(
        "rep_doc_id", "n_docs", "n_sources", "prefix"
    ).orderBy(F.col("n_docs").desc(), "rep_doc_id")


# Benford first-digit proportions in ppm: round(log10(1 + 1/d) * 1e6).
# Mathematical constants inlined as identical literals in the Spark
# plan and the DuckDB oracle (the pq_distance_table convention — no
# engine evaluates a transcendental), and they sum to exactly 1e6.
_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def q_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-balanced shard assignment audit: assign documents to 8
    output shards by snake-order rank (sort by size DESC, shard =
    zigzag(rank) so the biggest 8 docs land on 8 different shards and
    each shard alternates picking from the large and small end — the
    deterministic one-pass approximation of greedy longest-processing-
    time bin packing, LPT, Graham 1969). This is the layout step a
    corpus pipeline runs before writing training shards: equal-SIZE
    shards (not equal-count) keep data-parallel readers in step, and
    doc-count-based splitting skews badly under heavy-tailed sizes.

    Output: per-shard census — docs, total chars, and the skew vs the
    ideal equal split in ppm ((total − ideal)·1e6 div ideal, ideal =
    grand div 8) — all BIGINT, rank ties pinned by (n_chars DESC,
    doc_id). At 100 TB the rank is the only global stage and it ranks
    (size, id) census pairs, not documents; the assignment is a pure
    expression over the rank (the curriculum_order single-partition
    caveat and its two-pass scale-out apply identically).

    Snake order: shard = rank%8 on even passes, 7−rank%8 on odd —
    pass p = rank div 8.
    """
    d = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    # bucketed two-pass global rank (operators/windows.py) — no
    # unbounded Exchange(SinglePartition); was the documented
    # single-partition edge until r6
    ranked = global_rank_scaled(
        d, "n_chars", "__rn", ascending=False, tiebreaks=("doc_id",)
    ).select("n_chars", (F.col("__rn") - 1).alias("__r"))
    shard = F.when(
        F.expr("(__r div 8) % 2 = 0"), F.expr("__r % 8")
    ).otherwise(F.expr("7 - (__r % 8)"))
    per = (
        ranked.select(shard.cast("int").alias("shard"), "n_chars")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )
    per = per.withColumn(
        "__grand", F.sum("total_chars").over(Window.partitionBy())
    )
    # skew can be NEGATIVE — probed before trusting: Spark `div` and
    # DuckDB `//` BOTH truncate toward zero (-7 div 8 = -7//8 = 0), so
    # the plain quotient is cross-engine exact on negatives too
    return per.select(
        "shard",
        "n_docs",
        "total_chars",
        F.expr(
            "((total_chars - __grand div 8) * 1000000) div (__grand div 8)"
        ).alias("skew_ppm"),
    ).orderBy("shard")


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit of order line prices
    (Benford 1938; Nigrini's fraud-audit use): compare the observed
    leading-digit distribution against log10(1+1/d) — the standard
    screen for fabricated or truncated monetary data a warehouse runs
    per ingest batch. TPC-H prices are formulaic, NOT Benford — the
    audit exists to REPORT deviation, and here it honestly reports a
    large one (a correct negative control).

    Float policy: prices become exact DECIMAL cents; the leading digit
    of cents equals the leading digit of the price (×100 shifts the
    decimal point, not the significand). Benford targets are inlined
    ppm literals (they sum to exactly 1e6), observed shares are
    integer ppm, and the per-digit χ²-style deviation
    (obs−exp)² div exp is pure BIGINT — no transcendental evaluated
    anywhere, no rounding site at all.

    Scale: ONE map-side-combined 9-group aggregate fused into the fact
    scan; the digit table is a 9-row broadcast. Nothing else.
    """
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",)).select(
        "l_extendedprice"
    )
    cents = (F.col("l_extendedprice").cast(MONEY) * 100).cast("long")
    obs = (
        li.select(cents.alias("__c"))
        .filter(F.col("__c") > 0)
        .groupBy(F.substring(F.col("__c").cast("string"), 1, 1).cast("int").alias("digit"))
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    # total via a global window over the 9-row digit census (not a
    # separate agg, which would re-run the fact scan lineage twice)
    obs = obs.withColumn("__t", F.sum("n_obs").over(Window.partitionBy()))
    bl = spark.createDataFrame(
        sorted(_BENFORD_PPM.items()), "digit int, benford_ppm long"
    )
    return (
        obs.join(F.broadcast(bl), "digit")
        .select(
            "digit",
            F.col("n_obs").cast("long").alias("n_obs"),
            F.expr("(n_obs * 1000000) div __t").alias("obs_ppm"),
            "benford_ppm",
            F.expr(
                "((n_obs * 1000000) div __t - benford_ppm)"
                " * ((n_obs * 1000000) div __t - benford_ppm) div benford_ppm"
            ).alias("chi2_ppm"),
        )
        .orderBy("digit")
    )


def q_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling census (Seidman 1983; Batagelj–Zaveršnik
    for the peel): 3 unrolled rounds of "drop nodes with degree < k,
    re-derive the induced subgraph" on the co-purchase graph, with
    k = the exact MEDIAN original degree (rank-selected at
    (n+1) div 2 under the (degree, node) total order — the
    histogram_quantiles exact-arm convention), so the threshold adapts
    to any scale without a data-dependent loop count. The census
    (nodes, edges per round) is the graph-quality audit a link-corpus
    pipeline runs before trusting centrality: a collapsing core means
    the graph is hairball-plus-tendrils; a stable one means cohesion.
    Fixed depth keeps the trajectory engine-exact (the LPA/BPE
    unrolled-loop precedent) — the true fixpoint is this loop run to
    stability, checkpointed via ``graft_checkpoint`` at cluster scale.

    Scale: each round is one degree aggregation over the base edge
    spool double-semi-joined with the surviving node set. Only the
    per-round (node, degree) CENSUS is spooled (kilobyte-scale node
    lists) — never the induced edge list. Because survivor sets are
    nested (S_r ⊆ S_{r-1}), the round-r induced subgraph of round
    r−1's graph EQUALS the induced subgraph of the ORIGINAL graph on
    S_r, so every round re-derives its edges from the ONE shared
    `_edges_uv` spool: bounded lineage with no edge-list re-writes
    (the r6 cold-session profile showed the 4 eager edge spools
    dominating — 62.6 s cold at sf0.01/8 cpus; this shape removes
    them). n_edges = Σdeg div 2 rides the same census, so each round
    is exactly one pass over the base edges. All-integer output.
    """

    edges = _edges_uv(spark, sf_dir)  # u < v, shared spool

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("__deg"))
        )

    deg0 = spool(degrees(edges))  # round-0 (node, degree) census
    w = Window.orderBy("__deg", "node")
    kf = (
        deg0.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy()))
        .filter(F.col("__rn") == F.expr("(__n + 1) div 2"))
        .select(F.col("__deg").alias("__k"))
    )
    rows = []
    deg = deg0
    for rnd in range(4):
        rows.append(
            deg.agg(
                F.count(F.lit(1)).cast("long").alias("n_nodes"),
                F.coalesce(F.expr("sum(__deg) div 2"), F.lit(0))
                .cast("long")
                .alias("n_edges"),
            ).select(F.lit(rnd).cast("int").alias("round"), "n_nodes", "n_edges")
        )
        if rnd == 3:
            break
        kept = deg.crossJoin(F.broadcast(kf)).filter(
            F.col("__deg") >= F.col("__k")
        ).select("node")
        induced = (
            edges.join(kept.withColumnRenamed("node", "u"), "u")
            .join(kept.withColumnRenamed("node", "v"), "v")
            .select("u", "v")
        )
        deg = spool(degrees(induced))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.crossJoin(F.broadcast(kf.select(F.col("__k").cast("long").alias("k_threshold")))).orderBy(
        "round"
    )


def q_ewma_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart over weekly event value (Roberts 1959 — the
    exponentially-weighted monitor that reacts to small sustained
    level shifts CUSUM's peak statistic and the χ² drift monitor both
    smear): per event type, s₁ = x₁ and sₜ = (7·sₜ₋₁ + xₜ) div 8
    (α = 1/8 as an exact dyadic rational), reported per week beside
    the actual and the signed deviation.

    Float policy: weekly totals become integer CENTS via one exact
    DECIMAL sum ×100, and the recurrence is pure BIGINT — a
    sequential fold no windowed SUM can express order-independently,
    made engine-exact by running it in the ARRAY domain:
    ``aggregate(slice(...))`` prefix folds over the week-sorted
    per-type array, mirrored by DuckDB ``list_reduce`` (whose
    first-element-as-init convention equals our slice-from-2 + x₁
    init). O(weeks²) per type — weeks is a bounded census axis, the
    same posture as the drift grid.

    Scale: ONE map-side-combined (type, week) decimal aggregation over
    the fact scan; everything after operates on |types|·|weeks| census
    rows collected into |types| bounded arrays. The per-type state is
    an array of weekly cents — kilobytes at any corpus size.
    """
    e = read_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    win = F.window("ts", "7 days")
    weekly = (
        e.groupBy(win["start"].alias("__wk"), "event_type")
        .agg((dsum_dec("value") * 100).cast("long").alias("__x"))
    )
    arr = weekly.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("__wk").alias("w"), F.col("__x").alias("x")))
        ).alias("__a")
    )
    a = F.col("__a")
    # the integer recurrence (7·acc + x) div 8 as a BIGINT shift —
    # never through double division, whose 53-bit mantissa would go
    # inexact on large cent totals (α = 1/8 is dyadic precisely so the
    # divide is a shift)
    series = F.transform(
        F.sequence(F.lit(1), F.size(a)),
        lambda i: F.struct(
            F.element_at(a, i)["w"].alias("w"),
            F.element_at(a, i)["x"].alias("x"),
            F.aggregate(
                F.slice(a, 2, i - 1),
                F.element_at(a, 1)["x"],
                lambda acc, s: F.shiftright(F.lit(7) * acc + s["x"], 3),
            ).alias("s"),
        ),
    )
    ex = arr.select("event_type", F.explode(series).alias("__p"))
    return ex.select(
        "event_type",
        F.col("__p.w").alias("week_start"),
        F.col("__p.x").alias("actual_cents"),
        F.col("__p.s").alias("ewma_cents"),
        (F.col("__p.x") - F.col("__p.s")).alias("dev_cents"),
    ).orderBy("event_type", "week_start")


def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking + cross-doc chunk census (the
    rsync/LBFS boundary trick — Muthitacharoen et al. SOSP 2001; the
    CDC family FastCDC popularized): cut each document where
    md5(token) starts with hex '0' (P = 1/16 → ~16-token expected
    chunks), so chunk boundaries are CONTENT-anchored — an insertion
    early in a doc shifts fixed-size blocks (``strip_repeated_blocks``
    / ``cross_doc_block_dedup``) but leaves every later CDC chunk
    intact. The census lists multi-token chunks appearing in ≥ 2
    distinct docs: the shared-passage inventory a storage or
    training-data dedup layer keeps (and the variable-length complement to the fixed-block
    census).

    Determinism: boundaries, chunk extents and keys are md5/BIGINT
    derived; output is (chunk md5, text, token length, doc count,
    occurrence count) — integer-exact, no floats.

    Scale: tokenization and chunking fuse into the scan; the chunk
    frame is SPOOLED before explode (the winnow lesson: Generate
    inlines non-trivial array-producing expressions and re-evaluates
    them per output element — only real materialization blocks it),
    then ONE (chunk-md5 → counts) shuffle of census rows. Chunk text
    rides the shuffle only for the representative min() — at 100 TB
    you'd key on the digest alone and fetch text by join, the same
    posture as exact dedup's md5 groupBy.
    """

    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    t = d.select("doc_id", F.split(F.col("text"), " ").alias("__toks"))
    n = F.size(F.col("__toks"))
    b = t.select(
        "doc_id",
        "__toks",
        F.filter(
            F.sequence(F.lit(1), n),
            lambda i: F.substring(F.md5(F.element_at(F.col("__toks"), i)), 1, 1)
            == "0",
        ).alias("__bpos"),
    )
    nb = F.size(F.col("__bpos"))
    start = lambda j: F.when(j == 1, F.lit(1)).otherwise(  # noqa: E731
        F.element_at(F.col("__bpos"), j - 1) + 1
    )
    end = lambda j: F.when(  # noqa: E731
        j <= nb, F.element_at(F.col("__bpos"), j)
    ).otherwise(F.size(F.col("__toks")))
    chunks = b.select(
        "doc_id",
        F.filter(
            F.transform(
                F.sequence(F.lit(1), nb + 1),
                lambda j: F.concat_ws(
                    " ", F.slice(F.col("__toks"), start(j), end(j) - start(j) + 1)
                ),
            ),
            lambda c: c != "",
        ).alias("__chunks"),
    )
    ex = spool(chunks).select("doc_id", F.explode("__chunks").alias("__chunk"))
    return (
        ex.groupBy(F.md5("__chunk").alias("chunk_md5"))
        .agg(
            F.min("__chunk").alias("chunk"),
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occ"),
        )
        .withColumn("tok_len", F.size(F.split(F.col("chunk"), " ")).cast("long"))
        .filter((F.col("n_docs") >= 2) & (F.col("tok_len") >= 2))
        .select("chunk_md5", "chunk", "tok_len", "n_docs", "n_occ")
        .orderBy(F.col("n_docs").desc(), F.col("n_occ").desc(), "chunk_md5")
    )


def q_trust_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded trust propagation (TrustRank, Gyöngyi, Garcia-Molina &
    Pedersen VLDB 2004) on the co-purchase graph — the quality-prior
    pattern a web-corpus pipeline runs when it has a small vetted seed
    set and wants link-structure to extend it: personalized PageRank
    whose restart mass lands ONLY on the seeds, so trust decays with
    distance from the vetted core instead of spreading uniformly
    (``pagerank_items`` is the unpersonalized twin).

    Seeds: the 20 highest-degree nodes under the total (degree DESC,
    node ASC) order — the deterministic stand-in for an editorial
    whitelist. 3 unrolled iterations of
    r' = seed·150000 + (85·Σ r(u) div deg(u)) div 100 from an
    all-mass-on-seeds start — the ``pagerank_items`` integer-ppm
    policy (BIGINT throughout, zero rounding sites, bit-exact
    cross-engine); non-seed nodes never receive restart mass, so
    unreachable nodes stay at 0 and drop from the top-k naturally.

    Scale: same Pregel shape as PageRank — spooled degree-annotated
    edge list computed once, each iteration one (node, rank) shuffle;
    the seed table is a bounded top-k (broadcast-sized model
    artifact). Output: top 30 by trust with seed flag and degree.
    """

    edges_deg = _edges_sym_deg(spark, sf_dir)
    deg = edges_deg.select("u", "__deg").distinct()
    seeds = (
        deg.orderBy(F.col("__deg").desc(), "u")
        .limit(20)
        .select(F.col("u").alias("node"), F.lit(1).alias("__seed"))
    )
    # node table (id, degree, seed flag) spooled too: every iteration
    # and the final projection join it, and without the spool each of
    # the ~5 references re-runs the distinct + top-k lineage over the
    # edge list (wall ~equal at sf0.1 where nodes are tiny, but the
    # recomputation count grows with iterations — the spool pins it)
    nodes = spool(
        deg.join(seeds, deg["u"] == seeds["node"], "left").select(
            F.col("u").alias("node"),
            F.col("__deg"),
            F.coalesce(F.col("__seed"), F.lit(0)).alias("__seed"),
        )
    )
    r = nodes.select("node", (F.col("__seed") * F.lit(1000000)).cast("long").alias("__r"))
    for _ in range(3):
        agg = (
            edges_deg.join(r, edges_deg["u"] == r["node"])
            .groupBy("v")
            .agg(F.sum(F.expr("__r div __deg")).alias("__s"))
        )
        r = nodes.join(agg, nodes["node"] == agg["v"], "left").select(
            "node",
            (
                F.col("__seed") * F.lit(150000)
                + F.expr("(85 * coalesce(__s, 0)) div 100")
            ).cast("long").alias("__r"),
        )
    return (
        r.join(nodes, "node")
        .select(
            F.col("node").alias("part"),
            F.col("__deg").cast("long").alias("degree"),
            F.col("__seed").cast("int").alias("is_seed"),
            F.col("__r").alias("trust_ppm"),
        )
        .filter(F.col("trust_ppm") > 0)
        .orderBy(F.col("trust_ppm").desc(), "part")
        .limit(30)
    )


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) on the product co-purchase graph — the clustering
    companion to ``pagerank_items`` (centrality) and
    ``triangle_counts`` (cohesion): which groups of parts sell
    together? Init label = node id; 3 unrolled synchronous rounds of
    "adopt the most frequent neighbor label", ties broken to the
    SMALLEST label — the determinism rule that makes an otherwise
    order-sensitive heuristic bit-exact cross-engine (async LPA is
    nondeterministic by construction; synchronous + total tie order is
    the reproducible variant, the χ²/BPE unrolled-loop precedent).
    Output: one row per surviving community — size, representative
    min part — the training-mix-style census of basket clusters.

    All-integer trajectory: labels are part keys, votes are counts, the
    argmax is ROW_NUMBER under (count DESC, label ASC) — no floats
    anywhere, so the DuckDB oracle replays all 3 rounds with unrolled
    CTEs and hashes exactly.

    Scale: the basket fan-out (quadratic only within an order, ~7
    items) runs ONCE into a spooled symmetric edge list; each round is
    one (node, label) join against the spool + a (node, label) vote
    count + a per-node window — census-row payloads, the Pregel shape,
    never baskets. 3 rounds = fixed depth; at 100 TB rounds would be
    checkpointed via ``graft_checkpoint`` exactly like the CC fixpoint.
    """

    edges = _edges_sym_deg(spark, sf_dir).select("u", "v")
    # Round 1 runs on IDENTITY labels: the edge list is distinct pairs,
    # so every neighbor's vote count is exactly 1 and the
    # (count DESC, label ASC) argmax degenerates to min(neighbor id) —
    # one map-combined aggregation replaces the init-distinct + join +
    # vote census + window of the generic round (r10-opt; labels
    # provably identical, oracle replays the generic round 1).
    lab = edges.groupBy(F.col("v").alias("node")).agg(F.min("u").alias("__lbl"))
    for _ in range(2):
        votes = (
            edges.join(lab, edges["u"] == lab["node"])
            .groupBy(F.col("v").alias("__v"), "__lbl")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        # argmax under (count DESC, label ASC) as min(struct(-count,
        # label)) — an aggregation instead of a row_number window: no
        # per-node sort, and the partial min runs map-side before the
        # exchange (r10-opt; identical winner by the same total order).
        lab = votes.groupBy(F.col("__v").alias("node")).agg(
            F.min(
                F.struct(
                    (-F.col("__c")).alias("__negc"), F.col("__lbl").alias("__l")
                )
            )["__l"].alias("__lbl")
        )
    return (
        lab.groupBy("__lbl")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("node").alias("min_part"),
        )
        .select(F.col("__lbl").alias("community"), "n_members", "min_part")
        .orderBy(F.col("n_members").desc(), "community")
    )


def q_winnow_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint near-dup pairs (Schleimer, Wilkerson &
    Aiken SIGMOD 2003 — the MOSS local fingerprinting algorithm): the
    fourth dedup family beside md5-exact, MinHash and SimHash, and the
    one with a POSITIONAL guarantee the others lack — any shared run of
    w+k−1 = 6 tokens is certain to share a fingerprint (window min of
    w = 4 consecutive k = 3-gram hashes), so winnowing catches copied
    PASSAGES inside otherwise-different documents, the plagiarism /
    license-text / quote-chain case whole-set MinHash dilutes away.

    Per doc: positional 3-gram md5s (order kept — unlike ``shingles``,
    repetition matters here), window-of-4 minima, distinct = the
    fingerprint set (density ≈ 2/(w+1), guaranteed max gap w). Pairs
    then form exactly like banded LSH: explode → (fp, doc) →
    within-bucket lower-id pairs, with a frequency cap (fp in > 50
    docs = boilerplate, dropped — MOSS's own "too common to mean
    anything" rule) bounding every bucket's quadratic at 50². Shared
    count ≥ 2 plus an integer containment_ppm = shared·1e6 div
    min(|A|,|B|) make the output pure BIGINTs over md5 lexicographic
    minima — bit-identical cross-engine, no floats anywhere.

    Scale: text never leaves the scan; only (fp, id, |fps|) triples
    shuffle (the MinHash-LSH payload shape); the fingerprint stage is
    SPOOLED so the self-join's two sides share one materialization
    instead of recomputing the md5 pipeline (the ``simhash_near_dup``
    precedent). At 100 TB the fp-frequency cap is the knob that keeps
    template storms from quadratic blowup — same posture as the LSH
    band-bucket cap.
    """

    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    # STAGED projections, one array per step: each alias is referenced
    # more than once downstream, so CollapseProject keeps it a real
    # per-row attribute instead of inlining the producing expression
    # into every lambda use site (inlined, slice(sh, i, 4) re-evaluates
    # the whole md5 array PER WINDOW INDEX — O(n²) md5s, measured 115 s
    # vs 3 s at sf0.1; the minhash_signature staging precedent).
    t = d.select("doc_id", F.split(F.col("text"), " ").alias("__toks"))
    n = F.size(F.col("__toks"))
    s = t.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - F.lit(2), F.lit(1))),
            lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("__toks"), i, 3))),
        ).alias("__hs"),
    )
    m = F.size(F.col("__hs"))
    # SPOOL the per-doc fingerprint arrays (the signature artifact —
    # the simhash_near_dup posture): the explode's Generate would
    # otherwise inline the whole fps expression chain and re-evaluate
    # it PER OUTPUT FINGERPRINT (measured 90 s vs 1.9 s at sf0.1 —
    # a repartition barrier does NOT block the inlining, only a real
    # materialization does), and the bucket self-join's two sides plus
    # the frequency census all share this one materialization.
    docs = spool(
        s.select(
            "doc_id",
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(m - F.lit(3), F.lit(1))),
                    lambda i: F.array_min(F.slice(F.col("__hs"), i, 4)),
                )
            ).alias("__fps"),
        )
    )
    ex = docs.select(
        "doc_id",
        F.size("__fps").cast("long").alias("__nfp"),
        F.explode("__fps").alias("__fp"),
    )
    cnt = ex.groupBy("__fp").agg(F.count(F.lit(1)).alias("__nd"))
    kept = ex.join(
        cnt.filter((F.col("__nd") >= 2) & (F.col("__nd") <= 50)).select("__fp"),
        "__fp",
    )
    a = kept.select(
        "__fp", F.col("doc_id").alias("doc_a"), F.col("__nfp").alias("__na")
    )
    b = kept.select(
        "__fp", F.col("doc_id").alias("doc_b"), F.col("__nfp").alias("__nb")
    )
    return (
        a.join(b, "__fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("shared_fps"),
            F.min("__na").alias("fps_a"),
            F.min("__nb").alias("fps_b"),
        )
        .filter(F.col("shared_fps") >= 2)
        .select(
            "doc_a",
            "doc_b",
            "shared_fps",
            "fps_a",
            "fps_b",
            F.expr("(shared_fps * 1000000) div least(fps_a, fps_b)").alias(
                "containment_ppm"
            ),
        )
        .orderBy(F.col("shared_fps").desc(), "doc_a", "doc_b")
    )


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-type value statistics: clip ``events.value`` to
    its exact [p5, p95] per event type, then report the robust mean
    beside the raw mean and the clip count — the outlier-resistant
    summary a metrics pipeline publishes when a bot flood or a sensor
    glitch would otherwise drag the mean (the REPAIR counterpart to
    ``outlier_flags``' detection).

    Exactness: p5/p95 are rank-selected at (p·n + 99) div 100 under
    the pinned (value, event_id) total order (the histogram_quantiles
    exact-arm convention — no interpolation, the bound IS a data
    value); clipping is pure comparison (least/greatest, no float
    arithmetic); means sum DECIMAL(18,2)-cast values (the
    rolling_user_spend convention) so the only double op is one final
    division rounded to 9 dp. Scale: one shuffle to rank within type,
    a ≤|types|-row bounds broadcast back, one aggregate — the clip
    bound join is the k-means-centroid model-artifact posture.
    """
    e = read_table(spark, sf_dir, "events").select("event_type", "value", "event_id")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = e.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(wn)
    )
    bounds = ranked.groupBy("event_type").agg(
        F.min(
            F.when(F.col("__rn") == F.expr("(5 * __n + 99) div 100"), F.col("value"))
        ).alias("__lo"),
        F.min(
            F.when(F.col("__rn") == F.expr("(95 * __n + 99) div 100"), F.col("value"))
        ).alias("__hi"),
    )
    clipped = e.join(F.broadcast(bounds), "event_type").select(  # bounded: 5 event types
        "event_type",
        "value",
        F.least(F.greatest(F.col("value"), F.col("__lo")), F.col("__hi")).alias("__w"),
        (F.col("value") < F.col("__lo")).cast("long").alias("__below"),
        (F.col("value") > F.col("__hi")).cast("long").alias("__above"),
        "__lo",
        "__hi",
    )
    return (
        clipped.groupBy(F.col("event_type").alias("tipo"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("__lo").alias("p5"),
            F.min("__hi").alias("p95"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                9,
            ).alias("mean_raw"),
            F.round(
                F.sum(F.col("__w").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                9,
            ).alias("mean_winsor"),
            (F.sum("__below") + F.sum("__above")).cast("long").alias("n_clipped"),
        )
    )


def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top-20 part pairs by number of
    orders containing both — the relational twin of pmi_collocations
    (tokens→parts, documents→orders).

    The within-basket pair fan-out is the LSH-bucket discipline applied
    to baskets — and it costs ONE fact shuffle, not three: a self-join
    would need distinct + join re-shuffles, so instead each order's
    parts collapse to a sorted set (collect_set rides the same
    co-location shuffle) and the a<b pairs are generated EXPRESSION-
    side from that array (sortedness gives both the < order and
    within-basket dedup for free). Quadratic only within an order
    (baskets are ≤7 lineitems in TPC-H shape — bounded, like hash
    buckets); only (part_a, part_b) pairs shuffle again for the count,
    and the top-20 is TakeOrderedAndProject with a total-order
    tie-break, so the cut is engine-deterministic.
    """
    pairs = _basket_pairs(spark, sf_dir).select(
        F.col("u").alias("part_a"), F.col("v").alias("part_b")
    )
    counts = pairs.groupBy("part_a", "part_b").agg(F.count(F.lit(1)).alias("n_orders"))
    return counts.orderBy(
        F.col("n_orders").desc(), F.col("part_a"), F.col("part_b")
    ).limit(20)


def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting (the Amplitude/Reforge standard): every
    active user classified as NEW (first week), RETAINED (also active
    the week before), or RESURRECTED (returning after a gap), plus the
    week's CHURNED count (active last week, absent this week) — the
    decomposition that explains WHY a weekly-active count moved, which
    the raw WAU curve can't.

    Everything runs on distinct (user, week) tuples: first-seen is one
    min-aggregate, the retained/resurrected test is a self left-join
    shifted one week (no window state), churn is the same shifted
    frame anti-joined forward and attached by FULL outer join — so a
    total-outage week (churned users, zero actives) still surfaces
    with zeros in the active columns (ADVICE r4), while churn weeks
    clip to the observed max week (the week after the data ends is
    right-censored, not churn).
    Epoch-aligned 7-day buckets against the fixed NTZ origin (same
    rule as retention_cohorts) keep both engines bucketing
    identically under any session timezone.

    The distinct (user, week) tuple frame is SPOOLED: five consumers
    (first-seen, the shifted self-join's both sides, the churn
    anti-join, the max-week clip) otherwise each re-scan events and
    re-pay the distinct — a 6× fact-table read at 100 TB for a frame
    that is |users|×|weeks|, the classic materialized intermediate.
    """

    e = read_table(spark, sf_dir, "events")
    week = (F.floor(tmp.seconds_since_origin("ts") / F.lit(7 * 86400))).cast("long")
    puw = spool(
        e.select(F.col("user_id").alias("usuario"), week.alias("semana")).distinct()
    )
    first_seen = puw.groupBy("usuario").agg(F.min("semana").alias("__first"))
    prev = puw.select("usuario", (F.col("semana") + 1).alias("semana"))
    status = (
        puw.join(first_seen, "usuario")
        .join(prev.withColumn("__was_prev", F.lit(1)), ["usuario", "semana"], "left")
        .select(
            "semana",
            F.when(F.col("__first") == F.col("semana"), F.lit("new"))
            .when(F.col("__was_prev").isNotNull(), F.lit("retained"))
            .otherwise(F.lit("resurrected"))
            .alias("__status"),
        )
        .groupBy("semana")
        .pivot("__status", ["new", "retained", "resurrected"])
        .count()
    )
    # Churn weeks clip to the observed range: the week AFTER the last
    # observed week is right-censored (every final-week user would
    # read as churned there purely because the data ends), so it never
    # appears. The max-week attach is a broadcast one-rower.
    max_week = puw.agg(F.max("semana").alias("__mx"))
    churned = (
        prev.join(puw, ["usuario", "semana"], "left_anti")
        .crossJoin(F.broadcast(max_week))
        .filter(F.col("semana") <= F.col("__mx"))
        .groupBy("semana")
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    # FULL outer, not left from the active side: a total-outage week
    # (churned users but zero actives) has no status row, and a left
    # join would drop it — exactly the week the report must flag
    # (ADVICE r4). Churn counts attach to the week the users went
    # missing, active counts coalesce to 0.
    return (
        status.join(churned, "semana", "outer")
        .select(
            "semana",
            F.coalesce("new", F.lit(0)).cast("long").alias("n_new"),
            F.coalesce("retained", F.lit(0)).cast("long").alias("n_retained"),
            F.coalesce("resurrected", F.lit(0)).cast("long").alias("n_resurrected"),
            F.coalesce("n_churned", F.lit(0)).cast("long").alias("n_churned"),
        )
    )


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over event types: per user,
    each consecutive (previous → current) event pair counted, with the
    row-normalized transition probability in exact integer ppm — the
    sequence-model view of behavioral data (session_funnel checks ONE
    fixed path; this measures every observed hop).

    One shuffle on user; the predecessor comes from lag() over the
    total (ts, event_id) order inside the user partition, so pairing
    is engine-deterministic under concurrent timestamps. The matrix
    aggregate shuffles (prev, cur, partial) triples; normalization is
    a window over the ≤|types|² result. Integer ppm keeps the
    probabilities hash-stable cross-engine.
    """
    # the census = the session-shared `_event_transition_census` spool
    # (r10-opt); rowtot IS sum(n) over (partition by de), so the
    # normalization reads the spooled column instead of re-windowing.
    pairs = _event_transition_census(spark, sf_dir)
    return pairs.select(
        "de",
        "para",
        F.col("n").cast("long").alias("n"),
        F.expr("n * 1000000 div rowtot").alias("prob_ppm"),
    )


def q_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical share-of-parent: revenue per (region, nation) with
    each nation's share WITHIN its region and each region's share of
    the grand total — the drill-path ratios a rollup alone doesn't
    give (percent-of-total is global; share-of-parent re-normalizes at
    every level).

    One fact aggregate (nation/region broadcast; the customer dim is
    size-checked, not hinted — VERDICT r10 #1), then two window
    sums over the ≤25-row result — the same post-aggregation window
    posture as percent-of-total. Revenue is DECIMAL-exact; each share
    is ONE double division rounded 9 dp, so the ratios hash
    cross-engine.
    """
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",)).select(
        "l_orderkey", "l_extendedprice"
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = read_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    dims = c.join(
        F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
        c.c_nationkey == n.n_nationkey,
    ).select("c_custkey", "n_name", "r_name")
    agg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(dims, o.o_custkey == dims.c_custkey)
        .groupBy(F.col("r_name").alias("regiao"), F.col("n_name").alias("nacao"))
        .agg(F.sum(F.col("l_extendedprice").cast(MONEY)).alias("__dec"))
    )
    w_region = Window.partitionBy("regiao")
    w_all = Window.partitionBy()
    return agg.select(
        "regiao",
        "nacao",
        F.col("__dec").cast("double").alias("receita"),
        F.round(
            F.col("__dec").cast("double") / F.sum("__dec").over(w_region).cast("double"),
            9,
        ).alias("share_na_regiao"),
        F.round(
            F.sum("__dec").over(w_region).cast("double")
            / F.sum("__dec").over(w_all).cast("double"),
            9,
        ).alias("share_regiao_total"),
    )


def q_repeat_purchase_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-second-purchase distribution: the day gap between each
    customer's first and second order, bucketed into a 30-day-band
    histogram (plus the one-time-buyer count as band -1) — the
    conversion-lag curve behind every repeat-purchase target.

    One shuffle on customer; the first two orders come from a
    row_number over the total (date, orderkey) order, so ties are
    engine-deterministic. The histogram is integer arithmetic on date
    diffs — no doubles anywhere.
    """
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    first_two = (
        o.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 2)
        .groupBy("o_custkey")
        .agg(
            F.max("__rn").alias("__n"),
            F.datediff(F.max("o_orderdate"), F.min("o_orderdate")).alias("__gap"),
        )
    )
    band = F.when(F.col("__n") < 2, F.lit(-1)).otherwise(
        F.expr("__gap div 30").cast("int")
    )
    return (
        first_two.select(band.alias("banda_30d"))
        .groupBy("banda_30d")
        .agg(F.count(F.lit(1)).alias("n_clientes"))
    )


def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget subsetting: admit documents per source, in frozen
    md5 order, until a fixed token budget is exhausted — the "give me
    ≤ B tokens per source" selection a training run makes, stated in
    TOKENS (what the model consumes) rather than the doc quotas of
    corpus_mix/temperature_mix. The md5 order is a frozen uniform
    sample (swap in a quality ordering for best-first selection — the
    plan shape is identical); a doc that would cross the budget line
    is excluded whole, so the cut is exact and engine-agreed.

    One shuffle on source; the per-source running token sum is a
    window over (md5, doc_id) — a total order, so the admission set is
    deterministic. The audit output is per-source (docs kept, tokens
    kept, utilization ppm): integer-exact everywhere.
    """
    budget = 2000
    d = _docs_parallel(spark, sf_dir)
    t = d.select(
        "doc_id",
        "source",
        token_count("text").alias("__tok"),
        F.md5(F.col("doc_id").cast("string")).alias("__h"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("__h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = t.withColumn("__cum", F.sum("__tok").over(w))
    kept = cum.filter(F.col("__cum") <= budget)
    return kept.groupBy(F.col("source").alias("fonte")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__tok").cast("long").alias("n_tokens"),
        F.expr(f"CAST(sum(__tok) * 1000000 div {budget} AS BIGINT)").alias(
            "utilizacao_ppm"
        ),
    )


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic drift detector: per-label L2 distance between the mean
    embeddings of two corpus halves (vec_id parity stands in for
    consecutive snapshots) — the query a corpus owner runs against the
    frozen `label_centroids` baseline to answer "did class k's
    embedding mass move".

    The core is EXACT integer arithmetic end-to-end: the same fixed-
    scale int8 quantization as label_centroids, per-(label, dim, half)
    integer sums, and the mean difference cross-multiplied to dodge
    division — Σ(s_A·n_B − s_B·n_A)² per label, squared in
    DECIMAL(38,0) (the cross term reaches ~10²¹, past long range;
    decimal keeps it exact, DuckDB mirrors in HUGEINT). Only the final
    sqrt/normalize touches doubles, once, rounded at 9 dp — so the
    drift number itself hashes cross-engine. Shuffle carries (label,
    dim, partials) triples with map-side combine; vectors never move.
    """
    e = read_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.round(x.cast("double") * 127.0, 0).cast("int")),
        ),
    )
    half = (F.col("vec_id") % 2 == 0).alias("__a")
    dims = e.select("label", half, F.posexplode(q).alias("dim", "__q"))
    per_dim = dims.groupBy("label", "dim").agg(
        F.sum(F.when(F.col("__a"), F.col("__q"))).alias("__sa"),
        F.sum(F.when(~F.col("__a"), F.col("__q"))).alias("__sb"),
        F.count(F.when(F.col("__a"), F.lit(1))).alias("__na"),
        F.count(F.when(~F.col("__a"), F.lit(1))).alias("__nb"),
    )
    diff = (F.col("__sa") * F.col("__nb") - F.col("__sb") * F.col("__na")).cast(
        "decimal(38,0)"
    )
    per_label = per_dim.groupBy("label").agg(
        F.sum(diff * diff).alias("__d2"),
        F.max("__na").alias("n_a"),
        F.max("__nb").alias("n_b"),
    )
    return per_label.select(
        F.col("label").cast("int").alias("label"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(
            F.sqrt(F.col("__d2").cast("double"))
            / (F.col("n_a") * F.col("n_b") * F.lit(127.0)),
            9,
        ).alias("l2_drift"),
    )


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency / frequency / monetary quintiles per
    customer, concatenated to the classic '555'-style segment code —
    the standard CRM slicing the reference's per-client reports stop
    short of.

    One shuffle builds the per-customer (recency, frequency, monetary)
    triple; the three ntile(5) windows run over the POST-AGGREGATION
    frame (|customers| rows — same documented single-partition posture
    as the ABC cumsum, with the same two-pass offsets scale-out
    available). Every ordering carries the custkey tie-break, so
    quintile boundaries are a total order and the codes hash
    cross-engine; monetary stays DECIMAL until the edge cast.
    """
    o = read_table(spark, sf_dir, "orders")
    per_c = o.groupBy(F.col("o_custkey").alias("cliente")).agg(
        F.max("o_orderdate").alias("__rec"),
        F.count(F.lit(1)).alias("frequencia"),
        F.sum(F.col("o_totalprice").cast(MONEY)).alias("__mon"),
    )
    # Three ntile(5) windows, each the documented single-partition
    # edge until r6 — now each quintile is the bucketed two-pass
    # global row_number (operators/windows.py) with NTILE derived
    # arithmetically from (rn, n). Recency ranks on a lossless
    # MICROSECOND epoch long (timestampdiff on NTZ — tz-free), so the
    # (rec desc, cliente) order matches the oracle exactly; the three
    # ranks chain (each call spools its input once), no joins.
    rec_us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1990-01-01 00:00:00', __rec)"
    )
    scored = per_c.withColumn("__rec_us", rec_us)
    # The three ranks share ONE spool write (global_ranks_scaled):
    # chaining three global_rank_scaled calls paid three parquet
    # round-trips over the same |customers| frame just to carry three
    # quantile observations one write covers (r10-opt: 3.87 → 2.61 s
    # isolated at sf0.1, hash unchanged).
    scored = global_ranks_scaled(
        scored,
        (
            ("__rec_us", "__rn_r", False, ("cliente",)),
            ("frequencia", "__rn_f", False, ("cliente",)),
            ("__mon", "__rn_m", False, ("cliente",)),
        ),
        count_col="__n",
    )
    r_score = ntile_from_rank("__rn_r", "__n", 5)
    f_score = ntile_from_rank("__rn_f", "__n", 5)
    m_score = ntile_from_rank("__rn_m", "__n", 5)
    return scored.select(
        "cliente",
        F.date_format("__rec", "yyyy-MM-dd").alias("ultima_compra"),
        "frequencia",
        F.col("__mon").cast("double").alias("valor_total"),
        r_score.alias("r_score"),
        f_score.alias("f_score"),
        m_score.alias("m_score"),
        F.concat(
            r_score.cast("string"), f_score.cast("string"), m_score.cast("string")
        ).alias("segmento"),
    )


def q_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering keys over orders: interleave
    customer and order-day bits so a layout sorted on the key bounds
    every file's extent in BOTH dimensions (operators/layout.py; the
    layout-quality proof from parquet footers is in tests).

    Pure shift/mask arithmetic — no UDF, fully inside codegen, and
    bit-identical in any engine with integer bit ops (the oracle
    re-derives every key in SQL).
    """
    from .operators.layout import zvalue  # noqa: PLC0415

    o = read_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date"))
    return o.select(
        F.col("o_orderkey").alias("pedido"),
        zvalue([F.col("o_custkey"), day], bits=16).alias("zval"),
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: screen a new batch (odd doc_id) against the
    existing corpus index (even doc_id) — per-ingest admission, linear
    in the batch instead of re-pairing the whole corpus.

    Both sides' features (signatures + verify shingles) are parity
    filters over the session-shared `_minhash_sig4` spool view, passed
    through `incremental_near_dups`' index_features/new_features seam
    — the persisted-feature-artifact posture the operator documents
    for 100 TB, and one shingle+md5 scan per session instead of two
    per run.
    """
    sig = _minhash_sig4(spark, sf_dir)
    return dd.incremental_near_dups(
        None,
        None,
        "text",
        "doc_id",
        n_hashes=4,
        jaccard_threshold=0.5,
        index_features=sig.filter(F.col("doc_id") % 2 == 0),
        new_features=sig.filter(F.col("doc_id") % 2 == 1),
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 16-bit fingerprints over distinct tokens."""
    d = _docs_parallel(spark, sf_dir)
    return dd.simhash(d, "text", "doc_id", n_bits=16)


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: pigeonhole-banded candidates, exact
    Hamming ≤ 3 verify — the perfect-recall counterpart to MinHash
    banding (any pair within Hamming 3 of a 4-band fingerprint shares
    an intact band). 32-bit fingerprints over SHINGLE features: unigram
    SimHash collapses on this template-y corpus (docs share vocabulary
    → 10⁵-pair blowup); shingles are order-sensitive and cut the
    output to genuine near-dups.
    """
    d = _docs_parallel(spark, sf_dir)
    return dd.simhash_near_dup(
        d, "text", "doc_id", n_bits=32, max_hamming=3, n_bands=4, features="shingles"
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup connected components: one cluster label per doc,
    canonical = min id. The distributed iterative-algorithm surface
    with an exact oracle (min-label propagation vs DuckDB's recursive
    transitive closure) — integer-deterministic, unlike kmeans.
    Served from the session-shared `_doc_clusters` spool."""
    return _doc_clusters(spark, sf_dir)


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against vec_id=0 (exact ANN baseline)."""
    e = read_table(spark, sf_dir, "embeddings")
    return sim.brute_force_topk(e, "embedding", "vec_id", query_id=0, k=10)


def q_embedding_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucket occupancy (the ANN selectivity/recall view)."""
    e = read_table(spark, sf_dir, "embeddings")
    return sim.bucket_histogram(e, "embedding", n_bits=6)


def q_embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10: search only the query's sign-LSH bucket."""
    e = read_table(spark, sf_dir, "embeddings")
    return sim.lsh_topk(e, "embedding", "vec_id", query_id=0, k=10, n_bits=6)


def q_embedding_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe exact ANN: top-10 for four probes in one scan —
    the real serving shape (Q queries per job, not one)."""
    e = read_table(spark, sf_dir, "embeddings")
    return sim.batch_topk(e, "embedding", "vec_id", query_ids=[0, 1, 2, 3], k=10)


def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data admission gate, as one lazy plan.

    What an LLM-pipeline actually runs per corpus snapshot: language
    whitelist + token-count range + quality threshold + exact-dedup
    canonical-only (a doc passes only as the lowest-id copy of its
    text). All stats are codegen expressions over one scan; the
    canonical check is a (hash → min id) aggregate + semi join that
    shuffles (hash, id) pairs, never text.
    """
    d = _docs_parallel(spark, sf_dir)
    stats = d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.round(quality_score("text"), 9).alias("qualidade"),
        lang_id("text").alias("idioma"),
    )
    winners = d.groupBy(F.md5("text").alias("__k")).agg(F.min("doc_id").alias("doc_id"))
    return (
        stats.join(winners.select("doc_id"), "doc_id", "left_semi")
        .filter(
            F.col("idioma").isin("en", "es")
            & F.col("n_tokens").between(5, 500)
            & (F.col("qualidade") >= 0.3)
        )
        .select("doc_id", "idioma", "n_tokens", "qualidade")
    )


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule flags per document (Rae et al. 2021
    repetition/length heuristics, re-expressed as codegen expressions).

    Four rules — token-count range, mean-token-length range, repetition
    (duplicate-token ratio) cap, ≥2 stopword hits — plus the combined
    admission verdict. One scan, zero shuffle, zero UDFs: at 100 TB
    this is a map-only pass that fuses into the parquet read.
    """
    d = _docs_parallel(spark, sf_dir)
    n_tok = token_count("text")
    mean_len = F.round(mean_token_len("text"), 9)
    dup_ratio = F.round(dup_token_ratio("text"), 9)
    stop_hits = stopword_hits("text")
    flags = {
        "ok_tokens": n_tok.between(10, 1000),
        "ok_mean_len": mean_len.between(2.0, 10.0),
        "ok_repetition": dup_ratio <= 0.6,
        "ok_stopwords": stop_hits >= 2,
    }
    out = d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        mean_len.alias("mean_tok_len"),
        dup_ratio.alias("dup_ratio"),
        stop_hits.alias("stop_hits"),
        *[v.alias(k) for k, v in flags.items()],
    )
    verdict = F.col("ok_tokens") & F.col("ok_mean_len") & F.col("ok_repetition") & F.col("ok_stopwords")
    return out.withColumn("passes", verdict)


def q_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order/repetition-insensitive dedup rollup: group by the sorted-
    distinct-token fingerprint, keep the lowest id as canonical.

    The cheap 'exact-ish' near-dup layer between md5-exact and MinHash:
    shuffles only (fingerprint, id, count) pairs — never text — with
    map-side partial min/count, the same 100 TB shape as exact_dedup.
    """
    d = _docs_parallel(spark, sf_dir)
    return (
        d.groupBy(fingerprint("text").alias("fingerprint"))
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split audit: docs + chars per cell.

    The split column is a pure md5-prefix projection (zero shuffle,
    fuses into the scan at 100 TB); the audit aggregate shuffles only
    (lang, split, partial counts) — the canonical 'freeze the split and
    prove the proportions' query a corpus owner runs per snapshot.
    """
    d = read_table(spark, sf_dir, "documents")
    return (
        smp.hash_split(d, "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


def q_stratified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible stratified sample: 20 docs per language by md5 order."""
    d = read_table(spark, sf_dir, "documents")
    return smp.stratified_sample(d, "lang", "doc_id", 20).select("doc_id", "lang", "source")


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: blob wrap → Arrow-batched pseudo-decode."""
    d = _docs_parallel(spark, sf_dir)
    blobs = mm.as_blob_table(d, "doc_id", "text")
    return mm.decode_features(blobs)


def q_multimodal_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoder plumbing: blob → 8-dim L2-normalized pseudo-embedding.

    The multimodal→similarity bridge: payload bytes go through the
    Arrow-batched featurizer shape a real CLIP/wav2vec deployment uses
    (mapInPandas, vector out); rounding happens Spark-side (HALF_UP,
    matching DuckDB round) so the oracle hashes bit-for-bit.
    """
    d = _docs_parallel(spark, sf_dir)
    blobs = mm.as_blob_table(d, "doc_id", "text")
    emb = mm.embed_stub(blobs, dims=8)
    return emb.select("id", *[F.round(f"d{c}", 9).alias(f"d{c}") for c in range(8)])


def q_multimodal_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal dedup: blob → Arrow featurizer → centered
    sign-bucket blocking → cosine verify — the image/audio near-dup
    pipeline with the model stubbed (operators/multimodal.py).

    Raw pseudo-embeddings live in the all-positive octant (byte sums),
    where sign-LSH has ONE bucket; centering on the corpus mean spreads
    signs across buckets (the standard hyperplane-through-the-mean
    trick). Everything up to the last expression is exact integer
    arithmetic: centered value a_c = s_c·N − ΣS_c (longs, no float
    accumulation — safe to ~10M docs at these byte sums, switch the
    products to double beyond), so buckets are bit-portable and the
    one deterministic double expression (dot/(|a||b|), round 9) hashes
    cross-engine. Candidates come only from bucket equality; cos ≥
    0.9999 survives — this corpus's byte-statistics vectors are so
    correlated that 0.99 still admits 2M pairs at sf0.1 (measured);
    the tight bar keeps "near-dup" meaning near-duplicate.
    """
    dims, thr = 8, 0.9999
    d = _docs_parallel(spark, sf_dir)
    s = mm.byte_sums_stub(mm.as_blob_table(d, "doc_id", "text"), dims=dims)
    tot = s.agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(f"s{c}").alias(f"__S{c}") for c in range(dims)],
    )
    cen = s.crossJoin(F.broadcast(tot)).select(
        "id",
        *[
            (F.col(f"s{c}") * F.col("__n") - F.col(f"__S{c}")).alias(f"a{c}")
            for c in range(dims)
        ],
    )
    bucket = sum(
        F.shiftleft((F.col(f"a{c}") > 0).cast("long"), c) for c in range(dims)
    )
    # Spool the bucketed frame (|docs| rows of longs): the self-join
    # below reuses nothing across its two branches, so without this the
    # Arrow featurizer + stats aggregate execute FOUR times (featurizer
    # under both the stats agg and the row side, on each branch) —
    # measured 7.1 s vs ~2 s spooled at sf0.1. Construction goes eager,
    # the same documented trade as the SimHash pipeline.
    from .operators.spool import spool as _spool_mnd  # noqa: PLC0415
    from pyspark.sql import Observation  # noqa: PLC0415

    # Loud overflow guard (ADVICE r3): past the documented ~10M-doc bound
    # the long dot products below would WRAP silently in non-ANSI Spark
    # (wrong buckets/cosines, no signal) while the DuckDB oracle promotes
    # or errors. Observe max|a_c| during the spool write (zero extra
    # jobs) and fail if dims·m² can exceed Long.MAX — the fix at that
    # scale is casting the products to double, which this message names.
    _obs = Observation("multimodal_center_bounds")
    withb = _spool_mnd(
        cen.withColumn("__b", bucket).observe(
            _obs,
            F.max(
                F.greatest(*[F.abs(F.col(f"a{c}")) for c in range(dims)])
            ).alias("__maxabs"),
        )
    )
    _m = _obs.get["__maxabs"] or 0
    if dims * _m * _m > (2**63 - 1):
        raise OverflowError(
            f"q_multimodal_near_dup: centered components reach |a_c|={_m}; "
            f"{dims}*m^2 exceeds long range — cast the dot/norm products to "
            "double (documented scale switch) before running at this size"
        )
    a, b = withb.alias("a"), withb.alias("b")
    pairs = a.join(
        b, (F.col("a.__b") == F.col("b.__b")) & (F.col("a.id") < F.col("b.id"))
    )
    dot = sum(F.col(f"a.a{c}") * F.col(f"b.a{c}") for c in range(dims)).cast("double")
    na = F.sqrt(sum(F.col(f"a.a{c}") * F.col(f"a.a{c}") for c in range(dims)).cast("double"))
    nb = F.sqrt(sum(F.col(f"b.a{c}") * F.col(f"b.a{c}") for c in range(dims)).cast("double"))
    cos = F.round(dot / (na * nb), 9)
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= thr)
    )


def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality view: recall@10 of sign-LSH vs the exact baseline.

    The tuning loop a production ANN deployment runs before picking
    n_bits: semi-join the approximate top-k against the exact top-k and
    measure overlap. One row out; both sides share scoring expressions
    so the number is a pure blocking-recall measurement.
    """
    e = read_table(spark, sf_dir, "embeddings")
    exact = sim.brute_force_topk(e, "embedding", "vec_id", query_id=0, k=10).select("vec_id")
    approx = sim.lsh_topk(e, "embedding", "vec_id", query_id=0, k=10, n_bits=6).select("vec_id")
    hits = exact.join(approx, "vec_id", "left_semi")
    return hits.agg(
        F.count(F.lit(1)).alias("n_hits"),
        (F.count(F.lit(1)).cast("double") / 10).alias("recall_at_10"),
    )


def kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative algorithm surface: 3 Lloyd rounds over embeddings.

    Driver-looped distributed passes (assign = centroid-literal map
    expression; recenter = one small aggregate per round) — the
    training step that yields real IVF centroids. Float averaging is
    reassociation-sensitive, so training has no cross-engine oracle;
    since r5 it is exercised by tests (rows/schema/occupancy
    invariants) instead of occupying a rows-only registry slot —
    ``kmeans_assign`` is the family's hash-checked serving twin.
    """
    e = (
        read_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    cells = sim.kmeans_lite(e, "embedding", "vec_id", k=8, iters=3)
    return cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vetores"))


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means ASSIGNMENT with fixed literal centroids — the oracle for
    the k-means family (VERDICT r3 #2).

    Training (``kmeans_cells``) is legitimately reassociation-sensitive
    (float averaging), but serving is not: given literal centroids the
    cell is argmax over 9dp-rounded cosines (``ivf_cell``,
    operators/similarity.py — ties to the lowest cid), a deterministic
    zero-shuffle map expression that DuckDB mirrors exactly. Output is
    integer-only per-cell occupancy, so the value-hash gate covers the
    assignment path end-to-end.
    """
    e = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cells = e.select(
        "vec_id",
        sim.ivf_cell(F.col("embedding"), sim.fixed_centroids()).alias("cell"),
    )
    return cells.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min("vec_id").alias("min_vec_id"),
    )


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-table star join: lineitem⋈orders⋈customer⋈nation⋈region.

    The multi-dimension join shape (TPC-H Q5's skeleton). The region
    filter prunes nation rows *before* any fact row is touched;
    nation/region broadcast by hint (bounded), while the customer- and
    orders-proportional sides are size-checked — AQE broadcasts them
    where they fit, sort-merges where they don't (VERDICT r10 #1).
    """
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",)).select(
        "l_orderkey", "l_extendedprice"
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select(
        "r_regionkey"
    )
    dims = c.join(F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
                  c.c_nationkey == n.n_nationkey)
    fact = li.join(o, li.l_orderkey == o.o_orderkey).join(
        dims, F.col("o_custkey") == F.col("c_custkey")
    )
    return fact.groupBy(F.col("n_name").alias("nacao")).agg(
        F.count(F.lit(1)).alias("n_itens"),
        F.countDistinct("o_custkey").alias("n_clientes"),
        dsum("l_extendedprice").alias("valor_total"),
    )


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary→binary mapInPandas (the image-resize plumbing), verified.

    The resize kernel is a deterministic byte crop (media libs absent —
    see operators.multimodal.resize_stub); the md5 of the output binary
    is compared against the SQL oracle, proving payload bytes survive
    the Arrow round-trip intact.
    """
    d = _docs_parallel(spark, sf_dir)
    blobs = mm.as_blob_table(d, "doc_id", "text")
    out = mm.resize_stub(blobs, target_bytes=64)
    return out.select("id", F.md5("payload_out").alias("digest_out"), "n_out")


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: one blob row fans out to frame rows.

    Deterministic pseudo-frames (n_bytes % 30 + 1 per blob, keep every
    10th) stand in for real frame extraction; the explode fan-out and
    the sampled-index arithmetic are the plan shape a real sampler uses.
    """
    d = _docs_parallel(spark, sf_dir)
    blobs = mm.as_blob_table(d, "doc_id", "text")
    return mm.frame_sample_plan(blobs, every_n=10)


def q_sql_frontdoor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door: the same engine surface through
    ``spark.sql`` over registered temp views (TPC-H Q3-shaped shipping
    priority). Catalyst compiles this to the identical physical plan a
    DataFrame formulation gets — proven by the oracle hash, which runs
    the same SQL text on DuckDB.

    Views are uuid-suffixed and dropped before returning (the session
    namespace is shared — fixed names would clobber a user's views, and
    two sf_dirs could cross-resolve); spark.sql analyzes eagerly, so
    the returned plan keeps its resolved relations after the drop.
    """
    import uuid  # noqa: PLC0415

    tag = uuid.uuid4().hex
    views = {
        f"v_customer_{tag}": read_table(spark, sf_dir, "customer"),
        f"v_orders_{tag}": read_table(spark, sf_dir, "orders"),
        f"v_lineitem_{tag}": read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",)),
    }
    for name, df in views.items():
        df.createOrReplaceTempView(name)
    try:
        return spark.sql(
            f"""
            SELECT o.o_orderkey AS pedido,
                   date_format(o.o_orderdate, 'yyyy-MM-dd') AS data,
                   o.o_orderpriority AS prioridade,
                   CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                     AS receita
            FROM v_customer_{tag} c
            JOIN v_orders_{tag} o ON o.o_custkey = c.c_custkey
            JOIN v_lineitem_{tag} l ON l.l_orderkey = o.o_orderkey
            WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderstatus <> 'F'
            GROUP BY o.o_orderkey, data, o.o_orderpriority
            """
        )
    finally:
        for name in views:
            spark.catalog.dropTempView(name)


def q_multimodal_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio segmentation plan: blobs fan out to 10-second chunks with
    integer [start, end) boundaries at a declared byte rate — the chunk
    table an ASR training pipeline feeds from.
    """
    d = _docs_parallel(spark, sf_dir)
    blobs = mm.as_blob_table(d, "doc_id", "text")
    return mm.audio_chunk_plan(blobs, chunk_ms=10_000, bytes_per_ms=32)


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval: score every document against a fixed query
    ("spark table query"), return the top 20 — the saturated tf
    scoring real retrieval/dedup-adjacent pipelines use where plain
    TF-IDF over-rewards repeated terms (Robertson/Spärck Jones BM25,
    Lucene's idf form: ln((N − df + 0.5)/(df + 0.5) + 1)).

    Corpus stats (N, avgdl, per-term document frequencies) stay IN the
    plan as a one-row aggregate broadcast-cross-joined onto the scan —
    no driver collect; at 100 TB the stats job is a map-side-combined
    aggregate producing one row. Scores round to 9 dp for cross-engine
    float parity (the tfidf/cosine precedent).
    """
    k1, b = 1.2, 0.75
    terms = ["spark", "table", "query"]
    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    toks = tokens(F.col("text"))
    t = d.select("doc_id", toks.alias("__toks"), F.size(toks).alias("__dl"))
    stats = t.agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg("__dl").alias("__avgdl"),
        *[
            F.sum(F.array_contains("__toks", term).cast("long")).alias(f"__df{i}")
            for i, term in enumerate(terms)
        ],
    )
    scored = t.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    for i, term in enumerate(terms):
        tf = F.size(F.filter("__toks", lambda x: x == F.lit(term))).cast("double")  # noqa: B023
        idf = F.log(
            (F.col("__n") - F.col(f"__df{i}") + 0.5) / (F.col(f"__df{i}") + 0.5) + 1
        )
        denom = tf + k1 * (1 - b + b * F.col("__dl") / F.col("__avgdl"))
        score = score + idf * tf * (k1 + 1) / denom
    return (
        scored.select("doc_id", F.round(score, 9).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


def q_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: each document's highest-scoring term.

    Classic two-aggregate text pipeline: explode tokens → per-(doc,term)
    TF → per-term document frequency → broadcast-join IDF back → argmax
    per doc via max_by with a term tie-break. ln() on integer-derived
    ratios, rounded to 9 dp, keeps float parity with the oracle. At
    scale the DF table is ~|vocabulary| rows (broadcastable by
    construction); the token explode stays inside one map stage.
    """
    d = _docs_parallel(spark, sf_dir)
    n_docs = read_table(spark, sf_dir, "documents").count()
    terms = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_counts = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = df_counts.select(
        "term", F.log(F.lit(float(n_docs)) / F.col("df").cast("double")).alias("idf")
    )
    scored = tf.join(F.broadcast(idf), "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf").cast("double") * F.col("idf"), 9).alias("score"),
    )
    # max of struct(score, term): highest score, ties to the
    # lexicographically largest term — mirrored in the oracle's
    # ORDER BY score DESC, term DESC.
    return scored.groupBy("doc_id").agg(
        F.max_by("term", F.struct(F.col("score"), F.col("term"))).alias("termo_top"),
        F.max("score").alias("score_top"),
    )


def q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text n-gram extraction: corpus-wide top-20 bigrams.

    The explode/generator plan shape (no reference counterpart; a
    training-data-pipeline staple): per-doc bigram array built JVM-side
    (sequence + element_at — no UDF), explode, hash-aggregate counts,
    TakeOrderedAndProject for the top-k with a pinned tie-break. At
    100 TB the explode multiplies rows ~token-count× but stays inside
    one map stage; only (bigram, partial count) pairs shuffle.
    """
    d = _docs_parallel(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        d.select(F.explode(bigrams).alias("bigrama"))
        .groupBy("bigrama")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigrama"))
        .limit(20)
    )


def q_date_slice_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3+F8+X7: date-range slice, per-month metrics, conditional distinct.

    Reference: the notebook's parsed-date range filter (APC:261-267)
    feeding grouped metrics, and the conditional distinct count
    (len(df[df.ABC=='A'].Cliente.unique()), MAC:1099). The range filter
    pushes to the parquet scan; countDistinct(when(...)) reproduces the
    masked-unique pattern null-skippingly.
    """
    from .operators.filters import date_range  # noqa: PLC0415

    li = read_table_parallel(spark, sf_dir, "lineitem")
    sliced = date_range(li, "l_shipdate", "1994-01-01", "1994-12-31")
    return sliced.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("mes")
    ).agg(
        F.count(F.lit(1)).alias("n_linhas"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("fornecedores_devolucao"),
        dsum("l_extendedprice").alias("valor_total"),
    )


def q_events_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the 100 TB cardinality/quantile path — in an
    oracle-checkable projection (same graduation as hll_mergeable).

    approx_count_distinct (HyperLogLog++) and percentile_approx
    (KLL-style) replace exact distinct/median when the key space no
    longer fits a reducer. Raw sketch outputs are implementation-
    defined and can never hash-match another engine, so the checked
    projection carries the exact fields plus the claim each sketch
    exists to make: "my estimate lands within tolerance of the truth".
    Each engine grades ITS OWN sketch against the shared exact values
    (HLL ±5% — both engines are ~2% estimators; quantiles ±5% — rank
    error ≤ 1/accuracy), so the booleans agree unless an estimator
    genuinely breaks, which is exactly when this should go red.
    """
    e = read_table(spark, sf_dir, "events")
    # The exact distinct runs as its OWN two-level aggregate and joins
    # back (5 rows): countDistinct alongside the percentile aggregates
    # forces an Expand-based multi-pass plan that re-buffers every
    # value per aggregate path — measured 3.5× slower than this split.
    agg = e.groupBy(F.col("event_type").alias("tipo")).agg(
        F.count(F.lit(1)).alias("n"),
        # rsd=0.01 (not the 0.05 default): the flag claims ±5%, and a
        # sketch whose STANDARD error is 5% lands outside its own 1σ a
        # third of the time (measured red at sf0.1). A 1% sketch makes
        # the 5% claim a ~5σ bound; DuckDB's HLL is ~1.6% typical.
        F.approx_count_distinct("user_id", rsd=0.01).alias("__hll"),
        F.percentile_approx("value", 0.5).alias("__med_a"),
        F.expr("percentile(value, 0.5)").alias("__med_e"),
        F.percentile_approx("value", 0.95).alias("__p95_a"),
        F.expr("percentile(value, 0.95)").alias("__p95_e"),
    )
    exact = (
        e.select(F.col("event_type").alias("tipo"), "user_id")
        .distinct()
        .groupBy("tipo")
        .agg(F.count(F.lit(1)).alias("usuarios_exatos"))
    )
    agg = agg.join(exact, "tipo")

    def within(a: str, b: str, tol: float):
        return F.abs(F.col(a).cast("double") / F.col(b).cast("double") - 1) <= tol

    return agg.select(
        "tipo",
        "n",
        "usuarios_exatos",
        within("__hll", "usuarios_exatos", 0.05).alias("hll_dentro_5pct"),
        within("__med_a", "__med_e", 0.05).alias("mediana_dentro_5pct"),
        within("__p95_a", "__p95_e", 0.05).alias("p95_dentro_5pct"),
    )


def q_skewed_flag_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 at pathological skew: ordered collect on a 3-value hot key.

    l_returnflag has 3 values over all of lineitem — the worst grouping
    key possible: an unsalted collect funnels ~N/3 rows through each of
    3 reducers no matter the cluster size. The salted two-phase collect
    (see ordered_list_str_salted) spreads phase 1 over 16 sub-keys per
    flag and merges packed partials in phase 2; the final sort_array
    restores exact global order so the result — and the oracle — are
    identical to the naive version.
    """
    from .operators.aggregates import ordered_list_str_salted  # noqa: PLC0415

    li = read_table_parallel(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("dt"),
        "l_orderkey",
        "l_linenumber",
    )
    out = ordered_list_str_salted(
        li,
        keys=["l_returnflag"],
        value=F.concat_ws(
            "/", F.col("dt"), F.col("l_orderkey"), F.col("l_linenumber")
        ),
        order_by=["dt", "l_orderkey", "l_linenumber"],
        salt_expr=F.col("l_orderkey"),
    )
    return out.select(
        F.col("l_returnflag").alias("flag"),
        F.md5("__rendered").alias("historia_md5"),
        F.col("__count").alias("n"),
    )


def _staged_snapshot_paths(spark: SparkSession, sf_dir: str) -> list[str]:
    """Stage the three weekly-snapshot files ONCE per sf_dir.

    The snapshot files (orders split by o_orderkey % 3 — the stand-in
    for three user uploads) are fixture data, not query work: staging
    them inside the query distorted the bench and leaked a mkdtemp per
    invocation (VERDICT r1 #4). They now live at a deterministic temp
    location keyed by sf_dir PLUS a fingerprint of the source parquet
    (mtime+size), so regenerated fixture data invalidates the stage
    instead of serving stale snapshots across sessions; a _SUCCESS
    marker in every part makes re-staging a no-op. Concurrent stagers
    write to a process-unique temp dir and publish via atomic rename —
    the loser discards its copy instead of overwrite-clobbering the
    winner mid-read.
    """
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415
    import uuid  # noqa: PLC0415

    src = os.path.join(sf_dir, "orders.parquet")
    try:
        st = os.stat(src)
        # nanosecond mtime: whole-second truncation would miss a
        # same-second same-size fixture regeneration
        fingerprint = f"{st.st_mtime_ns}-{st.st_size}"
    except OSError:
        fingerprint = "nosrc"
    root = os.path.join(tempfile.gettempdir(), "manipula_snapshots")
    prefix = sf_dir.strip("/").replace("/", "_")
    stage = os.path.join(root, f"{prefix}-{fingerprint}")
    # Sweep superseded stages for this sf_dir: every fixture
    # regeneration mints a new fingerprint, and without this the old
    # staged copies would accumulate in the temp dir forever (the same
    # leak class operators/spool.py sweeps; scoped to this sf's prefix
    # so a concurrent session staging a DIFFERENT sf is untouched).
    try:
        for name in os.listdir(root):
            if name.startswith(f"{prefix}-") and name != f"{prefix}-{fingerprint}":
                shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    except OSError:
        pass
    paths = [os.path.join(stage, f"snap{i}.parquet") for i in range(3)]
    if not all(os.path.exists(os.path.join(p, "_SUCCESS")) for p in paths):
        orders = read_table(spark, sf_dir, "orders")
        for i, p in enumerate(paths):
            if os.path.exists(os.path.join(p, "_SUCCESS")):
                continue
            tmp = f"{p}.tmp-{os.getpid()}-{uuid.uuid4().hex}"
            orders.filter(F.col("o_orderkey") % 3 == i).write.mode("overwrite").parquet(tmp)
            # clear ONLY a crashed partial stage (no _SUCCESS); a
            # complete dir means another stager won while we wrote —
            # deleting it would clobber their possibly in-flight read
            if os.path.exists(p) and not os.path.exists(os.path.join(p, "_SUCCESS")):
                shutil.rmtree(p, ignore_errors=True)
            try:
                os.rename(tmp, p)  # atomic publish; fails if a winner exists
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)
    return paths


def q_weekly_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/EP2 verbatim: ordered multi-file ingest with positional labels.

    The reference's only multi-file construct: N user-ordered weekly
    uploads, file position idx → 'Semana Atual'/'Semana -N' label,
    PENDENTE filter per file, concat by name, per-week metrics
    (AP:17-51, 80-95). Snapshot files are staged once per sf_dir (see
    _staged_snapshot_paths); the query itself is read-only — per-file
    reads (the label comes from *user order*, which input_file_name
    cannot give), zero-shuffle unionByName, one hash aggregate.
    """
    from .sources.io import read_ordered_snapshots  # noqa: PLC0415

    snaps = read_ordered_snapshots(spark, _staged_snapshot_paths(spark, sf_dir))
    pending = snaps.filter(F.col("o_orderstatus") == "P")
    return pending.groupBy("semana").agg(
        F.count(F.lit(1)).alias("n_pendentes"),
        F.countDistinct("o_custkey").alias("n_clientes"),
        dsum("o_totalprice").alias("valor_total"),
    )


def q_dashboard_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1 step 5: the dashboard serve path as one composed lazy plan.

    Reference: every Streamlit interaction reruns filtrar_dataframe →
    ordenar_dataframe → paginar_dataframe over the session-state
    materialized view (MAC:417-437, 512-516). Here: dynamic filter →
    stable-order pagination over the history query. In the dashboard the
    history frame would be .cache()d once (the session_state analog) and
    each interaction stays lazy; pagination pins a total order so pages
    are disjoint and reproducible — pandas got that from its row index.
    """
    return dashboard_page(product_client_history(spark, sf_dir))


def dashboard_page(hist: DataFrame) -> DataFrame:
    """The per-interaction serve plan over a (possibly cached) history
    frame — shared by q_dashboard_serve (cold) and bench.py's warm
    variant, so both time the identical plan."""
    filtered = dynamic_filter(hist, {"ultimo_consultor": "R"})
    order = [F.col("n_interacoes").desc(), F.col("produto"), F.col("cliente")]
    return paginate(filtered, order, page=2, page_size=50)


def q_pending_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: the EP2 pipeline as Structured Streaming, oracle-checked.

    File source → filter → epoch-aligned weekly tumbling window →
    aggregate, drained with trigger availableNow into a memory sink.
    Event time is TIMESTAMP_NTZ so the window boundaries (and thus the
    oracle) are timezone-independent.
    """
    from .streaming.pending_stream import pending_stream_weekly  # noqa: PLC0415

    return pending_stream_weekly(spark, sf_dir)


def q_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2: the full limpar_dataframe pipeline (MAC:560-634), oracle-checked.

    Builds a deliberately dirty frame from orders — a junk 'Unnamed: 0'
    column (MAC:569), a dotted duplicate name 'o_orderstatus.1'
    (MAC:574-584), keys nulled on different cadences (so how='all'
    drops only rows where BOTH keys are null, MAC:590), nulled prices —
    then runs the fused clean(): prune → rename → drop all-null-key
    rows → fillna(0) (MAC:593-597) → deterministic keep-first dedup
    (MAC:604-605). All row work fuses into one scan + one aggregate.
    """
    o = read_table(spark, sf_dir, "orders")
    dirty = o.select(
        F.when(F.col("o_orderkey") % 7 != 0, F.col("o_custkey")).alias("o_custkey"),
        F.when(F.col("o_orderkey") % 14 != 0, F.col("o_orderdate")).alias("o_orderdate"),
        F.when(F.col("o_orderkey") % 10 != 0, F.col("o_totalprice")).alias("o_totalprice"),
        F.col("o_orderkey"),
        F.lit(0).alias("Unnamed: 0"),
        F.col("o_orderstatus").alias("o_orderstatus.1"),
    )
    cleaned = clean(
        dirty,
        keys=["o_custkey", "o_orderdate"],
        order_by=["o_orderkey"],
        fill_zero=["o_totalprice"],
    )
    return cleaned.select(
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("data"),
        "o_totalprice",
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: exact all pairs with cosine ≥ 0.4.

    The O(n²) correctness baseline (norms precomputed per row, build
    side broadcast, probe side never shuffles); the scale path swaps in
    sign-bucket/IVF-cell blocking with the same scoring expression —
    see operators.similarity.cosine_near_dup_pairs.
    """
    e = (
        read_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return sim.cosine_near_dup_pairs(e, "embedding", "vec_id", threshold=0.4)


def q_embedding_near_dup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, blocked: sign-LSH bucket candidates, exact scoring.

    The coded 100 TB twin of embedding_near_dup (VERDICT r1 #1a): the
    candidate join is an equi-join on the 6-bit sign bucket instead of
    an all-pairs cartesian, and surviving pairs carry bit-identical
    cos_sim (same round(dot/(na*nb), 9) expression, mirrored in the
    DuckDB oracle with the same bucket predicate).
    """
    e = (
        read_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return sim.cosine_near_dup_blocked(e, "embedding", "vec_id", threshold=0.4, n_bits=6)


def q_near_dup_jaccard_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH (8 hashes, 4 bands × 2 rows) + exact Jaccard.

    The scale-precision variant of near_dup_jaccard (VERDICT r1 #1b):
    a band fires only when BOTH of its hashes agree, so the candidate
    admission curve is 1-(1-j^2)^4 instead of r=1's 1-(1-j)^8 — low-
    similarity pairs are crushed before the (quadratic-within-bucket)
    pair join. Candidates then get the exact shingle-Jaccard verify.
    Signatures AND verify shingles come from the session-shared
    `_minhash_sig8` spool — one shingle+md5 scan serves the whole
    8-hash shelf, and the verify reads the spooled shingle sets
    instead of re-shingling the corpus.
    """
    sig = _minhash_sig8(spark, sf_dir)
    cands = dd.near_dup_pairs_from_sig(
        sig.drop("__sh"), "doc_id", 8, rows_per_band=2
    )
    verified = cands.join(
        sig.select(F.col("doc_id").alias("id_a"), F.col("__sh").alias("__sha")),
        "id_a",
    ).join(
        sig.select(F.col("doc_id").alias("id_b"), F.col("__sh").alias("__shb")),
        "id_b",
    )
    inter = F.size(F.array_intersect("__sha", "__shb")).cast("double")
    union = F.size(F.array_union("__sha", "__shb")).cast("double")
    return verified.select(
        "id_a",
        "id_b",
        "n_agree",
        F.round(inter / union, 9).alias("jaccard"),
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell ANN: centroid-literal cell assignment, search one cell.

    Cell assignment is a pure map-side expression (centroids inlined as
    literals — zero shuffle); only the query's cell is scored, touching
    ~1/8 of the data. Exact counterpart: embedding_topk.
    """
    e = (
        read_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return sim.ivf_topk(e, "embedding", "vec_id", query_id=0, k=10, n_centroids=8)


def q_attribution_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join drained over one snapshot: each
    purchase paired with the same user's views in the preceding hour
    (streaming/joins.py — the streaming twin of event_attribution).
    """
    from .streaming.joins import attribution_pairs_stream  # noqa: PLC0415

    return attribution_pairs_stream(spark, sf_dir)


# --- temporal joins / time-bucket rollups (SURVEY §2.13) --------------------


def q_event_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of attribution: each purchase picks the user's most recent
    view at-or-before it (kdb ``aj`` / Flink temporal-join semantics).

    Union-merge plan (operators/temporal.py): one shuffle on user, a
    running last(ignorenulls) inside each user partition — no candidate
    pairs, no range predicate, linear at 100 TB. Ties at equal ts break
    to the highest view event_id, mirrored in the oracle's rank order.
    """
    e = read_table(spark, sf_dir, "events")
    buys = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("compra"),
        F.col("user_id").alias("usuario"),
        "ts",
        F.col("value").alias("valor"),
    )
    views = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("usuario"), "ts", "event_id"
    )
    out = tmp.asof_join(
        buys,
        views,
        key="usuario",
        left_ts="ts",
        right_ts="ts",
        attrs={"view_asof": "event_id", "__vts": "ts"},
        right_order="event_id",
    )
    return out.select(
        "compra",
        "usuario",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_compra"),
        "valor",
        F.col("view_asof").cast("long").alias("view_asof"),
        F.date_format("__vts", "yyyy-MM-dd HH:mm:ss").alias("ts_view"),
    )


def q_conversion_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with tolerance: each view's NEXT purchase by the
    same user within one hour (pandas ``merge_asof`` with
    direction='forward', tolerance=1h — the conversion-window join).

    Same union-merge plan as the backward as-of (one shuffle on user,
    running last over a reversed scan) — no candidate pairs, tolerance
    applied as a post-extraction NULL-out, so the cost is identical to
    the untolerated join. Ties at equal purchase ts break to the
    highest event_id, mirrored in the oracle's rank order.
    """
    e = read_table(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("visita"),
        F.col("user_id").alias("usuario"),
        "ts",
    )
    buys = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("usuario"), "ts", "event_id", "value"
    )
    out = tmp.asof_join_directed(
        views,
        buys,
        key="usuario",
        left_ts="ts",
        right_ts="ts",
        attrs={"compra": "event_id", "__bts": "ts", "valor": "value"},
        right_order="event_id",
        direction="forward",
        tolerance_secs=3600,
    )
    return out.select(
        "visita",
        "usuario",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_view"),
        F.col("compra").cast("long").alias("compra"),
        F.date_format("__bts", "yyyy-MM-dd HH:mm:ss").alias("ts_compra"),
        "valor",
    )


def q_rolling_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based rolling aggregate: per purchase, the same user's
    purchase count and exact spend over the trailing hour — a RANGE
    window over integer seconds (rows at the same second are peers and
    aggregate identically in any engine).

    The window shape a feature pipeline wants (trailing-activity
    features per interaction): one shuffle on user_id, the frame slides
    inside each user partition — no self-join, no pair expansion.
    Seconds come from ``timestampdiff`` against a fixed NTZ origin
    (tz-proof); the money sum runs in DECIMAL for bit-exact parity.
    """
    e = read_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    secs = tmp.seconds_since_origin("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(secs)
        .rangeBetween(-3599, Window.currentRow)
    )
    return e.select(
        "event_id",
        F.col("user_id").alias("usuario"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("quando"),
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("gasto_1h"),
    )


def q_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows drained over one snapshot: the
    session_window state-store merge must reproduce the batch
    gap-sessionization exactly (shares q_sessionize_native's oracle).
    """
    from .streaming.sessions import sessionize_stream  # noqa: PLC0415

    return sessionize_stream(spark, sf_dir)


def q_neighbor_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded interval self-join: per event, how many same-user events
    landed strictly within the preceding hour.

    Bucketed plan (operators/temporal.py): build side replicated into
    two lookback-width buckets, hash join on (user, bucket), exact
    interval predicate as residual — never a per-user cross product.
    """
    e = read_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = tmp.interval_neighbors(e, key="user_id", ts="ts", lookback_secs=3600)
    return out.select(
        F.col("event_id").alias("evento"),
        F.col("user_id").alias("usuario"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("quando"),
        F.col("n_vizinhos").cast("long").alias("n_vizinhos"),
    )


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hourly buckets per event
    type with a 3-bucket RANGE moving average.

    Bucket key is seconds-since-a-fixed-NTZ-origin / 3600 — pure
    wall-clock arithmetic, so boundaries are session-tz-proof. The
    moving average runs RANGE BETWEEN 2 PRECEDING on the integer bucket
    (gaps in the hour sequence are honored, unlike a ROWS frame), with
    the decimal-sum/double-division recipe for engine parity. Windows
    run on the post-aggregation table (|hours|×|types| rows) — safe.
    """
    e = read_table(spark, sf_dir, "events")
    hb = F.floor(tmp.seconds_since_origin("ts") / F.lit(3600))
    g = e.groupBy(hb.alias("__hb"), F.col("event_type").alias("tipo")).agg(
        F.count(F.lit(1)).alias("n_eventos"),
        F.sum(F.col("value").cast(MONEY)).alias("__dec"),
    )
    w = Window.partitionBy("tipo").orderBy("__hb").rangeBetween(-2, 0)
    return g.select(
        F.date_format(
            F.expr("timestampadd(HOUR, CAST(__hb AS INT), TIMESTAMP_NTZ'1990-01-01 00:00:00')"),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("hora"),
        "tipo",
        F.col("n_eventos"),
        F.col("__dec").cast("double").alias("valor_total"),
        (
            F.sum("__dec").over(w).cast("double")
            / F.count(F.lit(1)).over(w).cast("double")
        ).alias("media_movel_3h"),
    )


# BPE-ish tokenizer: letter runs, 1-3 digit groups, single punctuation
# marks. Alternatives are first-char-disjoint so Java (Spark) and RE2
# (DuckDB) agree regardless of alternation strategy.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9 ]"


def q_token_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways the north star names: whitespace split
    and a BPE-ish regex (letter runs / short digit groups / punct).

    Pure codegen expressions (regexp_count), one scan, zero shuffle —
    a map-only pass that fuses into the parquet read at 100 TB.
    """
    d = _docs_parallel(spark, sf_dir)
    n_bpe = F.regexp_count(F.col("text"), F.lit(BPE_TOKEN_RE)).cast("long")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens_ws"),
        n_bpe.alias("n_tokens_bpe"),
        F.round(F.length("text").cast("double") / n_bpe.cast("double"), 9).alias(
            "chars_per_token"
        ),
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share any
    8-gram (token shingle) with a held-out benchmark set — the standard
    train/test-overlap scrub before LLM training.

    Benchmark = docs with doc_id % 97 == 0 (deterministic stand-in for
    an external eval set). Plan: explode distinct 8-grams, broadcast
    the benchmark gram set (eval suites are tiny vs the corpus), hash
    join + countDistinct per doc, left join back to keep zero-overlap
    docs. The corpus side never shuffles its text — only (doc_id, gram)
    pairs flow, and the broadcast keeps the probe map-side at 100 TB.
    """
    d = _docs_parallel(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n = 8
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    )
    is_bench = F.col("doc_id") % 97 == 0
    bench_grams = (
        d.filter(is_bench).select(F.explode(grams).alias("g")).distinct()
    )
    rest = d.filter(~is_bench)
    hits = (
        rest.select("doc_id", F.explode(grams).alias("g"))
        .join(F.broadcast(bench_grams), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("__n"))
    )
    return (
        rest.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_overlap"),
            (F.coalesce(F.col("__n"), F.lit(0)) > 0).alias("contaminado"),
        )
    )


def q_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast non-equi range join: parts binned into *uneven* price
    bands (a floor()-style bucket expression can't express them).

    The interval side is tiny and broadcast, so the non-equi join is a
    BroadcastNestedLoopJoin probing 4 rows per part — O(4n) map-side,
    zero shuffle of the fact side; the correct physical shape for
    band/dimension range joins at 100 TB. Large-large interval joins
    use the bucketed plan instead (operators/temporal.py).
    """
    bands = spark.createDataFrame(
        [
            ("ate_925", 900.0, 925.0),
            ("925_950", 925.0, 950.0),
            ("950_975", 950.0, 975.0),
            ("acima_975", 975.0, 1000.0),
        ],
        "banda string, lo double, hi double",
    )
    p = read_table(spark, sf_dir, "part")
    j = p.join(
        F.broadcast(bands),
        on=(p["p_retailprice"] >= bands["lo"]) & (p["p_retailprice"] < bands["hi"]),
        how="inner",
    )
    return j.groupBy("banda").agg(
        F.count(F.lit(1)).alias("n_pecas"),
        dsum("p_retailprice").alias("preco_total"),
        F.min("p_retailprice").alias("preco_min"),
        F.max("p_retailprice").alias("preco_max"),
    )


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (the hash-verified
    counterpart of the approx sketch in events_sketches).

    ``percentile()`` is a sort-based exact aggregate — fine per group
    when groups fit an executor (5 types here); the 100 TB path for
    high-cardinality groups is approx_percentile (events_sketches).
    Both engines use the same (1-d)·lo + d·hi interpolation; round(9)
    absorbs any last-ulp difference.
    """
    e = read_table(spark, sf_dir, "events")
    pcts = e.groupBy(F.col("event_type").alias("tipo")).agg(
        F.percentile("value", F.lit([0.25, 0.5, 0.75, 0.9])).alias("__p")
    )
    return pcts.select(
        "tipo",
        F.round(F.col("__p")[0], 9).alias("p25"),
        F.round(F.col("__p")[1], 9).alias("p50"),
        F.round(F.col("__p")[2], 9).alias("p75"),
        F.round(F.col("__p")[3], 9).alias("p90"),
    )


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization before shingling/hashing: lowercase, strip
    punctuation to spaces, collapse whitespace runs, trim — plus the
    token delta it causes. Pure regexp expressions with dialect-safe
    patterns (no lookarounds, ASCII classes), map-only at 100 TB.
    """
    d = _docs_parallel(spark, sf_dir)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return d.select(
        "doc_id",
        norm.alias("texto_norm"),
        token_count("text").alias("tokens_antes"),
        F.size(F.split(norm, " ")).cast("long").alias("tokens_depois"),
    )


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition report: per (source, lang) doc counts, exact
    token totals, and share of corpus tokens — the mixture table a
    training run samples from.

    Token share uses an integer grand total (window over the tiny
    aggregated table), so the division is engine-exact.
    """
    d = _docs_parallel(spark, sf_dir)
    g = d.groupBy(F.col("source").alias("fonte"), F.col("lang").alias("idioma")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text")).alias("n_tokens"),
    )
    total = F.sum("n_tokens").over(Window.partitionBy())
    return g.select(
        "fonte",
        "idioma",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / total.cast("double") * 100, 9).alias(
            "participacao_pct"
        ),
    )


def _hll_weekly_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily HLL sketches of distinct users merged to weekly estimates —
    the incremental pattern that makes 100 TB distinct counts cheap
    (store k-byte sketches per partition/day, union instead of
    rescanning raw facts; a re-count from raw is a full re-shuffle, a
    sketch merge is a metadata read)."""
    e = read_table(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd")
    week = F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd")
    daily = e.groupBy(week.alias("semana"), day.alias("dia")).agg(
        F.hll_sketch_agg("user_id").alias("__sk")
    )
    return daily.groupBy("semana").agg(
        F.count(F.lit(1)).alias("n_dias"),
        F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias("usuarios_estimados"),
    )


def q_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup, in an oracle-checkable projection.

    DataSketches HLL values are engine-specific (DuckDB's HLL estimates
    differently), so the RAW estimate can never hash-match an oracle.
    What IS cross-engine deterministic: the exact fields (week, day
    count, exact distinct users) and the claim the sketch exists to
    make — "the merged estimate lands within ±10% of the truth". Both
    engines' HLLs are ~2% estimators, so the boolean agrees unless one
    estimator genuinely breaks, which is exactly when this should go
    red. Raw estimates stay accessible via ``_hll_weekly_estimates``
    (pinned at ±5% by tests/test_optimizer.py).
    """
    est = _hll_weekly_estimates(spark, sf_dir)
    e = read_table(spark, sf_dir, "events")
    week = F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd")
    exact = e.groupBy(week.alias("semana")).agg(
        F.countDistinct("user_id").alias("usuarios_exatos")
    )
    return est.join(exact, "semana").select(
        "semana",
        "n_dias",
        "usuarios_exatos",
        (
            F.abs(
                F.col("usuarios_estimados").cast("double")
                / F.col("usuarios_exatos").cast("double")
                - 1
            )
            <= 0.10
        ).alias("sketch_dentro_10pct"),
    )


def q_sliding_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window rollup: 2-hour windows advancing hourly — each
    event lands in exactly two overlapping windows (``F.window`` with a
    slide, the batch twin of the streaming windowed aggregate).

    Exact distinct users per window; window replication is ×2 (window/
    slide), so the shuffle carries 2 rows per event — linear at 100 TB.
    """
    e = read_table(spark, sf_dir, "events")
    win = F.window("ts", "2 hours", "1 hour")
    return (
        e.groupBy(win.alias("__w"))
        .agg(
            F.count(F.lit(1)).alias("n_eventos"),
            F.countDistinct("user_id").alias("n_usuarios"),
        )
        .select(
            F.date_format(F.col("__w.start"), "yyyy-MM-dd HH:mm:ss").alias("janela"),
            "n_eventos",
            "n_usuarios",
        )
    )


def q_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey/IQR outlier flagging per event type: value outside
    [p25 − 1.5·IQR, p75 + 1.5·IQR] of its group.

    Two-pass shape: exact quartiles per group (5 small groups), rounded
    to 9 places *before* the bound arithmetic so both engines compare
    against bit-identical bounds, then a broadcast join back onto the
    events — the standard aggregate-then-enrich plan, no window over
    raw facts.
    """
    e = read_table(spark, sf_dir, "events")
    q = e.groupBy("event_type").agg(
        F.percentile("value", F.lit([0.25, 0.75])).alias("__p")
    )
    bounds = q.select(
        "event_type",
        F.round(F.col("__p")[0], 9).alias("__p25"),
        F.round(F.col("__p")[1], 9).alias("__p75"),
    ).select(
        "event_type",
        (F.col("__p25") - 1.5 * (F.col("__p75") - F.col("__p25"))).alias("__lo"),
        (F.col("__p75") + 1.5 * (F.col("__p75") - F.col("__p25"))).alias("__hi"),
    )
    return (
        e.join(F.broadcast(bounds), "event_type")  # bounded: 5 event types
        .select(
            F.col("event_id").alias("evento"),
            F.col("event_type").alias("tipo"),
            "value",
            ((F.col("value") < F.col("__lo")) | (F.col("value") > F.col("__hi"))).alias(
                "fora_da_faixa"
            ),
        )
    )


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: typed parse of the events ``props``
    JSON column (``from_json`` with an explicit schema — the columnar
    fast path; schema-on-read stays in the plan, no Python).

    Per event type: rows with a parseable ``k``, exact sum and distinct
    count of ``k``. Malformed/missing keys become NULL (PERMISSIVE),
    mirrored by the oracle's NULL-propagating cast.
    """
    e = read_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k long")["k"]
    return (
        e.select(F.col("event_type").alias("tipo"), k.alias("__k"))
        .groupBy("tipo")
        .agg(
            F.count("__k").alias("n_com_k"),
            F.sum("__k").alias("k_total"),
            F.countDistinct("__k").alias("k_distintos"),
            F.min("__k").alias("k_min"),
            F.max("__k").alias("k_max"),
        )
    )


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted large⋈large join: lineitem⋈orders on orderkey with a
    4-way salt, aggregated to revenue per order priority.

    The salt spreads any hot orderkey across 4 reducer partitions; the
    oracle is the PLAIN join — proving salting changes the physical
    distribution, never the result. (The broadcast-disabled flag is not
    needed: the salted build side is orders ×4, large enough to shuffle.)
    """
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",)).select(
        F.col("l_orderkey").alias("chave"), "l_extendedprice"
    )
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("chave"), "o_orderpriority"
    )
    joined = jn.salted_join(li, o, "chave", salt=4)
    return joined.groupBy(F.col("o_orderpriority").alias("prioridade")).agg(
        F.count(F.lit(1)).alias("n_itens"),
        dsum("l_extendedprice").alias("receita"),
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: a twice-delivered events feed
    collapsed by dropDuplicates(event_id); drained per-type totals must
    equal the batch over the single snapshot (streaming/joins.py).
    """
    from .streaming.joins import dedup_stream_counts  # noqa: PLC0415

    return dedup_stream_counts(spark, sf_dir)


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by exact revenue within each nation — the
    per-group top-k staple (window rank over the *aggregated* table).

    The window partitions |customers| rows post-aggregation, never raw
    facts, so partitions stay bounded at 100 TB; ties pinned by
    (revenue desc, custkey) for a deterministic cut.
    """
    c = read_table(spark, sf_dir, "customer")
    o = read_table_parallel(spark, sf_dir, "orders", by=("o_custkey",))
    n = read_table(spark, sf_dir, "nation")
    rev = o.groupBy("o_custkey").agg(dsum("o_totalprice").alias("receita"))
    joined = (
        rev.join(c.select("c_custkey", "c_name", "c_nationkey"),
                 rev["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              c["c_nationkey"] == n["n_nationkey"])
    )
    w = Window.partitionBy("n_name").orderBy(F.col("receita").desc(), F.col("c_custkey"))
    return (
        joined.withColumn("posicao", F.row_number().over(w).cast("long"))
        .filter(F.col("posicao") <= 3)
        .select(
            F.col("n_name").alias("nacao"),
            "posicao",
            F.col("c_name").alias("cliente"),
            "receita",
        )
    )


# phone-shaped spans, then any leftover standalone digit run long enough
# to be an identifier; both engines apply them in this order
_PII_PHONE_RE = "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
_PII_ID_RE = "[0-9]{7,}"


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: regex redaction of phone numbers and long id-like
    digit runs from a rendered contact string — the pre-training scrub
    every large text pipeline runs before anything else sees the data.

    Map-only (regexp_replace / regexp_extract_all are JVM expressions,
    no UDF), so it scales as a pure scan: no shuffle, pushdown-friendly,
    linear at 100 TB. The fixture carries no phone column (full TPC-H
    would have c_phone), so a phone-shaped span is derived from
    c_custkey identically in both engines; the 'Customer#000000001'
    name contributes the long digit run, so BOTH redaction rules fire
    on genuine content.
    """
    c = read_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    phone = F.concat_ws(
        "-",
        (k % 90 + 10).cast("string"),
        ((k * 7) % 900 + 100).cast("string"),
        ((k * 13) % 900 + 100).cast("string"),
        ((k * 31) % 9000 + 1000).cast("string"),
    )
    contact = F.concat_ws(" ", F.col("c_name"), phone, F.col("c_mktsegment"))
    n_phones = F.size(F.regexp_extract_all(contact, F.lit(_PII_PHONE_RE), F.lit(0)))
    redacted = F.regexp_replace(
        F.regexp_replace(contact, _PII_PHONE_RE, "[PHONE]"), _PII_ID_RE, "[ID]"
    )
    return c.select(
        "c_custkey",
        redacted.alias("contato_redigido"),
        n_phones.cast("long").alias("n_telefones"),
    )


def q_fk_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over the whole star schema: for each
    FK relationship, distinct fact keys, orphan count (keys missing
    from the dimension), and an integrity verdict — the Q3
    join-compatibility check generalized from one pair to the schema.

    Each relationship is distinct-fact-keys anti-joined against its
    dimension — at 100 TB the distinct collapses the fact side before
    anything shuffles; dims broadcast only when the size-checked
    planner says they fit (orders/customer dims are data-proportional,
    so no hint — VERDICT r10 #1). Five one-row aggregates union into
    the report.
    """
    rels = [
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ]
    parts = []
    for name, fact, fk, dim, pk in rels:
        keys = read_table(spark, sf_dir, fact).select(F.col(fk).alias("__k")).distinct()
        dimk = read_table(spark, sf_dir, dim).select(F.col(pk).alias("__k"))
        orphans = keys.join(dimk, "__k", "left_anti")
        parts.append(
            keys.agg(F.count(F.lit(1)).alias("n_chaves")).crossJoin(
                orphans.agg(F.count(F.lit(1)).alias("n_orfas"))
            ).select(
                F.lit(name).alias("relacao"),
                "n_chaves",
                "n_orfas",
                (F.col("n_orfas") == 0).alias("integra"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_truncated_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style serving audit: recall@10 of cosine top-k over
    the FIRST 16 of 64 embedding dims vs the full-dim exact top-k —
    the dimension-truncation trade (4× less compute and memory per
    probe) measured before switching the serving path to short vectors.

    Same one-row-output shape as lsh_recall: both sides share scoring
    expressions (slice → ordered fold), the scan never shuffles, top-k
    plans as TakeOrderedAndProject.
    """
    from .operators.similarity import brute_force_topk, cosine  # noqa: PLC0415

    k, dims_t = 10, 16
    e = read_table(spark, sf_dir, "embeddings")
    exact = brute_force_topk(e, "embedding", "vec_id", query_id=0, k=k).select("vec_id")
    q = e.filter(F.col("vec_id") == 0).select(
        F.slice("embedding", 1, dims_t).alias("__qv")
    )
    approx = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))  # bounded: one probe vector
        .select(
            "vec_id",
            cosine(F.slice("embedding", 1, dims_t), F.col("__qv")).alias("__c"),
        )
        .orderBy(F.col("__c").desc(), "vec_id")
        .limit(k)
        .select("vec_id")
    )
    return exact.join(approx, "vec_id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        (F.count(F.lit(1)).cast("double") / k).alias("recall_at_10"),
    )


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users grouped by first-seen week
    (cohort), counted in each subsequent week they return — the
    product-analytics staple behind every retention chart.

    Two aggregates, both shuffling only (user, week) pairs: first-seen
    week per user (min over one scan), then distinct (cohort, week,
    user) → counts with the week offset. Cohort weeks are epoch-aligned
    7-day buckets against the fixed NTZ origin (tz-proof; same bucket
    rule as events_rollup), so both engines bucket identically.
    """
    e = read_table(spark, sf_dir, "events")
    week = (F.floor(tmp.seconds_since_origin("ts") / F.lit(7 * 86400))).cast("long")
    per_user_week = e.select(
        F.col("user_id").alias("usuario"), week.alias("semana")
    ).distinct()
    first_seen = per_user_week.groupBy("usuario").agg(F.min("semana").alias("coorte"))
    return (
        per_user_week.join(first_seen, "usuario")
        .groupBy("coorte", (F.col("semana") - F.col("coorte")).alias("semanas_depois"))
        # count(*), not countDistinct: (usuario, semana) is already
        # distinct and first_seen is one row per user, so every joined
        # row is a unique (cohort, offset, user) — a countDistinct here
        # would plan a redundant second aggregate pass for nothing.
        .agg(F.count(F.lit(1)).alias("n_usuarios"))
    )


def q_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel per session: view → click → purchase, each stage
    counted only when it happens AT-OR-AFTER the previous stage's first
    event (a click before any view is not funnel progress). The classic
    product-analytics query the reference's dashboard could never
    express.

    Plan: gap-sessionize (one shuffle on user), then three chained
    windows over (user, session) — first-view, first-click-after-view,
    first-purchase-after-that-click; each references the previous
    window's column, all share one partitioning so Catalyst plans a
    single exchange + sort. Final rollup by session emits the deepest
    stage reached.
    """
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts") - F.lag("ts").over(w)
    flag = F.when(gap > F.expr("INTERVAL 30 MINUTES"), 1).otherwise(0)
    sess = e.withColumn(
        "sessao",
        F.sum(flag).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"),
    )
    ws = Window.partitionBy("user_id", "sessao")
    sess = sess.withColumn(
        "__fv", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(ws)
    )
    sess = sess.withColumn(
        "__fc",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") >= F.col("__fv")),
                F.col("ts"),
            )
        ).over(ws),
    )
    sess = sess.withColumn(
        "__fp",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("__fc")),
                F.col("ts"),
            )
        ).over(ws),
    )
    etapa = (
        F.when(F.min("__fp").isNotNull(), "compra")
        .when(F.min("__fc").isNotNull(), "click")
        .when(F.min("__fv").isNotNull(), "view")
        .otherwise("outro")
    )
    return sess.groupBy(F.col("user_id").alias("usuario"), "sessao").agg(
        F.count(F.lit(1)).alias("n_eventos"), etapa.alias("etapa")
    )


def q_contamination_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-form decontamination: per document, the FRACTION of
    its distinct 8-grams found in the benchmark set, thresholded at 10%
    — the ratio rule real scrubs apply (a 5,000-gram doc sharing one
    boilerplate gram is not contamination; a short doc half-inside the
    benchmark is) where the exact-overlap flag (q_decontaminate)
    treats both the same.

    Same scale plan as the flag form: broadcast benchmark gram set,
    only (doc_id, gram) pairs shuffle, the per-doc gram total comes
    from the same distinct-gram expression — one extra integer column,
    no extra pass over text.
    """
    d = _docs_parallel(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n = 8
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    )
    is_bench = F.col("doc_id") % 97 == 0
    bench_grams = d.filter(is_bench).select(F.explode(grams).alias("g")).distinct()
    rest = d.filter(~is_bench).select("doc_id", grams.alias("__grams"))
    hits = (
        rest.select("doc_id", F.explode("__grams").alias("g"))
        .join(F.broadcast(bench_grams), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("__hit"))
    )
    return (
        rest.select("doc_id", F.size("__grams").cast("long").alias("n_grams"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("__hit"), F.lit(0)).cast("long").alias("n_overlap"),
            F.when(
                F.col("n_grams") > 0,
                F.round(
                    F.coalesce(F.col("__hit"), F.lit(0)).cast("double")
                    / F.col("n_grams").cast("double"),
                    9,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("containment"),
            (
                (
                    F.coalesce(F.col("__hit"), F.lit(0)).cast("double")
                    >= F.col("n_grams").cast("double") * 0.10
                )
                & (F.col("n_grams") > 0)
            ).alias("contaminado"),
        )
    )


def q_balance_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing: downsample every source to the smallest
    source's size (deterministic first-K per source in doc_id order) —
    the equalizing step before corpus mixing when one crawl dominates.

    K comes from a two-level aggregate kept IN-plan (per-source counts
    → global min, one row broadcast onto the ranked scan); selection is
    one row_number window per source partition. At 100 TB: one shuffle
    on source for the window, the count aggregate is map-side partial.
    """
    d = _docs_parallel(spark, sf_dir)
    k = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.min("__n").alias("__k"))
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        d.select("doc_id", "source", "lang")
        .withColumn("__rn", F.row_number().over(w))
        .crossJoin(F.broadcast(k))
        .filter(F.col("__rn") <= F.col("__k"))
        .select("doc_id", "source", "lang")
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: split each document into overlapping
    token windows (size 64, stride 48) — the context-window prep step
    that turns long documents into trainable sequences with overlap so
    no span is ever cut without context.

    Pure expression fan-out (sequence → transform → posexplode), no
    UDF, no shuffle — a map-only pass whose output row count is
    ~n_tokens/stride per doc. Chunks render as token-joined strings;
    the final partial window is kept iff it adds new tokens (its start
    is inside the doc), matching the oracle's generate_series bound.
    Short docs (≤ size tokens) yield exactly one chunk.
    """
    size, stride = 64, 48
    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    toks = tokens(F.col("text"))
    n = F.size(toks)
    # starts 1, 1+stride, …, 1+k·stride with k = ceil(max(n−size,0) /
    # stride): the minimal stride-grid prefix whose last window reaches
    # the end of the doc — every window adds new tokens (k−1's window
    # ends before token n by ceil minimality), the final one may be
    # partial (slice clips to the doc).
    k = F.ceil(F.greatest(n - F.lit(size), F.lit(0)).cast("double") / F.lit(stride))
    starts = F.sequence(F.lit(1), (F.lit(1) + k * stride).cast("int"), F.lit(stride))
    chunks = F.transform(
        starts, lambda s: F.array_join(F.slice(toks, s, size), " ")
    )
    return d.select(
        "doc_id", n.alias("n_tokens"), F.posexplode(chunks).alias("chunk_idx", "chunk")
    ).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk",
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: assign documents to fixed token-budget
    bins (the training-data step that turns a corpus into ~context-
    window-sized groups for example packing).

    Deterministic contiguous packing: within each (lang, source) shard,
    docs in doc_id order go into bin ``(running_tokens_before_doc) div
    budget`` — a doc opens a new bin when the previous ones are full.
    One window per shard, no global ordering: at 100 TB the partition
    key is the shard, so packing parallelizes per shard and the window
    never sees more than one shard's rows. Integer token counts make
    the assignment bit-stable across engines.
    """
    d = read_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = token_count("text")
    w = (
        Window.partitionBy("lang", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(tok).over(w)
    return d.select(
        "doc_id",
        "lang",
        "source",
        tok.cast("long").alias("n_tokens"),
        F.floor((cum - tok) / F.lit(512.0)).cast("long").alias("bin_id"),
    )


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-token
    ratio plus the share of bigram slots taken by the document's most
    frequent bigram (template/boilerplate text scores high on both).

    The bigram share needs a per-(doc, bigram) count → per-doc max —
    two hash aggregates whose shuffle carries only count pairs, then a
    broadcast-size join back onto the per-doc stats. NULL text and
    sub-bigram docs yield NULL signals (never 0 — a NULL doc is not
    evidence of low repetition).
    """
    d = _docs_parallel(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        ),
    )
    top = (
        d.select("doc_id", F.explode(bigrams).alias("__bg"))
        .groupBy("doc_id", "__bg")
        .agg(F.count(F.lit(1)).alias("__n"))
        .groupBy("doc_id")
        .agg(F.max("__n").alias("__top_n"))
    )
    stats = d.select(
        "doc_id",
        token_count("text").cast("long").alias("n_tokens"),
        F.round(dup_token_ratio("text"), 9).alias("dup_ratio"),
    )
    return stats.join(top, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "dup_ratio",
        F.col("__top_n").cast("long").alias("top_bigram_n"),
        F.round(
            F.col("__top_n").cast("double") / (F.col("n_tokens") - F.lit(1)).cast("double"),
            9,
        ).alias("top_bigram_frac"),
    )


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    storage/serving step after embedding extraction (16→1 bytes/dim
    before an ANN index or feature store write).

    Per-vector absmax scaling: q = floor(x·127/absmax + 0.5) (half-up
    via floor — engine-agnostic, unlike native round ties), scale =
    absmax/127 for dequantization. Long format (vec_id, dim, q, scale):
    posexplode is plan-level fan-out, everything else is arithmetic on
    exact float→double promotions, so the result hash-matches any
    engine. All-zero vectors quantize to q=0/scale=0 instead of 0/0
    NaNs. Map-only: no shuffle at any scale.
    """
    e = read_table(spark, sf_dir, "embeddings")
    absmax = F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double"))))
    staged = e.select("vec_id", F.posexplode("embedding").alias("__pos", "__x"), absmax.alias("__ma"))
    q = F.when(F.col("__ma") == 0, F.lit(0)).otherwise(
        F.floor(F.col("__x").cast("double") * F.lit(127.0) / F.col("__ma") + F.lit(0.5))
    )
    return staged.select(
        "vec_id",
        (F.col("__pos") + 1).cast("long").alias("dim"),
        q.cast("long").alias("q"),
        F.round(
            F.when(F.col("__ma") == 0, F.lit(0.0)).otherwise(F.col("__ma") / F.lit(127.0)), 9
        ).alias("scale"),
    )


def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication report: docs, exact-distinct texts,
    fingerprint-distinct texts, and the resulting dup rates — the
    governance view a corpus owner reads before deciding which sources
    need the expensive near-dup pass.

    One hash aggregate per source; both distincts are partial-aggregable
    count(DISTINCT md5) under the hood, so the shuffle carries digests,
    never text. Exact rate uses the raw text; fingerprint rate uses the
    order/repetition-insensitive token-set fingerprint, so the gap
    between the two columns measures shuffled/near-boilerplate content.
    """
    d = read_table(spark, sf_dir, "documents")
    fp = fingerprint("text")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(F.md5("text")).alias("n_exact_distintos"),
            F.countDistinct(fp).alias("n_fingerprint_distintos"),
        )
        .select(
            "source",
            "n_docs",
            "n_exact_distintos",
            "n_fingerprint_distintos",
            F.round(
                1 - F.col("n_exact_distintos").cast("double") / F.col("n_docs").cast("double"), 9
            ).alias("taxa_dup_exata"),
            F.round(
                1
                - F.col("n_fingerprint_distintos").cast("double")
                / F.col("n_docs").cast("double"),
                9,
            ).alias("taxa_dup_fingerprint"),
        )
    )


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling (alpha = 0.5): sample source
    s proportionally to p_s^alpha — the multilingual-corpus mixing rule
    that upweights small sources relative to their natural share
    without equalizing outright. balance_sources is the alpha -> 0
    limit of this query; natural sampling is alpha = 1.

    Integer-exact end to end so any engine lands on the same sample:
    weight w_s = floor(sqrt(n_s) * 1000) (sqrt is IEEE-correctly-
    rounded everywhere, n_s exactly representable), target quota
    K_s = (T * w_s) div sum(w) by pure bigint division with
    T = total div 2. Plan: two-level count aggregate (map-side
    partial) broadcast onto a per-source row_number window — one
    shuffle on source, same shape as balance_sources. The 1000 weight
    scale keeps T * w_s under 2^63 out to ~1e10 docs.
    """
    d = _docs_parallel(spark, sf_dir)
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("__n"))
    weights = counts.select(
        "source",
        "__n",
        F.floor(F.sqrt(F.col("__n").cast("double")) * 1000).cast("long").alias("__w"),
    )
    # totals as unpartitioned window sums over the |sources|-row weights
    # frame — NOT a second aggregate subtree, which would re-plan (and
    # re-scan) the counts aggregate under a crossJoin. div binds like *
    # so this is ((total div 2) * w) div sw, all bigint. Quotas are
    # clipped to source availability (a tiny source's sqrt-boosted
    # quota can exceed its n); the deficit is NOT redistributed, so on
    # heavily skewed corpora the realized sample undershoots T — the
    # standard single-pass behavior (redistribution would need a
    # second quota round).
    quota = weights.select(
        "source",
        F.least(
            F.expr("((sum(__n) over ()) div 2 * __w) div (sum(__w) over ())"),
            F.col("__n"),
        ).alias("__k"),
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        d.select("doc_id", "source", "lang")
        .withColumn("__rn", F.row_number().over(w))
        .join(F.broadcast(quota), "source")
        .filter(F.col("__rn") <= F.col("__k"))
        .select("doc_id", "source", "lang")
    )


def q_edit_distance_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup: banded MinHash-LSH candidates (4 bands
    x 2 rows) verified with exact character Levenshtein — the metric
    for typo/truncation-level duplicates that token-set Jaccard
    under-scores (a one-character edit inside a word breaks up to k
    shingles but costs exactly 1 here).

    Admission: edit_distance <= 25% of the longer text, checked as
    4*d <= max_len in pure integers (no float threshold to disagree
    on). Levenshtein is O(len_a * len_b) per pair, which is exactly
    why it only ever runs on LSH-pruned candidates — the same
    verify-only-candidates discipline as every near-dup family here.
    NULL texts never band (NULL signature), so they never reach the
    quadratic stage.

    Oracle contract: parity holds on ASCII corpora — Spark counts
    CHARACTER edits, DuckDB counts BYTE edits, so on multi-byte text
    the engine's char-level metric is authoritative (see the oracle's
    comment).

    Candidates band over the session-shared `_minhash_sig8` spool
    (identical signatures to `near_dup_jaccard_banded` — one
    shingle+md5 scan serves the 8-hash shelf); only the Levenshtein
    verify touches text.
    """
    d = _docs_parallel(spark, sf_dir)
    cands = dd.near_dup_pairs_from_sig(
        _minhash_sig8(spark, sf_dir).drop("__sh"), "doc_id", 8, rows_per_band=2
    )
    txt = d.select("doc_id", "text")
    joined = (
        cands.join(
            txt.withColumnRenamed("doc_id", "id_a").withColumnRenamed("text", "__ta"),
            "id_a",
        ).join(
            txt.withColumnRenamed("doc_id", "id_b").withColumnRenamed("text", "__tb"),
            "id_b",
        )
    )
    # Free length-gap prune BEFORE the O(n²) Levenshtein (VERDICT r3
    # #5): edit distance ≥ |len_a − len_b|, so any pair with
    # 4·|len_a − len_b| > max_len already fails the admission bound —
    # rejecting on lengths alone is result-invariant and costs two
    # length() calls. Catalyst keeps this filter below the projection
    # that computes levenshtein, so rejected pairs never pay the
    # quadratic verify (the constant is ~3.5k pairs/s; on
    # truncation-heavy corpora the gap filter is most of the win).
    la, lb = F.length("__ta").cast("long"), F.length("__tb").cast("long")
    joined = joined.filter(F.abs(la - lb) * 4 <= F.greatest(la, lb))
    dist = F.levenshtein("__ta", "__tb").cast("long")
    longest = F.greatest(F.length("__ta"), F.length("__tb")).cast("long")
    return (
        joined.select(
            "id_a",
            "id_b",
            "n_agree",
            dist.alias("edit_distance"),
            longest.alias("max_len"),
            F.round(F.lit(1.0) - dist.cast("double") / longest.cast("double"), 9).alias(
                "similarity"
            ),
        )
        .filter(F.col("edit_distance") * 4 <= F.col("max_len"))
    )


def q_scd2_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension build: apply an updates batch
    to a versioned dimension, closing the previous version and opening
    the new one with validity intervals — the history-preserving
    counterpart of q_upsert (type 1 overwrites in place, type 2 keeps
    every version queryable by as-of date).

    Updates batch = every 5th customer with a repriced balance (derived
    deterministically so the oracle rebuilds it). One left join on the
    key, then a conditional struct-array explode emits 1 row (no
    change) or 2 rows (closed + opened version) per customer — a
    single-join plan, no second pass to close superseded rows. The
    double addition is one scalar op per row (no cross-row float
    accumulation), so the hash gate holds bit-for-bit.
    """
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.col("c_acctbal").alias("__bal")
    )
    # __upd marks key PRESENCE in the updates batch — branching on
    # u_bal itself would misread an updated key whose new balance is
    # NULL (NULL payload != no update) and diverge from the oracle's
    # key-based CASE.
    upd = c.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        (F.col("__bal") + F.lit(100.0)).alias("u_bal"),
        F.lit(True).alias("__upd"),
    )
    j = c.join(upd, "c_custkey", "left")
    keep = F.struct(
        F.col("__bal").alias("saldo"),
        F.lit("2020-01-01").alias("vigente_de"),
        F.lit("9999-12-31").alias("vigente_ate"),
        F.lit(True).alias("atual"),
    )
    closed = F.struct(
        F.col("__bal").alias("saldo"),
        F.lit("2020-01-01").alias("vigente_de"),
        F.lit("2026-01-01").alias("vigente_ate"),
        F.lit(False).alias("atual"),
    )
    opened = F.struct(
        F.col("u_bal").alias("saldo"),
        F.lit("2026-01-01").alias("vigente_de"),
        F.lit("9999-12-31").alias("vigente_ate"),
        F.lit(True).alias("atual"),
    )
    versions = F.when(F.col("__upd").isNull(), F.array(keep)).otherwise(
        F.array(closed, opened)
    )
    return j.select(
        F.col("c_custkey").alias("cliente"),
        F.col("c_name").alias("nome"),
        F.explode(versions).alias("v"),
    ).select(
        "cliente",
        "nome",
        F.col("v.saldo").alias("saldo"),
        F.col("v.vigente_de").alias("vigente_de"),
        F.col("v.vigente_ate").alias("vigente_ate"),
        F.col("v.atual").alias("atual"),
    )


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's final action: near-dup clusters → one
    canonical survivor per cluster → the filtered corpus. Chains
    dedup_clusters (banded LSH + Jaccard-verified components) with
    survivor selection: keep the LONGEST doc per cluster (ties →
    lowest doc_id) — integer-only ordering, so both engines land on
    the same survivor without a float quality comparison.

    Selection is one row_number + one count over the same cluster
    partition — a single extra shuffle on the cluster label after the
    propagation fixpoint. tam_cluster rides along so the output also
    serves as the dedup audit (how much each survivor displaced).
    """
    d = _docs_parallel(spark, sf_dir)
    clusters = _doc_clusters(spark, sf_dir)
    joined = d.join(clusters, "doc_id")
    wc = Window.partitionBy("cluster")
    w = wc.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .withColumn("tam_cluster", F.count(F.lit(1)).over(wc))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            "doc_id",
            "source",
            "lang",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.col("tam_cluster").cast("long").alias("tam_cluster"),
        )
    )


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed end-to-end corpus build (VERDICT r3 #6): normalize
    → Gopher quality gate → exact dedup → near-dup cluster survivors →
    benchmark decontamination → temperature-scaled mixing → sequence
    packing, chained as ONE query whose stages are the suite's
    individually-verified operators. Proving the stages compose in one
    lazy plan is the strongest 100 TB claim the suite makes: this is
    the pipeline a training-data run would actually execute.

    Stage semantics (each mirrors its standalone query):
    - gate on RAW text (gopher_quality's four rules), normalize with
      normalize_text's expression; NULL texts drop up front;
    - exact dedup keeps the lowest doc_id per identical NORMALIZED
      text (one row_number window on md5);
    - near-dup survivors: dedup_clusters (banded MinHash-LSH + Jaccard
      ≥ 0.5 components via star contraction) on the deduped corpus,
      canonical survivor = the cluster-min doc_id (the label itself);
    - decontamination: drop docs sharing any normalized 8-gram with
      the benchmark set (doc_id % 97 == 0 — benchmark docs are NOT
      quality-gated, an eval set is taken as-is) and the benchmark
      docs themselves;
    - temperature mix (alpha=0.5): integer-exact sqrt-weight quotas
      per source, clipped to availability;
    - packing: per-(lang, source) contiguous 512-token bins.

    Materialization discipline: TWO documented spools (the deduped
    corpus — reused by the cluster stage's signature/verify/label
    subtrees — and the decontaminated corpus, reused by the mix
    quota aggregate + row side) plus the cluster fixpoint's own
    bounded actions; every other stage is lazy in the one final plan
    (tests assert the exchange count stays fixed).
    """
    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    n_tok = token_count("text")
    passes = (
        n_tok.between(10, 1000)
        & F.round(mean_token_len("text"), 9).between(2.0, 10.0)
        & (F.round(dup_token_ratio("text"), 9) <= 0.6)
        & (stopword_hits("text") >= 2)
    )
    gated = d.filter(passes).select("doc_id", "source", "lang", norm.alias("__t"))

    from .operators.spool import spool as _spool_cp  # noqa: PLC0415

    wk = Window.partitionBy(F.md5(F.col("__t"))).orderBy("doc_id")
    exact = _spool_cp(
        gated.withColumn("__rn", F.row_number().over(wk))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    clusters = dd.dedup_clusters(exact, "__t", "doc_id")
    surv = exact.join(
        clusters.filter(F.col("doc_id") == F.col("cluster")).select("doc_id"), "doc_id"
    )

    def _grams8(col: str):
        toks = F.split(F.col(col), " ")
        idx = F.when(
            F.size(toks) >= 8, F.sequence(F.lit(1), F.size(toks) - F.lit(7))
        ).otherwise(F.array().cast("array<int>"))
        return F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i, 8), " "))
        )

    bench_grams = (
        d.filter(F.col("doc_id") % 97 == 0)
        .select(norm.alias("__t"))
        .select(F.explode(_grams8("__t")).alias("g"))
        .distinct()
    )
    corpus = surv.filter(F.col("doc_id") % 97 != 0)
    hits = (
        corpus.select("doc_id", F.explode(_grams8("__t")).alias("g"))
        .join(F.broadcast(bench_grams), "g")
        .select("doc_id")
        .distinct()
    )
    clean = _spool_cp(corpus.join(hits, "doc_id", "left_anti"))

    counts = clean.groupBy("source").agg(F.count(F.lit(1)).alias("__n"))
    weights = counts.select(
        "source",
        "__n",
        F.floor(F.sqrt(F.col("__n").cast("double")) * 1000).cast("long").alias("__w"),
    )
    quota = weights.select(
        "source",
        F.least(
            F.expr("((sum(__n) over ()) div 2 * __w) div (sum(__w) over ())"),
            F.col("__n"),
        ).alias("__k"),
    )
    wmix = Window.partitionBy("source").orderBy("doc_id")
    mixed = (
        clean.withColumn("__rn", F.row_number().over(wmix))
        .join(F.broadcast(quota), "source")
        .filter(F.col("__rn") <= F.col("__k"))
    )

    tokn = F.size(F.split(F.col("__t"), " ")).cast("long")
    wp = (
        Window.partitionBy("lang", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(tokn).over(wp)
    return mixed.select(
        "doc_id",
        "source",
        "lang",
        tokn.alias("n_tokens"),
        F.floor((cum - tokn) / F.lit(512.0)).cast("long").alias("bin_id"),
    )


def q_audio_chunk_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level audio near-dup: the ``multimodal_near_dup`` pipeline
    rerun at CHUNK granularity (VERDICT r3 #8) — blobs → 10ms pseudo-
    audio chunks (80-byte slices at the declared 8 bytes/ms rate) →
    Arrow-batched per-chunk stride byte sums → integer-exact corpus
    centering → sign-bucket blocking → cosine verify. The repeated-
    segment detector an ASR corpus needs (jingles, silence, dual
    uploads) where whole-file dedup can't see inside the container.

    Same scale discipline as the image twin: sums are exact longs, the
    one spool stops the featurizer recomputing under the self-join's
    two branches, candidates come only from bucket equality, and the
    single double expression (cosine, round 9) hashes cross-engine.
    Pair identity is the composite (id, chunk_idx) with lexicographic
    ordering, so within-doc repeats surface too.
    """
    dims, thr, chunk_ms, rate = 8, 0.9999, 10, 8
    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    blobs = mm.as_blob_table(d, "doc_id", "text")
    chunks = mm.audio_chunk_plan(blobs, chunk_ms=chunk_ms, bytes_per_ms=rate)
    s = mm.chunk_byte_sums(blobs, chunks, dims=dims, bytes_per_ms=rate)
    tot = s.agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(f"s{c}").alias(f"__S{c}") for c in range(dims)],
    )
    cen = s.crossJoin(F.broadcast(tot)).select(
        "id",
        "chunk_idx",
        *[
            (F.col(f"s{c}") * F.col("__n") - F.col(f"__S{c}")).alias(f"a{c}")
            for c in range(dims)
        ],
    )
    bucket = sum(
        F.shiftleft((F.col(f"a{c}") > 0).cast("long"), c) for c in range(dims)
    )
    from .operators.spool import spool as _spool_ac  # noqa: PLC0415

    withb = _spool_ac(cen.withColumn("__b", bucket))
    a, b = withb.alias("a"), withb.alias("b")
    order = (F.col("a.id") < F.col("b.id")) | (
        (F.col("a.id") == F.col("b.id")) & (F.col("a.chunk_idx") < F.col("b.chunk_idx"))
    )
    pairs = a.join(b, (F.col("a.__b") == F.col("b.__b")) & order)
    dot = sum(F.col(f"a.a{c}") * F.col(f"b.a{c}") for c in range(dims)).cast("double")
    na = F.sqrt(sum(F.col(f"a.a{c}") * F.col(f"a.a{c}") for c in range(dims)).cast("double"))
    nb = F.sqrt(sum(F.col(f"b.a{c}") * F.col(f"b.a{c}") for c in range(dims)).cast("double"))
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("a.chunk_idx").alias("chunk_a"),
            F.col("b.id").alias("id_b"),
            F.col("b.chunk_idx").alias("chunk_b"),
            F.round(dot / (na * nb), 9).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= thr)
    )


def q_strip_repeated_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated-block removal: split each doc into
    fixed 10-token blocks, keep only the FIRST occurrence of each
    distinct block, reassemble in original order — the document-level
    boilerplate scrub (repeated headers/footers/navigation) that
    corpus-level dedup can't see and `repetition_signals` only
    *detects*. The ExactSubstr-dedup idea (Lee et al. 2022) at block
    granularity, expressible without suffix arrays.

    Plan: expression fan-out to (doc_id, idx, block) rows, first-
    occurrence via row_number over (doc_id, block) ordered by idx,
    ordered reassembly via sort_array-of-struct collect. Two shuffles,
    both keyed by doc_id(+block) — at 100 TB each partition sees whole
    documents, never the corpus; block text crosses the wire once and
    is bounded (10 tokens). Integer counts + deterministic string
    output hash cross-engine.
    """
    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    toks = F.split(F.col("text"), " ")
    n_blocks = F.ceil(F.size(toks) / F.lit(10.0)).cast("long")
    blocks = d.select(
        "doc_id",
        n_blocks.alias("n_blocks"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (n_blocks - 1).cast("int")),
                lambda k: F.array_join(F.slice(toks, k * 10 + 1, 10), " "),
            )
        ).alias("idx", "block"),
    )
    w = Window.partitionBy("doc_id", "block").orderBy("idx")
    kept = blocks.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    return kept.groupBy("doc_id").agg(
        F.first("n_blocks").alias("n_blocks"),
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "block"))),
                lambda x: x["block"],
            ),
            " ",
        ).alias("texto_limpo"),
    )


def q_cross_doc_block_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-document block dedup: a 10-token block occurrence survives
    only if it is the corpus-wide FIRST occurrence of that block text
    (total order: doc_id, then idx). The paragraph-level dedup step of
    public corpus pipelines (Dolma/MassiveText dedupe paragraphs this
    way) — the sibling of `strip_repeated_blocks`, which only looks
    WITHIN one document; here shared boilerplate (license headers,
    navigation chrome) is collapsed to its first corpus occurrence.

    Plan: expression fan-out to (doc_id, idx, block) rows, corpus-wide
    first-occurrence via row_number over (block) ordered by (doc_id,
    idx), then ONE groupBy(doc_id) that both counts survivors and
    reassembles the cleaned text from a keep-flagged sort_array — docs
    whose every block was seen earlier still emit a row (n_kept = 0,
    empty text) because the flag, not a filter, carries the decision.
    Two shuffles: by block, then by doc_id. At 100 TB the block key
    space is what shuffles — bounded rows (≤10 tokens each) with
    map-side-combinable cardinality; per-block groups are tiny except
    for true boilerplate, which is exactly the skew AQE splits.
    """
    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    toks = F.split(F.col("text"), " ")
    n_blocks = F.ceil(F.size(toks) / F.lit(10.0)).cast("long")
    blocks = d.select(
        "doc_id",
        n_blocks.alias("n_blocks"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (n_blocks - 1).cast("int")),
                lambda k: F.array_join(F.slice(toks, k * 10 + 1, 10), " "),
            )
        ).alias("idx", "block"),
    )
    w = Window.partitionBy("block").orderBy("doc_id", "idx")
    flagged = blocks.withColumn(
        "keep", (F.row_number().over(w) == 1).cast("boolean")
    )
    return flagged.groupBy("doc_id").agg(
        F.first("n_blocks").alias("n_blocks"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(F.collect_list(F.struct("idx", "keep", "block"))),
                    lambda x: x["keep"],
                ),
                lambda x: x["block"],
            ),
            " ",
        ).alias("texto_limpo"),
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023): cluster the
    embedding space, then drop any vector that has a LOWER-id neighbor
    in the same cluster with cosine ≥ τ — keep-first at the semantic
    level, where exact/MinHash dedup sees nothing. Output is one row
    per vector: (vec_id, cell, kept 0/1).

    Assignment reuses the deterministic fixed-centroid `ivf_cell`
    expression (same literals as `kmeans_assign`, so the oracle cannot
    drift); the pairwise stage is confined WITHIN cells — the IVF
    partitioning is the candidate bound. At 100 TB: k grows with √n so
    cells stay bounded, assignment is a map-only expression, and the
    within-cell join is the only quadratic work. The removal decision
    is a distinct semi-join, not a fixpoint: SemDeDup keeps one
    exemplar per ε-ball greedily by id, no transitive closure required.

    Join strategy (r5 — closes the r4 verdict's one scale bug): the
    pair join is a SHUFFLE equi-join on (cell, salt) — never a
    broadcast of the embedding table, which is data-proportional and
    OOMs at corpus scale. Because this demo codebook has only k=4
    literal centroids, a bare cell-keyed shuffle would cap parallelism
    at 4, so the B side carries a deterministic salt (vec_id mod s)
    and the A side is replicated across all s salts: every within-cell
    pair (a, b) meets exactly once, in partition (cell, salt(b)), at
    k·s-way parallelism. Replication is s× on ONE side with s a fixed
    constant (8) — at real k (≈√n cells) set s=1 and this degenerates
    to the plain cell-keyed shuffle with no replication at all. Result
    set and scoring expression are bit-identical to the broadcast
    formulation (salting only re-routes pairs), so the oracle is
    untouched; tests/test_optimizer.py pins the no-broadcast plan.
    """
    tau = 0.35
    n_salt = 8
    e = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cells = e.select(
        "vec_id",
        "embedding",
        sim.ivf_cell(F.col("embedding"), sim.fixed_centroids()).alias("cell"),
    )
    # Norm once per ROW before the pair join (the cosine_near_dup_pairs
    # discipline: n folds, not 2n² — per pair only the dot remains).
    # Repartition because the source is one parquet split: when the
    # size estimator picks a broadcast build at small scale, the pair
    # scoring runs on the PROBE side's partitioning, which would
    # otherwise be a single task (measured 8.6 s vs 1.5 s at sf0.1).
    withn = cells.repartition(spark.sparkContext.defaultParallelism).select(
        "vec_id", "cell", "embedding", sim.norm(F.col("embedding")).alias("__n")
    )
    a = withn.select(
        F.col("vec_id").alias("id_a"),
        F.col("cell").alias("cell_a"),
        F.col("embedding").alias("__va"),
        F.col("__n").alias("__na"),
    ).withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    b = withn.select(
        F.col("vec_id").alias("id_b"),
        F.col("cell").alias("cell_b"),
        F.col("embedding").alias("__vb"),
        F.col("__n").alias("__nb"),
        F.pmod(F.col("vec_id"), F.lit(n_salt)).cast("int").alias("__salt"),
    )
    dup = (
        a.join(
            b,
            (F.col("cell_a") == F.col("cell_b"))
            & (a["__salt"] == b["__salt"])
            & (F.col("id_b") < F.col("id_a")),
        )
        .filter(
            F.round(
                sim.dot(F.col("__va"), F.col("__vb"))
                / (F.col("__na") * F.col("__nb")),
                9,
            )
            >= tau
        )
        .select(F.col("id_a").alias("vec_id"))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    return cells.select("vec_id", "cell").join(dup, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.when(F.col("__dup").isNotNull(), F.lit(0)).otherwise(F.lit(1))
        .cast("long")
        .alias("kept"),
    )


def q_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation over corpus bigrams
    (Cormode & Muthukrishnan 2005): d=4 hash rows × w=64 buckets, each
    bucket the SUM of counts of every gram hashing into it, estimate =
    min over the 4 rows. Output: the exact top-20 bigrams with exact
    count, CMS estimate, and the (always ≥ 0) overcount — the sketch's
    collision error made visible against ground truth, the same
    audit-the-approximation pattern as `lsh_recall`.

    Why it matters at 100 TB: the sketch is FIXED-SIZE mergeable state
    (256 longs here) no matter the corpus — per-partition sketches
    map-side combine because bucket sums are order-independent, so
    frequency estimates for any adversarially large key space cost one
    tiny aggregate; candidates come from whatever cheap source exists
    (per-partition tops at scale; the exact aggregate here, which the
    oracle needs anyway) and are verified against a BROADCAST sketch.
    Hashing is seed-prefixed md5 → first 8 hex digits → mod w,
    engine-portable by construction (same convention as MinHash).
    """
    n_rows, n_buckets = 4, 64
    d = _docs_parallel(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        d.select(F.explode(bigrams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )

    def bucket(r: int, col) -> F.Column:
        h = F.md5(F.concat(F.lit(f"{r}:"), col))
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_buckets

    sketch = (
        counts.select(
            "exact_n",
            F.posexplode(
                F.array(*[bucket(r, F.col("gram")) for r in range(n_rows)])
            ).alias("row_id", "bucket"),
        )
        .groupBy("row_id", "bucket")
        .agg(F.sum("exact_n").alias("cell_n"))
    )
    top = counts.orderBy(F.col("exact_n").desc(), "gram").limit(20)
    probes = top.select(
        "gram",
        "exact_n",
        F.posexplode(
            F.array(*[bucket(r, F.col("gram")) for r in range(n_rows)])
        ).alias("row_id", "bucket"),
    )
    est = probes.join(F.broadcast(sketch), ["row_id", "bucket"]).groupBy(
        "gram"
    ).agg(
        F.first("exact_n").alias("exact_n"),
        F.min("cell_n").alias("cms_n"),
    )
    return est.select(
        "gram",
        "exact_n",
        "cms_n",
        (F.col("cms_n") - F.col("exact_n")).alias("overcount"),
    )


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 bigrams by LIFT — the PMI family's
    engine-portable form. lift(w1 w2) = n_pair · N / (n_w1 · n_w2)
    (= e^PMI): all inputs are exact integers ≤ 2^53, so the single
    double division is bit-identical across engines with no log/ulp
    hazard. Support floor n_pair ≥ 5 keeps one-off pairings out.

    Plan: one bigram aggregate + one unigram aggregate (both map-side
    combinable — only (gram, partial count) pairs shuffle), the
    unigram table and the one-row total broadcast back onto the bigram
    frame, TakeOrderedAndProject for the top-k. At 100 TB the unigram
    vocabulary is the only broadcast state and the corpus text never
    crosses the wire.
    """
    d = _docs_parallel(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # the unigram census is SPOOLED: its three consumers (total, both
    # attach sides) otherwise each re-ran the token explode — the
    # corpus is exploded twice (unigrams + bigrams), not four times

    uni = spool(
        d.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_tok"))
    )
    bg = (
        d.select(F.explode(bigrams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= 5)
    )
    total = uni.agg(F.sum("n_tok").alias("n_total"))
    parts = bg.select(
        "gram",
        "n_pair",
        F.element_at(F.split(F.col("gram"), " "), 1).alias("__w1"),
        F.element_at(F.split(F.col("gram"), " "), 2).alias("__w2"),
    )
    u1 = uni.select(F.col("tok").alias("__w1"), F.col("n_tok").alias("n_w1"))
    u2 = uni.select(F.col("tok").alias("__w2"), F.col("n_tok").alias("n_w2"))
    scored = (
        parts.join(F.broadcast(u1), "__w1")
        .join(F.broadcast(u2), "__w2")
        .crossJoin(F.broadcast(total))
        .select(
            "gram",
            "n_pair",
            "n_w1",
            "n_w2",
            F.round(
                (F.col("n_pair").cast("double") * F.col("n_total").cast("double"))
                / (F.col("n_w1").cast("double") * F.col("n_w2").cast("double")),
                9,
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.col("lift").desc(), "gram").limit(20)


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination prefilter: the benchmark's 8-gram
    set packed into a FIXED 65,536-bit bitmap (2,048 × 32-bit words,
    k=3 seed-prefixed-md5 positions per gram, bit_or aggregation), the
    corpus probed against the broadcast bitmap as a pure map
    expression. Output per doc: distinct grams, bloom-positive grams,
    exact hits (ground truth via the same join `decontaminate` uses) —
    `exact_hits ≤ bloom_hits` is the Bloom no-false-negative
    guarantee, and the gap is the measured false-positive mass.

    Why this exists next to `decontaminate`: that query broadcasts the
    actual gram SET, which works while eval suites are tiny; the bloom
    form is the 100 TB posture when the reference set is itself large
    (every shard of a held-out corpus) — the bitmap is constant-size
    no matter how many grams it encodes, the probe adds zero shuffle
    (bitmap rides a one-row broadcast, same in-plan pattern as BM25's
    corpus stats), and only bloom-POSITIVE docs ever pay the exact
    verification join.
    """
    m_bits, n_words, k = 65536, 2048, 3
    d = _docs_parallel(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n = 8
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    )
    is_bench = F.col("doc_id") % 97 == 0

    def pos(seed: int, col) -> F.Column:
        h = F.md5(F.concat(F.lit(f"{seed}:"), col))
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % m_bits

    bench_grams = d.filter(is_bench).select(F.explode(grams).alias("g")).distinct()
    words = (
        bench_grams.select(
            F.explode(F.array(*[pos(j, F.col("g")) for j in range(k)])).alias("pos")
        )
        .select(
            F.floor(F.col("pos") / 32).cast("int").alias("word"),
            # shiftleft() the builtin only takes a literal shift; the
            # SQL form accepts a column
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    bloom_row = words.agg(
        F.map_from_entries(F.collect_list(F.struct("word", "bits"))).alias("__m")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda w: F.coalesce(F.element_at(F.col("__m"), w), F.lit(0)),
        ).alias("__bloom")
    )

    probe = (
        d.filter(~is_bench)
        .select("doc_id", F.explode(grams).alias("g"))
        .crossJoin(F.broadcast(bloom_row))
        .select(
            "doc_id",
            "g",
            "__bloom",
            *[pos(j, F.col("g")).alias(f"__p{j}") for j in range(k)],
        )
    )
    passes = [
        F.element_at(
            F.col("__bloom"), F.floor(F.col(f"__p{j}") / 32).cast("int") + 1
        ).bitwiseAND(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(__p{j} % 32 AS INT))")
        )
        != 0
        for j in range(k)
    ]
    bloom_pass = passes[0] & passes[1] & passes[2]
    exact = F.broadcast(bench_grams.withColumn("__hit", F.lit(1)))
    return (
        probe.withColumn("__pass", bloom_pass.cast("long"))
        .join(exact, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("__pass").alias("bloom_hits"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)).cast("long")).alias(
                "exact_hits"
            ),
        )
    )


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID quality audit: confusion matrix of the corpus's
    labeled `lang` against `lang_id`'s marker-word prediction, plus
    per-cell share of the true class — the measure-the-classifier
    pattern every filtering heuristic needs before it gates a corpus
    (the fixture's fr/zh docs are unpredictable by design, so the
    matrix shows real misses, not a vanity diagonal).

    One hash aggregate over (lang, pred) pairs after a map-only
    prediction pass; the per-class share is a window over the tiny
    matrix, not a second corpus scan.
    """
    d = _docs_parallel(spark, sf_dir)
    cells = (
        d.select(F.col("lang"), lang_id("text").alias("idioma_pred"))
        .groupBy("lang", "idioma_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "idioma_pred",
        "n_docs",
        (F.col("lang") == F.col("idioma_pred")).alias("acerto"),
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(w).cast("double"),
            9,
        ).alias("share_of_true"),
    )


def q_rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.
    2009): the BM25 lexical top-50 and the embedding-cosine semantic
    top-50 fused as score = Σ 1/(60 + rank) over the lists a doc
    appears in, final top-20. The fusion consumes RANKS (integers),
    so the two retrievers' incomparable score scales never meet — the
    standard trick production hybrid search uses; 1/(60+r) is one
    deterministic IEEE division per list and the two-term add order
    is fixed (lexical + semantic), so the score hashes cross-engine
    at 9 dp.

    Scale shape: each arm is already a bounded top-k (BM25's one-row
    stats broadcast; brute-force cosine here, IVF/LSH at 100 TB — the
    swap `ivf_topk` proves), and the fusion itself is a full-outer
    join of two 50-row frames — driver-free, broadcast-sized by
    construction no matter the corpus.
    """
    k_rrf, k_list = 60, 50
    # lexical arm: same scoring expression as q_bm25_search
    k1, b = 1.2, 0.75
    terms = ["spark", "table", "query"]
    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    toks = tokens(F.col("text"))
    t = d.select("doc_id", toks.alias("__toks"), F.size(toks).alias("__dl"))
    stats = t.agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg("__dl").alias("__avgdl"),
        *[
            F.sum(F.array_contains("__toks", term).cast("long")).alias(f"__df{i}")
            for i, term in enumerate(terms)
        ],
    )
    scored = t.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    for i, term in enumerate(terms):
        tf = F.size(F.filter("__toks", lambda x: x == F.lit(term))).cast("double")  # noqa: B023
        idf = F.log(
            (F.col("__n") - F.col(f"__df{i}") + 0.5) / (F.col(f"__df{i}") + 0.5) + 1
        )
        denom = tf + k1 * (1 - b + b * F.col("__dl") / F.col("__avgdl"))
        score = score + idf * tf * (k1 + 1) / denom
    lex = (
        scored.select("doc_id", F.round(score, 9).alias("__bm25"))
        .orderBy(F.col("__bm25").desc(), "doc_id")
        .limit(k_list)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("__bm25").desc(), "doc_id"))
            .cast("long")
            .alias("lex_rank"),
        )
    )
    # semantic arm: cosine against a fixed literal query vector (the
    # first fixed centroid — a stand-in for an encoded query)
    qvec = sim.fixed_centroids()[0][1]
    qlit = F.array(*[F.lit(float(x)) for x in qvec])
    e = read_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        sim.cosine(F.col("embedding"), qlit).alias("__cs"),
    )
    sem = (
        e.orderBy(F.col("__cs").desc(), "doc_id")
        .limit(k_list)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("__cs").desc(), "doc_id"))
            .cast("long")
            .alias("sem_rank"),
        )
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        F.round(
            F.coalesce(1.0 / (F.lit(k_rrf) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(k_rrf) + F.col("sem_rank")), F.lit(0.0)),
            9,
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(20)


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style merge induction at word granularity: 3 rounds of
    count-adjacent-pairs → pick the most frequent (ties to the
    lexicographically smallest) → fuse every occurrence corpus-wide
    ('w1 w2' → 'w1+w2') — the tokenizer-training loop (Sennrich et al.
    2016) that real pipelines run over exactly this kind of corpus.
    Output: the merge table (round, pair, freq), the artifact a
    tokenizer ships.

    Iterative like k-means: each round's winning pair is a ONE-ROW
    driver collect (the model artifact), then the merge is a pure
    map-side string replace and the next round recounts. Unlike
    k-means the state is integers and strings, so the whole loop is
    oracle-checkable. Both engines use leftmost non-overlapping
    replace on space-padded text, so 'a b a b' fuses once per scan in
    both. At 100 TB each round is one map-combinable count aggregate
    plus one map pass; rounds beyond a handful would spool the merged
    corpus instead of re-deriving the replace chain lazily.
    """
    merges = _bpe_top_merges(spark, sf_dir, 3)
    return spark.createDataFrame(merges, "round INT, pair STRING, freq BIGINT")


@session_artifact("bpe_merges_r3", 3)
def _bpe_top_merges(
    spark: SparkSession, sf_dir: str, n_rounds: int
) -> tuple[tuple[int, str, int], ...]:
    """The BPE training loop shared by ``bpe_merges`` (emits the merge
    table), ``bpe_apply`` (applies it) and ``bpe_fertility`` (the lang
    census over the application): each round counts adjacent word pairs
    corpus-wide, collects the ONE winning (pair, freq) row, and fuses
    it map-side for the next round.

    The merge table is a session artifact keyed on n_rounds — a
    driver-side model artifact: a tokenizer trains ONCE and every
    consumer applies the shipped table, while the per-call shape ran
    the 3-round count loop (3 corpus-wide aggregations) once per
    consumer per run."""
    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    cur = d.select(F.concat(F.lit(" "), F.col("text"), F.lit(" ")).alias("t"))
    merges: list[tuple[int, str, int]] = []
    for r in range(n_rounds):
        tk = F.split(F.trim(F.col("t")), " ")
        grams = F.when(
            F.size(tk) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(tk, i), F.element_at(tk, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        top = (
            cur.select(F.explode(grams).alias("g"))
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), "g")
            .limit(1)
            .collect()[0]
        )
        pair, freq = top["g"], int(top["n"])
        merges.append((r + 1, pair, freq))
        cur = cur.select(
            F.replace(
                F.col("t"),
                F.lit(f" {pair} "),
                F.lit(" " + pair.replace(" ", "+") + " "),
            ).alias("t")
        )
    # Immutable artifact (ADVICE r10): a consumer mutating the returned
    # list would silently corrupt the shared session cache for every
    # later consumer — store and return a tuple.
    return tuple(merges)


def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: run the induced merge table over every
    document and report per-doc token counts before/after — the encode
    half of the BPE loop (train on the corpus, then tokenize the corpus
    with the artifact), and the number a pipeline owner actually tracks:
    how much sequence length the tokenizer buys.

    The merge table arrives exactly as it would on a cluster — a tiny
    driver-side model artifact (3 rows here) inlined into a map-only
    replace chain; application is zero-shuffle, fused into the scan.
    Both engines use leftmost non-overlapping replace on space-padded
    text, so fusions land identically.
    """
    merges = _bpe_top_merges(spark, sf_dir, 3)
    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    t = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    for _, pair, _freq in merges:
        t = F.replace(
            t, F.lit(f" {pair} "), F.lit(" " + pair.replace(" ", "+") + " ")
        )
    before = F.size(F.split(F.col("text"), " ")).cast("long")
    after = F.size(F.split(F.trim(t), " ")).cast("long")
    return d.select(
        "doc_id",
        before.alias("n_tok_before"),
        after.alias("n_tok_after"),
        (before - after).alias("n_merged"),
    )


def q_join_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics on orders.o_custkey: the pre-flight a
    planner runs before a big fact join to decide between plain
    hash-join, salting, and AQE skew handling. Reports the 20 heaviest
    keys (count, parts-per-million share, ×-uniform skew factor)
    against corpus-wide context: distinct keys, the exact second
    frequency moment F₂ = Σ n² (the collision mass — precisely the
    output row count of a self-join on this key, so it IS the number
    the planner is trying to bound), and the top-20 cumulative share.

    Float policy (the round-4 lesson): the r4 driver flipped this
    query's hash on per-key ``round(-p·ln(p)·1e6)`` entropy terms —
    ``ln`` is libm-dependent, and rounding thousands of last-ulp-
    fragile terms before a sum hands every boundary landing to the
    hash gate. F₂ replaces entropy with pure BIGINT arithmetic (IEEE
    +/×/÷ are correctly rounded, so every remaining ratio column is
    bit-identical cross-engine; only transcendentals are not), and the
    one concentration ratio left (top-20 share) has a single rounding
    site over two exact integers.

    One map-side-combined count per key, then a 20-row top-k and a
    one-row summary broadcast back — nothing heavier than the count
    shuffle at any scale, which is the point: the diagnostic must be
    cheaper than the join it protects.
    """
    o = read_table(spark, sf_dir, "orders").select("o_custkey")
    counts = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_rows"))
    frac = F.col("n_rows").cast("double") / F.col("__n").cast("double")
    summary = counts.agg(
        F.sum("n_rows").alias("__n"),
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.col("n_rows") * F.col("n_rows")).alias("f2_mass"),
    )
    with_tot = counts.crossJoin(F.broadcast(summary))
    top = with_tot.orderBy(F.col("n_rows").desc(), "o_custkey").limit(20)
    top20 = top.agg(
        F.round(
            F.sum("n_rows").cast("double") / F.max("__n").cast("double") * 1e6,
            0,
        )
        .cast("long")
        .alias("top20_share_ppm")
    )
    return top.crossJoin(F.broadcast(top20)).select(
        "o_custkey",
        "n_rows",
        F.round(frac * 1e6, 0).cast("long").alias("share_ppm"),
        F.round(frac * F.col("n_keys").cast("double") * 1e3, 0)
        .cast("long")
        .alias("skew_x_milli"),
        "n_keys",
        "f2_mass",
        "top20_share_ppm",
    )


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jégou, Douze & Schmid, TPAMI
    2011): split each 64-d embedding into 8 subspaces of 8 dims, assign
    each slice to the nearest of 16 literal sub-centroids — the vector
    compresses to 8 small ints (here 8 bytes vs 256, the 32× memory
    ratio real ANN serving runs on).

    Zero shuffle: every code is a map-side argmin expression over
    literal centroids (``operators/similarity.pq_code``), so at 100 TB
    encoding fuses into the parquet scan and writes codes alongside the
    data. The codebook is a driver-side model artifact (k-means per
    subspace in real life) inlined as literals — same serving pattern as
    ``kmeans_assign``. Output is integer-only, so the value-hash gate
    covers the whole argmin path bit-exactly.
    """
    cb = sim.pq_codebook()
    e = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return e.select(
        "vec_id",
        *[
            sim.pq_code(F.col("embedding"), m, cb).alias(f"code_{m}")
            for m in range(8)
        ],
    )


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: approximate each database
    vector by its sub-centroids and score it against the UNquantized
    query (vec_id 0) as the sum of per-subspace query→centroid squared
    distances; report the exact distance beside the ADC estimate — the
    quantization-error audit, same pattern as ``lsh_recall``.

    The scale shape ADC exists for: per query, the 8×16 distance table
    is computed ONCE on the driver (``pq_distance_table`` — a bounded
    64-float query collect, the k-means-centroid artifact posture) and
    inlined as literals, after which each of the N database vectors
    costs the code argmin plus 8 lookups + 7 adds — no query-side float
    math replicated across the corpus, which is why PQ serves
    billion-vector indexes. Each term is rounded to 9 dp and the 8
    terms sum in fixed subspace order, so the float path is
    engine-reproducible.
    """
    cb = sim.pq_codebook()
    e = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ]
    adc = sim.pq_adc("embedding", qvec, cb)
    # Exact distance vs the same literal query: left-associated flat sum
    # in element order — identical op order to the oracle's list_sum.
    exact = sim.exact_sqdist("embedding", qvec)
    return (
        e.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.round(adc, 9).alias("adc_dist"),
            F.round(exact, 9).alias("exact_dist"),
        )
        .orderBy("adc_dist", "vec_id")
        .limit(20)
    )


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al., NeurIPS
    2023): score every raw document by how target-like its hashed
    n-gram distribution is, then keep the top of the ranking — the
    published recipe for carving a domain-matched training subset out
    of a web-scale crawl. Target = the ``lang='en'`` slice; features =
    bigrams hashed into 256 buckets (seed-prefixed md5, the MinHash/CMS
    convention); bucket log-ratios use add-one smoothing.

    Float policy: each bucket's ln((t+1)/(T+B) ÷ (r+1)/(R+B)) is scaled
    by 1e4 and rounded to a BIGINT once, so per-document weights are
    exact integer dot products — order-independent, partitioning-
    independent, bit-identical in DuckDB. The 1e4 grid (r5, was 1e6)
    is deliberate: ln() is libm-dependent (the ``join_skew_profile``
    r4 lesson), and a 100× coarser grid makes a last-ulp boundary
    landing 100× less likely while 0.1-millinat weight resolution
    still ranks documents identically. At 100 TB: the bucket-stats
    table is 256 rows (broadcast), per-doc scoring shuffles only
    (doc_id, bucket, count) triples with map-side combine — text never
    crosses the wire, and the weight table is reusable across snapshots.
    """
    n_buckets = 256
    d = _docs_parallel(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = d.select(
        "doc_id",
        # when/otherwise, not a bool cast: NULL lang must count as 0
        # (the oracle's CASE ... ELSE 0), never propagate NULL.
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).cast("long").alias("__is_t"),
        F.explode(bigrams).alias("gram"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("gram"))), 1, 8), 16, 10)
        .cast("long")
        % n_buckets
    )
    b = g.select("doc_id", "__is_t", bucket.alias("bucket"))
    # ONE explode pass: the (doc, bucket) census is SPOOLED and both
    # the 256-row bucket stats and the per-doc dot product derive from
    # it — the previous shape re-ran the bigram explode+md5 for every
    # consumer (4 document scans; the explode is the expensive stage).

    census = spool(
        b.groupBy("doc_id", "__is_t", "bucket").agg(
            F.count(F.lit(1)).alias("__n")
        )
    )
    stats = census.groupBy("bucket").agg(
        F.sum(F.col("__is_t") * F.col("__n")).alias("__t"),
        F.sum("__n").alias("__r"),
    )
    tot = stats.agg(F.sum("__t").alias("__tt"), F.sum("__r").alias("__rt"))
    w = stats.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            F.log(
                ((F.col("__t") + 1.0) / (F.col("__tt") + float(n_buckets)))
                / ((F.col("__r") + 1.0) / (F.col("__rt") + float(n_buckets)))
            )
            * 1e4,
            0,
        )
        .cast("long")
        .alias("__w"),
    )
    per_doc = (
        census.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("__n") * F.col("__w")).alias("dsir_w_scaled"),
            F.sum("__n").alias("n_grams"),
        )
    )
    langs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        per_doc.join(langs, "doc_id")
        .select("doc_id", "lang", "n_grams", "dsir_w_scaled")
        .orderBy(F.col("dsir_w_scaled").desc(), "doc_id")
        .limit(100)
    )


def q_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring (Wenzek et al. 2020): train an
    add-one-smoothed bigram language model on the corpus itself, score
    every document by mean log-probability, and band the result —
    low-perplexity ⇒ repetitive/boilerplate, high-perplexity ⇒ garbage,
    the middle is what survives into training mixes.

    Float policy: each bigram's ln((c₂+1)/(c₁+V)) is scaled by 1e4 and
    rounded to BIGINT once in the model table, so per-document sums are
    exact integer arithmetic; the mean divides two exact integers in
    double (identical in DuckDB) and rounds to 6 dp. The 1e4 grid (r5,
    was 1e6) buys a 100× margin against libm last-ulp flips — the
    model table is the largest ln-rounded surface in the repo (one row
    per observed bigram), so it gets the coarsest grid that still
    scores at 0.1-millinat resolution. At 100 TB the model
    table is |vocab²-observed| rows keyed by gram — the score join is a
    gram-equality shuffle with map-side-combined doc partials, and the
    model is a reusable artifact exactly like the DSIR weight table.
    """
    d = _docs_parallel(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = d.select("doc_id", F.explode(bigrams).alias("gram"))
    # the bigram-count model census is SPOOLED: the backoff-count
    # derivation and the model projection otherwise each re-ran the
    # corpus explode (the model is the reusable artifact — this is
    # its materialization)

    c2 = spool(g.groupBy("gram").agg(F.count(F.lit(1)).alias("__c2")))
    c1 = c2.groupBy(F.split(F.col("gram"), " ").getItem(0).alias("__w1")).agg(
        F.sum("__c2").alias("__c1")
    )
    vocab = (
        d.select(F.explode(toks).alias("tok"))
        .agg(F.count_distinct("tok").alias("__v"))
    )
    model = (
        c2.withColumn("__w1", F.split(F.col("gram"), " ").getItem(0))
        .join(c1, "__w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "gram",
            F.round(
                F.log(
                    (F.col("__c2") + 1.0)
                    / (F.col("__c1") + F.col("__v").cast("double"))
                )
                * 1e4,
                0,
            )
            .cast("long")
            .alias("__lp"),
        )
    )
    scored = (
        g.join(model, "gram")
        .groupBy("doc_id")
        .agg(
            F.sum("__lp").alias("lp_sum_scaled"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
    )
    avg_lp = F.round(
        F.col("lp_sum_scaled").cast("double")
        / (F.col("n_bigrams").cast("double") * 1e4),
        6,
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "lp_sum_scaled",
        avg_lp.alias("avg_logp"),
        F.when(avg_lp > -4.5, F.lit("low_ppl"))
        .when(avg_lp < -7.5, F.lit("high_ppl"))
        .otherwise(F.lit("mid"))
        .alias("ppl_band"),
    )


def q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ: the composed billion-vector serving plan (FAISS's
    IVFADC, Jégou et al. 2011) — coarse-quantize every vector to an IVF
    cell, search ONLY the query's cell, score candidates by PQ
    asymmetric distance. Touches ~1/k of the corpus and does no 64-d
    float math on the scan side: cells prune partitions (the
    ``ivf_cells`` layout writes cell as a partition column, pruning
    proved in tests/test_optimizer.py) and ADC is 8 lookups + 7 adds
    per candidate.

    Both quantizers are literal model artifacts (``fixed_centroids``,
    ``pq_codebook``) shared with the DuckDB oracle, so the full
    cell-assignment → candidate-prune → ADC-rank path is value-hash
    checked end-to-end.
    """
    cb = sim.pq_codebook()
    cents = sim.fixed_centroids()
    e = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cells = e.select(
        "vec_id", "embedding", sim.ivf_cell(F.col("embedding"), cents).alias("cell")
    )
    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ]
    q = cells.filter(F.col("vec_id") == 0).select(F.col("cell").alias("__qc"))
    cand = cells.crossJoin(F.broadcast(q)).filter(  # bounded: one probe vector
        (F.col("cell") == F.col("__qc")) & (F.col("vec_id") != 0)
    )
    adc = sim.pq_adc(F.col("embedding"), qvec, cb)
    return (
        cand.select("vec_id", "cell", F.round(adc, 9).alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


def q_adaptive_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive per-source quality gating: instead of one global quality
    cutoff (which a clean source saturates and a noisy source flunks
    wholesale), each document competes against its OWN source's median —
    the per-domain percentile filtering used when curating heterogeneous
    crawls. Median = the exact lower median of the 9 dp-rounded score,
    pinned to a total order (score, doc_id) so both engines select the
    identical row.

    Scale: one shuffle on source for the rank window; the median table
    is |sources| rows — broadcast back, so the gate itself is map-side.
    At 100 TB the same two-pass shape holds (rank via count + offset,
    the scaled-cumsum pattern) and no text ever shuffles — only
    (doc_id, source, score) triples.
    """
    # text IS NOT NULL: a NULL score would sort NULLS FIRST in Spark's
    # asc window but NULLS LAST in DuckDB's — exclude instead of diverge.
    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    s = d.select(
        "doc_id", "source", F.round(quality_score("text"), 9).alias("quality")
    )
    w = Window.partitionBy("source").orderBy("quality", "doc_id")
    ranked = s.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy("source"))
    )
    med = ranked.filter(
        F.col("__rn") == F.floor((F.col("__n") + 1) / 2)
    ).select("source", F.col("quality").alias("src_median"))
    return (
        s.join(F.broadcast(med), "source")  # bounded: 20 doc sources
        .select(
            "doc_id",
            "source",
            "quality",
            "src_median",
            (F.col("quality") >= F.col("src_median")).alias("passes"),
        )
    )


def q_quality_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: a logistic classifier over the
    engine's text features with FIXED literal weights — the serving
    shape of the fasttext/CCNet-style learned quality filters every
    production corpus runs (the weights are a driver-side model
    artifact, exactly like PQ codebooks and k-means centroids).

    Zero shuffle: features, dot product, and sigmoid are one map-side
    codegen expression fused into the scan. Features are integer-derived
    and 9 dp-rounded before the fixed-order dot product; the sigmoid
    output rounds to 9 dp (the ln()/exp() cross-engine convention the
    gate has validated since BM25).
    """
    d = _docs_parallel(spark, sf_dir)
    q = F.round(quality_score("text"), 9)
    dup = F.round(dup_token_ratio("text"), 9)
    mlen = F.round(mean_token_len("text"), 9)
    n_tok = token_count("text").cast("double")
    # w·x in fixed order: bias + quality + repetition + mean-len + length
    z = (
        F.lit(-2.0)
        + F.lit(6.0) * q
        + F.lit(-3.0) * dup
        + F.lit(0.25) * mlen
        + F.lit(0.002) * n_tok
    )
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)
    return d.select(
        "doc_id",
        p.alias("quality_p"),
        (p >= 0.5).alias("passes"),
    )


def q_drift_weekly_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: per 7-day window, the Pearson χ²
    divergence (add-one smoothed) and L1 distance of the event-type
    distribution against the PREVIOUS week — the governance check a
    training-data pipeline runs on every ingest snapshot so a silently
    shifted upstream (a source changes schema, a bot floods one event
    type) trips an alert before the data reaches a mix. (Query name
    keeps the registry's historical ``_kl`` suffix; r5 swapped the
    divergence from KL to χ² — see float policy below. For small
    shifts χ² ≈ 2·KL, so the alert threshold doubled with it.)

    Float policy (r5): the old per-type ``round(p·ln(p/q)·1e6)`` KL
    terms carried the same libm fragility that flipped
    ``join_skew_profile``'s r4 hash — ``ln`` is not IEEE-exact across
    engines, and rounding thousands of transcendental terms before a
    sum hands every boundary landing to the hash gate. χ² terms
    ((p−q)²/q) are pure +/−/×/÷ of integers — correctly rounded IEEE
    ops, bit-identical in Spark and DuckDB in fixed operation order —
    so the per-term 1e6-scaled BIGINT rounding is now exact, and the
    per-week sums stay order- and partition-independent. Scale: the
    only heavy stage is the map-side-combined (week, type) count;
    distributions are |weeks×types| rows, the type census is a
    broadcast one-rower, and the previous-week comparison is a tiny
    self-join on week_start − 7 days.
    """
    e = read_table(spark, sf_dir, "events").select("ts", "event_type")
    win = F.window("ts", "7 days")
    counts = (
        e.groupBy(win["start"].alias("__wk"), "event_type")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return _drift_from_counts(counts)


def _drift_from_counts(counts: DataFrame) -> DataFrame:
    """χ²/L1 drift report from a (__wk, event_type, __c) count frame —
    shared by the batch query above and ``drift_stream`` (the streaming
    ingest produces the identical count frame, so both front-ends share
    one oracle: the kappa-architecture parity claim, verified).

    The |weeks×types|-bounded count frame is SPOOLED: its five
    consumers (week spine, type spine, grid, and the shifted
    cur/prev pair) otherwise each re-ran the upstream fact aggregate
    (an 8× event read in the batch front-end)."""

    counts = spool(counts)
    weeks = counts.select("__wk").distinct()
    types = counts.select("event_type").distinct()
    n_types = types.agg(F.count(F.lit(1)).alias("__t"))
    grid = (
        weeks.crossJoin(F.broadcast(types))
        .join(counts, ["__wk", "event_type"], "left")
        .withColumn("__c", F.coalesce(F.col("__c"), F.lit(0)))
    )
    withn = grid.withColumn(
        "__n", F.sum("__c").over(Window.partitionBy("__wk"))
    ).crossJoin(F.broadcast(n_types))
    cur = withn.select(
        F.col("__wk"),
        "event_type",
        F.col("__c").alias("__cw"),
        F.col("__n").alias("__nw"),
        F.col("__t"),
    )
    prev = withn.select(
        (F.col("__wk") + F.expr("INTERVAL 7 DAYS")).alias("__wk"),
        "event_type",
        F.col("__c").alias("__cp"),
        F.col("__n").alias("__np"),
    )
    p = (F.col("__cw") + 1.0) / (F.col("__nw") + F.col("__t").cast("double"))
    q = (F.col("__cp") + 1.0) / (F.col("__np") + F.col("__t").cast("double"))
    chi2_term = F.round((p - q) * (p - q) / q * 1e6, 0).cast("long")
    l1_term = F.round(
        F.abs(
            F.col("__cw").cast("double") / F.col("__nw").cast("double")
            - F.col("__cp").cast("double") / F.col("__np").cast("double")
        )
        * 1e6,
        0,
    ).cast("long")
    return (
        cur.join(prev, ["__wk", "event_type"])
        .groupBy("__wk")
        .agg(
            F.max("__nw").cast("long").alias("n_events"),
            F.sum(chi2_term).alias("chi2_scaled"),
            F.sum(l1_term).alias("l1_scaled"),
        )
        .select(
            F.date_format("__wk", "yyyy-MM-dd").alias("week_start"),
            "n_events",
            "chi2_scaled",
            "l1_scaled",
            (F.col("chi2_scaled") > 2000).alias("drifted"),
        )
    )


def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-bin quantile estimation, audited against exact
    percentiles — the last member of the sketch family (HLL distinct,
    count-min frequency, Bloom membership, and now quantiles): p50/p90/
    p99 of ``events.value`` per event type from a 64-bin histogram over
    [0, 512), linearly interpolated inside the winning bin, with the
    exact rank-selected percentile and the estimation error beside it
    (the `lsh_recall`/`countmin` audit-the-approximation pattern).

    Why it matters at 100 TB: the histogram is 64 BIGINTs per group —
    order-independent, map-side-combinable, mergeable across
    partitions/days — so percentile tracking over any volume costs one
    tiny aggregate, while exact per-group rank selection (the audit arm
    here) needs a full sort. Bin selection is pure integer arithmetic
    (100·cum ≥ p·n); only the final interpolation touches doubles, in
    fixed operation order, rounded to 6 dp.
    """
    width, n_bins = 8.0, 64
    e = read_table(spark, sf_dir, "events").select("event_type", "value", "event_id")
    binned = e.select(
        "event_type",
        F.least(F.floor(F.col("value") / width).cast("int"), F.lit(n_bins - 1)).alias(
            "__bin"
        ),
    )
    hist = binned.groupBy("event_type", "__bin").agg(F.count(F.lit(1)).alias("__cnt"))
    wt = Window.partitionBy("event_type")
    wo = wt.orderBy("__bin")
    cum = (
        hist.withColumn("__cum", F.sum("__cnt").over(wo))
        .withColumn("__n", F.sum("__cnt").over(wt))
        .withColumn("__before", F.col("__cum") - F.col("__cnt"))
    )
    ps = cum.withColumn("p", F.explode(F.array(F.lit(50), F.lit(90), F.lit(99))))
    qbin = ps.filter(100 * F.col("__cum") >= F.col("p") * F.col("__n")).withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("event_type", "p").orderBy("__bin")
        ),
    ).filter(F.col("__rn") == 1)
    est = qbin.select(
        "event_type",
        "p",
        F.round(
            F.col("__bin") * width
            + width
            * (
                (
                    F.col("p") * F.col("__n").cast("double") / 100.0
                    - F.col("__before").cast("double")
                )
                / F.col("__cnt").cast("double")
            ),
            6,
        ).alias("est_value"),
    )
    ranked = e.withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("value", "event_id")
        ),
    ).withColumn("__n", F.count(F.lit(1)).over(wt))
    exact = (
        ranked.withColumn("p", F.explode(F.array(F.lit(50), F.lit(90), F.lit(99))))
        .filter(F.col("__rn") == F.expr("(p * __n + 99) div 100"))
        .select("event_type", "p", F.col("value").alias("exact_value"))
    )
    return (
        est.join(exact, ["event_type", "p"])
        .select(
            "event_type",
            "p",
            "est_value",
            "exact_value",
            F.round(F.col("est_value") - F.col("exact_value"), 6).alias("err"),
        )
    )


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity risk audit over the event log: treat (event_type,
    day, value-decile-band) as the quasi-identifier tuple and report,
    per event type, how many tuples fall below k=5 members and how many
    rows sit in those small (re-identifiable) groups — the privacy
    governance complement to ``pii_scrub``: scrubbing removes direct
    identifiers, this measures whether the remaining attribute
    combinations still single people out (Sweeney 2002).

    Two map-side-combinable aggregates (rows → tuple sizes → per-type
    rollup); the risk share is ppm-scaled on exact integers. NTZ
    timestamps keep the day bucket session-timezone-independent.
    """
    e = read_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    tuples = e.select(
        "event_type",
        F.to_date("ts").alias("__day"),
        F.least(F.floor(F.col("value") / 50.0).cast("int"), F.lit(9)).alias("__band"),
    )
    sizes = tuples.groupBy("event_type", "__day", "__band").agg(
        F.count(F.lit(1)).alias("__g")
    )
    return (
        sizes.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum((F.col("__g") < 5).cast("long")).alias("n_groups_lt_k"),
            F.sum(F.when(F.col("__g") < 5, F.col("__g")).otherwise(F.lit(0)))
            .cast("long")
            .alias("rows_at_risk"),
            F.sum("__g").cast("long").alias("n_rows"),
        )
        .select(
            "event_type",
            "n_groups",
            "n_groups_lt_k",
            "rows_at_risk",
            "n_rows",
            F.expr("rows_at_risk * 1000000 div n_rows").alias("risk_ppm"),
        )
    )


def q_contract_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract validation (the dbt-tests / Great-Expectations
    pattern): declarative row-level rules over three tables — range,
    enum-membership, non-negativity, not-null — each reported as
    (rule, n_rows, n_violations, passes). The ingest gate a pipeline
    runs before letting a snapshot anywhere near a training mix; a rule
    flipping to passes=false is the cheapest possible upstream alarm.

    Each rule is one map-side-combined conditional count over its scan
    (violation predicates fold into whole-stage codegen); the result is
    a fixed-row union of one-row aggregates — nothing heavier than a
    count at any scale.
    """
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    e = read_table(spark, sf_dir, "events")

    def rule(df: DataFrame, name: str, violation) -> DataFrame:
        return df.agg(
            F.lit(name).alias("rule"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(violation.cast("long")).alias("n_violations"),
        )

    checks = [
        rule(o, "orders_totalprice_nonneg", F.col("o_totalprice") < 0),
        rule(o, "orders_orderdate_not_null", F.col("o_orderdate").isNull()),
        rule(
            o,
            "orders_status_enum",
            ~F.col("o_orderstatus").isin("F", "O", "P"),
        ),
        rule(li, "lineitem_quantity_range", ~F.col("l_quantity").between(1, 50)),
        rule(li, "lineitem_discount_range", ~F.col("l_discount").between(0.0, 0.1)),
        rule(
            e,
            "events_type_enum",
            ~F.col("event_type").isin("click", "view", "purchase", "signup", "error"),
        ),
        rule(e, "events_value_nonneg", F.col("value") < 0),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.withColumn("passes", F.col("n_violations") == 0)


@session_artifact("pq_codes")
def _pq_codes_spooled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The encoded-codes artifact, built once per (session, snapshot):
    'encode once per snapshot' IS the PQ-index semantic — repeat
    serving calls must reuse the materialization, not re-run the
    argmin (at 100 TB the codes are columns written at ingest). The
    snapshot fingerprint in the artifact key re-encodes after an
    in-place fixture rewrite instead of serving stale codes."""
    return spool(q_pq_codes(spark, sf_dir))


def q_pq_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode-once / serve-many PQ: materialize the 8-byte codes to
    scratch parquet (the ingest-time encoding a production index does
    exactly once), then serve the ADC top-20 FROM THE CODES ALONE —
    the serving plan reads 8 small ints per vector, does 8 literal
    lookups + 7 adds, and never touches the embedding column again.

    This splits the two costs the fused ``pq_topk`` pays together:
    encoding (the heavyweight argmin, spooled — at 100 TB it runs once
    per snapshot and lands as columns/partitions) and serving (per
    query: a driver-built 8×16 literal table + a scan of the code
    columns — sub-second here, and at scale a fraction of the full
    vector I/O: 8 bytes vs 256 read per row, with column pruning
    proving the embedding is never scanned). Results are identical to
    ``pq_topk``'s ADC arm by construction — same codes, same table —
    so the oracle is the same CTE minus the exact-distance audit.
    """
    cb = sim.pq_codebook()
    codes = _pq_codes_spooled(spark, sf_dir)
    e = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ]
    table = sim.pq_distance_table(qvec, cb)
    adc = sim.adc_from_codes(table)
    return (
        codes.filter(F.col("vec_id") != 0)
        .select("vec_id", F.round(adc, 9).alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(20)
    )


def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@20 of PQ-ADC against the exact squared-L2 ranking — the
    quantization-quality audit completing the ANN audit family
    (`lsh_recall` for sign-LSH, `truncated_recall` for dim cuts, this
    for code quantization): |ADC top-20 ∩ exact top-20| as an exact
    integer ppm. The ADC arm reuses the spooled codes (encode-once
    artifact); the exact arm is the full-scan baseline the audit
    exists to let you STOP running at scale.
    """
    k = 20
    e = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ]
    adc_top = q_pq_serve(spark, sf_dir).select("vec_id")
    exact = sim.exact_sqdist("embedding", qvec)
    exact_top = (
        e.filter(F.col("vec_id") != 0)
        .select("vec_id", F.round(exact, 9).alias("__d"))
        .orderBy("__d", "vec_id")
        .limit(k)
        .select("vec_id")
    )
    hits = adc_top.join(exact_top, "vec_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return hits.select(
        F.lit(k).cast("long").alias("k"),
        "n_hits",
        F.expr(f"n_hits * 1000000 div {k}").alias("recall_ppm"),
    )


def q_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: instead of DROPPING duplicate documents, downweight
    each copy by 1/cluster_size (ppm-scaled integers) so a text seen N
    times contributes one document's worth of mass — the
    repetition-downweighting alternative to `doc_dedup_exact` when the
    duplicates carry distinct metadata worth keeping. Reported per
    source: raw docs, unique texts, and the effective sample mass —
    the number that actually matters when sizing a training mix.

    Same 100 TB shape as exact dedup: only (md5, count) pairs shuffle
    (map-side combined), the weight join carries 16-byte digests, text
    never crosses the wire.
    """
    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    keyed = d.select("doc_id", "source", F.md5("text").alias("__k"))
    sizes = keyed.groupBy("__k").agg(F.count(F.lit(1)).alias("__sz"))
    weighted = keyed.join(sizes, "__k").select(
        "source", F.expr("1000000 div __sz").alias("__w_ppm"), "__k"
    )
    return (
        weighted.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("__k").alias("n_unique"),
            F.sum("__w_ppm").alias("eff_mass_ppm"),
        )
    )


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage / OOV-rate audit: what fraction of each
    language's token occurrences is covered by the corpus-wide top-K
    vocabulary (K=16 here — the synthetic corpus has only 31 distinct
    tokens, so a production-sized 32k vocab would make the audit
    degenerate; the shape is K-independent) — the check a tokenizer owner runs before freezing a
    vocab (high OOV for a language means its text will shatter into
    fallback bytes and train badly). Exact integer ppm per language.

    Scale: the vocab is a bounded top-k off one map-combined count
    (ties to the lexicographically smaller token, a total order); the
    coverage pass re-aggregates per (lang, token) and LEFT-SEMI joins
    the broadcast 1000-row vocab — text shuffles as (lang, token,
    count) triples only, and the vocab artifact is reusable across
    snapshots like every other model table here.
    """
    k = 16
    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    toks = d.select("lang", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    counts = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("__n"))
    vocab = (
        counts.groupBy("tok")
        .agg(F.sum("__n").alias("__tot"))
        .orderBy(F.col("__tot").desc(), "tok")
        .limit(k)
        .select("tok")
    )
    covered = counts.join(F.broadcast(vocab), "tok", "left_semi").groupBy("lang").agg(
        F.sum("__n").alias("__in_vocab")
    )
    totals = counts.groupBy("lang").agg(F.sum("__n").alias("n_tokens"))
    return (
        totals.join(covered, "lang", "left")
        .select(
            "lang",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce(F.col("__in_vocab"), F.lit(0)).cast("long").alias("n_in_vocab"),
            F.expr("coalesce(__in_vocab, 0) * 1000000 div n_tokens").alias(
                "coverage_ppm"
            ),
        )
    )


def q_weekly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue TREND: the OLS slope of weekly revenue over
    the week index, computed entirely from sufficient statistics —
    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) — the grouped-regression
    shape monitoring dashboards run to answer "which segments are
    declining" without collecting a single series to the driver.

    Determinism: x is an integer week index and y an exact DECIMAL
    revenue, so every sufficient statistic (Σx, Σy, Σxy, Σx²) is exact
    integer/decimal arithmetic — order- and partition-independent — and
    the single double division at the end rounds to 6 dp identically in
    both engines. Scale: one fact shuffle to (nation, week) partials,
    then a 25-row stats aggregate; the regression itself never sees row
    data.
    """
    # (nation, __wk, __rev) = the session-shared `_nation_week_rev`
    # spool (r10-opt) — this lineitem-revenue census was rebuilt
    # inline per call.
    rev = _nation_week_rev(spark, sf_dir)
    stats = rev.groupBy("nation").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__wk").alias("__sx"),
        F.sum("__rev").alias("__sy"),
        F.sum(F.col("__rev") * F.col("__wk")).alias("__sxy"),
        F.sum(F.col("__wk") * F.col("__wk")).alias("__sxx"),
    )
    slope = F.round(
        (F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast("double")
        / (F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast(
            "double"
        ),
        6,
    )
    return (
        stats.filter(F.col("__n") >= 2)
        .select(
            "nation",
            F.col("__n").alias("n_weeks"),
            slope.alias("slope_per_week"),
            (slope > 0).alias("trending_up"),
        )
    )


def q_changepoint_weeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint estimation per nation: the week where the
    cumulative deviation of weekly revenue from its nation mean peaks
    in magnitude — Page's classic sequential statistic, the standard
    first answer to "WHEN did this segment's behavior change" (the
    drift monitor's complement: drift says THAT a week shifted, CUSUM
    locates the level change).

    Determinism without trusting float summation structure: per-week
    deviations are rounded once to integer cents (both engines compute
    the identical double first), so the running CUSUM is exact integer
    arithmetic no matter how either engine's windowed SUM associates.
    Peak pinned to (|cusum| desc, week asc). One fact shuffle → weekly
    partials → a per-nation window over |weeks| rows.
    """
    # (nation, __wk, __rev) = the session-shared `_nation_week_rev`
    # spool (r10-opt) — this lineitem-revenue census was rebuilt
    # inline per call.
    rev = _nation_week_rev(spark, sf_dir)
    stats = rev.groupBy("nation").agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__rev").alias("__sy")
    )
    mean = F.col("__sy").cast("double") / F.col("__n").cast("double")
    dev_cents = F.round(
        (F.col("__rev").cast("double") - mean) * 100.0, 0
    ).cast("long")
    w = (
        Window.partitionBy("nation")
        .orderBy("__wk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = (
        rev.join(F.broadcast(stats), "nation")
        .withColumn("__cusum", F.sum(dev_cents).over(w))
    )
    ranked = cusum.withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("nation").orderBy(
                F.abs(F.col("__cusum")).desc(), "__wk"
            )
        ),
    )
    return (
        ranked.filter(F.col("__rn") == 1)
        .select(
            "nation",
            F.col("__wk").alias("changepoint_wk"),
            F.abs(F.col("__cusum")).alias("peak_cusum_cents"),
            F.col("__n").alias("n_weeks"),
        )
    )


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum construction: a deterministic global training order —
    highest-quality documents first WITHIN each source, sources
    interleaved round-robin — so early training sees the best of every
    domain instead of whole sources back-to-back (the ordering knob
    data-curriculum work tunes; a frozen, reproducible ordering is the
    prerequisite for any ordering experiment).

    Every rank pins a total order ((quality desc, doc_id) per source;
    (src_rank, source) globally), so the position column is bitwise
    reproducible. The global row_number is the documented
    single-partition edge (positions, not data, flow through it); at
    100 TB the two-pass count+offset rewrite applies — the same
    scale-out already implemented for the scaled ABC cumsum
    (operators/windows.py).
    """
    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    s = d.select(
        "doc_id", "source", F.round(quality_score("text"), 9).alias("quality")
    )
    src_rank = F.row_number().over(
        Window.partitionBy("source").orderBy(F.col("quality").desc(), "doc_id")
    )
    ranked = s.withColumn("src_rank", src_rank.cast("long"))
    # global interleave position via the bucketed two-pass rank — the
    # (src_rank, source) order is total, and bucketing on src_rank
    # keeps ties (same rank, different sources) in one bucket
    return global_rank_scaled(
        ranked, "src_rank", "position", ascending=True, tiebreaks=("source",)
    ).select("position", "doc_id", "source", "src_rank", "quality")


def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit of the learned quality score against the
    rule-based gate: bucket ``quality_logistic``'s probability into
    deciles and report each decile's Gopher pass-rate — if the model is
    calibrated, the pass-rate climbs monotonically with the score (the
    standard before-you-trust-a-classifier ML-ops check, composed from
    two operators this engine already serves).

    One scan computes BOTH scores (they fuse into the same map stage),
    then a ≤10-row decile aggregate — exact integer counts, ppm rate.
    """
    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    q = F.round(quality_score("text"), 9)
    dup = F.round(dup_token_ratio("text"), 9)
    mlen = F.round(mean_token_len("text"), 9)
    n_tok = token_count("text")
    z = (
        F.lit(-2.0)
        + F.lit(6.0) * q
        + F.lit(-3.0) * dup
        + F.lit(0.25) * mlen
        + F.lit(0.002) * n_tok.cast("double")
    )
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)
    gopher = (
        n_tok.between(10, 1000)
        & mlen.between(2.0, 10.0)
        & (dup <= 0.6)
        & (stopword_hits("text") >= 2)
    )
    scored = d.select(
        F.least(F.floor(p * 10).cast("int"), F.lit(9)).alias("decile"),
        gopher.cast("long").alias("__pass"),
    )
    return (
        scored.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__pass").alias("n_gopher_pass"),
        )
        .select(
            "decile",
            "n_docs",
            "n_gopher_pass",
            F.expr("n_gopher_pass * 1000000 div n_docs").alias("pass_rate_ppm"),
        )
    )


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, deterministically: each float is
    quantized ONCE to a fixed global scale (round(x·127), the int8
    convention of `embedding_quantize`), then summed per dimension as
    exact integers — the trick that makes a distributed vector mean
    bit-reproducible (float sums reassociate; integer sums don't). The
    per-class centroid + population is the semantic-drift baseline a
    corpus owner freezes per snapshot ("did class 3's embedding mass
    move since last month"), and the same exact-integer-partials shape
    is how k-means gets deterministic at scale if you accept the
    quantization.

    Shuffle carries (label, dim, partial-int) triples with map-side
    combine — vectors never move whole; the final array re-assembles
    from ≤ |labels|×64 rows.
    """
    e = read_table(spark, sf_dir, "embeddings").select("label", "embedding")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.round(x.cast("double") * 127.0, 0).cast("int")),
        ),
    )
    dims = e.select(
        "label", F.posexplode(q).alias("dim", "__q")
    )
    sums = dims.groupBy("label", "dim").agg(
        F.sum("__q").alias("__s"), F.count(F.lit(1)).alias("__n")
    )
    return (
        sums.groupBy("label")
        .agg(
            F.max("__n").alias("n_vectors"),
            F.sort_array(
                F.collect_list(F.struct(F.col("dim"), F.col("__s")))
            ).alias("__pairs"),
        )
        .select(
            F.col("label").cast("int").alias("label"),
            F.col("n_vectors").cast("long").alias("n_vectors"),
            # rendered to a string at the output edge (the engine-wide
            # array convention: the hash gate compares scalars)
            F.array_join(
                F.transform(F.col("__pairs"), lambda p: p["__s"].cast("string")),
                ",",
            ).alias("centroid_sum_q"),
        )
    )


def q_drift_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``drift_weekly_kl``: the weekly (type, count)
    census produced by a Structured Streaming tumbling-window aggregate
    over the staged events feed, then the identical χ²/L1 comparison —
    batch and stream share ONE oracle, so the kappa-architecture parity
    ("replay the stream, get the batch answer") is hash-verified."""
    from .streaming.drift import drift_stream

    return drift_stream(spark, sf_dir)


def q_revenue_recognition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly revenue recognition by interval proration: each order
    line's value is spread evenly across the weeks between the order
    week and the ship week — the accrual-accounting / subscription-
    amortization staple (recognize revenue over the service interval,
    not at the booking instant) that every finance warehouse computes.

    Integer allocation with NO float anywhere: the line's exact cents
    are split largest-remainder-style — every week gets
    ``cents div n`` and the FIRST ``cents mod n`` weeks get one extra
    cent (a deterministic front-loaded remainder), so per-line
    allocations sum back to the line's cents EXACTLY and the weekly
    totals are bit-identical in any engine and any partitioning.

    Scale shape: lineitem⋈orders is the canonical co-partitioned
    fact-fact key join (both shuffle once on orderkey — at a real
    deployment both sides are bucketed on it and the shuffle
    disappears); the explode emits only (week, amt) integer pairs
    (≈6.6 rows/line here), and the final weekly aggregate map-side
    combines to |weeks| rows per task before its one census shuffle.
    The sequence() being exploded is built from two cheap scalars, so
    Generate's producer-inlining hazard (the winnow lesson) does not
    apply.
    """
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",)).select(
        "l_orderkey", "l_extendedprice", "l_shipdate"
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.date_trunc("week", "o_orderdate").cast("date").alias("__wk0"),
        F.date_trunc("week", "l_shipdate").cast("date").alias("__wk1"),
        (F.col("l_extendedprice").cast(MONEY) * 100).cast("long").alias("__cents"),
    )
    j = j.withColumn(
        "__n",
        F.greatest(
            F.expr("datediff(__wk1, __wk0) div 7 + 1"), F.lit(1)
        ).cast("long"),
    )
    ex = j.select(
        "__wk0",
        "__n",
        "__cents",
        F.explode(F.expr("sequence(0, __n - 1)")).alias("__i"),
    ).select(
        F.expr("date_add(__wk0, cast(__i * 7 as int))").alias("__wk"),
        F.expr(
            "__cents div __n + (case when __i < __cents % __n then 1 else 0 end)"
        ).alias("__amt"),
    )
    return (
        ex.groupBy("__wk")
        .agg(
            F.sum("__amt").cast("long").alias("recognized_cents"),
            F.count(F.lit(1)).cast("long").alias("n_line_weeks"),
        )
        .select(
            F.date_format("__wk", "yyyy-MM-dd").alias("semana"),
            "recognized_cents",
            "n_line_weeks",
        )
        .orderBy("semana")
    )


def q_open_order_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent open orders per nation via the classic interval
    sweep (+1 at open, −1 the day after close): each order is "open"
    from its order date to its last line's ship date, and the answer
    is the max of the running sum of boundary deltas — the capacity /
    work-in-progress metric an ops dashboard wants, computed WITHOUT
    materializing any day-level interval expansion.

    The sweep is why this scales: intervals average ~46 days, so an
    explode-by-day plan would emit 46× the fact rows; boundary deltas
    emit exactly 2 per order, the daily census collapses them to
    (nation, date) rows, and the cumulative window runs over at most
    |calendar| rows per nation. Peak date is rank-selected under the
    (open_count desc, date asc) total order, so ties resolve
    identically in any engine. All-integer output; one rank window
    per nation partition.
    """
    # spans = the session-shared `_order_spans` spool (r10-opt) — the
    # lineitem max-shipdate + orders join was rebuilt inline per call.
    spans = _order_spans(spark, sf_dir)
    deltas = spans.select(
        "c_nationkey", F.col("__open").alias("__d"), F.lit(1).alias("__delta")
    ).unionAll(
        spans.select(
            "c_nationkey",
            F.date_add("__close", 1).alias("__d"),
            F.lit(-1).alias("__delta"),
        )
    )
    daily = deltas.groupBy("c_nationkey", "__d").agg(F.sum("__delta").alias("__dd"))
    wcum = (
        Window.partitionBy("c_nationkey")
        .orderBy("__d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.withColumn("__open_cnt", F.sum("__dd").over(wcum))
    wrank = Window.partitionBy("c_nationkey").orderBy(
        F.col("__open_cnt").desc(), F.col("__d").asc()
    )
    return (
        cum.withColumn("__rn", F.row_number().over(wrank))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            F.col("__open_cnt").cast("long").alias("peak_open"),
            F.date_format("__d", "yyyy-MM-dd").alias("peak_date"),
        )
        .orderBy("nationkey")
    )


def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pareto frontier (skyline, Börzsönyi/Kossmann/Stocker
    ICDE 2001) of parts under (minimize retail price, maximize size):
    a part is dominated iff some same-brand part is no-worse in both
    dimensions and strictly better in one — the "best tradeoff set"
    query behind product-selection and multi-objective pruning.

    The naive skyline is an all-pairs dominance test; the 2-D
    sort-scan equivalence makes it two windows instead: under a price
    ordering, a part is dominated exactly when (a) the max size among
    STRICTLY cheaper parts reaches its size (a RANGE frame ending at
    -1 excludes price ties, so equal-price parts never dominate via
    this path), or (b) a same-price part has strictly larger size.
    Both windows partition by brand (~800 parts each here; bounded by
    catalog, not corpus) — no global sort, no self-join, all-integer
    values (exact cents / sizes), so the frontier is engine-exact
    including equal-price-equal-size twins (neither dominates; both
    stay).
    """
    p = read_table(spark, sf_dir, "part").select(
        "p_brand",
        "p_partkey",
        F.col("p_size").cast("long").alias("size"),
        (F.col("p_retailprice").cast(MONEY) * 100).cast("long").alias("price_cents"),
    )
    w_cheaper = (
        Window.partitionBy("p_brand")
        .orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_tie = Window.partitionBy("p_brand", "price_cents")
    flagged = p.select(
        "p_brand",
        "p_partkey",
        "size",
        "price_cents",
        F.max("size").over(w_cheaper).alias("__m_cheaper"),
        F.max("size").over(w_tie).alias("__m_tie"),
    )
    return (
        flagged.filter(
            (F.col("__m_cheaper").isNull() | (F.col("__m_cheaper") < F.col("size")))
            & (F.col("__m_tie") <= F.col("size"))
        )
        .select(
            "p_brand",
            F.col("p_partkey").cast("long").alias("p_partkey"),
            "size",
            "price_cents",
        )
        .orderBy("p_brand", "price_cents", "p_partkey")
    )


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler over orders: per column, the non-null
    count, exact distinct count, the modal value, and its share —
    the ingest-time data-quality census (cardinality estimation,
    key-candidate detection, constant-column detection) a catalog
    service materializes for every table it onboards.

    All five profiled columns are rendered to strings through
    engine-exact paths (BIGINT casts, explicit date format, exact
    cents — NEVER a raw double→string, whose formatting is
    engine-defined). One ``stack`` unpivot fuses into the scan, the
    (column, value) census map-side combines to the value domain, and
    the per-column rollup + modal rank touch only census rows — the
    profile costs one value-domain shuffle regardless of table width
    convention. Modal tie-break is the (count desc, value asc) total
    order.
    """
    o = read_table(spark, sf_dir, "orders")
    stacked = o.select(
        F.expr(
            "stack(5,"
            " 'o_orderstatus', o_orderstatus,"
            " 'o_orderpriority', o_orderpriority,"
            " 'o_custkey', cast(o_custkey as string),"
            " 'o_orderdate', date_format(o_orderdate, 'yyyy-MM-dd'),"
            " 'o_totalprice_cents',"
            " cast(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint) as string)"
            ") as (col_name, val)"
        )
    ).filter(F.col("val").isNotNull())
    vc = stacked.groupBy("col_name", "val").agg(F.count(F.lit(1)).alias("__n"))
    stats = vc.groupBy("col_name").agg(
        F.sum("__n").cast("long").alias("n_nonnull"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
    )
    w = Window.partitionBy("col_name").orderBy(F.col("__n").desc(), F.col("val").asc())
    top = (
        vc.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("col_name", F.col("val").alias("top_val"), F.col("__n").alias("top_n"))
    )
    return (
        stats.join(top, "col_name")
        .select(
            "col_name",
            "n_nonnull",
            "n_distinct",
            "top_val",
            F.col("top_n").cast("long").alias("top_n"),
            F.expr("top_n * 1000000 div n_nonnull").alias("top_share_ppm"),
        )
        .orderBy("col_name")
    )


def q_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a weekly
    (status, week) revenue MV is built as BASE (orders before
    1998-01-01) merged with a DELTA batch (orders on/after it) via a
    full-outer coalesce-and-add — the self-maintainable-view algebra
    (sum/count partials merge associatively) behind every warehouse's
    incremental refresh.

    The oracle recomputes the view DIRECTLY from the full table, so
    the hash gate proves the maintenance identity refresh(base, delta)
    ≡ recompute(all) — partial sums stay DECIMAL end to end (exact ⇒
    merge order and partitioning can't perturb them) and cast to
    double once at the edge. Scale shape: base and delta each
    aggregate map-side before their census shuffle; the merge touches
    only (status, week) MV rows, so a daily refresh costs the DELTA
    scan plus an MV-sized join — never a re-scan of the base fact.
    """
    pivot = "1998-01-01"
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.date_trunc("week", "o_orderdate").cast("date").alias("__wk"),
        F.col("o_totalprice").cast(MONEY).alias("__dec"),
        "o_orderdate",
    )

    def agg(side: DataFrame) -> DataFrame:
        return side.groupBy("o_orderstatus", "__wk").agg(
            F.sum("__dec").alias("__rev"), F.count(F.lit(1)).alias("__n")
        )

    base = agg(o.filter(F.col("o_orderdate") < F.lit(pivot)))
    delta = agg(o.filter(F.col("o_orderdate") >= F.lit(pivot)))
    b, d = base.alias("b"), delta.alias("d")
    merged = b.join(
        d,
        (F.col("b.o_orderstatus") == F.col("d.o_orderstatus"))
        & (F.col("b.__wk") == F.col("d.__wk")),
        "full_outer",
    ).select(
        F.coalesce(F.col("b.o_orderstatus"), F.col("d.o_orderstatus")).alias("status"),
        F.coalesce(F.col("b.__wk"), F.col("d.__wk")).alias("__wk"),
        (
            F.coalesce(F.col("b.__rev"), F.lit(0).cast(MONEY))
            + F.coalesce(F.col("d.__rev"), F.lit(0).cast(MONEY))
        ).alias("__rev"),
        (F.coalesce(F.col("b.__n"), F.lit(0)) + F.coalesce(F.col("d.__n"), F.lit(0))).alias(
            "__n"
        ),
    )
    return merged.select(
        "status",
        F.date_format("__wk", "yyyy-MM-dd").alias("semana"),
        F.col("__rev").cast("double").alias("valor_total"),
        F.col("__n").cast("long").alias("n_orders"),
    ).orderBy("status", "semana")


def q_prefix_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join at threshold 0.9 via prefix
    filtering (AllPairs, Bayardo/Ma/Srikant WWW 2007; the PPJoin
    family): two documents' token sets can reach Jaccard ≥ t only if
    the RAREST ``|x| − ⌈t·|x|⌉ + 1`` tokens of each (under one global
    (df, token) order) intersect — so candidate pairs come from a join
    on prefix tokens only, then exact verification. The deterministic
    complement to MinHash banding: zero false negatives by theorem,
    no probability knob.

    Runs over a deterministic 1/8 audit sample (md5(doc_id) bucket,
    the train_split convention) — the production posture: this corpus
    is pathologically dense (measured: ~5.1M true pairs at t = 0.7
    over all 5k sf0.1 docs, ~1.0M at t = 0.9 — 40% of ALL pairs are
    near-dups), and when the true pair set is itself quadratic, the
    exact join's OUTPUT is the bottleneck, not the algorithm. Real
    pipelines therefore run banded MinHash for the full-corpus sweep
    (``near_dup_jaccard_banded``) and reserve the zero-false-negative
    exact join for sampled audits / flagged partitions — exactly the
    composition registered here.

    All-integer filter chain: prefix length uses
    ``⌈9ℓ/10⌉ = (9ℓ+9) div 10``; the length pre-filter keeps pairs
    with ``9·max(ℓa,ℓb) ≤ 10·min`` (necessary for j ≥ 0.9 since
    inter ≤ min); the verify accepts ``10·inter ≥ 9·(ℓa+ℓb−inter)``.
    Similarity is reported as exact integer ppm — no float anywhere.

    Scale shape: prefixes hold the globally RAREST ~0.1ℓ tokens per
    doc, so the candidate join's per-token buckets are small by
    construction (rare-first ordering is WHY AllPairs scales — a
    stopword never lands in a prefix); the verify joins candidates
    back to token lists keyed on doc_id, shuffling (pair, token)
    tuples bounded by candidate count × doc length. The global df
    census map-side combines; token ranks are per-doc windows.
    """
    d = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .filter(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin("0", "1"))
    )
    # spooled: the sampled token-list frame feeds the df census, the
    # rank/prefix build and both verify sides — one text explode, not
    # six (this is also AllPairs' real artifact: the tokenized sample)

    toks = spool(
        d.select(
            "doc_id",
            F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
        ).filter(F.col("tok") != "")
    )
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
    wlen = Window.partitionBy("doc_id")
    wrank = Window.partitionBy("doc_id").orderBy("__df", "tok")
    ranked = (
        toks.join(dfreq, "tok")
        .withColumn("__len", F.count(F.lit(1)).over(wlen))
        .withColumn("__rn", F.row_number().over(wrank))
    )
    pref = ranked.filter(
        F.col("__rn") <= F.col("__len") - F.expr("(9 * __len + 9) div 10") + 1
    ).select("doc_id", "tok", "__len")
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.lit(9) * F.greatest(F.col("a.__len"), F.col("b.__len"))
                <= F.lit(10) * F.least(F.col("a.__len"), F.col("b.__len"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.__len").alias("__la"),
            F.col("b.__len").alias("__lb"),
        )
        .distinct()
    )
    ta = toks.select(F.col("doc_id").alias("id_a"), "tok")
    tb = toks.select(F.col("doc_id").alias("id_b"), "tok")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "tok"])
        .groupBy("id_a", "id_b", "__la", "__lb")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    return (
        inter.filter(
            F.lit(10) * F.col("__inter")
            >= F.lit(9) * (F.col("__la") + F.col("__lb") - F.col("__inter"))
        )
        .select(
            "id_a",
            "id_b",
            F.col("__inter").cast("long").alias("n_inter"),
            (F.col("__la") + F.col("__lb") - F.col("__inter"))
            .cast("long")
            .alias("n_union"),
            F.expr(
                "__inter * 1000000 div (__la + __lb - __inter)"
            ).alias("jaccard_ppm"),
        )
        .orderBy("id_a", "id_b")
    )


def q_hazard_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time survival analysis over user activity: for each
    tenure week k, the at-risk population, churn terminations,
    right-censored exits, and the hazard rate — the retention
    statistic that (unlike ``retention_cohorts``' grid) respects
    CENSORING: a user whose observation window ends while they are
    still active is not a churner, they just stop contributing to the
    risk set (Kaplan–Meier's discrete sibling).

    Definitions, all integer: tenure L(u) = weeks from a user's first
    to last event; observable window obs(u) = weeks from first event
    to the corpus max timestamp; churned(u) ⟺ obs(u) > L(u) (they
    stopped while more time was watchable), else censored. at_risk(k)
    = |{u : L(u) ≥ k}| via a descending cumulative over the ≤|weeks|
    tenure census; hazard_ppm = churned·10⁶ div at_risk — a single
    exact integer division per output row. Week arithmetic uses the
    tz-free NTZ-origin seconds (``seconds_since_origin``), so the
    result is identical under any session timezone.

    Scale: one (user, min, max) aggregate over the fact scan, the
    corpus max as a one-row broadcast, then everything runs on the
    tenure census (≤ observation weeks rows).
    """
    e = read_table(spark, sf_dir, "events").select(
        "user_id", tmp.seconds_since_origin("ts").alias("__sec")
    )
    per_user = e.groupBy("user_id").agg(
        F.min("__sec").alias("__fs"), F.max("__sec").alias("__ls")
    )
    gmax = e.agg(F.max("__sec").alias("__gmax"))
    u = per_user.crossJoin(F.broadcast(gmax)).select(
        F.expr("(__ls - __fs) div 604800").alias("__L"),
        F.expr("(__gmax - __fs) div 604800").alias("__obs"),
    )
    census = u.groupBy("__L").agg(
        F.sum(F.when(F.col("__obs") > F.col("__L"), 1).otherwise(0)).alias("__churn"),
        F.sum(F.when(F.col("__obs") <= F.col("__L"), 1).otherwise(0)).alias("__cens"),
        F.count(F.lit(1)).alias("__n"),
    )
    w = (
        Window.orderBy(F.col("__L").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        census.withColumn("__at_risk", F.sum("__n").over(w))
        .select(
            F.col("__L").cast("long").alias("week_k"),
            F.col("__at_risk").cast("long").alias("at_risk"),
            F.col("__churn").cast("long").alias("n_churned"),
            F.col("__cens").cast("long").alias("n_censored"),
            F.expr("__churn * 1000000 div __at_risk").alias("hazard_ppm"),
        )
        .orderBy("week_k")
    )


def q_key_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over the finished-order key space: contiguous
    ``o_orderkey`` runs within status 'F', reported as the 20 longest
    islands plus the total island count — the classic sequence audit
    (ingest-completeness holes, ID-allocation runs, tombstone spans)
    every warehouse eventually writes, in its canonical
    key-minus-row_number form: consecutive keys share
    ``key − row_number()``, so islands fall out of ONE window and ONE
    aggregate, no self-join, no explode.

    The global row_number is the documented single-partition edge
    (curriculum_order's caveat): at 100 TB you'd two-pass it — count
    rows per key-range bucket, prefix-sum the bucket offsets on the
    ≤|buckets| census, then rank within buckets — the same plan this
    query's window degenerates to when Spark's range partitioner
    kicks in. Output is pure BIGINT; top-20 cut is deterministic
    under (length desc, start asc).
    """
    f = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    isl = global_rank_scaled(f, "o_orderkey", "__rn").withColumn(
        "__isl", F.col("o_orderkey") - F.col("__rn")
    )
    groups = isl.groupBy("__isl").agg(
        F.min("o_orderkey").alias("start_key"),
        F.max("o_orderkey").alias("end_key"),
        F.count(F.lit(1)).alias("__len"),
    )
    total = groups.agg(F.count(F.lit(1)).cast("long").alias("n_islands"))
    top = (
        groups.orderBy(F.col("__len").desc(), F.col("start_key").asc())
        .limit(20)
    )
    return top.crossJoin(F.broadcast(total)).select(
        F.col("start_key").cast("long").alias("start_key"),
        F.col("end_key").cast("long").alias("end_key"),
        F.col("__len").cast("long").alias("island_len"),
        "n_islands",
    )


def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-based join-cardinality estimation audit: the exact
    self-join size of events on user_id (F₂ = Σ n_u² — the number a
    cost-based optimizer must bound before picking a join strategy)
    versus the estimate from a deterministic 1/16 KEY-HASH sample
    (md5 bucket '0'), scaled ×16. Hash-sampling BY KEY keeps every
    occurrence of a sampled key, so each sampled term n_u² is exact
    and the scaled sum is the textbook unbiased estimator — the
    correctness condition row-level Bernoulli sampling violates
    (it deflates heavy keys quadratically). The audit reports both
    numbers and the signed error, which is the calibration check a
    CBO's statistics pipeline runs against ground truth.

    All-integer: exact BIGINT counts, squares, sums; err_ppm is one
    exact division of two integers. One map-side-combined key census;
    the sample leg reuses it (no second scan — same lineage, a filter
    over the census).
    """
    counts = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    actual = counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.col("__n") * F.col("__n")).alias("f2_actual"),
    )
    sampled = counts.filter(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) == "0"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        (F.sum(F.col("__n") * F.col("__n")) * 16).alias("f2_est"),
    )
    return actual.crossJoin(F.broadcast(sampled)).select(
        "n_keys",
        "n_sampled",
        F.col("f2_actual").cast("long").alias("f2_actual"),
        F.col("f2_est").cast("long").alias("f2_est"),
        F.expr(
            "(f2_est - f2_actual) * 1000000 div f2_actual"
        ).alias("err_ppm"),
    )


def q_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index over event value: per ISO weekday
    (1 = Monday), event count, exact cents, the mean in tenths of a
    cent, and the index vs the all-week mean in ppm — the seasonal
    profile a forecaster or anomaly detector normalizes by before
    comparing a Tuesday to a Sunday.

    Weekday extraction is PURE INTEGER and tz-free: the NTZ origin
    (1990-01-01) is a Monday, so ``(sec div 86400) % 7 + 1`` IS the
    ISO weekday — no engine date function (Spark's dayofweek starts
    Sunday=1, DuckDB's Sunday=0; this formula sidesteps the whole
    disagreement and any session-timezone shift). Means are exact
    integer divisions of decimal-derived cents; the index divides two
    such means via integer cross-scaling — every rounding site exact.

    Scale: ONE map-side-combined 7-group aggregate fused into the
    scan; the global row is a window over the 7-row census (the
    benford_audit pattern — no second scan of the fact).
    """
    e = read_table(spark, sf_dir, "events").select(
        F.floor(tmp.seconds_since_origin("ts") / F.lit(86400))
        .cast("long")
        .alias("__days"),
        F.col("value").cast(MONEY).alias("__v"),
    )
    census = e.groupBy(F.expr("__days % 7 + 1").alias("dow_iso")).agg(
        F.count(F.lit(1)).alias("__n"),
        (F.sum("__v") * 100).cast("long").alias("__cents"),
    )
    census = census.withColumn(
        "__g_cents", F.sum("__cents").over(Window.partitionBy())
    ).withColumn("__g_n", F.sum("__n").over(Window.partitionBy()))
    return census.select(
        F.col("dow_iso").cast("int").alias("dow_iso"),
        F.col("__n").cast("long").alias("n_events"),
        F.col("__cents").alias("cents"),
        F.expr("__cents * 10 div __n").alias("mean_milli"),
        F.expr(
            "(__cents * 10 div __n) * 1000000 div (__g_cents * 10 div __g_n)"
        ).alias("index_ppm"),
    ).orderBy("dow_iso")


def q_state_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time state diff (the CDC audit): each user's state is
    their LATEST event type; the query diffs the state snapshot as of
    2024-01-15 against the end-of-corpus snapshot and reports the
    (change_kind, old_state, new_state) census — added (first seen
    after the cutoff), changed (latest type differs), unchanged. The
    check a replication / downstream-sync pipeline runs to reconcile
    two snapshot exports; append-only facts mean "removed" cannot
    occur, and the census honestly has no such rows.

    Latest-event selection pins the (sec desc, event_id desc) total
    order, so ties at the same second resolve identically in any
    engine. The cutoff is an integer NTZ-origin second literal
    (1074124800 = 2024-01-15), so no timestamp literal ever meets the
    session timezone. Both snapshots derive from ONE scan lineage
    (the cutoff one is a filter), each aggregates to a user-state row
    before the user-keyed full-outer diff — shuffles carry (user,
    state) pairs, the census is |states|² rows.
    """
    e = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        tmp.seconds_since_origin("ts").alias("__sec"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("__sec").desc(), F.col("event_id").desc()
    )

    def latest(df: DataFrame, out: str) -> DataFrame:
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("user_id", F.col("event_type").alias(out))
        )

    a = latest(e.filter(F.col("__sec") <= F.lit(1074124800)), "old_state")
    b = latest(e, "new_state")
    diff = a.join(b, "user_id", "full_outer").select(
        F.when(F.col("old_state").isNull(), F.lit("added"))
        .when(F.col("old_state") != F.col("new_state"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change_kind"),
        F.coalesce(F.col("old_state"), F.lit("<none>")).alias("old_state"),
        "new_state",
    )
    return (
        diff.groupBy("change_kind", "old_state", "new_state")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("change_kind", "old_state", "new_state")
    )


def q_zipf_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law audit of the corpus vocabulary: for the 50 most
    frequent tokens, rank × frequency (Zipf predicts a constant) and
    each token's signed ppm deviation from the TOP-50 MEDIAN product —
    the quick corpus-health screen (natural text hugs the constant;
    template/boilerplate-dominated corpora bulge, which this corpus
    honestly shows). Zipf's usual log-log regression needs ln();
    the rank·freq constancy check is the same diagnostic in PURE
    INTEGER arithmetic — the repo's float policy applied to a
    statistics routine.

    Rank is deterministic under (freq desc, token asc); the median is
    rank-selected at (n+1) div 2 over the 50-row census (the
    histogram_quantiles exact-arm convention); deviation is one exact
    integer division per row. One map-side-combined token census
    shuffle; everything after runs on ≤50 rows.
    """
    d = read_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = d.select(F.explode(F.split("text", " ")).alias("tok")).filter(
        F.col("tok") != ""
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    wr = Window.orderBy(F.col("freq").desc(), F.col("tok").asc())
    top = (
        counts.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 50)
        .withColumn("rf_product", F.col("rank") * F.col("freq"))
    )
    wmed = Window.orderBy("rf_product", "rank")
    med = (
        top.withColumn("__mrn", F.row_number().over(wmed))
        .withColumn("__cnt", F.count(F.lit(1)).over(Window.partitionBy()))
        .filter(F.col("__mrn") == F.expr("(__cnt + 1) div 2"))
        .select(F.col("rf_product").alias("__med"))
    )
    return top.crossJoin(F.broadcast(med)).select(  # bounded: one median row
        F.col("rank").cast("int").alias("rank"),
        "tok",
        F.col("freq").cast("long").alias("freq"),
        F.col("rf_product").cast("long").alias("rf_product"),
        F.expr("(rf_product - __med) * 1000000 div __med").alias("dev_ppm"),
    ).orderBy("rank")


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority) adapted to the fixture calendar:
    top-10 unshipped-as-of-1998-06-01 BUILDING-segment orders by
    discounted revenue Σ price·(1−discount) — the canonical
    3-table OLAP join the benchmark uses to exercise join order and
    early aggregation.

    Revenue stays exact: discounts live on the 0.01 grid so the
    DECIMAL(18,2) cast is lossless and price·(1−disc) is an exact
    DECIMAL product, summed as DECIMAL and cast to double once (the
    repo's money rule). Plan shape Catalyst should pick and the plan
    test pins: customer (segment-filtered) BROADCASTS into orders,
    lineitem⋈orders shuffles on orderkey (the one big-big edge),
    partial aggregation rides the same key so the final group-by is
    shuffle-free, top-10 via TakeOrderedAndProject — never a global
    sort. Date bounds are string-literal NTZ comparisons (wall-clock,
    session-tz-free) that push into the parquet scan.
    """
    cutoff = "1998-06-01"
    c = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(cutoff)
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",)).filter(
        F.col("l_shipdate") > F.lit(cutoff)
    ).select(
        "l_orderkey",
        (
            F.col("l_extendedprice").cast(MONEY)
            * (F.lit(1).cast(MONEY) - F.col("l_discount").cast(MONEY))
        ).alias("__rev"),
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(F.sum("__rev").cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select(
            F.col("l_orderkey").cast("long").alias("l_orderkey"),
            "revenue",
            "o_orderdate",
            "o_orderpriority",
        )
    )


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume) adapted to the fixture
    calendar: 1996 discounted revenue per ASIA nation where the
    supplier and customer share the nation — the benchmark's 6-table
    join exercising star-dimension broadcast against one big-big
    fact edge.

    The c_nationkey = s_nationkey predicate is Q5's point: it cannot
    be pushed to either scan, so the optimizer must order the joins to
    apply it early. Plan shape: region→nation→supplier collapse to a
    broadcast-sized supplier dimension; customer broadcasts into
    orders; lineitem⋈orders is the only shuffle join; revenue is the
    same exact-DECIMAL discount product as Q3, one cast to double at
    the edge. All dimension filters (region name, date window) prune
    at the scan.
    """
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = read_table(spark, sf_dir, "nation")
    s = read_table(spark, sf_dir, "supplier")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    ).select("o_orderkey", "o_custkey")
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",)).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_extendedprice").cast(MONEY)
            * (F.lit(1).cast(MONEY) - F.col("l_discount").cast(MONEY))
        ).alias("__rev"),
    )
    sn = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            sn,
            (li["l_suppkey"] == sn["s_suppkey"])
            & (c["c_nationkey"] == sn["s_nationkey"]),
        )
        .groupBy("n_name")
        .agg(F.sum("__rev").cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


# Tight decimal types for the TPC-H money math. The generic MONEY
# (18,2) overflows Spark's 38-digit precision cap on the Q1 triple
# product (18,2)×(18,2)×(18,2) → precision 56, which Spark silently
# re-rounds — a hash hazard. Sized to the data instead: max
# l_extendedprice ≈ 105k → (12,2); discount/tax live on the 0.01 grid
# in [0, 0.10] / [0, 0.08] → factor fits (4,2). Products then climb
# (12,2)×(4,2)=(17,4)×(4,2)=(22,6): exact, identical in Spark and
# DuckDB, no engine ever rounds.
_PRICE = "decimal(12,2)"
_RATE = "decimal(4,2)"


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report): the benchmark's map-side-
    combine showcase — a full-fact scan collapsing to 6 groups, so at
    100 TB the shuffle carries one partial-agg row per task per
    (returnflag, linestatus), never data. Adapted to the fixture
    calendar (shipdate cutoff 2001-08-01 vs the spec's enddate−90d).

    Float policy: every sum is an exact DECIMAL sum cast to double
    once at the edge; the three averages are ONE IEEE division of
    that exact numerator by the exact count (division is correctly
    rounded, so cross-engine bit-identical — only transcendentals are
    not). Quantity is integral in the fixture, so sum_qty is a pure
    BIGINT sum.

    Plan: single scan, partial aggregate inside WholeStageCodegen,
    one 6-row exchange, sort of 6 rows. The cutoff pushes into the
    parquet scan as an NTZ literal.
    """
    li = read_table_parallel(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-08-01")
    )
    disc_price = F.col("l_extendedprice").cast(_PRICE) * (
        F.lit(1).cast(_RATE) - F.col("l_discount").cast(_RATE)
    )
    charge = disc_price * (F.lit(1).cast(_RATE) + F.col("l_tax").cast(_RATE))
    n = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(_PRICE)).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(F.col("l_quantity").cast("bigint")).cast("double") / n).alias("avg_qty"),
            (F.sum(F.col("l_extendedprice").cast(_PRICE)).cast("double") / n).alias("avg_price"),
            (F.sum(F.col("l_discount").cast(_RATE)).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking) adapted to the fixture
    schema: the fixture lacks commit/receipt dates, so "late" is a
    line shipped more than 90 days after the order date — same
    EXISTS-semi-join shape, same point: the fact table must be
    *semi*-joined (each order counted once no matter how many late
    lines), which Spark expresses as LEFT SEMI with the non-equi
    lateness predicate riding the orderkey hash join.

    1996 order window prunes at the orders scan. At scale both sides
    are big: the semi-join shuffles on orderkey and short-circuits
    per probe row — strictly cheaper than join-then-distinct, which
    is the anti-pattern this query exists to demonstrate against.
    Output is 5 integer rows: trivially exact.
    """
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",)).select(
        "l_orderkey", "l_shipdate"
    )
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change): one scan, three pushed
    predicates, one exact sum — the benchmark's pure scan-efficiency
    probe. At 100 TB this query IS predicate pushdown: shipdate/
    quantity/discount all reach the parquet reader (`PushedFilters`),
    and the aggregate is a single partial-combined scalar.

    The discount band compares on the integer cent grid
    (round(disc·100) ∈ [5,7]) rather than raw doubles — 0.05 has no
    exact binary representation, and `BETWEEN 0.05 AND 0.07` on
    doubles is the classic silently-engine-dependent boundary; the
    revenue product is the exact (12,2)×(4,2) decimal, cast to double
    once.
    """
    li = read_table_parallel(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
        & (F.col("l_quantity") < 24)
        & F.round(F.col("l_discount") * 100, 0).cast("bigint").between(5, 7)
    )
    return li.agg(
        F.sum(
            F.col("l_extendedprice").cast(_PRICE) * F.col("l_discount").cast(_RATE)
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders whose total line
    quantity exceeds 250, with their customer — the benchmark's
    aggregate-then-join pattern. The HAVING aggregate runs FIRST
    (lineitem groupBy orderkey, map-side combined, >250 filter drops
    ~99% of groups), so the join back to orders carries only
    surviving keys — at 100 TB the orderkey shuffle is the only big
    edge and the post-filter join input is tiny. Customer broadcasts.
    Joining before aggregating — the naive reading of the SQL — would
    shuffle the full fact twice; this plan is why the query is in the
    benchmark.

    o_totalprice passes through unchanged from parquet (bit-identical
    by construction); sum_qty is integral → BIGINT.
    """
    big = (
        read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",))
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-source contamination matrix: for each source pair, how
    many 3-word shingles they share, and what fraction of each side's
    shingle vocabulary that is (ppm) — the diagnostic a pretraining
    pipeline runs before mixing crawls, because cross-source overlap
    is double-counted mass the dedup pass must pay for.

    Universal boilerplate is excluded BY CONSTRUCTION: only shingles
    present in at most half the sources count as overlap signal (a
    navigation footer in 19/20 sources says nothing about pairwise
    contamination). The cap is also the skew guard — a shingle in s
    sources fans out s·(s−1)/2 pairs, so bounding s bounds the
    self-join blow-up; without it one viral string would quadratically
    dominate the pair shuffle at corpus scale.

    Plan: one (source, shingle)-distinct shuffle folds into a
    per-shingle source-set aggregate (the cap is a `size()` filter on
    that set — no window, no second pass), then pairs come from a
    JVM-side combination explode of each sorted source array — NO
    self-join: a shingle in s sources emits its s·(s−1)/2 pairs
    locally, so the only post-census shuffles are the two tiny
    (src_a, src_b) / (source) count aggregates. The census lineage is
    traversed once per output branch (pairs, vocabulary) — at real
    scale you'd spool the census once (the `corpus_pipeline` spool
    pattern), which this shape admits without re-keying.
    """
    d = _docs_parallel(spark, sf_dir)
    sg = d.select(
        "source", F.explode(dd.shingles(F.col("text"))).alias("shingle")
    ).distinct()
    n_sources = d.select("source").distinct().count()  # bounded: source census
    bysh = (
        sg.groupBy("shingle")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") <= n_sources // 2)
    )
    vocab = bysh.select(F.explode("srcs").alias("source")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    pairs = F.flatten(
        F.transform(
            F.col("srcs"),
            lambda a, i: F.filter(
                F.transform(F.col("srcs"), lambda b: F.struct(a.alias("src_a"), b.alias("src_b"))),
                lambda st: st["src_a"] < st["src_b"],
            ),
        )
    )
    shared = (
        bysh.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    va = vocab.select(F.col("source").alias("src_a"), F.col("n_grams").alias("n_a"))
    vb = vocab.select(F.col("source").alias("src_b"), F.col("n_grams").alias("n_b"))
    return (
        shared.join(F.broadcast(va), "src_a")
        .join(F.broadcast(vb), "src_b")
        .select(
            "src_a",
            "src_b",
            "shared_grams",
            "n_a",
            "n_b",
            F.expr("shared_grams * 1000000 div n_a").alias("containment_a_ppm"),
            F.expr("shared_grams * 1000000 div n_b").alias("containment_b_ppm"),
        )
        .orderBy(F.col("shared_grams").desc(), "src_a", "src_b")
        .limit(30)
    )


def q_zonemap_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max file-skipping) effectiveness audit: the same
    lineitem rows bucketed into 64 "files" under two physical layouts
    — hash-on-orderkey (arrival order) vs range-on-shipdate (what a
    sort/Z-order write produces) — then, for the predicate
    `l_shipdate ≥ 2000-01-01`, how many buckets a reader could skip
    on min/max stats alone. This is THE reason layout matters at
    100 TB: identical bytes, identical predicate, and the clustered
    layout skips most of the scan while the hash layout skips ~none
    (every bucket spans the full date range, so no max falls below
    the cutoff).

    Everything is integer (epoch-day min/max, row counts, ppm by
    integer division). Buckets come from arithmetic, not a global
    sort: the hash bucket is the engine-standard md5-prefix mod, and
    the range bucket is a linear map of epoch-day onto [0,64) using
    the broadcast corpus min/max — one scan, one 128-group aggregate,
    one 2-row rollup.
    """
    cutoff_day = F.datediff(F.lit("2000-01-01"), F.lit("1970-01-01"))
    li = read_table_parallel(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.datediff(F.col("l_shipdate"), F.lit("1970-01-01")).alias("d"),
    )
    ext = li.crossJoin(
        F.broadcast(
            li.agg(F.min("d").alias("d_lo"), F.max("d").alias("d_hi"))
        )
    )
    hash_b = (
        F.conv(
            F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 64
    )
    range_b = F.expr("(d - d_lo) * 64 div (d_hi - d_lo + 1)")
    both = ext.select(
        F.explode(
            F.array(
                F.struct(F.lit("hash_orderkey").alias("layout"), hash_b.alias("bucket")),
                F.struct(F.lit("range_shipdate").alias("layout"), range_b.alias("bucket")),
            )
        ).alias("lb"),
        "d",
    ).select("lb.layout", "lb.bucket", "d")
    zones = both.groupBy("layout", "bucket").agg(
        F.max("d").alias("max_d"), F.count(F.lit(1)).alias("n_rows")
    )
    pruned = F.col("max_d") < cutoff_day
    return (
        zones.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(pruned.cast("long")).alias("n_pruned"),
            F.sum("n_rows").alias("rows_total"),
            F.sum(F.when(pruned, F.col("n_rows")).otherwise(F.lit(0))).alias(
                "rows_skipped"
            ),
        )
        .select(
            "layout",
            "n_buckets",
            "n_pruned",
            "rows_total",
            "rows_skipped",
            F.expr("rows_skipped * 1000000 div rows_total").alias("skip_ppm"),
        )
        .orderBy("layout")
    )


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier census per event type via MAD (median absolute
    deviation) — the estimator quality pipelines use when the metric
    itself is contaminated, because unlike the Tukey/IQR gate
    (`outlier_flags`) a 50% breakdown point means the fences don't
    move no matter how wild the tail is.

    Exactness: values become exact cents (DECIMAL cast ×100 →
    BIGINT); the two medians are exact interpolated percentiles over
    integers (midpoint (a+b)/2 — one IEEE add+divide, bit-identical
    cross-engine); the fence is ONE multiply of the MAD by the
    literal 4.4478 (= 3σ · the 1.4826 normal-consistency constant) —
    no transcendentals anywhere, per the repo float policy.

    Two aggregate-then-broadcast passes (median, then MAD of the
    residuals) and a final flag count: three small shuffles keyed by
    event_type, facts never re-shuffle wider than the census. The two
    ≤|types|-row medians are SPOOLED so the three intrinsic fact
    passes stay three — without the spools each reuse of the residual
    frame re-ran the nested median pass (4–5 fact reads).
    """

    e = read_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("value").cast(MONEY) * 100).cast("bigint").alias("cents"),
    )
    med = spool(
        e.groupBy("event_type").agg(F.percentile("cents", F.lit(0.5)).alias("med"))
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(  # bounded: 5 event types
        "adev", F.abs(F.col("cents").cast("double") - F.col("med"))
    )
    mad = spool(
        dev.groupBy("event_type").agg(
            F.percentile("adev", F.lit(0.5)).alias("mad"), F.max("med").alias("med")
        )
    )
    flagged = dev.drop("med").join(F.broadcast(mad), "event_type")  # bounded: 5 event types
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("med").alias("med_cents"),
            F.max("mad").alias("mad_cents"),
            F.sum((F.col("adev") > F.lit(4.4478) * F.col("mad")).cast("long")).alias(
                "n_outliers"
            ),
        )
        .select(
            "event_type",
            "n",
            "med_cents",
            "mad_cents",
            "n_outliers",
            F.expr("n_outliers * 1000000 div n").alias("outlier_ppm"),
        )
        .orderBy("event_type")
    )


def q_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter (bloom semi-join) audit: the join-pruning move
    Spark's own runtime filtering / DPP makes, reified so its
    effectiveness is measurable. A selective dimension predicate
    (status P + 1-URGENT keeps ~6% of orders) builds a FIXED 16,384-bit
    bloom over the surviving orderkeys; the fact side is pre-filtered
    by a pure map-side bloom probe BEFORE any join. Output: fact rows
    scanned, rows passing the bloom, exact semi-join matches, and the
    false-positive mass — `exact ≤ bloom_pass` is the no-false-negative
    guarantee, and (bloom_pass − exact) is what the exact join still
    has to discard.

    100 TB point: the bitmap is constant-size regardless of dim
    cardinality and rides a one-row broadcast into a scan-side
    expression — the fact shuffle (if the join even needs one) now
    carries only bloom-positive rows. Same k=3 seed-prefixed-md5
    machinery as `bloom_decontaminate`, all-integer output.
    """
    m_bits, n_words, k = 16384, 512, 3

    def pos(seed: int, col) -> F.Column:
        h = F.md5(F.concat(F.lit(f"{seed}:"), col.cast("string")))
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % m_bits

    dim = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") == "P") & (F.col("o_orderpriority") == "1-URGENT")
    ).select("o_orderkey")
    words = (
        dim.select(
            F.explode(
                F.array(*[pos(j, F.col("o_orderkey")) for j in range(k)])
            ).alias("p")
        )
        .select(
            F.floor(F.col("p") / 32).cast("int").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    bloom_row = words.agg(
        F.map_from_entries(F.collect_list(F.struct("word", "bits"))).alias("__m")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda w: F.coalesce(F.element_at(F.col("__m"), w), F.lit(0)),
        ).alias("arr")
    )
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",)).select(
        "l_orderkey"
    )
    probed = li.crossJoin(F.broadcast(bloom_row))
    hit = None
    for j in range(k):
        # shiftright() the builtin only takes a literal shift count; the
        # SQL >> form accepts a column, so the probe is one SQL expr
        test = F.expr(
            f"(shiftright(element_at(arr, CAST(((conv(substring(md5(concat('{j}:', CAST(l_orderkey AS STRING))), 1, 8), 16, 10) % {m_bits}) div 32) AS INT) + 1), "
            f"CAST(conv(substring(md5(concat('{j}:', CAST(l_orderkey AS STRING))), 1, 8), 16, 10) % 32 AS INT)) & 1) = 1"
        )
        hit = test if hit is None else (hit & test)
    passed = probed.select(F.col("l_orderkey"), hit.alias("__pass"))
    exact = li.join(dim, li["l_orderkey"] == dim["o_orderkey"], "left_semi")
    stats = passed.agg(
        F.count(F.lit(1)).alias("n_fact_rows"),
        F.sum(F.col("__pass").cast("long")).alias("bloom_pass"),
    )
    return (
        stats.crossJoin(F.broadcast(dim.agg(F.count(F.lit(1)).alias("n_dim_keys"))))
        .crossJoin(F.broadcast(exact.agg(F.count(F.lit(1)).alias("exact_match"))))
        .select(
            "n_fact_rows",
            "n_dim_keys",
            "bloom_pass",
            "exact_match",
            (F.col("bloom_pass") - F.col("exact_match")).alias("fp_rows"),
            F.expr("bloom_pass * 1000000 div n_fact_rows").alias("pass_ppm"),
        )
    )


def q_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery (the data-profiling primitive
    behind schema inference and key detection, à la Metanome): for
    each candidate FD lhs → rhs, does every lhs value map to exactly
    one rhs value? Reports distinct-lhs count, violating-lhs count
    (>1 distinct rhs), the worst fan-out, and a 0/1 verdict — a key
    FD (o_orderkey → o_orderstatus) holds, the rest are measured
    violations.

    Each candidate is two map-side-combinable aggregates over ONE
    table (groupBy lhs count-distinct rhs, then a one-row rollup) —
    at 100 TB each FD costs one census shuffle keyed by lhs, and the
    candidates union post-aggregation (6 one-row branches). No joins,
    no windows, all integers.
    """
    specs = [
        ("orders", "o_orderkey", "o_orderstatus"),
        ("orders", "o_custkey", "o_orderpriority"),
        ("part", "p_brand", "p_size"),
        ("customer", "c_nationkey", "c_mktsegment"),
        ("documents", "source", "lang"),
        ("lineitem", "l_orderkey", "l_returnflag"),
    ]
    out = None
    for table, lhs, rhs in specs:
        t = read_table(spark, sf_dir, table)
        per = t.groupBy(F.col(lhs)).agg(F.count_distinct(F.col(rhs)).alias("nr"))
        row = per.agg(
            F.lit(table).alias("table_name"),
            F.lit(lhs).alias("lhs"),
            F.lit(rhs).alias("rhs"),
            F.count(F.lit(1)).alias("n_lhs"),
            F.sum((F.col("nr") > 1).cast("long")).alias("n_viol_lhs"),
            F.max("nr").alias("max_rhs"),
            (F.sum((F.col("nr") > 1).cast("long")) == 0).cast("long").alias("holds"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("table_name", "lhs", "rhs")


def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the re-identification check k-anonymity
    misses: a quasi-identifier group can be large (k-anonymous) yet
    expose everyone in it if they all share one sensitive value.
    Quasi-identifier = (nation, mktsegment); sensitive = order
    priority of the customer's orders. Reports per-group size,
    distinct sensitive values (l), and flags groups below l < 3;
    the summary row pattern (`k_anonymity_audit`'s sibling) stays
    per-group so the output is the worklist a release gate acts on.

    One join (customer enriched with its orders — orderkey-side
    shuffle), one census aggregate keyed by the quasi-group, then a
    20-row worst-offenders cut via TakeOrderedAndProject. Sensitive
    cardinality per group is bounded by the priority domain (5), so
    count_distinct's map-side state is tiny.
    """
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    o = read_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = o.join(c, o["o_custkey"] == c["c_custkey"]).join(
        F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]
    )
    return (
        joined.groupBy("n_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("o_custkey").alias("k_size"),
            F.count_distinct("o_orderpriority").alias("l_div"),
        )
        .select(
            "n_name",
            "c_mktsegment",
            "n_rows",
            "k_size",
            "l_div",
            (F.col("l_div") < 3).cast("long").alias("at_risk"),
        )
        .orderBy(F.col("l_div").asc(), F.col("k_size").asc(), "n_name", "c_mktsegment")
        .limit(20)
    )


def q_interpolate_weeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill over a sparse weekly series —
    `gapfill_weeks` writes zeros into missing cells; this writes the
    straight line between the neighboring observed weeks instead (the
    resample('W').interpolate() of the pandas world), which is what a
    forecast/capacity consumer actually wants for a metric that
    doesn't reset to zero between observations.

    Series: weekly revenue cents of urgent P-status orders (sparse by
    construction). Interior gap at index i between known points
    (ia, va) and (ib, vb) fills as va + (vb−va)·(i−ia) div (ib−ia) —
    integer floor division, exact cross-engine; leading/trailing gaps
    carry the nearest known value. Week index is arithmetic
    (datediff div 7 from the spine origin), not a row_number, so the
    spine needs no global sort; the two IGNORE NULLS window scans run
    over the BOUNDED calendar spine (|weeks| rows, post-aggregation)
    — the same documented bounded-spine single-partition edge as
    `curriculum_order`, irrelevant at any data scale because the
    spine is a calendar, not data.
    """
    o = read_table(spark, sf_dir, "orders")
    sel = o.filter(
        (F.col("o_orderstatus") == "P") & (F.col("o_orderpriority") == "1-URGENT")
    )
    wk = sel.groupBy(
        F.date_trunc("week", "o_orderdate").cast("date").alias("__wk")
    ).agg((F.sum(F.col("o_totalprice").cast(MONEY)) * 100).cast("bigint").alias("__cents"))
    span = o.agg(
        F.date_trunc("week", F.min("o_orderdate")).cast("date").alias("lo"),
        F.date_trunc("week", F.max("o_orderdate")).cast("date").alias("hi"),
    )
    spine = span.select(
        F.col("lo"),
        F.explode(F.expr("sequence(lo, hi, interval 7 days)")).alias("__wk"),
    ).select("__wk", (F.datediff("__wk", F.col("lo")) / 7).cast("long").alias("idx"))
    s = spine.join(wk, "__wk", "left")
    w_back = Window.orderBy("idx").rowsBetween(Window.unboundedPreceding, 0)
    w_fwd = Window.orderBy("idx").rowsBetween(0, Window.unboundedFollowing)
    filled = (
        s.withColumn("va", F.last("__cents", ignorenulls=True).over(w_back))
        .withColumn(
            "ia",
            F.last(F.when(F.col("__cents").isNotNull(), F.col("idx")), ignorenulls=True).over(w_back),
        )
        .withColumn("vb", F.first("__cents", ignorenulls=True).over(w_fwd))
        .withColumn(
            "ib",
            F.first(F.when(F.col("__cents").isNotNull(), F.col("idx")), ignorenulls=True).over(w_fwd),
        )
    )
    interp = F.when(F.col("__cents").isNotNull(), F.col("__cents")).otherwise(
        F.when(F.col("va").isNull(), F.col("vb")).otherwise(
            F.when(F.col("vb").isNull(), F.col("va")).otherwise(
                F.col("va")
                + F.expr("(vb - va) * (idx - ia) div (ib - ia)")
            )
        )
    )
    return filled.select(
        F.date_format("__wk", "yyyy-MM-dd").alias("semana"),
        F.col("__cents").isNotNull().cast("long").alias("observed"),
        interp.cast("bigint").alias("cents"),
    ).orderBy("semana")


def q_mv_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN materialized view (the delta
    rule ΔMV = ΔFact ⋈ Dim, the realistic IVM case where facts append
    and dimensions are slowly changing): revenue-per-nation from
    orders ⋈ customer ⋈ nation, maintained as base (orders before
    2000-01-01) plus the delta partition — and audited against the
    full recompute, `merged = base + delta` proven per nation with
    `match` flags in the output rather than asserted off-plan.

    The point at 100 TB: the refresh only SCANS the delta partition
    (the base aggregate is a stored 25-row table); the delta path's
    shuffle carries nation-keyed partial sums, never re-touching base
    facts. All cents integers; dims broadcast on both paths.
    """
    cut = "2000-01-01"
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    def rev(df: DataFrame, out: str) -> DataFrame:
        return (
            df.join(c, df["o_custkey"] == c["c_custkey"])
            .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
            .groupBy("n_name")
            .agg(
                (F.sum(F.col("o_totalprice").cast(MONEY)) * 100)
                .cast("bigint")
                .alias(out)
            )
        )

    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    )
    base = rev(o.filter(F.col("o_orderdate") < F.lit(cut)), "base_cents")
    delta = rev(o.filter(F.col("o_orderdate") >= F.lit(cut)), "delta_cents")
    full = rev(o, "full_cents")
    merged = (
        base.join(delta, "n_name", "full_outer")
        .select(
            "n_name",
            F.coalesce("base_cents", F.lit(0)).alias("base_cents"),
            F.coalesce("delta_cents", F.lit(0)).alias("delta_cents"),
        )
        .withColumn("merged_cents", F.col("base_cents") + F.col("delta_cents"))
    )
    return (
        merged.join(full, "n_name")
        .select(
            "n_name",
            "base_cents",
            "delta_cents",
            "merged_cents",
            "full_cents",
            (F.col("merged_cents") == F.col("full_cents")).cast("long").alias("match"),
        )
        .orderBy("n_name")
    )


def q_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per nation — the median of all pairwise
    weekly-revenue slopes (Theil 1950; Sen 1968): a 29% breakdown
    point where `weekly_trend`'s OLS slope follows any single
    promotional-spike week. The robust/classical pair mirrors
    `mad_outliers` vs `outlier_flags` at the regression level.

    Scale shape: the quadratic lives on the CENSUS, not the data —
    the self-join pairs (nation, week) aggregate rows (|weeks|²/2 per
    nation, calendar-bounded), so 100× the facts changes only the
    first shuffle. Float policy: each slope is ONE IEEE division of
    exact integers (cents delta / week delta); the median is
    RANK-SELECTED (lower median under the total order (slope, wk_a,
    wk_b)), never interpolated — element selection can't introduce
    cross-engine arithmetic at all.
    """
    # The (nation, wk, cents) frame IS `_weekly_nation_census` (same
    # week epoch, same exact decimal-sum-×100 cents) — consume the
    # session-shared spool instead of re-deriving it inline (r10-opt).
    census = _weekly_nation_census(spark, sf_dir).select(
        "nation", "wk", "cents"
    )
    a = census.select("nation", F.col("wk").alias("wk_a"), F.col("cents").alias("c_a"))
    b = census.select("nation", F.col("wk").alias("wk_b"), F.col("cents").alias("c_b"))
    pairs = a.join(b, ["nation"]).filter(F.col("wk_a") < F.col("wk_b")).select(
        "nation",
        "wk_a",
        "wk_b",
        (
            (F.col("c_b") - F.col("c_a")).cast("double")
            / (F.col("wk_b") - F.col("wk_a")).cast("double")
        ).alias("slope"),
    )
    w = Window.partitionBy("nation").orderBy("slope", "wk_a", "wk_b")
    ranked = pairs.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_pairs", F.count(F.lit(1)).over(Window.partitionBy("nation"))
    )
    return (
        ranked.filter(F.expr("rn = ((n_pairs + 1) div 2)"))
        .select(
            "nation",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("slope").alias("ts_slope_cents_per_week"),
        )
        .orderBy("nation")
    )


def q_ab_contingency_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout as a 2×2 contingency χ² — the
    hypothesis-testing primitive over an engine-deterministic arm
    split: users hash into arms by md5 parity (the `grouped_split`
    discipline — re-runnable, join-free), outcome = did the user ever
    purchase. Output: the full table (a,b,c,d), per-arm conversion
    ppm, and χ²·10⁶ — the N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) form,
    numerator and denominator from exact integer counts, evaluated in
    DOUBLE with one rounding site (products exceed 2⁵³ long before
    they exceed a double's deterministic rounding — every op is
    +/×/÷, so cross-engine bit-identity holds; only transcendentals
    wouldn't).

    One user-level census shuffle (arm, converted) → a 4-cell
    aggregate → a 1-row pivot. The per-user outcome aggregate
    map-combines; nothing downstream of the census scales with data.
    """
    e = read_table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    per_user = e.groupBy("user_id").agg(
        F.max(
            ((F.col("event_type") == "purchase") & (F.col("value") > 200)).cast("int")
        ).alias("conv")
    )
    arm = (
        F.conv(F.substring(F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 8), 16, 10)
        .cast("long")
        % 2
    )
    cells = per_user.select(arm.alias("arm"), "conv").groupBy().agg(
        F.sum(((F.col("arm") == 0) & (F.col("conv") == 1)).cast("long")).alias("a"),
        F.sum(((F.col("arm") == 0) & (F.col("conv") == 0)).cast("long")).alias("b"),
        F.sum(((F.col("arm") == 1) & (F.col("conv") == 1)).cast("long")).alias("c"),
        F.sum(((F.col("arm") == 1) & (F.col("conv") == 0)).cast("long")).alias("d"),
    )
    return cells.select(
        "a",
        "b",
        "c",
        "d",
        F.expr("a * 1000000 div (a + b)").alias("conv_a_ppm"),
        F.expr("c * 1000000 div (c + d)").alias("conv_b_ppm"),
        F.round(
            F.expr(
                "CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) = 0 THEN CAST(0 AS DOUBLE) ELSE "
                "CAST(a + b + c + d AS DOUBLE) * CAST(a * d - b * c AS DOUBLE) * CAST(a * d - b * c AS DOUBLE)"
                " / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE) * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)) END"
            )
            * 1e6,
            0,
        )
        .cast("long")
        .alias("chi2_micro"),
    )


def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 within-session event trigram paths — the behavioral
    sequence census (what `event_transitions` sees pairwise, at path
    granularity) feeding funnel design and next-action models.

    Sessions are `sessionize_events`' exact rule (>30-min gap, lag →
    flag → running sum); the trigram leads run in the SAME
    user-partitioned window cascade, and a path only counts when its
    third event is still in the same session (`lead(sess, 2) = sess`
    — sess is monotone within a user, so equality at +2 implies +1).
    One user-keyed shuffle for the whole window cascade, then a
    map-combinable path census and a TakeOrderedAndProject top-20
    under the total order (n desc, path asc). All counting — exact by
    construction.
    """
    e = read_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts") - F.lag("ts").over(w)
    flag = F.when(gap > F.expr("INTERVAL 30 MINUTES"), 1).otherwise(0)
    sess = e.withColumn(
        "sess",
        F.sum(flag).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    tri = sess.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
        F.col("sess"),
        F.lead("sess", 2).over(w).alias("s3"),
    ).filter(F.col("s3") == F.col("sess"))
    return (
        tri.groupBy(
            F.concat_ws(">", "e1", "e2", "e3").alias("path")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("path").asc())
        .limit(20)
    )


def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: minutes from each user's FIRST
    signup to their first purchase AFTER it, summarized as exact
    rank-selected deciles — the latency funnel metric
    (`conversion_forward` finds the pairs; this publishes the
    distribution a growth team actually quotes).

    Exactness: deltas are integer minutes from tz-free epoch-second
    arithmetic; each decile is the ELEMENT at rank ⌈p·n/100⌉ under the
    total order (delta, user_id) — rank selection, never
    interpolation (the `winsorized_stats`/`histogram_quantiles` exact
    arm). Shape: one user-keyed aggregate (min signup ts, min
    qualifying purchase ts ride the same shuffle via conditional
    min), then deciles over the bounded per-user census.
    """
    e = read_table(spark, sf_dir, "events")
    secs = tmp.seconds_since_origin("ts")
    per_user = (
        e.filter(F.col("event_type").isin("signup", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", secs)).alias("s0"),
        )
    )
    purch = (
        e.filter(F.col("event_type") == "purchase")
        # user-keyed equi-join, NO broadcast hint: the signup census is
        # data-proportional (one row per user), so forcing it to every
        # executor is the semantic_dedup-class OOM at corpus scale —
        # the size estimator may still broadcast it at small SF
        .join(per_user, "user_id")
        .filter(secs >= F.col("s0"))
        .groupBy("user_id")
        .agg(F.min(secs).alias("p0"), F.max("s0").alias("s0"))
    )
    deltas = purch.filter(F.col("s0").isNotNull()).select(
        "user_id", F.expr("(p0 - s0) div 60").alias("delta_min")
    )
    ranked = global_rank_scaled(
        deltas, "delta_min", "rn", ascending=True, tiebreaks=("user_id",),
        count_col="n",
    )
    pct = F.explode(F.array(*[F.lit(p) for p in (10, 25, 50, 75, 90)])).alias("pct")
    spine = ranked.select("rn", "delta_min", "n").crossJoin(
        ranked.agg(F.max("n").alias("__n")).select(pct, "__n")
    )
    return (
        spine.filter(F.col("rn") == F.expr("(pct * __n + 99) div 100"))
        .select(
            F.col("pct").cast("long").alias("pct"),
            F.col("rn").cast("long").alias("rank"),
            F.col("delta_min").cast("long").alias("delta_min"),
            F.col("n").cast("long").alias("n_users"),
        )
        .orderBy("pct")
    )


def q_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging at a snapshot date — the operations
    staple (how old is the work still in flight?): an order is OPEN at
    2000-01-01 if placed on/before it and its LAST line ships after
    it; age buckets 0–30 / 31–90 / 91–180 / 181–365 / 365+ days with
    order count and exact value cents per bucket.

    The aggregate-then-join discipline (Q18's): lineitem collapses to
    per-order max shipdate FIRST (one orderkey census shuffle), joins
    orders, and only then buckets — integer day arithmetic
    throughout, bucket edges as a literal CASE so both engines bin
    identically. 5-row output.
    """
    snap = "2000-01-01"
    last_ship = (
        read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",))
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("last_ship"))
    )
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") <= F.lit(snap)
    )
    open_orders = o.join(
        last_ship, o["o_orderkey"] == last_ship["l_orderkey"]
    ).filter(F.col("last_ship") > F.lit(snap))
    age = F.datediff(F.lit(snap), F.col("o_orderdate"))
    bucket = (
        F.when(age <= 30, "00-030d")
        .when(age <= 90, "031-090d")
        .when(age <= 180, "091-180d")
        .when(age <= 365, "181-365d")
        .otherwise("365d+")
    )
    return (
        open_orders.groupBy(bucket.alias("age_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(F.col("o_totalprice").cast(MONEY)) * 100)
            .cast("bigint")
            .alias("value_cents"),
            F.max(age).cast("long").alias("oldest_days"),
        )
        .orderBy("age_bucket")
    )


def q_stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data audit — see
    `streaming/stateful.py:late_drop_drained`: a deterministic md5
    shard of the snapshot arrives one micro-batch late behind a
    30-minute watermark; finalized hour windows drop their late rows,
    still-open windows accept them, and the DuckDB oracle replays the
    acceptance rule exactly — the watermark DROP path under the hash
    gate (upgrades §2.10 beyond happy-path accumulation).
    """
    from .streaming.stateful import late_drop_drained  # noqa: PLC0415

    return late_drop_drained(spark, sf_dir)


def q_embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION profile of the embedding table (n, min, max, mean
    per coordinate) — the normalization pre-flight for any vector
    pipeline: a dimension whose scale dwarfs the rest dominates every
    cosine/L2 downstream, and this census is how you find it.
    `label_centroids` slices by label; this slices by coordinate.

    Determinism: each float quantizes ONCE to micro-units
    (round(x·10⁶) → BIGINT) and everything downstream is integer
    min/max/sum — the distributed mean is bit-reproducible because
    integer partials re-associate freely (float sums don't); one IEEE
    division renders the mean. Shuffle carries (dim, partial) rows
    with map-side combine — 64 groups, vectors never move whole.
    """
    e = read_table(spark, sf_dir, "embeddings").select("embedding")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1e6, 0).cast("bigint"),
    )
    dims = e.select(F.posexplode(q).alias("dim", "__q"))
    return (
        dims.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("__q").alias("min_micro"),
            F.max("__q").alias("max_micro"),
            F.sum("__q").alias("sum_micro"),
        )
        .select(
            F.col("dim").cast("long").alias("dim"),
            "n",
            "min_micro",
            "max_micro",
            (F.col("sum_micro").cast("double") / F.col("n")).alias("mean_micro"),
        )
        .orderBy("dim")
    )


def q_range_split_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partition planner audit: the 31 split points a
    `repartitionByRange(32)` of orders by total price would ideally
    use (exact 1/32 quantiles of the cents distribution), and the
    occupancy each resulting bucket actually gets — including the
    honest failure mode this audit exists to expose: EQUAL keys
    cannot be split across range partitions, so heavy ties bound the
    achievable balance no matter how good the boundaries are.

    Exactness: boundaries are exact interpolated quantiles over
    integer cents with DYADIC fractions i/32 — (b−a)·k/32 and
    (1−k/32)·a+… are both exactly representable for cent-scale
    integers, so Spark's and DuckDB's interpolation formulas agree
    bit-for-bit (a non-dyadic fraction would not be safe; that's why
    the bucket count is a power of two). Assignment is a map-side
    comparison against the 31-element broadcast boundary array
    (`size(filter(bounds ≤ cents))`); one 32-group census closes it.
    """
    o = read_table(spark, sf_dir, "orders").select(
        (F.col("o_totalprice").cast(MONEY) * 100).cast("bigint").alias("cents")
    )
    fracs = [i / 32.0 for i in range(1, 32)]
    bounds = o.agg(
        F.percentile("cents", F.lit(fracs)).alias("bounds"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    assigned = o.crossJoin(F.broadcast(bounds)).select(
        F.size(
            F.filter(F.col("bounds"), lambda b: b <= F.col("cents").cast("double"))
        ).alias("bucket"),
        "n_rows",
    )
    return (
        assigned.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_bucket"), F.max("n_rows").alias("__n"))
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            "n_bucket",
            F.expr("(n_bucket - __n div 32) * 1000000 div (__n div 32)").alias(
                "skew_vs_ideal_ppm"
            ),
        )
        .orderBy("bucket")
    )


def q_grouping_sets_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native GROUPING SETS in one pass — (nation, segment), (nation),
    and grand-total rows from a single scan with `grouping_id`
    disambiguating the levels (`sales_cube` shows CUBE; this is the
    surgical subset a report actually wants, without the unused
    (segment)-only level CUBE would also pay for). Customer counts
    and exact account-balance cents per cell.

    Catalyst expands grouping sets into one Expand + one aggregate —
    a single shuffle carrying each input row once per MATCHED set
    (2-3 rows here), which is the point vs three separate scans.
    """
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).createOrReplaceTempView(
        "__gs_cust"
    )
    return spark.sql(
        """
        SELECT COALESCE(n_name, '(all)') AS nation,
               COALESCE(c_mktsegment, '(all)') AS segment,
               CAST(grouping_id(n_name, c_mktsegment) AS BIGINT) AS gid,
               COUNT(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)) * 100) AS BIGINT) AS acctbal_cents
        FROM __gs_cust
        GROUP BY GROUPING SETS ((n_name, c_mktsegment), (n_name), ())
        ORDER BY gid, nation, segment
        """
    )


def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median line price per nation — the
    inventory-weighted "typical price" (an unweighted median over
    line rows would let a thousand 1-unit lines outvote one
    10,000-unit line). Classic cumulative-weight rank selection:
    sort each nation's lines by (cents, orderkey, linenumber),
    running quantity sum, pick the FIRST row where 2·cum ≥ total —
    the lower weighted median, an element selection (no
    interpolation, nothing to diverge cross-engine).

    Shape: one nation-keyed shuffle+sort window over the lines (the
    honest cost of any order statistic over raw facts — at 100 TB
    you'd pre-aggregate to a (nation, cents) census first, which this
    plan admits: the window key set wouldn't change), then a
    per-nation argmin. All integers.
    """
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",)).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice").cast(MONEY) * 100).cast("bigint").alias("cents"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    lines = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select("n_name", "cents", "qty", "l_orderkey", "l_linenumber")
    )
    w = Window.partitionBy("n_name").orderBy("cents", "l_orderkey", "l_linenumber")
    cum = lines.select(
        "n_name",
        "cents",
        F.sum("qty").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("qty").over(Window.partitionBy("n_name")).alias("total"),
    ).filter(F.col("cum") * 2 >= F.col("total"))
    w2 = Window.partitionBy("n_name").orderBy("cum")
    return (
        cum.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select(
            F.col("n_name").alias("nation"),
            F.col("cents").alias("wmedian_cents"),
            F.col("total").alias("total_qty"),
        )
        .orderBy("nation")
    )


def q_twab_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average balance per user — the interest-accrual /
    exposure metric where a plain mean is wrong (holding R$1000 for
    29 days then R$0 for 1 is not the same as the reverse): balance
    steps at each ledger event (purchases credit, errors debit), and
    the average weighs each balance level by how long it was held.

    All integer until the final division: running balance in cents
    (windowed sum — associative, unlike `capped_balance`'s clamped
    fold), holding duration in seconds via tz-free epoch arithmetic
    (the observation closes at the user's LAST event of any type, so
    the final level carries real duration), Σ balance·seconds as
    BIGINT (bounded: cents ≤ 10⁸ · seconds ≤ 3·10⁶ per hold at this
    span — document before 100 TB: promote to DECIMAL(38,0) partials)
    — ONE IEEE division renders the answer. One user-keyed window
    cascade, one census aggregate.
    """
    e = read_table(spark, sf_dir, "events")
    secs = tmp.seconds_since_origin("ts")
    cents = (F.col("value").cast(MONEY) * 100).cast("long")
    delta = F.when(F.col("event_type") == "purchase", cents).when(
        F.col("event_type") == "error", -cents
    ).otherwise(F.lit(0))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = e.select(
        "user_id",
        secs.alias("t"),
        F.sum(delta).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("bal"),
        F.lead(secs).over(w).alias("t_next"),
    ).filter(F.col("t_next").isNotNull())
    return (
        stepped.groupBy("user_id")
        .agg(
            F.sum((F.col("t_next") - F.col("t")) * F.col("bal")).alias("__num"),
            F.sum(F.col("t_next") - F.col("t")).alias("obs_seconds"),
            F.max("bal").alias("peak_cents"),
        )
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            (F.col("__num").cast("double") / F.col("obs_seconds")).alias("twab_cents"),
            F.col("obs_seconds").cast("long").alias("obs_seconds"),
            F.col("peak_cents").cast("long").alias("peak_cents"),
        )
        .orderBy("user_id")
    )


def q_order_count_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order counts across customers — the
    standard inequality summary beside `join_skew_profile`'s F₂
    (F₂ bounds the self-join blow-up; Gini answers "how concentrated
    is the workload" on the analyst's 0–1 scale). Exact rational
    core: over counts sorted ascending with rank i,
    G = (2·Σ i·xᵢ) / (n·Σ xᵢ) − (n+1)/n — every term BIGINT, two
    IEEE divisions and one subtraction at the edge, rounded once to
    micro units.

    Shape: one custkey census shuffle, then the rank window runs over
    the CENSUS (|customers| rows, not orders); the Σ i·x and Σ x
    moments are one more census aggregate. Ties take the pinned
    (count, custkey) order — Gini is tie-order-invariant, the pin is
    purely for engine determinism.
    """
    o = read_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("x"))
    w = Window.orderBy("x", "o_custkey")
    ranked = counts.select("x", F.row_number().over(w).alias("i"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("x").alias("total_orders"),
        F.round(
            (
                (F.lit(2).cast("double") * F.sum(F.col("i") * F.col("x")))
                / (F.count(F.lit(1)) * F.sum("x")).cast("double")
                - (F.count(F.lit(1)) + 1).cast("double") / F.count(F.lit(1)).cast("double")
            )
            * 1e6,
            0,
        )
        .cast("long")
        .alias("gini_micro"),
    )


def q_ks_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift of the document-length
    distribution, each source vs the rest of the corpus — the
    distribution-shape screen that catches what mean/median
    comparisons miss (a source whose lengths are bimodal can match
    the corpus mean exactly). D is computed EXACTLY in integers: at
    every observed length v, the CDF gap |cum_s·n_r − cum_r·n_s| is
    a cross-multiplied BIGINT (no division until the final ppm
    render), and the max is rank-selected with the gap value and its
    argmax length in the output.

    Shape: one (source, length) census shuffle; the dense
    source×length grid is census-sized (distinct lengths are bounded
    by the length domain, not the corpus — documented 100 TB posture:
    bucket lengths first if the domain ever grows); two window scans
    per source partition over that grid.

    The (source, v, cnt) census is SPOOLED and every other frame
    (value spine, source spine, per-source totals, grand total,
    marginal length counts) derives from it by exact integer
    aggregation — documents is scanned ONCE, where the previous
    formulation re-scanned it six times (each derived frame re-read
    the fact table at 100 TB).
    """

    d = _docs_parallel(spark, sf_dir).filter(F.col("n_chars").isNotNull())
    counts = spool(
        d.groupBy("source", F.col("n_chars").alias("v")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
    )
    values = counts.select("v").distinct()
    sources = counts.select("source").distinct()
    totals = counts.groupBy("source").agg(F.sum("cnt").alias("n_s"))
    grand = counts.agg(F.sum("cnt").alias("n_all"))
    grid = (
        values.crossJoin(F.broadcast(sources))
        .join(counts, ["source", "v"], "left")
        .select("source", "v", F.coalesce("cnt", F.lit(0)).alias("cnt"))
    )
    all_counts = counts.groupBy("v").agg(F.sum("cnt").alias("cnt_all"))
    w_s = Window.partitionBy("source").orderBy("v")
    w_all = Window.orderBy("v")
    cums = (
        grid.withColumn("cum_s", F.sum("cnt").over(w_s))
        .join(
            all_counts.withColumn("cum_all", F.sum("cnt_all").over(w_all)).select(
                "v", "cum_all"
            ),
            "v",
        )
        .join(F.broadcast(totals), "source")
        .crossJoin(F.broadcast(grand))
    )
    gap = F.abs(
        F.col("cum_s") * (F.col("n_all") - F.col("n_s"))
        - (F.col("cum_all") - F.col("cum_s")) * F.col("n_s")
    )
    w_rank = Window.partitionBy("source").orderBy(
        gap.desc(), F.col("v").asc()
    )
    return (
        cums.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            "source",
            F.col("n_s").alias("n_docs"),
            F.col("v").alias("argmax_len"),
            F.expr(
                "abs(cum_s * (n_all - n_s) - (cum_all - cum_s) * n_s)"
                " * 1000000 div (n_s * (n_all - n_s))"
            ).alias("ks_d_ppm"),
        )
        .orderBy("source")
    )


def q_scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of date) join against a type-2 dimension —
    the query `scd2_dim` exists to serve: each order enriches with
    the customer-balance VERSION valid at its order date
    (eff_from ≤ o_orderdate < eff_to), never the current one — the
    difference between "what was true then" and "what is true now"
    that makes or breaks restated reports.

    The versioned dim is derived deterministically (every 3rd
    customer repriced +R$100 effective 1998-01-01; others single
    version), so the oracle rebuilds it. The join is equi on custkey
    with the validity range riding as a predicate — a plain hash
    join at any scale (the range filters post-probe; each order
    matches exactly one version by construction, asserted via the
    version-count output). Per (nation, version) census of orders
    and exact PIT balance cents.
    """
    cutv = "1998-01-01"
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", (F.col("c_acctbal").cast(MONEY) * 100).cast("bigint").alias("bal0")
    )
    versioned = c.select(
        "c_custkey",
        "c_nationkey",
        F.explode(
            F.when(
                F.col("c_custkey") % 3 == 0,
                F.array(
                    F.struct(
                        F.col("bal0").alias("bal"),
                        F.lit("1990-01-01").alias("eff_from"),
                        F.lit(cutv).alias("eff_to"),
                        F.lit("v1").alias("ver"),
                    ),
                    F.struct(
                        (F.col("bal0") + 10000).alias("bal"),
                        F.lit(cutv).alias("eff_from"),
                        F.lit("9999-12-31").alias("eff_to"),
                        F.lit("v2").alias("ver"),
                    ),
                ),
            ).otherwise(
                F.array(
                    F.struct(
                        F.col("bal0").alias("bal"),
                        F.lit("1990-01-01").alias("eff_from"),
                        F.lit("9999-12-31").alias("eff_to"),
                        F.lit("v1").alias("ver"),
                    )
                )
            )
        ).alias("vrow"),
    ).select("c_custkey", "c_nationkey", "vrow.*")
    o = read_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pit = o.join(
        versioned,
        (o["o_custkey"] == versioned["c_custkey"])
        & (F.col("o_orderdate") >= F.to_timestamp_ntz("eff_from"))
        & (F.col("o_orderdate") < F.to_timestamp_ntz("eff_to")),
    ).join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
    return (
        pit.groupBy("n_name", "ver")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("bal").alias("pit_bal_cents"),
        )
        .orderBy("n_name", "ver")
    )


def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix between event types: for each type
    pair, shared distinct users, each side's audience, and exact
    Jaccard ppm — the segmentation sanity check ("is 'error' hitting
    the same people as 'purchase'?") that drives suppression and
    targeting decisions.

    Same no-self-join shape as `source_overlap_matrix`: one
    (user, type)-distinct census folds to a per-user sorted type SET,
    pairs explode JVM-side (≤ 5·4/2 per user), and Jaccard closes
    from the pair census plus broadcast per-type audiences —
    |A∩B| from the pair count, |A∪B| = |A|+|B|−|A∩B|, one integer
    ppm division. Nothing after the census scales with events.
    """
    e = read_table(spark, sf_dir, "events").select("user_id", "event_type")
    per_user = e.distinct().groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    pairs = F.flatten(
        F.transform(
            F.col("types"),
            lambda a: F.filter(
                F.transform(
                    F.col("types"), lambda b: F.struct(a.alias("t_a"), b.alias("t_b"))
                ),
                lambda st: st["t_a"] < st["t_b"],
            ),
        )
    )
    shared = (
        per_user.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.t_a").alias("t_a"), F.col("p.t_b").alias("t_b"))
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    aud = e.distinct().groupBy("event_type").agg(F.count(F.lit(1)).alias("n_aud"))
    aa = aud.select(F.col("event_type").alias("t_a"), F.col("n_aud").alias("n_a"))
    ab = aud.select(F.col("event_type").alias("t_b"), F.col("n_aud").alias("n_b"))
    return (
        shared.join(F.broadcast(aa), "t_a")  # bounded: 5 event types
        .join(F.broadcast(ab), "t_b")  # bounded: 5 event types
        .select(
            "t_a",
            "t_b",
            "n_both",
            "n_a",
            "n_b",
            F.expr("n_both * 1000000 div (n_a + n_b - n_both)").alias("jaccard_ppm"),
        )
        .orderBy("t_a", "t_b")
    )


def q_event_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal co-occurrence matrix: for every ordered type pair
    (A, B), how many A-events are followed by a B from the SAME user
    within 5 minutes — the trigger→response census behind alert
    tuning and causal-chain hunting (`event_transitions` counts only
    the immediate successor; this counts every follower in the
    horizon).

    The pair generation is a user-keyed interval self-join with the
    5-minute band riding the equi-key — at scale the band bounds
    each probe row's matches by the user's burst density, the same
    posture as the streaming interval join. Counts only; the follower
    requires strictly later ts (ties by event_id break same-instant
    pairs deterministically).
    """
    e = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", tmp.seconds_since_origin("ts").alias("t")
    )
    a = e.select(
        F.col("user_id"),
        F.col("event_type").alias("t_a"),
        F.col("t").alias("ta"),
        F.col("event_id").alias("ida"),
    )
    b = e.select(
        F.col("user_id"),
        F.col("event_type").alias("t_b"),
        F.col("t").alias("tb"),
        F.col("event_id").alias("idb"),
    )
    pairs = a.join(b, "user_id").filter(
        (
            (F.col("tb") > F.col("ta"))
            | ((F.col("tb") == F.col("ta")) & (F.col("idb") > F.col("ida")))
        )
        & (F.col("tb") - F.col("ta") <= 300)
    )
    return (
        pairs.groupBy("t_a", "t_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("t_a", "t_b")
    )


def q_rfm_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-migration matrix: each customer's value tier (revenue
    tercile, rank-selected like everything here) in the FIRST half of
    the calendar vs the SECOND, with churn/new as explicit states —
    the movement report that tells a CRM whether "gold" is a stable
    cohort or a revolving door. `rfm_segments` snapshots one moment;
    this is its derivative.

    Halves split at 1998-07-01 (the fixture midpoint). Tiering is
    ntile(3) under the pinned (revenue desc, custkey) total order per
    half over the per-customer census; the matrix is a 4×4 count
    census (tiers + ABSENT). All integers.
    """
    mid = "1998-07-01"
    o = read_table(spark, sf_dir, "orders")

    def tiers(df: DataFrame, out: str) -> DataFrame:
        per_c = df.groupBy("o_custkey").agg(
            (F.sum(F.col("o_totalprice").cast(MONEY)) * 100).cast("bigint").alias("cents")
        )
        w = Window.orderBy(F.col("cents").desc(), F.col("o_custkey"))
        return per_c.select(
            "o_custkey", F.concat(F.lit("T"), F.ntile(3).over(w)).alias(out)
        )
    h1 = tiers(o.filter(F.col("o_orderdate") < F.lit(mid)), "tier_h1")
    h2 = tiers(o.filter(F.col("o_orderdate") >= F.lit(mid)), "tier_h2")
    return (
        h1.join(h2, "o_custkey", "full_outer")
        .select(
            F.coalesce("tier_h1", F.lit("ABSENT")).alias("tier_h1"),
            F.coalesce("tier_h2", F.lit("ABSENT")).alias("tier_h2"),
        )
        .groupBy("tier_h1", "tier_h2")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("tier_h1", "tier_h2")
    )


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest with content fingerprints: per
    md5-hash shard, document count, total chars, and an
    ORDER-INSENSITIVE corpus fingerprint (bit_xor of each doc's
    md5-prefix) — the reproducibility artifact a data release ships
    so a consumer can verify "same docs, bit-for-bit" without
    re-reading text (xor is commutative/associative, so the
    fingerprint is partitioning- and order-independent BY ALGEBRA,
    the same reason integer sums are the repo's float policy).

    One map-side-combinable shard census; text hashes once at the
    scan. A doc moved between shards flips exactly two fingerprints —
    tested.
    """
    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    shard = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 8
    )
    fp = F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10).cast("long")
    return (
        d.select(shard.alias("shard"), F.col("n_chars"), fp.alias("__fp"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.bit_xor("__fp").alias("fingerprint"),
        )
        .orderBy("shard")
    )


def q_decayed_item_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness-decayed popularity ranking: top-20 parts by
    exponentially time-decayed shipped quantity (half-life = one
    week) — the recommender-feed staple where raw lifetime counts
    freeze the catalog and a hard recency cutoff thrashes it.

    The decay is DYADIC so it stays integer-exact: each (part, week)
    census row contributes qty·2¹⁰ >> age_weeks (a shift, never a
    float pow — the `ewma_weekly` α=1/8 lesson), ages clamped at 40
    (past which the contribution is exactly 0 anyway). One fact
    shuffle to the (part, week) census, decay applied post-census,
    top-20 under (score desc, partkey) via TakeOrderedAndProject.
    """
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_partkey",)).select(
        "l_partkey",
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.floor(F.datediff(F.col("l_shipdate"), F.lit("1970-01-01")) / 7).cast(
            "long"
        ).alias("wk"),
    )
    census = li.groupBy("l_partkey", "wk").agg(F.sum("qty").alias("qty"))
    with_max = census.crossJoin(F.broadcast(census.agg(F.max("wk").alias("max_wk"))))
    scored = with_max.select(
        "l_partkey",
        F.expr(
            "shiftright(qty * 1024, CAST(least(max_wk - wk, 40) AS INT))"
        ).alias("decayed"),
    )
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    return (
        scored.groupBy("l_partkey")
        .agg(F.sum("decayed").alias("decayed_score"))
        .join(p, F.col("l_partkey") == p["p_partkey"])
        .select("p_name", F.col("l_partkey").alias("partkey"), "decayed_score")
        .orderBy(F.col("decayed_score").desc(), F.col("partkey"))
        .limit(20)
    )


def q_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution — the
    40/20/40 model beside `event_attribution`'s last-touch: every
    view in the hour before a purchase gets credit, weighted first
    40% / last 40% / middles sharing 20%, with largest-remainder
    integer ppm so each purchase's weights sum to EXACTLY 10⁶
    (`revenue_recognition`'s conservation discipline). Single-touch
    journeys take the full million; two-touch split 50/50.

    Census by position class (first/middle/last/only): touch count,
    total weight ppm, and floor-credited cents. The purchase×view
    pair stage is the user-keyed interval join (`event_cooccurrence`
    posture — bounded by burst density); the per-purchase ordering
    window runs on the pair set, which the 1-hour band keeps sparse.
    """
    e = read_table(spark, sf_dir, "events")
    secs = tmp.seconds_since_origin("ts")
    buys = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("buy_id"),
        secs.alias("tb"),
        (F.col("value").cast(MONEY) * 100).cast("bigint").alias("cents"),
    )
    views = e.filter(F.col("event_type") == "view").select(
        F.col("user_id"), F.col("event_id").alias("view_id"), secs.alias("tv")
    )
    pairs = buys.join(views, "user_id").filter(
        (F.col("tv") <= F.col("tb")) & (F.col("tb") - F.col("tv") <= 3600)
    )
    w = Window.partitionBy("buy_id").orderBy("tv", "view_id")
    ranked = pairs.select(
        "buy_id",
        "cents",
        F.row_number().over(w).alias("pos"),
        F.count(F.lit(1)).over(Window.partitionBy("buy_id")).alias("n"),
    )
    mid_w = F.expr("200000 div (n - 2)")
    mid_rem = F.expr("200000 % (n - 2)")
    weight = (
        F.when(F.col("n") == 1, F.lit(1000000))
        .when(F.col("n") == 2, F.lit(500000))
        .when(F.col("pos") == 1, F.lit(400000))
        .when(F.col("pos") == F.col("n"), F.lit(400000))
        .when(F.col("pos") == 2, mid_w + mid_rem)  # largest-remainder to earliest middle
        .otherwise(mid_w)
    )
    klass = (
        F.when(F.col("n") == 1, "only")
        .when(F.col("pos") == 1, "first")
        .when(F.col("pos") == F.col("n"), "last")
        .otherwise("middle")
    )
    return (
        ranked.select(
            klass.alias("position"),
            weight.alias("w"),
            (F.col("cents") * weight).alias("__cw"),
        )
        .select("position", "w", F.expr("__cw div 1000000").alias("credit"))
        .groupBy("position")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("w").alias("total_weight_ppm"),
            F.sum("credit").alias("credited_cents"),
        )
        .orderBy("position")
    )


def q_session_depth_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-depth distribution + bounce rate — the engagement
    histogram product teams read before any funnel: share of
    sessions at depth 1 (bounces), 2–3, 4–10, 11+, with event mass
    per band. Sessions are `sessionize_events`' exact >30-min-gap
    rule; depth is the session's event count, banded by a literal
    CASE (identical binning both engines).

    One user-keyed window pass to session ids, one (user, session)
    census, one 4-row band rollup with integer ppm shares — nothing
    after the census scales with events.
    """
    e = read_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts") - F.lag("ts").over(w)
    flag = F.when(gap > F.expr("INTERVAL 30 MINUTES"), 1).otherwise(0)
    sess = e.withColumn(
        "sess",
        F.sum(flag).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    depth = sess.groupBy("user_id", "sess").agg(F.count(F.lit(1)).alias("depth"))
    band = (
        F.when(F.col("depth") == 1, "1-bounce")
        .when(F.col("depth") <= 3, "2-3")
        .when(F.col("depth") <= 10, "4-10")
        .otherwise("11+")
    )
    banded = depth.groupBy(band.alias("depth_band")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("depth").alias("n_events"),
    )
    # total via a global window over the ≤4-row band census (the
    # benford pattern) — a crossJoin(agg) would traverse the banded
    # lineage twice and double every upstream exchange
    tot = F.sum("n_sessions").over(Window.partitionBy())
    return banded.select(
        "depth_band",
        "n_sessions",
        "n_events",
        F.expr("n_sessions * 1000000").cast("long").alias("__num"),
        tot.alias("__t"),
    ).select(
        "depth_band",
        "n_sessions",
        "n_events",
        F.expr("__num div __t").alias("share_ppm"),
    ).orderBy("depth_band")


def q_seasonal_band_breaches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-band backtest: per weekday, the [P10, P90] band of
    daily event value learned from the FIRST half of the calendar,
    then the breach census over the SECOND half — the
    anomaly-monitor calibration loop (how often would this band have
    paged?) run entirely in-engine. The weekday index is the
    tz-free integer (sec div 86400) % 7 + 1 (the
    `weekday_seasonality` convention; engines disagree on dayofweek
    and sessions shift under tz).

    Bands are exact rank-selected elements (⌈p·n/100⌉ under
    (cents, day) per weekday — no interpolation); breaches compare
    integers. Two passes over the (day, weekday) census, which is
    calendar-bounded; one fact shuffle builds it — the census is
    SPOOLED so the midpoint probe and both halves read the bounded
    artifact instead of each re-scanning events (was a 4× fact read).
    """

    e = read_table(spark, sf_dir, "events")
    day = (tmp.seconds_since_origin("ts") / 86400).cast("long")
    daily = spool(
        e.groupBy(day.alias("d")).agg(
            (F.sum(F.col("value").cast(MONEY)) * 100).cast("bigint").alias("cents")
        ).withColumn("dow", (F.col("d") % 7 + 1).cast("int"))
    )
    mid = daily.agg(((F.min("d") + F.max("d")) / 2).cast("long").alias("mid"))
    with_mid = daily.crossJoin(F.broadcast(mid))
    hist = with_mid.filter(F.col("d") <= F.col("mid"))
    test = with_mid.filter(F.col("d") > F.col("mid"))
    w = Window.partitionBy("dow").orderBy("cents", "d")
    ranked = hist.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("dow"))
    )
    bands = (
        ranked.filter(
            (F.col("rn") == F.expr("(10 * n + 99) div 100"))
            | (F.col("rn") == F.expr("(90 * n + 99) div 100"))
        )
        .groupBy("dow")
        .agg(F.min("cents").alias("p10_cents"), F.max("cents").alias("p90_cents"))
    )
    return (
        test.join(F.broadcast(bands), "dow")  # bounded: 7 weekdays
        .groupBy("dow")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.max("p10_cents").alias("p10_cents"),
            F.max("p90_cents").alias("p90_cents"),
            F.sum((F.col("cents") < F.col("p10_cents")).cast("long")).alias("n_below"),
            F.sum((F.col("cents") > F.col("p90_cents")).cast("long")).alias("n_above"),
        )
        .orderBy("dow")
    )


def q_rounding_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rounding-drift audit: per nation, the cent difference between
    round-then-sum and sum-then-round of the discounted line revenue
    — the finance-QA check for invoice-level vs ledger-level totals
    (they legally differ; the audit quantifies by how much). Also
    the repo's float policy made into a measurable artifact: both
    arms are EXACT decimal paths (per-line product rounded
    half-up to 2 dp with one rule, vs the exact product summed at
    full scale then rounded once), so the drift is a property of the
    DATA, not of any engine.

    One co-partitioned lineitem⋈orders join, per-nation decimal
    sums, integer cent outputs.
    """
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",)).select(
        "l_orderkey",
        (
            F.col("l_extendedprice").cast(_PRICE)
            * (F.lit(1).cast(_RATE) - F.col("l_discount").cast(_RATE))
        ).alias("__exact"),  # decimal(17,4), exact
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_line_rounded = F.round(F.col("__exact"), 2)  # HALF_UP on decimal
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    )
    return (
        joined.groupBy("n_name")
        .agg(
            (F.sum(per_line_rounded) * 100).cast("bigint").alias("invoice_cents"),
            (F.round(F.sum("__exact"), 2) * 100).cast("bigint").alias("ledger_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .select(
            "n_name",
            "invoice_cents",
            "ledger_cents",
            (F.col("invoice_cents") - F.col("ledger_cents")).alias("drift_cents"),
            "n_lines",
        )
        .orderBy("n_name")
    )


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting) on the fixture calendar:
    top-20 customers by revenue lost to returns (l_returnflag = 'R')
    in H2-1997 — the churn-risk worklist. The canonical shape: the
    quarter+flag filters prune BOTH fact scans, lineitem⋈orders is
    the one shuffle edge, customer/nation broadcast, top-20 via
    TakeOrderedAndProject. Revenue is the exact tight-decimal
    discount product (Q1's money rule), one double cast at the edge.
    """
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    ).select("o_orderkey", "o_custkey")
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",)).filter(
        F.col("l_returnflag") == "R"
    ).select(
        "l_orderkey",
        (
            F.col("l_extendedprice").cast(_PRICE)
            * (F.lit(1).cast(_RATE) - F.col("l_discount").cast(_RATE))
        ).alias("__rev"),
    )
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum("__rev").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_return_lines"),
            F.max("c_acctbal").alias("c_acctbal"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect) adapted to the fixture's literal
    part types: the share of 1997 revenue from PROMO parts — the
    benchmark's conditional-aggregate-over-a-join probe. One
    broadcast join (part is the dimension), both sums ride the same
    map-side-combined aggregate (never two scans), share as exact
    integer ppm over cents.
    """
    li = read_table_parallel(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    ).select(
        "l_partkey",
        (
            F.col("l_extendedprice").cast(_PRICE)
            * (F.lit(1).cast(_RATE) - F.col("l_discount").cast(_RATE))
        ).alias("__rev"),
    )
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(p, li["l_partkey"] == p["p_partkey"])
    # the exact sums carry scale 4 (two-factor product); round HALF_UP
    # to 2 dp ONCE before the cent cast — a raw ×100 cast would leave
    # a .xx fraction where Spark truncates and DuckDB rounds (a real
    # off-by-one caught at sf0.001)
    return j.agg(
        (F.round(F.sum(F.when(F.col("p_type") == "PROMO", F.col("__rev"))), 2) * 100)
        .cast("bigint")
        .alias("promo_cents"),
        (F.round(F.sum("__rev"), 2) * 100).cast("bigint").alias("total_cents"),
    ).select(
        "promo_cents",
        "total_cents",
        F.expr("promo_cents * 1000000 div total_cents").alias("promo_ppm"),
    )


def q_naive_forecast_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-skill floor: the median absolute percentage error of
    the naive last-week-carried-forward forecast, per nation — the
    number any real model must beat, computed as a backtest over the
    weekly census. Each week's APE is ONE integer ppm division
    (|actual−forecast|·10⁶ div forecast, forecast = lag(cents));
    the median APE is rank-selected (lower median under (ape, week))
    — no float anywhere.

    One fact shuffle to the (nation, week) census; lag + ranking run
    on census partitions.
    """
    # (nation, wk, cents) = the session-shared `_weekly_nation_census`
    # spool (r10-opt) — this census was rebuilt inline per call.
    census = _weekly_nation_census(spark, sf_dir).select(
        "nation", "wk", "cents"
    )
    w = Window.partitionBy("nation").orderBy("wk")
    fc = F.lag("cents").over(w)
    ape = census.select(
        "nation",
        "wk",
        F.abs(F.col("cents") - fc).alias("__ad"),
        fc.alias("__fc"),
    ).filter(F.col("__fc").isNotNull() & (F.col("__fc") > 0)).select(
        "nation", "wk", F.expr("__ad * 1000000 div __fc").alias("ape_ppm")
    )
    w_rank = Window.partitionBy("nation").orderBy("ape_ppm", "wk")
    ranked = ape.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "n_evals", F.count(F.lit(1)).over(Window.partitionBy("nation"))
    )
    return (
        ranked.filter(F.expr("rn = ((n_evals + 1) div 2)"))
        .select("nation", F.col("n_evals").cast("long").alias("n_evals"),
                F.col("ape_ppm").alias("median_ape_ppm"))
        .orderBy("nation")
    )


def q_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC–XYZ inventory matrix: parts classed by revenue tercile
    (A/B/C — `abc_classification`'s axis) × demand-variability
    tercile (X/Y/Z), the planning grid that decides which SKUs get
    safety stock vs make-to-order. Variability is the squared
    coefficient of variation in EXACT integers — the classic CV
    needs a sqrt and a mean division, but ranking is invariant under
    the monotone transform, so the class boundaries come from
    (n·Σx² − (Σx)²)·10⁶ div (Σx)² (relative variance ppm of weekly
    demand) rank-selected into terciles. No transcendental, no
    per-part float.

    One fact shuffle to the (part, week) census, a part-level moment
    aggregate, two census ntiles under pinned total orders, a 9-cell
    rollup.
    """
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_partkey",)).select(
        "l_partkey",
        F.col("l_quantity").cast("bigint").alias("qty"),
        (F.col("l_extendedprice").cast(MONEY) * 100).cast("bigint").alias("cents"),
        F.floor(F.datediff(F.col("l_shipdate"), F.lit("1970-01-01")) / 7)
        .cast("long")
        .alias("wk"),
    )
    weekly = li.groupBy("l_partkey", "wk").agg(
        F.sum("qty").alias("x"), F.sum("cents").alias("cents")
    )
    moments = weekly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("cents").alias("revenue_cents"),
    ).filter(F.col("sx") > 0)
    relvar = F.expr("(n * sxx - sx * sx) * 1000000 div (sx * sx)")
    w_abc = Window.orderBy(F.col("revenue_cents").desc(), F.col("l_partkey"))
    w_xyz = Window.orderBy(relvar.asc(), F.col("l_partkey"))
    classed = moments.select(
        "l_partkey",
        "revenue_cents",
        F.element_at(F.array(F.lit("A"), F.lit("B"), F.lit("C")), F.ntile(3).over(w_abc)).alias("abc"),
        F.element_at(F.array(F.lit("X"), F.lit("Y"), F.lit("Z")), F.ntile(3).over(w_xyz)).alias("xyz"),
    )
    return (
        classed.groupBy("abc", "xyz")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("revenue_cents").alias("revenue_cents"),
        )
        .orderBy("abc", "xyz")
    )


def q_same_customer_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Like-for-like ("same-store") growth per nation: H2-vs-H1
    revenue growth restricted to customers ACTIVE IN BOTH halves —
    the comparable-base number that strips acquisition mix out of
    growth (total growth conflates new customers with real
    expansion; this is the retail/finance standard for organic
    growth). Alongside: the total-base growth for contrast, both as
    integer ppm with one division each.

    Per-customer half-year cents census (one shuffle), inner-join on
    custkey for the comparable base, nation rollup with dims
    broadcast.
    """
    mid = "1998-07-01"
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per = (
        o.groupBy(
            "o_custkey",
            (F.col("o_orderdate") >= F.lit(mid)).cast("int").alias("h"),
        )
        .agg((F.sum(F.col("o_totalprice").cast(MONEY)) * 100).cast("bigint").alias("cents"))
    )
    h1 = per.filter(F.col("h") == 0).select(
        F.col("o_custkey"), F.col("cents").alias("c1")
    )
    h2 = per.filter(F.col("h") == 1).select(
        F.col("o_custkey"), F.col("cents").alias("c2")
    )
    both = h1.join(h2, "o_custkey")
    enriched = both.join(c, both["o_custkey"] == c["c_custkey"]).join(
        F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]
    )
    return (
        enriched.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_comparable"),
            F.sum("c1").alias("h1_cents"),
            F.sum("c2").alias("h2_cents"),
        )
        .select(
            "n_name",
            "n_comparable",
            "h1_cents",
            "h2_cents",
            F.expr("(h2_cents - h1_cents) * 1000000 div h1_cents").alias(
                "samecust_growth_ppm"
            ),
        )
        .orderBy("n_name")
    )


def q_attribution_stream_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join — see
    `streaming/joins.py:attribution_pairs_watermarked`: the
    production posture `attribution_stream` only documents (bounded
    join state via watermark eviction) actually run, with the state
    eviction measured and the pair set still hash-identical to the
    batch oracle. Shares `attribution_stream`'s oracle SQL — same
    semantics, different (bounded-state) execution.
    """
    from .streaming.joins import attribution_pairs_watermarked  # noqa: PLC0415

    return attribution_pairs_watermarked(spark, sf_dir)


def q_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + trend) per nation —
    the trend-aware smoother beside `ewma_weekly`'s level-only fold
    (an EWMA lags a trending series forever; Holt's trend term closes
    the gap), with the one-step-ahead forecast l+b that a capacity
    planner actually consumes.

    Dyadic α=β=1/4 keeps the entire recurrence in BIGINT shifts:
    with err = x−l−b, l' = l + b + (err >> 2) and b' = b + (err >> 4)
    (the textbook b' = b + ((l'−l−b)>>2) collapses to err>>4 because
    arithmetic shifts compose) — and `shiftright` is the ARITHMETIC
    shift in both engines (probed: −7>>1 = −4 floor semantics), so
    negative trends stay bit-identical. The fold — order-dependent,
    inexpressible as a windowed SUM — runs in the array domain over
    the week-sorted census with a STRUCT accumulator.

    Mirror note (a real engine bug found writing this): DuckDB
    1.0's `list_reduce` evaluates multi-field struct lambdas IN
    PLACE — a later field sees the current step's already-updated
    earlier fields (minimal repro: fold {'v': acc.v·10+e.v,
    'w': acc.v+acc.w} over [1,2,3] returns w=125, not the correct
    14), silently corrupting any two-variable recurrence. The oracle
    therefore folds via a RECURSIVE CTE (step-by-step evaluation is
    correct); the Spark side's `F.aggregate` builds each new struct
    from the old accumulator and is unaffected.

    One fact shuffle to the (nation, week) census, one per-nation
    collect; the fold walks calendar-bounded arrays.
    """
    # (nation, wk, cents) = the session-shared `_weekly_nation_census`
    # spool (r10-opt) — this census was rebuilt inline per call.
    census = _weekly_nation_census(spark, sf_dir).select(
        "nation", "wk", "cents"
    )
    arr = census.groupBy("nation").agg(
        F.sort_array(F.collect_list(F.struct("wk", "cents"))).alias("__pairs")
    )
    xs = F.transform(F.col("__pairs"), lambda p: p["cents"])
    lifted = F.transform(
        xs, lambda x: F.struct(x.alias("l"), F.lit(0).cast("bigint").alias("b"))
    )
    state = F.aggregate(
        F.slice(lifted, 2, F.greatest(F.size(lifted) - 1, F.lit(0))),
        F.element_at(lifted, 1),
        lambda acc, e: F.struct(
            (
                acc["l"] + acc["b"]
                + F.shiftright(e["l"] - acc["l"] - acc["b"], 2)
            ).alias("l"),
            (
                acc["b"] + F.shiftright(e["l"] - acc["l"] - acc["b"], 4)
            ).alias("b"),
        ),
    )
    return arr.select(
        "nation",
        F.size("__pairs").cast("long").alias("n_weeks"),
        state["l"].alias("level_cents"),
        state["b"].alias("trend_cents"),
        (state["l"] + state["b"]).alias("forecast_cents"),
    ).orderBy("nation")


def q_transition_steady_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the behavioral Markov chain — where
    `event_transitions` measures each hop, this answers "where do
    users spend their time in the limit": 3 unrolled power iterations
    v' = v·P from uniform, entirely in integer ppm over the ≤|types|²
    transition census (the `pagerank_items` unrolled-trajectory
    discipline — per-term `(v·n) div rowtot` integer division is
    deterministic in both engines, and the whole trajectory is under
    the hash gate, not just the fixpoint).

    One user-keyed lag pass builds the census; each iteration is a
    5-row × 25-row broadcast join — nothing beyond the census ever
    shuffles, at any scale. The ≤|types|² census is SPOOLED: the
    state spine (two reads), the bounded count, and all three
    unrolled iterations otherwise each re-ran the events lag pass —
    a 5× fact read for a 25-row artifact.
    """
    # the census = the session-shared `_event_transition_census` spool
    # (r10-opt): the per-call spool build re-ran the events lag pass
    # every invocation for the same bounded artifact.
    census = _event_transition_census(spark, sf_dir)
    states = census.select(F.col("de").alias("state")).union(
        census.select(F.col("para"))
    ).distinct()
    n_states = states.count()  # bounded: the type domain
    v = states.select("state", F.lit(1_000_000 // n_states).cast("long").alias("mass"))
    for _ in range(3):
        contrib = census.join(
            F.broadcast(v), census["de"] == v["state"]
        ).select(
            F.col("para").alias("state"),
            F.expr("(mass * n) div rowtot").alias("part"),
        )
        v = contrib.groupBy("state").agg(F.sum("part").alias("mass"))
    return v.select("state", F.col("mass").alias("steady_ppm")).orderBy("state")


def q_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity response to discount level — the pricing team's first
    elasticity read: per cent-grid discount level (the exact integer
    band `tpch_q6` established), line count, total quantity, average
    quantity in millis, and revenue cents. One map-side-combined
    11-group aggregate fused into the fact scan; a monotone-ish
    qty-vs-discount profile is the expected signal, and the query
    reports whatever the data says.
    """
    li = read_table_parallel(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100, 0).cast("bigint").alias("disc_pct"),
        F.col("l_quantity").cast("bigint").alias("qty"),
        (F.col("l_extendedprice").cast(MONEY) * 100).cast("bigint").alias("cents"),
    )
    return (
        li.groupBy("disc_pct")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("qty").alias("total_qty"),
            F.expr("sum(qty) * 1000 div count(1)").alias("avg_qty_milli"),
            F.sum("cents").alias("revenue_cents"),
        )
        .orderBy("disc_pct")
    )


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bilateral trade revenue between
    two nations by ship year — the benchmark's double-dimension
    disjunction probe. The pair predicate ((supp=A ∧ cust=B) ∨
    (supp=B ∧ cust=A)) cannot collapse to either single join, so the
    planner must carry both nation attributes to one post-join filter
    while still pruning each dimension to the two named nations.

    Plan: supplier and customer each pre-filtered to the 2-nation
    set and broadcast; lineitem⋈orders on orderkey is the only
    shuffle; the disjunction filters the joined stream inside the
    same codegen stage. Revenue is the exact-DECIMAL discount
    product summed per (supp_nation, cust_nation, year), cast to
    double once at the edge — Q5's float policy verbatim.
    """
    pair = ("NATION_1", "NATION_2")
    n = read_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    s = (
        read_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        read_table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",)).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    ).select(
        "l_orderkey",
        "l_suppkey",
        F.year("l_shipdate").alias("l_year"),
        (
            F.col("l_extendedprice").cast(_PRICE)
            * (F.lit(1).cast(_RATE) - F.col("l_discount").cast(_RATE))
        ).alias("__rev"),
    )
    return (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("__rev").cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): of the AMERICA region's
    1996–1997 STANDARD-part purchase volume, the share supplied by
    NATION_5, per order year — the benchmark's conditional-share-
    over-a-5-way-join probe.

    Both the numerator (NATION_5-supplied volume) and denominator
    (all volume) ride ONE map-side-combined aggregate over the same
    joined stream — never two scans. Share is integer ppm over exact
    cents (round-once-then-cent-cast, the q14 discipline), so the
    output is pure BIGINT: no cross-engine float hazard anywhere.

    Plan: part (type filter), supplier(+nation) and customer
    (region-pruned via nation⋈region) all broadcast; lineitem⋈orders
    on orderkey is the only shuffle.
    """
    p = read_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD").select("p_partkey")
    s = (
        read_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(read_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    amer = (
        read_table(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                read_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey")
    )
    c = (
        read_table(spark, sf_dir, "customer")
        .join(F.broadcast(amer), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    ).select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",)).select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        (
            F.col("l_extendedprice").cast(_PRICE)
            * (F.lit(1).cast(_RATE) - F.col("l_discount").cast(_RATE))
        ).alias("__vol"),
    )
    j = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
    )
    return (
        j.groupBy("o_year")
        .agg(
            (
                F.round(
                    F.sum(F.when(F.col("supp_nation") == "NATION_5", F.col("__vol"))), 2
                )
                * 100
            )
            .cast("bigint")
            .alias("nation_cents"),
            (F.round(F.sum("__vol"), 2) * 100).cast("bigint").alias("total_cents"),
        )
        .select(
            "o_year",
            F.coalesce("nation_cents", F.lit(0)).alias("nation_cents"),
            "total_cents",
            F.expr(
                "coalesce(nation_cents, 0) * 1000000 div total_cents"
            ).alias("mkt_share_ppm"),
        )
        .orderBy("o_year")
    )


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit) adapted to the fixture schema:
    no partsupp table, so supply cost is proxied by the part's list
    price — profit(line) = disc_revenue − p_retailprice·l_quantity,
    i.e. realized margin vs list (negative when discounted sales
    clear below list). Same shape as spec Q9: a part-name substring
    filter ('%red%'), profit aggregated per (supplier nation, order
    year) over the full join graph.

    Exactness: retailprice casts to DECIMAL(12,2), quantity is
    integral (BIGINT), so cost = (12,2)×BIGINT is exact; revenue is
    the exact (17,4) discount product; the difference stays exact
    decimal and is summed before ONE cast to double. Plan: part
    (name filter) and supplier(+nation) broadcast; lineitem⋈orders
    on orderkey is the only shuffle; year extraction rides the probe
    side.
    """
    p = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", F.col("p_retailprice").cast(_PRICE).alias("__list"))
    )
    s = (
        read_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(read_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",)).select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        F.col("l_quantity").cast("bigint").alias("__qty"),
        (
            F.col("l_extendedprice").cast(_PRICE)
            * (F.lit(1).cast(_RATE) - F.col("l_discount").cast(_RATE))
        ).alias("__rev"),
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", "o_year")
        .agg(
            F.sum(F.col("__rev") - F.col("__list") * F.col("__qty"))
            .cast("double")
            .alias("sum_profit")
        )
        .orderBy(F.col("nation").asc(), F.col("o_year").desc())
    )


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping-mode priority audit) adapted to the
    fixture schema: no shipmode/commit/receipt dates, so lines are
    banded by ship DELAY (days from order to ship: ≤30 fast, 31–90
    ok, >90 late) instead of by mode — the same shape as spec Q12:
    per band, how many lines belong to critical-priority orders
    (1-URGENT/2-HIGH) vs not, as a CASE-sum pair over one join.

    The delay predicate is a non-equi expression over both sides, so
    it must ride the orderkey join as a post-join projection — the
    planner keeps it inside the join's codegen stage. One shuffle
    (lineitem⋈orders on orderkey), 3-row output, all BIGINT.
    """
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",)).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    ).select("l_orderkey", "l_shipdate")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    band = (
        F.when(delay <= 30, F.lit("1-FAST"))
        .when(delay <= 90, F.lit("2-OK"))
        .otherwise(F.lit("3-LATE"))
    )
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(band.alias("delay_band"))
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(crit, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("delay_band")
    )


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): how many customers placed
    exactly k qualifying orders, INCLUDING the zero-order customers
    — the benchmark's outer-join-then-re-aggregate probe. The
    fixture has no o_comment, so the spec's "special requests"
    exclusion becomes an o_orderpriority ≠ 1-URGENT filter (same
    plan point: the predicate must sit in the JOIN's ON clause, not
    a WHERE — a WHERE would silently turn the outer join inner and
    drop the zero bucket).

    Two aggregations: orders-per-customer (shuffle on custkey),
    then customers-per-count (the distribution, a ≤max-k-row
    shuffle). All counts BIGINT; c_count INT for a stable schema.
    """
    c = read_table(spark, sf_dir, "customer").select("c_custkey")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy(F.col("c_count").cast("int").alias("c_count"))
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the supplier(s) whose 1996-Q1
    shipped revenue equals the maximum — spec Q15's revenue-view +
    scalar-max-subquery shape, expressed as an unpartitioned window
    max over the per-supplier aggregate. The window is global but
    runs on the ~|suppliers| aggregate (bounded, dimension-sized),
    never on fact rows — the same census-not-data discipline as the
    repo's other global windows.

    Tie semantics preserved: equality against the max keeps ALL
    argmax suppliers (spec Q15 returns every tie). The compare is on
    exact integer cents (round-once-then-cent-cast), so max and
    equality are bit-safe cross-engine; no float enters the plan.
    """
    li = read_table_parallel(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    ).select(
        "l_suppkey",
        (
            F.col("l_extendedprice").cast(_PRICE)
            * (F.lit(1).cast(_RATE) - F.col("l_discount").cast(_RATE))
        ).alias("__rev"),
    )
    rev = li.groupBy("l_suppkey").agg(
        (F.round(F.sum("__rev"), 2) * 100).cast("bigint").alias("total_cents")
    )
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    w = Window.orderBy(F.lit(1))
    top = rev.withColumn("__max", F.max("total_cents").over(w)).filter(
        F.col("total_cents") == F.col("__max")
    )
    return (
        top.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_cents")
        .orderBy("s_suppkey")
    )


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier) adapted to the fixture
    schema: no partsupp/ps_supplycost, so "cost" is the cheapest
    OBSERVED line (min exact cents of l_extendedprice) a EUROPE
    supplier ever shipped that part for. Same correlated-min shape
    as spec Q2: for every small STANDARD part, keep exactly the
    supplier rows achieving the per-part minimum — ties keep every
    minimal supplier, as the spec's subquery does.

    The min is computed per (part, supplier) then the per-part
    argmin is selected by a window min over the partkey-partitioned
    aggregate — dimension-bounded rows, never fact rows. Cents go
    through the DECIMAL(12,2) cast (NOT round()·100 on the raw
    double — Spark's double→bigint cast truncates where DuckDB's
    rounds, the probed off-by-a-cent hazard), so min and the
    equality keep are exact; s_acctbal is rendered untouched (no
    arithmetic — a
    passed-through parquet double hashes identically everywhere).
    Plan: part filter prunes the scan; europe suppliers broadcast;
    one shuffle on (partkey, suppkey).
    """
    p = read_table(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 10) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey")
    eur = (
        read_table(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                read_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    s = (
        read_table(spark, sf_dir, "supplier")
        .join(F.broadcast(eur), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = read_table_parallel(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice").cast(_PRICE) * 100).cast("bigint").alias("__cents"),
    )
    per_ps = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s.select("s_suppkey"), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_partkey", "l_suppkey")
        .agg(F.min("__cents").alias("min_cents"))
    )
    w = Window.partitionBy("p_partkey")
    best = per_ps.withColumn("__pmin", F.min("min_cents").over(w)).filter(
        F.col("min_cents") == F.col("__pmin")
    )
    return (
        best.join(s, best["l_suppkey"] == s["s_suppkey"])
        .select("s_acctbal", "s_name", F.col("n_name").alias("nation"), "p_partkey", "min_cents")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
    )


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship) adapted: no partsupp,
    so the supply relation is the one OBSERVED in lineitem — how
    many distinct suppliers have ever shipped each (brand, type,
    size) combination, excluding one brand (spec's Brand#45 ≈
    Brand#1 here). Spec Q16's point survives intact: a distinct-
    count whose dedup key (the supplier) is NOT a grouping key, so
    the engine must shuffle the (brand, type, size, suppkey)
    distinct set before counting — count(DISTINCT) over a join,
    map-side-deduped.

    Plan: part filter broadcasts into lineitem; one distinct shuffle
    on the 4-tuple, then the count collapses to the ≤|brand×type×
    size| census. All output integers/strings.
    """
    p = read_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    li = read_table_parallel(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", F.col("p_size").asc()
        )
    )


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): revenue that would
    vanish if sub-20%-of-average-quantity orders for one brand's
    small parts were dropped — the benchmark's correlated-scalar-
    average probe (p_container → p_size ≤ 10 in this fixture).

    The fractional threshold is made integer-exact: qty < 0.2·avg ⇔
    5·qty·cnt < sum_qty (cnt > 0, quantity integral in the
    fixture), so NO float division enters the filter — the same
    cross-multiplication discipline as `same_customer_growth`. The
    per-part (cnt, sum) table is dimension-bounded (≤|part| rows)
    and broadcast back onto the filtered lines. avg_yearly is ONE
    IEEE division of exact cents by 700 at the edge.
    """
    p = read_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 10)
    ).select("p_partkey")
    li = (
        read_table_parallel(spark, sf_dir, "lineitem")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "p_partkey",
            F.col("l_quantity").cast("bigint").alias("__qty"),
            (F.col("l_extendedprice").cast(_PRICE) * 100).cast("bigint").alias("__cents"),
        )
    )
    stats = li.groupBy(F.col("p_partkey").alias("__pk")).agg(
        F.count(F.lit(1)).alias("__cnt"), F.sum("__qty").alias("__sum_qty")
    )
    small = li.join(stats, F.col("p_partkey") == F.col("__pk")).filter(
        F.lit(5) * F.col("__qty") * F.col("__cnt") < F.col("__sum_qty")
    )
    return small.agg(
        F.count(F.lit(1)).alias("n_small_lines"),
        F.coalesce(F.sum("__cents"), F.lit(0)).alias("total_cents"),
        (F.coalesce(F.sum("__cents"), F.lit(0)).cast("double") / F.lit(700.0)).alias(
            "avg_yearly"
        ),
    )


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock) adapted: no partsupp, so "stock
    value" is the OBSERVED shipped value — per part, the exact-cent
    value shipped by NATION_3's suppliers, keeping parts whose share
    of that nation's total exceeds 1/1000 (the spec's scalar-
    subquery HAVING, which is the query's point: the threshold is
    computed FROM the same aggregate it filters).

    The fraction is cross-multiplied exact (value·1000 > total on
    BIGINT cents — no division), with the total riding a broadcast
    one-row aggregate over the per-part census, never a second fact
    scan. Plan: nation-filtered suppliers broadcast into lineitem,
    one shuffle to the per-part census.
    """
    s = (
        read_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                read_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    li = (
        read_table_parallel(spark, sf_dir, "lineitem")
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "l_partkey",
            (F.col("l_extendedprice").cast(_PRICE) * 100).cast("bigint").alias("__cents"),
        )
    )
    per_part = li.groupBy("l_partkey").agg(F.sum("__cents").alias("value_cents"))
    total = per_part.agg(F.sum("value_cents").alias("__total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") * 1000 > F.col("__total"))
        .select("l_partkey", "value_cents")
        .orderBy(F.col("value_cents").desc(), "l_partkey")
    )


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue, disjunctive predicates)
    adapted to the fixture schema (no container/shipmode, so each
    branch predicates on brand + size band + quantity band): three
    OR-ed (brand, p_size range, l_quantity range) branches over
    lineitem⋈part — the benchmark's disjunction-handling probe. The
    planner must (a) push the union of the part-side predicates into
    the broadcast build (only 3 brands survive the scan) and (b)
    evaluate the cross-table disjunction post-join in one codegen
    stage — NOT expand to a union of three joins.

    One broadcast join, scalar output row; revenue is the exact
    decimal discount product, counts are BIGINT.
    """
    p = read_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#5", "Brand#15", "Brand#25")
    ).select("p_partkey", "p_brand", "p_size")
    li = read_table_parallel(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("bigint").alias("__qty"),
        (
            F.col("l_extendedprice").cast(_PRICE)
            * (F.lit(1).cast(_RATE) - F.col("l_discount").cast(_RATE))
        ).alias("__rev"),
    )
    qty = F.col("__qty")
    branch = (
        (
            (F.col("p_brand") == "Brand#5")
            & F.col("p_size").between(1, 5)
            & qty.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#15")
            & F.col("p_size").between(1, 10)
            & qty.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#25")
            & F.col("p_size").between(1, 15)
            & qty.between(20, 30)
        )
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .filter(branch)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.coalesce(F.sum("__rev").cast("double"), F.lit(0.0)).alias("revenue"),
        )
    )


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion) adapted: no partsupp
    availability, so "has excess stock to promote" becomes "shipped
    an above-average quantity": ASIA suppliers whose 1996 shipped
    quantity of blue parts exceeds the all-supplier average for that
    slice. Same semi-join reduction chain as spec Q20: part-name
    filter → per-supplier fact aggregate → threshold → supplier
    dimension, each stage shrinking before the next join.

    The fractional threshold is cross-multiplied integer-exact
    (qty·n_supp > total_qty ⇔ qty > avg — quantity integral,
    counts BIGINT), with the (total, n) pair carried as a broadcast
    one-row aggregate. Output: qualifying suppliers by name.
    """
    p = read_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%blue%")
    ).select("p_partkey")
    li = (
        read_table_parallel(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .select("l_suppkey", F.col("l_quantity").cast("bigint").alias("__qty"))
    )
    per_supp = li.groupBy("l_suppkey").agg(F.sum("__qty").alias("shipped_qty"))
    totals = per_supp.agg(
        F.sum("shipped_qty").alias("__total"), F.count(F.lit(1)).alias("__n")
    )
    asia = (
        read_table(spark, sf_dir, "nation")
        .join(
            F.broadcast(read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    s = (
        read_table(spark, sf_dir, "supplier")
        .join(F.broadcast(asia), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
    )
    return (
        per_supp.crossJoin(F.broadcast(totals))
        .filter(F.col("shipped_qty") * F.col("__n") > F.col("__total"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "nation", "shipped_qty")
        .orderBy("s_name")
    )


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting) adapted: no
    commit/receipt dates, so "the supplier everyone waited on" is
    the SOLE last-to-ship supplier of a multi-supplier order — the
    line with the max shipdate where no other supplier shipped that
    late. Spec Q21's EXISTS(other supplier) ∧ NOT EXISTS(other late
    supplier) pair is expressed without self-joins: one aggregate to
    (orderkey, suppkey, last_ship) grain, then windowed max +
    achiever-count over the orderkey partition — the fact shuffles
    ONCE on orderkey, vs the spec formulation's three scans.

    numwait is a BIGINT count per supplier; top 20 under the
    deterministic (numwait DESC, s_name) order (s_name is unique,
    so the cut is stable).
    """
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",)).select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("last_ship")
    )
    w = Window.partitionBy("l_orderkey")
    flagged = (
        per_os.withColumn("__n_supp", F.count(F.lit(1)).over(w))
        .withColumn("__max_ship", F.max("last_ship").over(w))
        .withColumn(
            "__n_latest",
            F.sum(
                F.when(F.col("last_ship") == F.col("__max_ship"), 1).otherwise(0)
            ).over(w),
        )
        .filter(
            (F.col("__n_supp") >= 2)
            & (F.col("__n_latest") == 1)
            & (F.col("last_ship") == F.col("__max_ship"))
        )
    )
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        flagged.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity) adapted: the fixture has
    no c_phone, so "country code" is the nation key itself (odd keys
    = the spec's 7-code list analog); wealthy-but-dormant customers
    are those with account balance above the positive-balance
    average of the candidate set AND no order since 2000 — the
    benchmark's scalar-subquery + anti-join probe.

    The average threshold is cross-multiplied exact (bal·n_pos >
    sum_pos on DECIMAL(12,2)·BIGINT — no division), the (sum, n)
    scalar rides a broadcast one-row aggregate, and the dormancy
    check is a LEFT ANTI join against the date-pruned orders scan.
    Output: per country code, the customer count and their exact
    total balance (cast double at the edge).
    """
    codes = [1, 3, 5, 7, 9, 11, 13, 15, 17, 19, 21, 23]
    c = read_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(*codes)
    ).select(
        "c_custkey",
        F.col("c_nationkey").cast("int").alias("cntrycode"),
        F.col("c_acctbal").cast(_PRICE).alias("__bal"),
    )
    pos = c.filter(F.col("__bal") > 0).agg(
        F.sum("__bal").alias("__sum_pos"), F.count(F.lit(1)).alias("__n_pos")
    )
    recent = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01")
    ).select("o_custkey")
    return (
        c.crossJoin(F.broadcast(pos))
        .filter(F.col("__bal") * F.col("__n_pos") > F.col("__sum_pos"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("__bal").cast("double").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


def q_stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming (``applyInPandasWithState``) made
    driver-checkable: per-type running (count, exact-cents total)
    state carried across REAL micro-batch boundaries — the snapshot is
    staged as two deliveries with ``maxFilesPerTrigger=1``, so
    availableNow runs one batch per delivery and every key's state
    survives a boundary. The oracle computes 2× the batch aggregate,
    so the cross-batch accumulation arithmetic is hash-verified, not
    just smoke-tested (upgrades §2.10's one remaining pass(T)-only
    streaming edge).

    The worker accumulates integer cents (per-VALUE rounding, then an
    int sum — a rounded float batch-sum would make the total depend on
    how rows split across batches) and renders the double once on
    emit. Scale: state is (n, cents) per key in the state store,
    partitioned by key; the Python worker sees one key's delta per
    batch — O(batch) memory, never O(history).
    """
    from .streaming.stateful import running_totals_drained  # noqa: PLC0415

    return running_totals_drained(spark, sf_dir)


def q_capped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floored running balance (credit/debit ledger with no negative
    carry): per user, weekly net cents (purchases credit, errors
    debit) folded in week order through bal ← max(0, bal + net) — the
    inventory/wallet recurrence that is NOT expressible as a windowed
    SUM because the clamp makes it non-associative; any partitioning-
    dependent evaluation order changes the answer, so determinism has
    to come from an explicit sequential fold.

    The fold runs in the ARRAY domain (the ewma_weekly precedent):
    nets are collected per user, sorted by week, and folded by
    ``F.aggregate`` with an integer-only step — bit-exact in any
    engine, mirrored by DuckDB prefix folds. Peak balance comes from
    the prefix-fold maximum (O(weeks²) over ≤5-element census arrays —
    census rows, not events). One (user, week) aggregate shuffle, one
    (user) collect shuffle; arrays are per-user week censuses, bounded
    by the calendar.
    """
    e = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    week = F.floor(tmp.seconds_since_origin("ts") / F.lit(604800)).cast("long")
    cents = (F.col("value").cast(MONEY) * 100).cast("long")
    net = F.sum(
        F.when(F.col("event_type") == "purchase", cents).otherwise(-cents)
    ).alias("__net")
    weekly = e.groupBy("user_id", week.alias("__wk")).agg(net)
    arr = weekly.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("__wk", "__net"))).alias("__pairs")
    )
    nets = F.transform(F.col("__pairs"), lambda p: p["__net"])
    step = lambda acc, x: F.greatest(F.lit(0).cast("long"), acc + x)  # noqa: E731
    prefix = F.transform(
        F.sequence(F.lit(1), F.size(nets)),
        lambda k: F.aggregate(
            F.slice(nets, F.lit(1), k), F.lit(0).cast("long"), step
        ),
    )
    return arr.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.size("__pairs").cast("long").alias("n_weeks"),
        F.element_at(prefix, -1).alias("final_cents"),
        F.array_max(prefix).alias("peak_cents"),
    ).orderBy("user_id")


def q_ltv_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users cohorted by first-purchase
    week, and for each (cohort, weeks-since-first-purchase) cell the
    active purchasers, exact revenue cents, the running cumulative,
    and cumulative LTV per cohort member in tenths of a cent — the
    payback-period table a growth team reads off (retention_cohorts
    counts heads; LTV accumulates value, which is the decision
    number).

    Weeks are tz-free NTZ-origin indices. The cumulative is a window
    over the (cohort, age) census (≤ weeks² rows); LTV-per-user is one
    exact integer division per cell (cum·10 div cohort size). Facts
    shuffle once on user (cohort assignment via min-week), once on
    (cohort, age); both map-side combine.
    """
    e = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        F.floor(tmp.seconds_since_origin("ts") / F.lit(604800))
        .cast("long")
        .alias("__wk"),
        (F.col("value").cast(MONEY) * 100).cast("long").alias("__cents"),
    )
    cohorts = e.groupBy("user_id").agg(F.min("__wk").alias("__cohort"))
    sizes = cohorts.groupBy("__cohort").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    cells = (
        e.join(cohorts, "user_id")
        .groupBy("__cohort", (F.col("__wk") - F.col("__cohort")).alias("age_weeks"))
        .agg(
            F.countDistinct("user_id").alias("n_active"),
            F.sum("__cents").alias("rev_cents"),
        )
    )
    wcum = (
        Window.partitionBy("__cohort")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cells.withColumn("cum_cents", F.sum("rev_cents").over(wcum))
        .join(sizes, "__cohort")
        .select(
            F.col("__cohort").cast("long").alias("cohort_week"),
            F.col("age_weeks").cast("long").alias("age_weeks"),
            F.col("cohort_users").cast("long").alias("cohort_users"),
            F.col("n_active").cast("long").alias("n_active"),
            F.col("rev_cents").cast("long").alias("rev_cents"),
            F.col("cum_cents").cast("long").alias("cum_cents"),
            F.expr("cum_cents * 10 div cohort_users").alias("ltv_per_user_milli"),
        )
        .orderBy("cohort_week", "age_weeks")
    )


def q_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand top-3 parts by shipped quantity with TIES KEPT
    (dense_rank, not row_number): the leaderboard semantic where two
    parts on equal quantity share the podium instead of one being
    dropped by an arbitrary tie-break — the output SET is then fully
    determined by the data (no tie-break column choice to defend),
    which is exactly why a hash gate can pin it. Quantities are
    integers in double's clothing (1–50 grid), cast to BIGINT exact.

    One (partkey) aggregate rides the lineitem scan, the part
    dimension broadcasts, and the rank window partitions by brand
    (catalog-bounded). Contrast registered deliberately with
    ``top_k_customers``' row_number cut — the two top-k semantics a
    warehouse must keep straight.
    """
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",)).select(
        "l_partkey", F.col("l_quantity").cast("long").alias("__q")
    )
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    qty = li.groupBy("l_partkey").agg(F.sum("__q").alias("total_qty"))
    w = Window.partitionBy("p_brand").orderBy(F.col("total_qty").desc())
    return (
        qty.join(p, qty["l_partkey"] == p["p_partkey"])
        .withColumn("qty_rank", F.dense_rank().over(w))
        .filter(F.col("qty_rank") <= 3)
        .select(
            "p_brand",
            F.col("l_partkey").cast("long").alias("p_partkey"),
            F.col("total_qty").cast("long").alias("total_qty"),
            F.col("qty_rank").cast("int").alias("qty_rank"),
        )
        .orderBy("p_brand", "qty_rank", "p_partkey")
    )


def q_apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets over order baskets (Agrawal & Srikant's
    Apriori, VLDB'94 — level 2): candidate triples whose three
    sub-pairs are all frequent (support ≥ 2), with observed support —
    the step after ``basket_pairs`` in the market-basket ladder, and
    the classic demonstration of downward closure (a triple can only
    be frequent if every sub-pair is).

    Plan: triples are generated EXPRESSION-side from each order's
    sorted part array (same single-fact-shuffle spine as
    ``_basket_pairs`` — the cubic is bounded within a basket, ≤C(7,3)
    = 35 structs for TPC-H-shaped orders), counted on one
    (x,y,z)-keyed shuffle, then the candidate census LEFT SEMI-joins
    three times against the broadcast frequent-pair table — the
    pruned L2 table is the Apriori invariant that stays small at any
    corpus size (that is the algorithm's entire point; at real minsup
    it is a model artifact, not data). In the giant-basket regime
    you'd additionally filter basket arrays against frequent ITEMS
    before generating (L1 prune); with ≤7-item baskets generation is
    cheaper than the filter. Top-100 under a total order. The pruned
    L2 table is SPOOLED: its three semi-join uses otherwise each
    re-ran the basket-pair fan-out — lineitem is read twice (pair
    census + basket arrays) instead of four times.
    """
    # The pruned L2 table is the SESSION-SHARED `_pair_support` spool
    # (r10-opt): association_rules builds the identical (u,v) census,
    # so the basket fan-out + pair count runs once per session instead
    # of once per call in each of the two queries.
    fp = _pair_support(spark, sf_dir).select("u", "v")
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",)).select(
        "l_orderkey", "l_partkey"
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("__ps")
    )
    ps = F.col("__ps")
    # i < j < k positions in the sorted array: x at i (0-based), y in
    # slice(i+2 ..) at absolute 0-based i+1+j, z in slice(i+j+3 ..).
    tri = F.flatten(
        F.flatten(
            F.transform(
                ps,
                lambda x, i: F.transform(
                    F.slice(ps, i + 2, F.size(ps)),
                    lambda y, j: F.transform(
                        F.slice(ps, i + j + 3, F.size(ps)),
                        lambda z: F.struct(
                            x.alias("x"), y.alias("y"), z.alias("z")
                        ),
                    ),
                ),
            )
        )
    )
    counts = (
        baskets.select(F.explode(tri).alias("__t"))
        .select("__t.x", "__t.y", "__t.z")
        .groupBy("x", "y", "z")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    pruned = (
        counts.join(
            F.broadcast(fp),
            (counts["x"] == fp["u"]) & (counts["y"] == fp["v"]),
            "left_semi",
        )
        .join(
            F.broadcast(fp),
            (F.col("x") == fp["u"]) & (F.col("z") == fp["v"]),
            "left_semi",
        )
        .join(
            F.broadcast(fp),
            (F.col("y") == fp["u"]) & (F.col("z") == fp["v"]),
            "left_semi",
        )
    )
    return (
        pruned.select(
            F.col("x").alias("part_a"),
            F.col("y").alias("part_b"),
            F.col("z").alias("part_c"),
            F.col("__n").cast("long").alias("support"),
        )
        .orderBy(F.col("support").desc(), "part_a", "part_b", "part_c")
        .limit(100)
    )


def q_activity_bitmaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index activity census: each user's first-63-day activity
    packed into ONE BIGINT (bit d = active on day d since the fixed
    NTZ origin 2024-01-01 — the events fixture spans 30 days at every
    SF; real systems shard one mask per 64-day epoch, bit 63 left to
    the sign), then users grouped BY their mask — the top-20 temporal
    behavior patterns with days-active (popcount) and longest
    consecutive-day streak, both computed from the integer alone.

    This is the roaring-bitmap posture for set membership at scale:
    per-user state collapses from a day LIST to 8 bytes the moment it
    leaves the fact shuffle (`sum(DISTINCT 1<<day)` — distinct powers
    make sum ≡ bit_or, and it rides the same user-keyed exchange), so
    downstream set algebra (retention = popcount(a&b), churn =
    popcount(a&~b)) is word ops, never joins. The streak is a fixed
    64-step integer fold over the mask (JVM-side HOF, no Python), so
    the whole output is integer-exact — bit-identical cross-engine by
    construction. The oracle derives the streak independently via
    gaps-and-islands over distinct days; matching hashes prove the
    bit-twiddling against the relational formulation.
    """
    e = read_table(spark, sf_dir, "events").select("user_id", "ts")
    day = F.floor(
        F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ'2024-01-01 00:00:00', ts)")
        / F.lit(86400)
    ).cast("int")
    masks = (
        e.select("user_id", day.alias("__d"))
        .filter((F.col("__d") >= 0) & (F.col("__d") <= 62))
        .groupBy("user_id")
        .agg(
            F.sum_distinct(
                F.expr("shiftleft(CAST(1 AS BIGINT), __d)")
            ).alias("__mask")
        )
    )
    streak = F.expr(
        "aggregate(sequence(0, 62),"
        " struct(CAST(0 AS INT) AS cur, CAST(0 AS INT) AS best),"
        " (a, i) -> struct("
        "   IF((shiftright(__mask, i) & 1) = 1, a.cur + 1, 0) AS cur,"
        "   greatest(a.best,"
        "            IF((shiftright(__mask, i) & 1) = 1, a.cur + 1, 0)) AS best),"
        " a -> a.best)"
    )
    return (
        masks.groupBy("__mask")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.col("__mask").alias("day_mask"),
            "n_users",
            F.bit_count("__mask").cast("int").alias("n_active_days"),
            streak.cast("int").alias("longest_streak"),
        )
        .orderBy(F.col("n_users").desc(), "day_mask")
        .limit(20)
    )


def q_leakage_safe_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct training-set assembly with an embargo
    gap: for every 'purchase' label event, features computed ONLY
    from the user's events at least 3 days older than the label
    (count, spend cents, recency of the last admissible event) — the
    leakage guard every tabular-ML pipeline needs, because a feature
    that peeks inside the embargo window (label leakage / serving
    skew) inflates offline metrics and dies in production.

    The embargo is a RANGE window frame, not a join: one user-keyed
    shuffle sorts each user's history once, and every event's feature
    vector reads from the frame (unbounded, label_sec − 259200] — so
    the same pass scores every candidate label and the guarantee is
    structural (the frame boundary IS the embargo; there is no
    per-feature timestamp predicate to forget). Frame bounds are on
    the VALUE of the epoch-seconds sort key, so microsecond ties
    resolve identically in any engine. Spend is exact DECIMAL cents;
    every output is integer — hash-gate-proof by construction.
    """
    e = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts", "value"
    )
    embargo = 3 * 86400
    sec = tmp.seconds_since_origin("ts")
    base = e.select(
        "user_id",
        "event_id",
        "event_type",
        sec.alias("__sec"),
        (F.col("value").cast(MONEY) * 100).cast("long").alias("__c"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("__sec")
        .rangeBetween(Window.unboundedPreceding, -embargo)
    )
    feats = base.select(
        "user_id",
        "event_id",
        "event_type",
        "__sec",
        F.count(F.lit(1)).over(w).alias("__n"),
        F.sum("__c").over(w).alias("__cents"),
        F.max("__sec").over(w).alias("__last"),
    )
    return feats.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("label_event"),
        F.col("__n").cast("long").alias("n_prior"),
        F.coalesce(F.col("__cents"), F.lit(0)).cast("long").alias("cents_prior"),
        F.coalesce(F.col("__sec") - F.col("__last"), F.lit(-1))
        .cast("long")
        .alias("recency_gap_s"),
    )


def q_rle_sort_key_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-key layout planner: for each candidate table sort key,
    the BEST-CASE run-length-encoding run count every payload column
    would compress to if orders were rewritten sorted by that key —
    the estimate behind lakehouse OPTIMIZE/cluster-key advisors
    (companion to ``zorder_keys``, which picks multi-column
    interleavings, and ``zonemap_prune_audit``, which scores the
    read side; this scores the STORAGE side).

    The trick that makes it a planner rather than a rewrite: after
    sorting by key K (then by c within each K-group, the best case),
    column c's runs = Σ over K-groups of n_distinct(c) — so the
    whole estimate is one countDistinct aggregate per candidate, no
    sort, no shuffle of payload bytes. vs a physical rewrite it is an
    UPPER bound that is tight to within the group count: runs merge
    only where a group's last value equals the next group's first, so
    actual ≤ est ≤ actual + (n_groups − 1) — asserted against a real
    sorted-and-lag-counted rewrite in the test. Three candidate keys
    → three (key)-keyed census
    shuffles over 4-column tuples; runs_ppm (runs per million rows)
    has ONE rounding site over two exact integers, so output is
    hash-gate-exact. Lowest total ppm = the key to cluster by.
    """
    o = read_table(spark, sf_dir, "orders")
    week = (
        F.floor(tmp.seconds_since_origin("o_orderdate") / F.lit(7 * 86400))
    ).cast("long")
    base = o.select(
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        week.alias("__week"),
    )
    n_rows = base.agg(F.count(F.lit(1)).alias("__rows"))  # broadcast one-rower
    cols = ["o_custkey", "o_orderstatus", "o_orderpriority", "__week"]
    parts = []
    for key in ("o_orderstatus", "o_orderpriority", "o_custkey"):
        per_group = base.groupBy(key).agg(
            *[F.countDistinct(c).alias(f"__d_{c}") for c in cols]
        )
        totals = per_group.agg(
            *[F.sum(f"__d_{c}").alias(f"__r_{c}") for c in cols]
        )
        stacked = totals.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c if c != "__week" else "order_week").alias(
                                "column_name"
                            ),
                            F.col(f"__r_{c}").cast("long").alias("est_runs"),
                        )
                        for c in cols
                    ]
                )
            ).alias("__s")
        ).select(
            F.lit(key).alias("sort_key"),
            "__s.column_name",
            "__s.est_runs",
        )
        parts.append(stacked)
    out = parts[0].unionAll(parts[1]).unionAll(parts[2])
    return (
        out.crossJoin(F.broadcast(n_rows))
        .select(
            "sort_key",
            "column_name",
            "est_runs",
            F.round(
                F.col("est_runs").cast("double")
                / F.col("__rows").cast("double")
                * 1e6,
                0,
            )
            .cast("long")
            .alias("runs_ppm"),
        )
        .orderBy("sort_key", "column_name")
    )


def q_shapley_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value channel attribution (Shapley 1953, applied
    to marketing touchpoints à la Zhao et al. 2018): each of the four
    non-purchase channels gets the average marginal conversions it
    adds across all 4! orderings — the only attribution satisfying
    efficiency + symmetry + dummy, vs ``position_attribution``'s
    U-shaped heuristic. Coalition value v(S) = conversions by users
    whose ENTIRE touchset fits inside S (monotone, integer-valued).

    The lattice trick that makes it exact AND distributed: user
    touchsets pack into a 4-bit mask on the one user-keyed shuffle
    (the ``activity_bitmaps`` posture), collapse to a ≤16-row
    (mask, users, conversions) census, and everything after — the
    subset-sum v(S) via `tmask & ~smask = 0`, the 4×8 marginal pairs
    v(S∪{c})−v(S), the |S|!·(k−1−|S|)! weights — is integer algebra
    on fixed-size lattice frames (every crossJoin is against a
    ≤16-row bounded census, never data). credit_x24 = φ·4! is an
    exact integer; efficiency Σφ = v(full)−v(∅) is asserted in the
    test; credit_ppm has the one rounding site.
    """
    e = read_table(spark, sf_dir, "events").select("user_id", "event_type")
    bit = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "view", 8)
        .otherwise(0)
    )
    pu = e.groupBy("user_id").agg(
        F.coalesce(F.sum_distinct(bit), F.lit(0)).alias("tmask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("__conv"),
    )
    # spooled: the <=16-row lattice census feeds v(S), reach, and
    # through them every downstream frame — without the spool each of
    # the five consumers re-ran the events scan + user groupBy

    census = spool(
        pu.groupBy("tmask").agg(
            F.count(F.lit(1)).alias("n_users"), F.sum("__conv").alias("n_conv")
        )
    )
    coal = spark.range(16).select(F.col("id").alias("smask"))
    v = (
        coal.join(
            F.broadcast(census),  # bounded: 16 channel masks
            F.expr("tmask & ~smask") == 0,
            "left",
        )
        .groupBy("smask")
        .agg(F.coalesce(F.sum("n_conv"), F.lit(0)).alias("v"))
    )
    ch = spark.createDataFrame(
        [("click", 1), ("error", 2), ("signup", 4), ("view", 8)],
        "channel string, bit int",
    )
    v0 = v.select(F.col("smask").alias("s0"), F.col("v").alias("__v0"))
    v1 = v.select(F.col("smask").alias("s1"), F.col("v").alias("__v1"))
    w = (
        F.when(F.bit_count("s0") == 0, 6)
        .when(F.bit_count("s0") == 3, 6)
        .otherwise(2)
    )
    phi = (
        ch.join(F.broadcast(v0), F.expr("s0 & bit") == 0)  # bounded: 16 channel masks
        .join(F.broadcast(v1), F.col("s1") == F.col("s0") + F.col("bit"))  # bounded: 16 channel masks
        .groupBy("channel", "bit")
        .agg(
            F.sum(w * (F.col("__v1") - F.col("__v0")))
            .cast("long")
            .alias("credit_x24")
        )
    )
    total = phi.agg(F.sum("credit_x24").alias("__t"))
    reach = (
        ch.join(F.broadcast(census), F.expr("tmask & bit") != 0, "left")  # bounded: 16 channel masks
        .groupBy(F.col("channel").alias("__rc"))
        .agg(F.coalesce(F.sum("n_users"), F.lit(0)).alias("reach_users"))
    )
    return (
        phi.crossJoin(F.broadcast(total))
        .join(F.broadcast(reach), F.col("channel") == F.col("__rc"))  # bounded: 4 channels
        .select(
            "channel",
            "credit_x24",
            F.round(
                F.col("credit_x24").cast("double")
                / F.nullif(F.col("__t"), F.lit(0)).cast("double")
                * 1e6,
                0,
            )
            .cast("long")
            .alias("credit_ppm"),
            F.col("reach_users").cast("long").alias("reach_users"),
        )
        .orderBy("channel")
    )


def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010), integer-exact
    adaptation: candidate phrases are maximal stopword-free token
    runs; each word scores degree (Σ length of phrases it appears in)
    and frequency; a phrase scores its words' pooled
    degree-to-frequency ratio. Fills the keyword-extraction slot in
    the text family (PMI finds collocations, TF-IDF scores per-doc
    terms, BM25 ranks docs — RAKE surfaces corpus keyphrases).

    Phrase extraction is pure expression algebra (stopwords → '|'
    markers via transform, split, trim — the shared STOPWORDS list
    the oracle inlines verbatim), so candidates are generated
    map-side with zero Python. Two census shuffles: word stats
    (degree, frequency) and the phrase census; the per-phrase score
    joins phrase words to the word census (vocabulary-bounded).
    Float policy: the spec's Σ deg(w)/freq(w) sums per-word ratios —
    an ORDER-dependent float reduction — so this variant pools first
    and divides ONCE, in pure integer round-half-up arithmetic
    ((2000·Σdeg + Σfreq) div (2·Σfreq)): no float appears anywhere.
    Top-20 under a total order.
    """
    from .functions.text import STOPWORDS  # noqa: PLC0415

    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    toks = F.split(F.col("text"), " ")
    marked = F.transform(
        toks,
        lambda t: F.when(t.isin(*STOPWORDS), F.lit("|")).otherwise(t),
    )
    phrases = F.filter(
        F.transform(
            F.split(F.array_join(marked, " "), "\\|"), lambda p: F.trim(p)
        ),
        lambda p: p != "",
    )
    occ = d.select(F.explode(phrases).alias("phrase"))
    words = occ.select(
        F.explode(F.split(F.col("phrase"), " ")).alias("word"),
        F.size(F.split(F.col("phrase"), " ")).alias("__plen"),
    )
    wstats = words.groupBy("word").agg(
        F.sum("__plen").alias("__deg"), F.count(F.lit(1)).alias("__freq")
    )
    pcensus = occ.groupBy("phrase").agg(F.count(F.lit(1)).alias("n_occ"))
    pw = pcensus.select(
        "phrase", "n_occ", F.explode(F.split(F.col("phrase"), " ")).alias("word")
    )
    scored = (
        pw.join(wstats, "word")
        .groupBy("phrase", "n_occ")
        .agg(
            F.sum("__deg").alias("__sd"),
            F.sum("__freq").alias("__sf"),
        )
        .select(
            "phrase",
            F.col("n_occ").cast("long").alias("n_occ"),
            F.expr("(2000 * __sd + __sf) div (2 * __sf)")
            .cast("long")
            .alias("score_milli"),
        )
    )
    return scored.orderBy(F.col("score_milli").desc(), "phrase").limit(20)


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of per-source document lengths onto the
    corpus-wide distribution (the bioinformatics/feature-prep classic:
    map each value to the GLOBAL value at its within-group rank, so
    every source's length distribution becomes comparable before
    mixing) — the distribution-alignment companion to
    ``balance_sources`` (which equalizes counts, not shapes).

    Scale shape: ranks come from VALUE-DOMAIN CENSUSES, not row
    sorts — per-(source, length) counts cumulate to below-counts
    (window over census rows only), rank_ppm = ⌊below·1e6/(n−1)⌋ in
    pure integer division, and the global census maps ppm → length
    the same way. The normalization is then an as-of join between
    the two bounded censuses (greatest global length with g_ppm ≤
    doc's rank_ppm — cumulative counts strictly increase, so the
    argmax is unique), and docs attach back by (source, length).
    No row-proportional sort or single-partition window anywhere;
    everything is integer-exact. The (source, length) census is
    SPOOLED and the global census derives from it by aggregation, so
    documents is scanned twice (census build + the final attach)
    instead of five times.
    """

    d = _docs_parallel(spark, sf_dir).select("doc_id", "source", "n_chars")
    sc = spool(
        d.groupBy("source", "n_chars").agg(F.count(F.lit(1)).alias("__n"))
    )
    ws = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    src_tot = sc.groupBy(F.col("source").alias("__s")).agg(
        F.sum("__n").alias("__tot")
    )
    src = (
        sc.withColumn("__below", F.coalesce(F.sum("__n").over(ws), F.lit(0)))
        .join(src_tot, F.col("source") == F.col("__s"))
        .select(
            "source",
            "n_chars",
            F.when(
                F.col("__tot") > 1,
                F.expr("(__below * 1000000) div (__tot - 1)"),
            )
            .otherwise(0)
            .cast("long")
            .alias("rank_ppm"),
        )
    )
    gc = sc.groupBy("n_chars").agg(F.sum("__n").alias("__n"))
    wg = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, -1)
    g_tot = gc.agg(F.sum("__n").alias("__gt"))
    glob = (
        gc.withColumn("__gb", F.coalesce(F.sum("__n").over(wg), F.lit(0)))
        .crossJoin(F.broadcast(g_tot))
        .select(
            F.col("n_chars").alias("__glen"),
            F.when(
                F.col("__gt") > 1, F.expr("(__gb * 1000000) div (__gt - 1)")
            )
            .otherwise(0)
            .cast("long")
            .alias("__gppm"),
        )
    )
    mapped = (
        src.join(F.broadcast(glob), F.col("__gppm") <= F.col("rank_ppm"))
        .groupBy("source", "n_chars", "rank_ppm")
        .agg(F.max("__glen").alias("norm_chars"))
    )
    return d.join(mapped, ["source", "n_chars"]).select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        "rank_ppm",
        F.col("norm_chars").cast("long").alias("norm_chars"),
    )


@session_artifact("hyperball_ws")
def _hb_ws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spooled HyperBall input (src, dst): symmetric co-purchase
    edges plus one self-loop per node."""
    edges = _edges_uv(spark, sf_dir)
    sym = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    nodes = sym.select("src").distinct()
    return spool(sym.unionAll(nodes.select("src", F.col("src").alias("dst"))))


@session_artifact("hyperball_rounds_1_4", 4)
def _hb_round(spark: SparkSession, sf_dir: str, r: int) -> DataFrame:
    """Packed HyperBall registers after round r, spooled ONCE per
    session — VERDICT r5 #7's spool-reuse across the HyperBall pair:
    ``hyperball_2hop`` needs rounds 1–2, ``neighborhood_function``
    rounds 1–4; in a bench or sweep session the second query reuses
    the first's rounds and pays only the increment. Round r merges
    round r−1 (itself an artifact), so asking for more rounds later
    extends the cache incrementally. The registry entry builds rounds
    1–4, the rounds those two queries read."""
    ws = _hb_ws(spark, sf_dir)
    if r == 1:
        return spool(_hb_b1(ws))
    return spool(_hb_merge_round(ws, _hb_round(spark, sf_dir, r - 1)))


def _hb_b1(with_self) -> DataFrame:
    """Round-1 HyperBall registers, PACKED one row per node (16 rank
    columns r0..r15, null = empty register) — the paper's layout: the
    per-round merge join then carries ONE row per node instead of 16,
    a measured 16x shuffle-payload cut (12.2 s → see SURVEY) over the
    (node, bucket) long form.

    Register mechanics (shared md5 convention): h = first 8 md5 hex
    chars of the neighbor id; bucket = h & 15; rank = trailing zeros
    of h>>4 via bit_count((x & −x) − 1), saturating at 28.
    """
    h = F.conv(
        F.substring(F.md5(F.col("dst").cast("string")), 1, 8), 16, 10
    ).cast("long")
    contrib = (
        with_self.select("src", h.alias("__h"))
        .select(
            "src",
            (F.col("__h") % 16).cast("int").alias("bucket"),
            F.least(
                F.expr(
                    "bit_count((shiftright(__h, 4) & -shiftright(__h, 4)) - 1)"
                ),
                F.lit(28),
            ).alias("rank"),
        )
    )
    return contrib.groupBy("src").agg(
        *[
            F.max(F.when(F.col("bucket") == j, F.col("rank"))).alias(f"r{j}")
            for j in range(16)
        ]
    )


def _hb_merge_round(with_self, b) -> DataFrame:
    """One HyperBall round: each node's registers = element-wise max of
    its (self-included) neighbors' packed registers."""
    nb = b.select(F.col("src").alias("dst"), *[f"r{j}" for j in range(16)])
    return (
        with_self.join(nb, "dst")
        .groupBy("src")
        .agg(*[F.max(f"r{j}").alias(f"r{j}") for j in range(16)])
    )


_HB_ALPHA = 0.673 * 256 * float(2**29)  # α₁₆ · m² · 2²⁹, shared literal


def _hb_num() -> F.Column:
    """Exact-integer harmonic denominator from the 16 packed columns:
    occupied register r contributes 2^(28−r) (ρ = r+1, scale 2²⁹),
    an EMPTY register (null column) the full 2²⁹; the 16 terms add in
    fixed column order — pure BIGINT."""
    terms = [
        F.coalesce(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), 28 - r{j})"),
            F.lit(2**29).cast("long"),
        )
        for j in range(16)
    ]
    num = terms[0]
    for t in terms[1:]:
        num = num + t
    return num


def q_hyperball_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall 2-hop neighborhood-size estimation (Boldi & Vigna,
    2013 — the algorithm behind the Facebook four-degrees-of-
    separation measurement) on the co-purchase graph: per node, an
    HLL-sketch estimate of |ball₂(n)| = nodes within 2 hops. Exact
    2-hop counting needs the squared adjacency (~deg² rows per node —
    36M wedges on THIS fixture, unbounded at corpus scale); HyperBall
    replaces it with b rounds of 16-register sketch merges, each round
    ONE edge-keyed shuffle carrying a PACKED 16-column register row
    per node (``_hb_b1``'s layout — the paper's).

    Engine-portable by construction, like every sketch in this repo:
    registers from the shared md5 convention, merge = 16 column maxes,
    harmonic denominator an exact INTEGER (``_hb_num``). The only
    float is the final calibration est = round(α₁₆·m²·2²⁹ / num) —
    one correctly-rounded division of a shared literal by an exact
    integer, the single-rounding-site policy. Two lessons this query
    carries: ρ is 1-BASED (the off-by-one halved every estimate; only
    the brute-force accuracy gate caught it — hash parity alone would
    have blessed the bug, so sketch queries here carry BOTH), and
    register packing is a 16× shuffle cut with identical hashes.
    Accuracy vs brute 2-hop is pinned in the test (m=16 ⇒ ~26% σ).
    The degree is counted over the spooled HyperBall input, less the
    node's self-loop.
    """
    b2 = _hb_round(spark, sf_dir, 2)
    deg = _hb_ws(spark, sf_dir).groupBy("src").agg(
        (F.count(F.lit(1)) - 1).alias("degree")
    )
    return b2.select("src", _hb_num().alias("__num")).join(deg, "src").select(
        F.col("src").alias("node"),
        F.col("degree").cast("long").alias("degree"),
        F.round(F.lit(_HB_ALPHA) / F.col("__num").cast("double"), 0)
        .cast("long")
        .alias("est_ball2"),
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (priority
    sampling, Duffield-Lund-Thorup 2007 shape): the 50 documents with
    the smallest priority u/w, where u is the doc's md5-derived
    32-bit uniform and w = n_chars — longer docs draw proportionally
    more often, and the SAME sample reproduces on every engine and
    every run (the md5-as-randomness convention every sampler in this
    repo uses; true rng would break both the hash gate and pipeline
    reproducibility). The importance-sampling primitive behind
    size-biased corpus mixing, where `corpus_mix` takes quotas and
    DSIR takes distribution ratios.

    Float policy: priority is ONE correctly-rounded IEEE division of
    two exact integers — bit-identical cross-engine — and doc_id
    breaks ties totally, so the top-50 cut is deterministic even at
    equal priorities. Plan: no window, no shuffle of the corpus —
    priorities fuse into the scan and TakeOrderedAndProject keeps 50
    rows per partition then merges (the top-k-at-scale shape).
    """
    d = _docs_parallel(spark, sf_dir).filter(F.col("n_chars") > 0)
    u = F.conv(
        F.substring(F.md5(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    prio = u.cast("double") / F.col("n_chars").cast("double")
    return (
        d.select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            u.alias("u_hash"),
            prio.alias("__p"),
        )
        .orderBy(F.col("__p").asc(), "doc_id")
        .limit(50)
        .select("doc_id", "source", "n_chars", "u_hash")
    )


def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2016) — the
    third leg of the attribution triad beside
    ``position_attribution``'s U-shape and ``shapley_channels``'
    coalition game: build the first-order journey chain (start → four
    channels → purchase, with journey-end as the implicit null
    absorber), then credit each channel by how much start→conversion
    probability DROPS when the channel's node is deleted from the
    chain (its in/out edges removed, outflow denominators kept — mass
    that would have entered it dies, the standard removal semantic).

    The split that matters at scale: the DATA-proportional work is
    the journey→transition census (one user-keyed window cascade,
    journeys truncated at the FIRST purchase — prefix property: lag
    over the full stream ≡ lag over the kept prefix). The chain solve
    is algebra on a ≤6×6 matrix whose size is fixed by the STATE
    SPACE, not the data — so it is a driver-side model computation on
    the collected census (the kmeans-centroid / pq-distance-table
    posture; iterating a six-state chain through 12 distributed
    shuffle rounds would be plan theater, and the first draft that
    did was measured at 172 s vs 1 s). Masses are integer ppm with
    per-edge floor division over 12 fixed rounds, identical in the
    Python solve and the oracle's unrolled SQL — hash-exact.
    """
    e = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wp = w.rowsBetween(Window.unboundedPreceding, -1)
    flagged = e.select(
        "user_id",
        "event_type",
        F.coalesce(F.lag("event_type").over(w), F.lit("start")).alias("de"),
        F.count(
            F.when(F.col("event_type") == "purchase", F.lit(1))
        ).over(wp).alias("__prior_p"),
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
        ).alias("__rn_last"),
    ).filter(F.col("__prior_p") == 0)
    trans = flagged.select("de", F.col("event_type").alias("para"))
    no_conv_last = (
        flagged.withColumn(
            "__has_p",
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(Window.partitionBy("user_id")),
        )
        .filter((F.col("__has_p") == 0) & (F.col("__rn_last") == 1))
        .select(F.col("event_type").alias("de"), F.lit("null").alias("para"))
    )
    census_rows = (
        trans.unionAll(no_conv_last)
        .groupBy("de", "para")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # state-space-bounded: ≤ 6×6 rows at ANY data size
    )
    rowtot: dict[str, int] = {}
    for r in census_rows:
        rowtot[r["de"]] = rowtot.get(r["de"], 0) + r["n"]
    channels = ["click", "error", "signup", "view"]

    def conv_ppm(drop: str | None) -> int:
        edges = [
            (r["de"], r["para"], r["n"])
            for r in census_rows
            if drop is None or (r["de"] != drop and r["para"] != drop)
        ]
        mass = {"start": 1_000_000}
        absorbed = 0
        for _ in range(12):
            nxt: dict[str, int] = {}
            for de, para, n in edges:
                if de in mass:
                    nxt[para] = nxt.get(para, 0) + (mass[de] * n) // rowtot[de]
            absorbed += nxt.pop("purchase", 0)
            nxt.pop("null", None)
            mass = nxt
        return absorbed

    p_full = conv_ppm(None)
    rem = {c: p_full - conv_ppm(c) for c in channels}
    tot = sum(rem.values())
    rows = [
        (
            c,
            p_full,
            rem[c],
            (2_000_000 * rem[c] + tot) // (2 * tot) if tot else None,
        )
        for c in channels
    ]
    return spark.createDataFrame(
        rows,
        "channel string, conv_full_ppm long, removal_ppm long, credit_ppm long",
    )


def q_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) hashing resize audit
    (Thaler & Ravishankar 1998 — the consistent-placement scheme
    behind cache rings and shard maps): assign every customer key to
    its HRW shard under 8 shards and again under 9, and report the
    per-shard population plus how many keys MOVED — the number a
    resharding migration has to copy. Mod-hashing moves ~8/9 of all
    keys on the same resize; HRW moves only ~1/9, and provably only
    INTO the new shard (a key's old argmax keeps its weight, so if
    the winner changes, the newcomer won) — that minimal-disruption
    invariant is asserted key-by-key in the test and surfaces here as
    `moved_in` being nonzero only for shard_8.

    Plan: both assignments are expression-side argmaxes over a
    LITERAL shard array (md5(key:shard) max-by via array_max over
    (hash, shard) structs — ties impossible in practice but broken by
    shard id to stay total), fused into the scan; ONE census shuffle
    on (shard_new). Integer-only output; the md5 convention keeps
    both engines bit-identical.
    """
    c = read_table(spark, sf_dir, "customer").select("c_custkey")

    def hrw(n_shards: int) -> F.Column:
        return F.array_max(
            F.array(
                *[
                    F.struct(
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat(
                                        F.col("c_custkey").cast("string"),
                                        F.lit(f":s{s}"),
                                    )
                                ),
                                1,
                                8,
                            ),
                            16,
                            10,
                        )
                        .cast("long")
                        .alias("h"),
                        F.lit(s).alias("s"),
                    )
                    for s in range(n_shards)
                ]
            )
        )["s"]

    assigned = c.select(
        "c_custkey",
        hrw(8).alias("__s8"),
        hrw(9).alias("__s9"),
    )
    return (
        assigned.groupBy(F.col("__s9").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(
                F.when(F.col("__s8") != F.col("__s9"), 1).otherwise(0)
            ).alias("moved_in"),
        )
        .select(
            F.col("shard").cast("int").alias("shard"),
            F.col("n_keys").cast("long").alias("n_keys"),
            F.col("moved_in").cast("long").alias("moved_in"),
        )
        .orderBy("shard")
    )


def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules with confidence and lift (Agrawal & Srikant
    1994's OUTPUT representation — ``basket_pairs`` finds the
    co-occurrences, ``apriori_triples`` climbs the lattice, this emits
    the directed rules a recommender actually consumes): for every
    frequent pair, both directions u→v and v→u with support,
    confidence = P(v|u) and lift = P(u,v)/(P(u)P(v)).

    Integer-exact rationals throughout: confidence_ppm =
    (n_uv·1e6) div n_u and lift_milli = (n_uv·N·1000) div (n_u·n_v) —
    each ONE floor division of exact basket counts (N = total
    baskets; products bounded well under 2⁶³). One fact shuffle for
    the pair census (the expression-side basket fan-out), item counts
    ride a second census; both attach without a hint (the item census
    has one row per ordered part, which grows with the data, so the
    size-checked planner picks the join); the total is a broadcast
    one-rower. Top-20 by (lift desc, antecedent, consequent) under a
    total order.
    """
    # item and pair censuses are SPOOLED: the two directed-rule
    # branches and the two item-side attaches otherwise each re-ran
    # their fact scan — lineitem is now read three times (basket
    # count, item census, pair fan-out) instead of five-plus.

    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",)).select(
        "l_orderkey", "l_partkey"
    )
    n_baskets = li.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("__nb")
    )
    items = spool(
        li.distinct()
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("__ni"))
    )
    # Pair census from the SESSION-SHARED `_pair_support` spool
    # (r10-opt): apriori_triples prunes against the identical census,
    # so the basket fan-out + (u,v) count runs once per session.
    pairs = _pair_support(spark, sf_dir)
    directed = pairs.select(
        F.col("u").alias("antecedent"), F.col("v").alias("consequent"), "__nuv"
    ).unionAll(
        pairs.select(
            F.col("v").alias("antecedent"), F.col("u").alias("consequent"), "__nuv"
        )
    )
    ia = items.select(F.col("l_partkey").alias("antecedent"), F.col("__ni").alias("__na"))
    ic = items.select(F.col("l_partkey").alias("consequent"), F.col("__ni").alias("__nc"))
    return (
        directed.join(ia, "antecedent")
        .join(ic, "consequent")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "antecedent",
            "consequent",
            F.col("__nuv").cast("long").alias("support"),
            F.expr("(__nuv * 1000000) div __na").cast("long").alias("confidence_ppm"),
            F.expr("(__nuv * __nb * 1000) div (__na * __nc)")
            .cast("long")
            .alias("lift_milli"),
        )
        .orderBy(F.col("lift_milli").desc(), "antecedent", "consequent")
        .limit(20)
    )


def q_neighborhood_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The neighborhood function N(r) — HyperBall's actual deliverable
    (Boldi & Vigna 2013; the statistic behind the Facebook
    "four degrees of separation" result): for r = 1..4, the estimated
    number of node PAIRS within distance r (Σ over nodes of
    \\|ball_r\\|), plus each radius's share of N(4) in ppm — read the
    effective diameter off the first radius crossing 900000 ppm.
    Exact N(r) needs r-step path enumeration (deg^r blowup);
    HyperBall is r rounds of packed 16-register merges
    (``_hb_b1``/``_hb_merge_round``), each round ONE edge-keyed
    shuffle of one 16-column row per node — the packed layout cut
    this query 12.2 → ~4 s at sf0.1 (16× fewer shuffle rows than the
    (node, bucket) long form, hashes unchanged).

    Each round's register table is SPOOLED before the next round
    reads it — without that, radius-4's lineage re-executes rounds
    1–3 per output branch (the §4 HOF-inlining lesson applied to
    iteration; same `corpus_pipeline` spool pattern). Registers only
    grow with r, so est is monotone per node and N(r) monotone in
    r — asserted in the test beside the sanity anchor N(1) ≈ nodes +
    2·edges (which exact counting gives for free).
    """
    def est_sum(b) -> DataFrame:
        return (
            b.select(
                F.round(F.lit(_HB_ALPHA) / _hb_num().cast("double"), 0)
                .cast("long")
                .alias("__est")
            )
            .agg(F.sum("__est").alias("n_pairs_est"))
        )

    rounds = [_hb_round(spark, sf_dir, r) for r in range(1, 5)]
    sums = [
        est_sum(b).select(F.lit(radius).alias("radius"), "n_pairs_est")
        for radius, b in enumerate(rounds, start=1)
    ]
    out = sums[0]
    for s_ in sums[1:]:
        out = out.unionAll(s_)
    n4 = out.filter(F.col("radius") == 4).select(
        F.col("n_pairs_est").alias("__n4")
    )
    return (
        out.crossJoin(F.broadcast(n4))
        .select(
            F.col("radius").cast("int").alias("radius"),
            F.col("n_pairs_est").cast("long").alias("n_pairs_est"),
            F.expr("(n_pairs_est * 1000000) div __n4")
            .cast("long")
            .alias("frac_of_r4_ppm"),
        )
        .orderBy("radius")
    )


def q_behavioral_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel with an EXCLUSION clause — the product-analytics segment
    ``session_funnel`` can't express: users whose first 'view' was
    followed by a 'purchase' within 7 days with NO 'error' strictly
    between the two (the Amplitude/Mixpanel "did not" step). The
    negative condition is what makes this a distinct operator: ordered
    funnels only require steps to EXIST; exclusion windows require an
    absence BETWEEN two data-dependent timestamps.

    One user-keyed shuffle, zero joins: first_view is a per-user
    conditional MIN window; the qualifying purchase is a second
    conditional window READING the first (two Window operators, same
    partitioning — Catalyst runs both on the single Exchange); the
    error count between the two anchors is a third. All epoch-seconds
    integers; per-user output (user, anchors, gap) so the driver
    hashes the full qualification decision, not a lossy count.
    """
    e = read_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    sec = tmp.seconds_since_origin("ts")
    w = Window.partitionBy("user_id")
    base = e.select("user_id", "event_type", sec.alias("__sec"))
    with_fv = base.withColumn(
        "__fv",
        F.min(F.when(F.col("event_type") == "view", F.col("__sec"))).over(w),
    )
    with_pur = with_fv.withColumn(
        "__pur",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("__sec") > F.col("__fv"))
                & (F.col("__sec") <= F.col("__fv") + 7 * 86400),
                F.col("__sec"),
            )
        ).over(w),
    )
    with_err = with_pur.withColumn(
        "__err",
        F.sum(
            F.when(
                (F.col("event_type") == "error")
                & (F.col("__sec") > F.col("__fv"))
                & (F.col("__sec") < F.col("__pur")),
                1,
            ).otherwise(0)
        ).over(w),
    )
    return (
        with_err.filter(
            F.col("__pur").isNotNull() & (F.col("__err") == 0)
        )
        .select(
            "user_id",
            F.col("__fv").cast("long").alias("first_view_sec"),
            F.col("__pur").cast("long").alias("purchase_sec"),
            (F.col("__pur") - F.col("__fv")).cast("long").alias("gap_s"),
        )
        .distinct()
    )


def q_mix_rate_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume/rate bridge — the FP&A decomposition every revenue
    review runs and no other query here covers: per nation, the
    1999→2000 revenue change split into a VOLUME effect (order-count
    change at the base year's average order value) and a RATE effect
    (AOV change on current volume), answering "did we sell more, or
    sell bigger?".

    Float policy: the only non-integer quantity is ΔN·AOV_base =
    Δn·(cents_B/n_B) — two correctly-rounded IEEE ops (one divide,
    one multiply) and ONE rounding site (round-half-away matches in
    both engines for either sign of Δn). The rate effect is then
    DEFINED as the exact integer remainder Δcents − volume_effect, so
    conservation (volume + rate = Δ) holds bit-exactly BY
    CONSTRUCTION — the test asserts it and the bridge can never leak
    a cent. One (nation, year) census rides the orders scan; customer
    and nation attach broadcast.
    """
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.col("o_totalprice").cast(MONEY) * 100).cast("long").alias("__c"),
        F.year("o_orderdate").alias("__y"),
    ).filter(F.col("__y").isin(1999, 2000))
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.sum(F.when(F.col("__y") == 1999, 1).otherwise(0)).alias("n_base"),
            F.sum(F.when(F.col("__y") == 2000, 1).otherwise(0)).alias("n_cur"),
            F.sum(F.when(F.col("__y") == 1999, F.col("__c")).otherwise(0)).alias(
                "cents_base"
            ),
            F.sum(F.when(F.col("__y") == 2000, F.col("__c")).otherwise(0)).alias(
                "cents_cur"
            ),
        )
        .filter(F.col("n_base") > 0)
    )
    ve = F.round(
        (F.col("n_cur") - F.col("n_base")).cast("double")
        * (F.col("cents_base").cast("double") / F.col("n_base").cast("double")),
        0,
    ).cast("long")
    return per.select(
        F.col("n_name").alias("nation"),
        F.col("n_base").cast("long").alias("n_base"),
        F.col("n_cur").cast("long").alias("n_cur"),
        "cents_base",
        "cents_cur",
        (F.col("cents_cur") - F.col("cents_base")).alias("delta_cents"),
        ve.alias("volume_effect_cents"),
        (F.col("cents_cur") - F.col("cents_base") - ve).alias("rate_effect_cents"),
    ).orderBy("nation")


def q_fair_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-min fair (water-filling) token allocation across sources —
    the multi-tenant budget primitive behind shared training-data
    pipelines (every source gets min(demand, λ) with one fill level λ
    chosen so the allocations exhaust the budget; no source can gain
    without a smaller one losing — the fairness property quotas and
    pro-rata both lack). Budget = half the corpus's total tokens;
    ``corpus_mix`` takes fixed quotas, ``temperature_mix`` reweights —
    this COMPUTES the fair quota.

    The closed form makes it one census plan, no iteration: sort
    sources by demand ascending; source k is fully satisfiable iff
    d_k·(n−k+1) ≤ B − cum_{k−1} — a pure integer CROSS-MULTIPLIED
    comparison (no division, so no rounding to defend); the capped
    rest share the remainder by floor division with the first
    (remainder mod m) sources — in (demand, source) order — getting
    +1, the largest-remainder convention (`revenue_recognition`), so
    Σ allocated = min(B, Σ demand) EXACTLY. Everything after the
    (source, token) census is windows over ≤ n_sources rows; all
    operands non-negative, so Spark `div` and DuckDB `//` agree.
    """

    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    # spooled: the demand census feeds the total, the saturation scan
    # and the allocation frame — one corpus token-count pass, not four
    census = spool(
        d.groupBy("source").agg(
            F.sum(token_count("text")).alias("demand_tokens")
        )
    )
    total = census.agg(
        F.sum("demand_tokens").alias("__tot"),
        F.count(F.lit(1)).alias("__n"),
    )
    w = Window.orderBy("demand_tokens", "source")
    wc = w.rowsBetween(Window.unboundedPreceding, -1)
    ranked = (
        census.crossJoin(F.broadcast(total))
        .withColumn("__b", F.expr("__tot div 2"))
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__cum_prev", F.coalesce(F.sum("demand_tokens").over(wc), F.lit(0)))
        .withColumn(
            "__sat",
            F.col("demand_tokens") * (F.col("__n") - F.col("__rn") + 1)
            <= F.col("__b") - F.col("__cum_prev"),
        )
    )
    agg_sat = ranked.agg(
        F.sum(F.when(F.col("__sat"), F.col("demand_tokens")).otherwise(0)).alias(
            "__cum_sat"
        ),
        F.sum(F.when(F.col("__sat"), 1).otherwise(0)).alias("__k"),
    )
    out = (
        ranked.crossJoin(F.broadcast(agg_sat))
        .withColumn("__m", F.col("__n") - F.col("__k"))
        .withColumn("__rem", F.col("__b") - F.col("__cum_sat"))
        .withColumn(
            "__capped_rank",
            F.when(
                ~F.col("__sat"), F.col("__rn") - F.col("__k")
            ),
        )
        .withColumn(
            "allocated_tokens",
            F.when(F.col("__sat"), F.col("demand_tokens")).otherwise(
                F.expr("__rem div __m")
                + F.when(
                    F.col("__capped_rank") <= F.expr("__rem % __m"), 1
                ).otherwise(0)
            ),
        )
    )
    return out.select(
        "source",
        F.col("demand_tokens").cast("long").alias("demand_tokens"),
        F.col("allocated_tokens").cast("long").alias("allocated_tokens"),
        F.col("__sat").alias("fully_satisfied"),
    ).orderBy("source")


def q_mrr_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue waterfall — the SaaS MRR bridge, AMOUNT-based where
    ``growth_accounting`` is presence-based: per month, customer
    revenue deltas classified NEW (first-ever revenue), EXPANSION
    (spent more than last month), CONTRACTION (spent less, still >0),
    REACTIVATION (revenue after a ≥1-month gap — the class the first
    draft forgot; its mass broke the bridge identity and the identity
    TEST caught it) and CHURNED (last month >0, this month 0), with
    cent-exact sums per class. The identity the report exists for —
    net = new + expansion + reactivation − contraction − churned —
    holds bit-exactly because the classes partition the same integer
    deltas (asserted in the test).

    One (customer, month) cents census rides the orders scan; the
    month-over-month compare is a self union shifted one month (no
    window state beyond first-month min); churn months clip to the
    observed max (right-censoring, the `growth_accounting` rule).
    Months are epoch-aligned 30-day buckets against the fixed NTZ
    origin, so both engines bucket identically in any session tz.
    The census is SPOOLED (same reasoning as `growth_accounting`):
    its four consumers otherwise each re-ran the orders scan.
    """

    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.col("o_totalprice").cast(MONEY) * 100).cast("long").alias("__c"),
        F.floor(tmp.seconds_since_origin("o_orderdate") / F.lit(30 * 86400))
        .cast("long")
        .alias("__m"),
    )
    cur = spool(o.groupBy("o_custkey", "__m").agg(F.sum("__c").alias("cents")))
    first = cur.groupBy("o_custkey").agg(F.min("__m").alias("__first"))
    prev = cur.select(
        "o_custkey", (F.col("__m") + 1).alias("__m"), F.col("cents").alias("__pc")
    )
    max_m = cur.agg(F.max("__m").alias("__mx"))
    joined = (
        cur.join(prev, ["o_custkey", "__m"], "full_outer")
        .join(first, "o_custkey")
        .crossJoin(F.broadcast(max_m))
        .filter(F.col("__m") <= F.col("__mx"))
        .select(
            "__m",
            F.coalesce(F.col("cents"), F.lit(0)).alias("__cur"),
            F.coalesce(F.col("__pc"), F.lit(0)).alias("__prev"),
            (F.col("__m") == F.col("__first")).alias("__is_new"),
        )
    )
    cls = (
        F.when(F.col("__is_new") & (F.col("__cur") > 0), F.lit("new"))
        .when(
            (F.col("__cur") > 0) & (F.col("__prev") == 0) & ~F.col("__is_new"),
            F.lit("reactivation"),
        )
        .when((F.col("__cur") > F.col("__prev")) & (F.col("__prev") > 0), F.lit("expansion"))
        .when((F.col("__cur") > 0) & (F.col("__cur") < F.col("__prev")), F.lit("contraction"))
        .when((F.col("__cur") == 0) & (F.col("__prev") > 0), F.lit("churned"))
        .otherwise(F.lit("flat"))
    )
    delta = F.abs(F.col("__cur") - F.col("__prev"))
    return (
        joined.select("__m", cls.alias("classe"), delta.alias("__d"))
        .filter(F.col("classe") != "flat")
        .groupBy(F.col("__m").alias("month_idx"), "classe")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("__d").cast("long").alias("delta_cents"),
        )
        .orderBy("month_idx", "classe")
    )


def q_credibility_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bühlmann credibility / empirical-Bayes rate smoothing — the
    actuarial (and ads-CTR) answer to small segments: each nation's
    return rate shrinks toward its REGION's rate with weight
    Z = n/(n+k) (k = 200 prior strength), so a nation with 40 lines
    reports mostly its region's experience and one with 40,000
    reports its own. Complements `adaptive_quality_gate` (which picks
    thresholds) by fixing the RATE ESTIMATE itself — partial pooling,
    the thing raw per-segment rates get wrong at the tail.

    Two censuses ride one lineitem scan (nation via order→customer
    broadcast dims): per-nation (returned, total) and per-region
    pooled (the prior). Float policy: smoothed_ppm =
    round(1e6·(x + k·(X_R/N_R))/(n + k)) — division, multiply, add,
    divide, all IEEE-correctly-rounded in a fixed tree with ONE
    rounding site (integer cross-multiplication would need
    x·N_R·1e6 ≈ 2⁶⁵ at sf1 — the documented reason this one uses the
    float path; no transcendental anywhere). Shrinkage weight and raw
    rate are single-rounded beside it so the report shows HOW much
    pooling happened.
    """
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",)).select(
        "l_orderkey", (F.col("l_returnflag") == "R").cast("long").alias("__ret")
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    per_nation = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "n_regionkey")
        .agg(
            F.sum("__ret").alias("__x"),
            F.count(F.lit(1)).alias("__n"),
        )
    )
    per_region = per_nation.groupBy(F.col("n_regionkey").alias("__rk")).agg(
        F.sum("__x").alias("__xr"), F.sum("__n").alias("__nr")
    )
    k = F.lit(200).cast("double")
    pr = F.col("__xr").cast("double") / F.col("__nr").cast("double")
    smoothed = F.round(
        F.lit(1e6)
        * (F.col("__x").cast("double") + k * pr)
        / (F.col("__n").cast("double") + k),
        0,
    ).cast("long")
    return (
        per_nation.join(
            F.broadcast(per_region),  # bounded: 5 regions
            F.col("n_regionkey") == F.col("__rk"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.col("__n").cast("long").alias("n_lines"),
            F.round(
                F.col("__x").cast("double") / F.col("__n").cast("double") * 1e6, 0
            )
            .cast("long")
            .alias("raw_ppm"),
            F.round(pr * 1e6, 0).cast("long").alias("region_ppm"),
            smoothed.alias("smoothed_ppm"),
            F.round(
                F.col("__n").cast("double")
                / (F.col("__n").cast("double") + k)
                * 1e3,
                0,
            )
            .cast("long")
            .alias("credibility_milli"),
        )
        .orderBy("nation")
    )


def q_littles_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law as an executable conservation audit (L·T = λ·T·W —
    total order-days computed TWO structurally different ways that
    must agree integer-exactly): the direct path sums each order's
    open duration (close − open + 1 days); the sweep path integrates
    the concurrency curve (running open count × days between
    boundary events, `open_order_concurrency`'s ±1 deltas). Both
    columns ship side by side, so the driver's hash gate doubles as
    the conservation proof — any interval-handling bug (off-by-one at
    the close boundary, a dropped order, a mis-clamped reversed span)
    breaks the equality before it breaks anything visible. This is
    the ops-analytics identity behind "WIP = throughput × lead time"
    reviews, and the two-plans-one-invariant pattern the
    `mrr_waterfall` identity test proved this round.

    Scale: direct is one census aggregate; the sweep emits exactly 2
    boundary rows per order and integrates over (nation, date) census
    rows — no day-level explode anywhere. avg_open_days_milli is the
    single rounding site.
    """
    # spans = the session-shared `_order_spans` spool (r10-opt) — the
    # lineitem max-shipdate + orders join was rebuilt inline per call.
    spans = _order_spans(spark, sf_dir)
    direct = spans.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.datediff("__close", "__open") + 1).alias("order_days_direct"),
    )
    deltas = spans.select(
        "c_nationkey", F.col("__open").alias("__d"), F.lit(1).alias("__delta")
    ).unionAll(
        spans.select(
            "c_nationkey",
            F.date_add("__close", 1).alias("__d"),
            F.lit(-1).alias("__delta"),
        )
    )
    census = deltas.groupBy("c_nationkey", "__d").agg(
        F.sum("__delta").alias("__dsum")
    )
    w = Window.partitionBy("c_nationkey").orderBy("__d")
    swept = (
        census.withColumn("__running", F.sum("__dsum").over(w))
        .withColumn("__next", F.lead("__d").over(w))
        .withColumn(
            "__area",
            F.when(
                F.col("__next").isNotNull(),
                F.col("__running") * F.datediff("__next", "__d"),
            ).otherwise(F.lit(0)),
        )
        .groupBy("c_nationkey")
        .agg(F.sum("__area").alias("order_days_swept"))
    )
    return (
        direct.join(swept, "c_nationkey")
        .select(
            F.col("c_nationkey").cast("int").alias("nationkey"),
            F.col("n_orders").cast("long").alias("n_orders"),
            F.col("order_days_direct").cast("long").alias("order_days_direct"),
            F.col("order_days_swept").cast("long").alias("order_days_swept"),
            F.round(
                F.col("order_days_direct").cast("double")
                / F.col("n_orders").cast("double")
                * 1e3,
                0,
            )
            .cast("long")
            .alias("avg_open_days_milli"),
        )
        .orderBy("nationkey")
    )


def q_survey_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey raking / iterative proportional fitting (Deming &
    Stephan 1940) — the census-weighting workhorse: reweight the
    observed (nation × market-segment) customer table so BOTH margins
    match uniform targets, by 6 alternating row/column scalings. The
    op every panel/survey pipeline runs before reporting, and a
    distinct algorithm family (alternating projections) for the
    engine.

    Same scale split as ``markov_attribution``: the data-proportional
    work is ONE census aggregate (≤ |nations|·|segments| rows — a
    dimension-bounded artifact) and the IPF iterations are algebra on
    that census, driver-side. Float policy, the hard-won version: a
    float IPF would hash-split across engines because PARTITION SUMS
    of floats are summation-ORDER-dependent — so weights live on an
    integer MILLI-grid and every half-round is the exact half-up
    rescale (2·W·total·1000 + m·S) div (2·m·S) with S an exact
    integer sum (order-free by construction; bounds hold to ~2.4e9
    customers, documented). The oracle unrolls the same 12
    half-rounds as MATERIALIZED CTEs (the markov CTE-inlining
    lesson). Tested: both margins converge ≤0.1% and weights stay
    positive.
    """
    c = read_table(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment")
    census_rows = (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # dimension-bounded: ≤ |nation| × |segment| rows
    )
    nations = sorted({r["c_nationkey"] for r in census_rows})
    segs = sorted({r["c_mktsegment"] for r in census_rows})
    total = sum(r["n"] for r in census_rows)
    n_by = {(r["c_nationkey"], r["c_mktsegment"]): r["n"] for r in census_rows}
    w = {k: n_by[k] * 1000 for k in n_by}  # milli-grid

    def half_round(axis: int, m: int) -> None:
        groups: dict = {}
        for k in w:
            groups.setdefault(k[axis], []).append(k)
        for _, keys in sorted(groups.items()):
            s_ = sum(w[k] for k in keys)  # exact integer — order-free
            for k in keys:
                w[k] = (2 * w[k] * total * 1000 + m * s_) // (2 * m * s_)

    for _ in range(6):
        half_round(0, len(nations))
        half_round(1, len(segs))
    rows = [
        (
            int(nk),
            sg,
            int(n_by[(nk, sg)]),
            (2 * w[(nk, sg)] * 1000 + n_by[(nk, sg)])
            // (2 * n_by[(nk, sg)]),
        )
        for (nk, sg) in sorted(w)
    ]
    return spark.createDataFrame(
        rows,
        "nationkey int, mktsegment string, n_customers long, weight_ppm long",
    )


def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy (1973) decomposition of the quality classifier's Brier
    score — forecast verification's standard answer to "is the model
    bad at RANKING or at CALIBRATION?": per probability decile,
    reliability term n_b·(p̄_b − ō_b)² (calibration error mass) and
    resolution term n_b·(ō_b − ō)² (how much the bin separates from
    base rate) and the WITHIN-BIN variance Σ(p_i − p̄_b)² — the 4th
    and 5th terms the generalized decomposition needs when forecasts
    vary inside a bin — within-bin variance Σ(p_i − p̄_b)² and
    covariance Σ(p_i − p̄_b)(o_i − ō_b); the 3-term textbook identity
    missed by exactly their mass on first build, in two successive
    test-caught steps: REL − RES + UNC + WBV − 2·COV ≈ Brier,
    asserted within per-bin rounding tolerance. Extends ``quality_calibration``
    (which eyeballs monotonicity) with the quantitative split.

    Number policy: probabilities ride the established exp@9dp grid
    (``quality_logistic``'s convention) then quantize ONCE to ppm;
    the global Σ(p−o)² is EXACT integer ppm² and each bin's terms
    square HALF-UP PPM MEANS — per-bin means first, then square, so
    every intermediate stays < 2⁶³ at any corpus size (squaring raw
    ppm SUMS overflows at ~3k docs/bin — the bound that shaped the
    formulation). One doc scan, one ≤10-row census, broadcast global
    one-rower.
    """
    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    q = F.round(quality_score("text"), 9)
    dup = F.round(dup_token_ratio("text"), 9)
    mlen = F.round(mean_token_len("text"), 9)
    n_tok = token_count("text")
    z = (
        F.lit(-2.0)
        + F.lit(6.0) * q
        + F.lit(-3.0) * dup
        + F.lit(0.25) * mlen
        + F.lit(0.002) * n_tok.cast("double")
    )
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)
    gopher = (
        n_tok.between(10, 1000)
        & mlen.between(2.0, 10.0)
        & (dup <= 0.6)
        & (stopword_hits("text") >= 2)
    )
    # spooled: three consumers (global moments, bin census, within-bin
    # variance) otherwise each re-ran the full text-scoring expression
    # stack over the corpus — the scored frame is 3 ints per doc

    scored = spool(
        d.select(
            F.round(p * 1e6, 0).cast("long").alias("__p_ppm"),
            F.least(F.floor(p * 10).cast("int"), F.lit(9)).alias("decile"),
            gopher.cast("long").alias("__o"),
        )
    )
    glob = scored.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__o").alias("__x"),
        F.sum(
            (F.col("__p_ppm") - F.col("__o") * 1000000)
            * (F.col("__p_ppm") - F.col("__o") * 1000000)
        ).alias("__sq"),
    ).select(
        "__n",
        "__x",
        "__sq",
        F.expr("(2 * __x * 1000000 + __n) div (2 * __n)").alias("__obar"),
    )
    bins = scored.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__p_ppm").alias("__sp"),
        F.sum("__o").alias("__xb"),
    )
    means = bins.select(
        F.col("decile").alias("__dm"),
        F.expr("(2 * __sp + n_docs) div (2 * n_docs)").alias("__mb"),
        F.expr("(2 * __xb * 1000000 + n_docs) div (2 * n_docs)").alias("__rb"),
    )
    wbv = (
        scored.join(F.broadcast(means), scored["decile"] == means["__dm"])  # bounded: 10 deciles
        .groupBy(scored["decile"].alias("__dw"))
        .agg(
            F.sum(
                (F.col("__p_ppm") - F.col("__mb"))
                * (F.col("__p_ppm") - F.col("__mb"))
            ).alias("within_var_term"),
            F.sum(
                (F.col("__p_ppm") - F.col("__mb"))
                * (F.col("__o") * 1000000 - F.col("__rb"))
            ).alias("within_cov_term"),
        )
    )
    out = bins.join(
        F.broadcast(wbv), bins["decile"] == wbv["__dw"]  # bounded: 10 deciles
    ).crossJoin(F.broadcast(glob)).select(
        "decile",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.expr("(2 * __sp + n_docs) div (2 * n_docs)").alias("mean_p_ppm"),
        F.expr("(2 * __xb * 1000000 + n_docs) div (2 * n_docs)").alias(
            "pass_rate_ppm"
        ),
        F.expr(
            "n_docs * ((2 * __sp + n_docs) div (2 * n_docs)"
            " - (2 * __xb * 1000000 + n_docs) div (2 * n_docs))"
            " * ((2 * __sp + n_docs) div (2 * n_docs)"
            " - (2 * __xb * 1000000 + n_docs) div (2 * n_docs))"
        ).alias("reliability_term"),
        F.expr(
            "n_docs * ((2 * __xb * 1000000 + n_docs) div (2 * n_docs) - __obar)"
            " * ((2 * __xb * 1000000 + n_docs) div (2 * n_docs) - __obar)"
        ).alias("resolution_term"),
        F.col("within_var_term").cast("long").alias("within_var_term"),
        F.col("within_cov_term").cast("long").alias("within_cov_term"),
        F.col("__sq").alias("sq_err_sum"),
        F.col("__x").cast("long").alias("n_pass_total"),
        F.col("__n").cast("long").alias("n_total"),
    )
    return out.orderBy("decile")


def q_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction audit (Vovk; Lei et al. 2018) on the
    naive weekly forecast — the modern distribution-free answer to
    "how wide must the interval be": the 90th-percentile absolute
    residual on a CALIBRATION half becomes the interval radius, and
    the held-out half reports the achieved coverage — valid without
    any distributional assumption, which is why conformal wrapped
    every production forecaster in the last five years. Extends
    ``naive_forecast_mape`` (point skill) with calibrated uncertainty.

    Deterministic split: even weeks calibrate, odd weeks test (time-
    interleaved so both halves span the whole horizon — a block split
    is the stricter variant; the interleave keeps the audit exact
    with no RNG). The quantile is the EXACT type-1 ⌈0.9·n⌉-th
    residual rank-selected under the (resid, week) total order (the
    `histogram_quantiles` exact-arm convention); coverage is one
    integer ppm division. Everything rides the (nation, week) census;
    integer cents end-to-end, no float at all.
    """
    # (nation, wk, cents) = the session-shared `_weekly_nation_census`
    # spool (r10-opt) — this census was rebuilt inline per call.
    census = _weekly_nation_census(spark, sf_dir).select(
        "nation", "wk", "cents"
    )
    w = Window.partitionBy("nation").orderBy("wk")
    resid = (
        census.select(
            "nation",
            "wk",
            F.abs(F.col("cents") - F.lag("cents").over(w)).alias("__r"),
        )
        .filter(F.col("__r").isNotNull())
        .withColumn("__cal", F.col("wk") % 2 == 0)
    )
    cal = resid.filter(F.col("__cal"))
    wq = Window.partitionBy("nation").orderBy("__r", "wk")
    q = (
        cal.withColumn("__rn", F.row_number().over(wq))
        .withColumn(
            "__n", F.count(F.lit(1)).over(Window.partitionBy("nation"))
        )
        .filter(F.col("__rn") == F.expr("(9 * __n + 9) div 10"))
        .select(
            F.col("nation").alias("__qn"),
            F.col("__r").alias("q90_resid_cents"),
            F.col("__n").alias("n_cal"),
        )
    )
    test = resid.filter(~F.col("__cal"))
    return (
        test.join(q, test["nation"] == q["__qn"])
        .groupBy("nation")
        .agg(
            F.max("n_cal").cast("long").alias("n_cal"),
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.max("q90_resid_cents").cast("long").alias("q90_resid_cents"),
            F.expr(
                "sum(CASE WHEN __r <= q90_resid_cents THEN 1 ELSE 0 END)"
                " * 1000000 div count(1)"
            )
            .cast("long")
            .alias("coverage_ppm"),
        )
        .orderBy("nation")
    )


def q_banding_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical LSH S-curve: per exact-Jaccard band (0.5–0.6 … 0.9–1),
    what fraction of true near-dup pairs does the PRODUCTION banding
    (8 hashes, 4 bands × r=2 — `near_dup_jaccard_banded`'s plan)
    actually admit? The text twin of `lsh_recall` (embeddings), and
    the measurement behind every docstring that argues "r≥2 crushes
    low-similarity pairs, verify restores precision" — here the curve
    is DATA, not theory: recall should climb from ~1−(1−j²)⁴ at
    j≈0.5 toward ~1 at j≈0.9.

    Reference set = the permissive r=1 arm on the SAME 8 hashes
    (miss probability ≤ (1−j)⁸ ≤ 0.4% at j ≥ 0.5 — a documented
    high-recall reference, not all-pairs truth, because exhaustive
    O(n²) exact Jaccard is precisely what LSH exists to avoid),
    exact-verified at j ≥ 0.5. Both arms share the signature
    definition, so the audit isolates the BANDING decision alone.
    Integer counts, one ppm rounding per band.
    """
    # ONE LSH pipeline, not two: a matched r=2 band implies both of its
    # constituent hashes matched, so every r=2-admitted pair is already
    # in the permissive r=1 candidate set — the banded arm is therefore
    # a pure EXPRESSION over the r=1 pairs' per-hash agreement flags
    # (band j fires iff eq(2j) ∧ eq(2j+1)). The previous formulation
    # ran a second explode/self-join/distinct banding pipeline and
    # left-joined it back. The signature+shingle frame comes from the
    # session-shared `_minhash_sig8` spool (one shingle+md5 scan for
    # the whole 8-hash shelf) and feeds both the band join and the
    # exact-Jaccard verify, so the corpus is shingled once instead of
    # three times. Together: 8.3 → 4.4 s warm at sf0.1/32cpus with the
    # hash unchanged; the residual is the r=1 reference arm's self-join
    # + 82k-pair verify, which IS the audit's price. (Broadcasting the
    # band/signature sides was measured ~1.5 s faster here and
    # rejected: both sides grow with the corpus, so the shuffle join is
    # the only plan that survives 100 TB.) Within candidate pairs the
    # eq-flags are never NULL (a candidate doc has non-empty shingles,
    # so every md5-slice minhash is set).
    sig = _minhash_sig8(spark, sf_dir)
    cand = dd.near_dup_pairs_from_sig(
        sig.drop("__sh"), "doc_id", 8, keep_agreement=True
    )
    verified = cand.join(
        sig.select(F.col("doc_id").alias("id_a"), F.col("__sh").alias("__sha")),
        "id_a",
    ).join(
        sig.select(F.col("doc_id").alias("id_b"), F.col("__sh").alias("__shb")),
        "id_b",
    )
    inter = F.size(F.array_intersect("__sha", "__shb")).cast("double")
    union = F.size(F.array_union("__sha", "__shb")).cast("double")
    ref = verified.withColumn("jaccard", inter / union).filter(
        F.col("jaccard") >= 0.5
    )
    band_fires = [
        (F.col(f"eq{2 * j}") == 1) & (F.col(f"eq{2 * j + 1}") == 1)
        for j in range(4)
    ]
    found = reduce(lambda a, b: a | b, band_fires).cast("int")
    audited = ref.select(
        F.least(F.floor(F.col("jaccard") * 10).cast("int"), F.lit(9)).alias(
            "sim_band"
        ),
        found.alias("__f"),
    )
    return (
        audited.groupBy("sim_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_reference"),
            F.sum("__f").cast("long").alias("n_banded_found"),
            F.expr("sum(__f) * 1000000 div count(1)")
            .cast("long")
            .alias("recall_ppm"),
        )
        .orderBy("sim_band")
    )


def q_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN tuning curve every vector index publishes: recall@10
    vs nprobe for IVF — probe 1..4 of the 8 cells in
    query-to-centroid order and report hits against the brute-force
    top-10 plus vectors scanned, the recall-vs-cost frontier an
    operator reads before picking nprobe (`ivf_topk` is the nprobe=1
    point; `lsh_recall`/`banding_recall_audit` are the same audit for
    the hash families).

    Determinism without cross-language float risk: the probe ORDER is
    ranked IN-PLAN by the same cosine expression both engines share
    (rank over (cos desc, cid) — not a Python-side sort of separately
    computed floats); each arm is cells ⋈ broadcast(8-row rank table)
    filtered to rank ≤ nprobe, top-10 under the (cos desc, id) total
    order, counted against the brute set. Output is pure integers
    (hits, scanned, ppm).

    The scored frame (vec_id, cell rank, cosine) is SPOOLED once and
    the brute set plus all four arms read the spool: without it each
    of the nine consumers (4 arms × hits+scanned, + brute) re-ran the
    full cosine scan — Spark does no common-subexpression reuse across
    union branches — and the audit cost 9 scans for 1 scan's worth of
    information (measured 8.0 → 3.0 s warm at sf0.1/32cpus; doubles
    survive the parquet round-trip bit-exactly, so the hash is
    unchanged).
    """

    e = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = [
        (r[0], list(r[1]))
        for r in e.filter(F.col("vec_id") < 8)
        .orderBy("vec_id")
        .collect()
    ]
    cells = e.withColumn("__cell", sim.ivf_cell(F.col("embedding"), cents))
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("__qv"))
    crank = (
        spark.createDataFrame(
            [(cid, vec) for cid, vec in cents], "cid int, cemb array<float>"
        )
        .crossJoin(F.broadcast(q))  # bounded: one probe vector
        .select(
            "cid",
            F.row_number()
            .over(
                Window.orderBy(
                    sim.cosine(F.col("cemb"), F.col("__qv")).desc(), F.col("cid")
                )
            )
            .alias("__crk"),
        )
    )
    scored = spool(
        cells.join(F.broadcast(crank), F.col("__cell") == F.col("cid"))  # bounded: 8 centroids
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))  # bounded: one probe vector
        .select(
            "vec_id",
            "__crk",
            sim.cosine(F.col("embedding"), F.col("__qv")).alias("__cos"),
        )
    )
    brute = (
        scored.orderBy(F.col("__cos").desc(), "vec_id")
        .limit(10)
        .select(F.col("vec_id").alias("__bid"), F.lit(1).alias("__hit"))
    )
    arms = []
    for nprobe in (1, 2, 3, 4):
        arm = scored.filter(F.col("__crk") <= nprobe)
        hits = (
            arm.orderBy(F.col("__cos").desc(), "vec_id")
            .limit(10)
            .join(F.broadcast(brute), F.col("vec_id") == F.col("__bid"), "left")
            .agg(
                F.coalesce(F.sum("__hit"), F.lit(0)).alias("__h"),
            )
        )
        scanned = arm.agg(F.count(F.lit(1)).alias("__s"))
        arms.append(
            hits.crossJoin(scanned).select(
                F.lit(nprobe).cast("int").alias("nprobe"),
                F.col("__s").cast("long").alias("scanned_vecs"),
                F.col("__h").cast("long").alias("hits_at_10"),
                (F.col("__h") * 100000).cast("long").alias("recall_ppm"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionAll(a)
    return out.orderBy("nprobe")


# --------------------------------------------------------------------------
# Round-5 continuation batch 4 (N190+): nonparametric rank statistics,
# feature selection, deterministic resampling, backtest model selection,
# and sequential-pattern mining — every one integer-exact on a bounded
# census, per the repo float policy (one rounding site, never per-term).
# --------------------------------------------------------------------------


def q_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U for every language pair on document length — the
    nonparametric two-sample location test a corpus owner runs before
    claiming "source X writes longer docs than Y" (medians alone can't
    say it; U is the full rank-sum evidence). No reference counterpart;
    complements `ks_length_drift` (KS is the max-gap statistic, U the
    rank-sum) on the same documents table.

    Integer-exact by construction: U counts pairs, so 2·U = 2·wins +
    ties is a pure integer — no normal approximation, no variance
    float. Computed on the (lang, n_chars) VALUE CENSUS, never on raw
    pairs: wins(a over b) = Σ_v ca(v)·cumb(<v) via one window over the
    merged per-pair census — O(|langs|²·|value domain|) state, flat in
    row count. Identity 2·Ua + 2·Ub = 2·na·nb is asserted in tests.

    Plan: one doc shuffle to the census, broadcast 10-row pair spine,
    one window per (pair) partition. Scale: value domain is bounded
    (doc length in chars), so the census is bounded regardless of
    corpus size — the §6.4 state-vs-data split. The census is SPOOLED
    so its four consumers (the lang spine twice via the pair cross,
    both merge sides) read the bounded artifact instead of each
    re-scanning documents (was a 6× fact read).
    """

    d = read_table(spark, sf_dir, "documents").select("lang", "n_chars")
    census = spool(
        d.groupBy("lang", "n_chars").agg(F.count(F.lit(1)).alias("__c"))
    )
    langs = census.select("lang").distinct()
    pairs = (
        langs.select(F.col("lang").alias("lang_a"))
        .crossJoin(langs.select(F.col("lang").alias("lang_b")))
        .filter(F.col("lang_a") < F.col("lang_b"))
    )
    a_side = census.join(
        F.broadcast(pairs), census["lang"] == pairs["lang_a"]  # bounded: 10 language pairs
    ).select(
        "lang_a",
        "lang_b",
        F.col("n_chars").alias("__v"),
        F.col("__c").alias("__ca"),
        F.lit(0).alias("__cb"),
    )
    b_side = census.join(
        F.broadcast(pairs), census["lang"] == pairs["lang_b"]  # bounded: 10 language pairs
    ).select(
        "lang_a",
        "lang_b",
        F.col("n_chars").alias("__v"),
        F.lit(0).alias("__ca"),
        F.col("__c").alias("__cb"),
    )
    merged = (
        a_side.unionAll(b_side)
        .groupBy("lang_a", "lang_b", "__v")
        .agg(F.sum("__ca").alias("__ca"), F.sum("__cb").alias("__cb"))
    )
    w = (
        Window.partitionBy("lang_a", "lang_b")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scored = merged.select(
        "lang_a",
        "lang_b",
        "__ca",
        "__cb",
        F.coalesce(F.sum("__cb").over(w), F.lit(0)).alias("__cumb"),
    )
    return (
        scored.groupBy("lang_a", "lang_b")
        .agg(
            F.sum("__ca").alias("__na"),
            F.sum("__cb").alias("__nb"),
            F.sum(F.col("__ca") * F.col("__cumb")).alias("__wins"),
            F.sum(F.col("__ca") * F.col("__cb")).alias("__ties"),
        )
        .select(
            "lang_a",
            "lang_b",
            F.col("__na").cast("long").alias("n_a"),
            F.col("__nb").cast("long").alias("n_b"),
            (F.lit(2) * F.col("__wins") + F.col("__ties"))
            .cast("long")
            .alias("u2_a"),
            (
                F.lit(2) * F.col("__na") * F.col("__nb")
                - (F.lit(2) * F.col("__wins") + F.col("__ties"))
            )
            .cast("long")
            .alias("u2_b"),
        )
        .orderBy("lang_a", "lang_b")
    )


@session_artifact("nation_week_census")
def _weekly_nation_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(nation, wk, n_orders, cents) — the shared bounded census six
    queries run on (`kendall_tau`, `spearman_corr`,
    `forecast_tournament`, `diff_in_diff`, `runs_test`,
    `theilsen_trend`). One fact shuffle; axis = calendar weeks × 25
    nations, flat in order volume.

    SPOOLED once per session — r10-opt: six consumers × two bench runs
    re-ran the identical orders scan + two broadcast joins + census
    shuffle twelve times per capture for a bounded |nations|·|weeks|
    artifact; the `_pair_support` posture applies verbatim (bigint
    cents round-trip parquet exactly)."""
    o = read_table(spark, sf_dir, "orders")
    wk = F.floor(
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")) / 7
    ).cast("long")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return spool(
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"), wk.alias("wk"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(F.col("o_totalprice").cast(MONEY)) * 100)
            .cast("bigint")
            .alias("cents"),
        )
    )


def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-a between weekly order COUNT and weekly revenue per
    nation — "do busier weeks earn more?" asked as the pure pair-order
    statistic (robust to any monotone transform of either axis, unlike
    Pearson on cents). Concordant/discordant/tie counts are integers;
    tau_a_ppm = sign(C−D)·(|C−D|·10⁶ div n₀) is the repo's ONE
    rounding site, written sign-symmetric so Spark `div` and DuckDB
    `//` agree on negative taus by construction.

    Plan: the week-pair quadratic runs on the (nation, wk) CENSUS
    self-join (pairs per nation = weeks·(weeks−1)/2, weeks ≈ calendar
    span — FLAT in order volume, the `theilsen_trend` precedent); one
    fact shuffle builds the census, one nation-keyed join builds
    pairs. O(n log n) merge-sort Kendall exists but the census axis
    makes the quadratic the simpler scale-honest plan here.
    """
    census = _weekly_nation_census(spark, sf_dir)
    a = census.select(
        F.col("nation").alias("__nat"),
        F.col("wk").alias("__w1"),
        F.col("n_orders").alias("__n1"),
        F.col("cents").alias("__c1"),
    )
    b = census.select(
        F.col("nation").alias("__nat"),
        F.col("wk").alias("__w2"),
        F.col("n_orders").alias("__n2"),
        F.col("cents").alias("__c2"),
    )
    prs = a.join(b, "__nat").filter(F.col("__w1") < F.col("__w2"))
    dn = F.col("__n2") - F.col("__n1")
    dc = F.col("__c2") - F.col("__c1")
    agg = prs.groupBy(F.col("__nat").alias("nation")).agg(
        F.sum(F.when(dn * dc > 0, 1).otherwise(0)).alias("__conc"),
        F.sum(F.when(dn * dc < 0, 1).otherwise(0)).alias("__disc"),
        F.sum(F.when((dn == 0) | (dc == 0), 1).otherwise(0)).alias("__tie"),
        F.count(F.lit(1)).alias("__n0"),
    )
    net = F.col("__conc") - F.col("__disc")
    return agg.select(
        "nation",
        F.col("__conc").cast("long").alias("concordant"),
        F.col("__disc").cast("long").alias("discordant"),
        F.col("__tie").cast("long").alias("tie_pairs"),
        (
            F.signum(net).cast("long")
            * F.expr("abs(__conc - __disc) * 1000000 div __n0")
        )
        .cast("long")
        .alias("tau_a_ppm"),
    ).orderBy("nation")


def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (tie-adjusted midranks) between weekly
    order count and revenue per nation — the same monotone-association
    question as `kendall_tau` through the rank-difference lens; the
    two are shipped together because they bound each other (|3·tau| ≥
    |rho| asymptotically) and a divergence flags heavy ties.

    Integer-exact midranks: avg rank with ties = (2·rank_min +
    ties − 1)/2, so DOUBLED midranks 2r = 2·rank() + count_ties − 1
    are integers; d2sum = Σ(2rₙ − 2r_c)² = 4·Σd². rho_ppm = 10⁶ −
    (3·d2sum·10⁶ div (2·n·(n²−1))) — one truncating division of a
    positive numerator, identical in both engines. (Midrank Spearman
    on ties differs from the textbook no-ties formula; the statistic
    computed IS the standard rank-Pearson numerator approximation —
    documented, and both engines compute the same definition.)

    Plan: two windows over the bounded (nation, wk) census — rank and
    tie-count per axis — then one census aggregate. Flat in volume.
    """
    census = _weekly_nation_census(spark, sf_dir)
    wn = Window.partitionBy("nation").orderBy("n_orders")
    wc = Window.partitionBy("nation").orderBy("cents")
    r2 = census.select(
        "nation",
        "wk",
        (
            F.lit(2) * F.rank().over(wn)
            + F.count(F.lit(1)).over(Window.partitionBy("nation", "n_orders"))
            - F.lit(1)
        ).alias("__r2n"),
        (
            F.lit(2) * F.rank().over(wc)
            + F.count(F.lit(1)).over(Window.partitionBy("nation", "cents"))
            - F.lit(1)
        ).alias("__r2c"),
    )
    d = F.col("__r2n") - F.col("__r2c")
    agg = r2.groupBy("nation").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(d * d).alias("__d2sum"),
    )
    return agg.filter(F.col("__n") >= 2).select(
        "nation",
        F.col("__n").cast("long").alias("n_weeks"),
        F.col("__d2sum").cast("long").alias("d2sum_x4"),
        F.expr(
            "1000000 - (3 * __d2sum * 1000000 div (2 * __n * (__n * __n - 1)))"
        )
        .cast("long")
        .alias("rho_ppm"),
    ).orderBy("nation")


def q_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square term-relevance ranking for the binary label
    lang='en' — the classic feature-selection screen a quality-
    classifier owner runs to pick n-gram features (each term's 2×2
    document-frequency contingency vs the label, ranked by chi²).
    Output is the INTEGER contingency (a,b,c,d) plus the rank; chi²
    itself is used only as an ORDER key (double, identical expression
    text in both engines, deterministic tie-break on term) — the
    `chi2`-as-ordering convention `ivf_probe_sweep` set for cosine.

    Plan: one (doc, term)-distinct explode → term census shuffle; the
    label totals are a broadcast 1-row aggregate. Term census is
    vocabulary-bounded; terms present in EVERY document are excluded
    (degenerate denominator, zero discriminative power by definition).
    Top-40 by (chi² desc, term).
    """
    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    lab = d.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("__en"),
    )
    totals = lab.agg(
        F.sum("__en").alias("__n_en"),
        F.sum(F.lit(1) - F.col("__en")).alias("__n_non"),
    )
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("term"),
    )
    cont = (
        toks.join(lab, "doc_id")
        .groupBy("term")
        .agg(
            F.sum("__en").alias("__a"),
            F.sum(F.lit(1) - F.col("__en")).alias("__b"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "term",
            "__a",
            "__b",
            (F.col("__n_en") - F.col("__a")).alias("__c"),
            (F.col("__n_non") - F.col("__b")).alias("__d"),
            (F.col("__n_en") + F.col("__n_non")).alias("__n"),
        )
        .filter((F.col("__a") + F.col("__b")) < F.col("__n"))
    )
    chi2 = F.expr(
        "(cast((__a*__d - __b*__c) * (__a*__d - __b*__c) as double) * __n)"
        " / (cast((__a+__b) as double) * (__c+__d) * (__a+__c) * (__b+__d))"
    )
    ranked = cont.select(
        "term",
        F.col("__a").cast("long").alias("en_with"),
        F.col("__b").cast("long").alias("non_with"),
        F.col("__c").cast("long").alias("en_without"),
        F.col("__d").cast("long").alias("non_without"),
        F.row_number()
        .over(Window.orderBy(chi2.desc(), F.col("term")))
        .cast("long")
        .alias("chi2_rank"),
    )
    return ranked.filter(F.col("chi2_rank") <= 40).orderBy("chi2_rank")


def q_stump_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump model selection for the lang='en' label: evaluate
    every threshold stump on a literal grid over doc length and token
    count, score each by exact MISCLASSIFICATION COUNT (min over the
    two polarities — pure integers, no impurity logs), and rank. The
    one-split baseline every quality-classifier paper reports before
    the logistic model (`quality_logistic`) has to beat it.

    Plan: docs cross-join the broadcast ~14-row literal grid (a
    constant fan-out fused into the scan), one grid-keyed census
    shuffle. Confusion cells are map-combinable sums; polarity choice
    and ranking run on the 14-row aggregate. Flat at any corpus size.
    """
    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    feats = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("__en"),
        F.col("n_chars").alias("__len"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("__ntok"),
    )
    grid_rows = [("len_ge_%d" % t, "len", t) for t in range(100, 501, 50)] + [
        ("ntok_ge_%d" % t, "ntok", t) for t in range(20, 101, 20)
    ]
    grid = spark.createDataFrame(
        grid_rows, "feature string, axis string, thr int"
    )
    scored = feats.crossJoin(F.broadcast(grid)).select(
        "feature",
        "__en",
        F.when(
            (
                (F.col("axis") == "len") & (F.col("__len") >= F.col("thr"))
            )
            | ((F.col("axis") == "ntok") & (F.col("__ntok") >= F.col("thr"))),
            1,
        )
        .otherwise(0)
        .alias("__pred"),
    )
    cells = scored.groupBy("feature").agg(
        F.sum(F.col("__en") * F.col("__pred")).alias("__tp"),
        F.sum((F.lit(1) - F.col("__en")) * F.col("__pred")).alias("__fp"),
        F.sum(F.col("__en") * (F.lit(1) - F.col("__pred"))).alias("__fn"),
        F.sum((F.lit(1) - F.col("__en")) * (F.lit(1) - F.col("__pred"))).alias(
            "__tn"
        ),
    )
    err_pos = F.col("__fp") + F.col("__fn")
    err_neg = F.col("__tp") + F.col("__tn")
    ranked = cells.select(
        "feature",
        F.col("__tp").cast("long").alias("tp"),
        F.col("__fp").cast("long").alias("fp"),
        F.col("__fn").cast("long").alias("fn"),
        F.col("__tn").cast("long").alias("tn"),
        F.least(err_pos, err_neg).cast("long").alias("errors"),
        F.when(err_pos <= err_neg, F.lit("pos"))
        .otherwise(F.lit("neg"))
        .alias("polarity"),
    )
    return ranked.select(
        "*",
        F.row_number()
        .over(Window.orderBy("errors", "feature"))
        .cast("long")
        .alias("stump_rank"),
    ).orderBy("stump_rank")


def q_half_sample_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic half-sample bootstrap CI for the median order
    value per market segment — the resampling uncertainty band a
    dashboard should print beside every median, made engine-portable
    by replacing RNG with the md5 convention: replicate b keeps the
    orders whose md5(orderkey:b) first nibble is even (16 independent
    deterministic half-samples), the replicate statistic is the exact
    lower-median in cents, and the band is the 2nd/15th order
    statistic of the 16 replicate medians (≈88% CI under the
    half-sample jackknife reading). Every number is an integer; both
    engines hash identically.

    Plan: orders fan out ×16 against a broadcast literal replicate
    spine (map-side, fused into the scan), one (segment, b) shuffle,
    rank-median per cell, then order stats on the 5×16 aggregate.
    Scale: fan-out is a constant 16; the median-rank window runs per
    (segment, replicate) partition — no global window.
    """
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_orderkey").alias("__k"),
        (F.col("o_totalprice").cast(MONEY) * 100).cast("bigint").alias("__cents"),
    )
    reps = spark.range(16).select(F.col("id").cast("int").alias("__b"))
    kept = base.crossJoin(F.broadcast(reps)).filter(
        F.expr("conv(substring(md5(concat(cast(__k as string), ':', cast(__b as string))), 1, 1), 16, 10) % 2")
        == 0
    )
    wcell = Window.partitionBy("segment", "__b").orderBy("__cents", "__k")
    ncell = Window.partitionBy("segment", "__b")
    med = (
        kept.select(
            "segment",
            "__b",
            "__cents",
            F.row_number().over(wcell).alias("__rn"),
            F.count(F.lit(1)).over(ncell).alias("__nc"),
        )
        .filter(F.col("__rn") == F.expr("(__nc + 1) div 2"))
        .select("segment", "__b", F.col("__cents").alias("__med"))
    )
    wseg = Window.partitionBy("segment").orderBy("__med", "__b")
    band = (
        med.select(
            "segment",
            "__med",
            F.row_number().over(wseg).alias("__r"),
        )
        .groupBy("segment")
        .agg(
            F.min(F.when(F.col("__r") == 2, F.col("__med"))).alias("lo_cents"),
            F.min(F.when(F.col("__r") == 15, F.col("__med"))).alias("hi_cents"),
        )
    )
    wfull = Window.partitionBy("segment").orderBy("__cents", "__k")
    nfull = Window.partitionBy("segment")
    point = (
        base.select(
            "segment",
            "__cents",
            "__k",
            F.row_number().over(wfull).alias("__rn"),
            F.count(F.lit(1)).over(nfull).alias("__n"),
        )
        .filter(F.col("__rn") == F.expr("(__n + 1) div 2"))
        .select(
            "segment",
            F.col("__n").cast("long").alias("n_orders"),
            F.col("__cents").cast("long").alias("median_cents"),
        )
    )
    return (
        point.join(band, "segment")
        .select(
            "segment",
            "n_orders",
            "median_cents",
            F.col("lo_cents").cast("long").alias("lo_cents"),
            F.col("hi_cents").cast("long").alias("hi_cents"),
        )
        .orderBy("segment")
    )


def q_forecast_tournament(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast TOURNAMENT: naive (last week), ma4
    (4-week mean), drift (last + last-diff) forecast next week's
    revenue per nation; every week with ≥4 weeks of history is a
    fold. Reports per (nation, method) the exact MAE in cents and the
    STRICT win count (folds where the method beats both rivals — ties
    award nobody, keeping the count definition-exact). Extends
    `naive_forecast_mape` (the skill floor) to the model-selection
    table an operator actually reads.

    Integer-exact: forecasts are integer cents (ma4 uses a truncating
    div by 4 — a defined, engine-identical estimator), errors are
    |integer−integer|, MAE is one truncating division. Plan: one fact
    shuffle to the (nation, wk) census, lag windows per nation, a
    3-way stack of the census — flat in order volume.
    """
    census = _weekly_nation_census(spark, sf_dir).select("nation", "wk", "cents")
    w = Window.partitionBy("nation").orderBy("wk")
    l1, l2, l3, l4 = (F.lag("cents", i).over(w) for i in (1, 2, 3, 4))
    folds = census.select(
        "nation",
        "wk",
        "cents",
        l1.alias("__l1"),
        l2.alias("__l2"),
        l3.alias("__l3"),
        l4.alias("__l4"),
    ).filter(F.col("__l4").isNotNull())
    fc = folds.select(
        "nation",
        "wk",
        "cents",
        F.col("__l1").alias("__fc_naive"),
        F.expr("(__l1 + __l2 + __l3 + __l4) div 4").alias("__fc_ma4"),
        (F.lit(2) * F.col("__l1") - F.col("__l2")).alias("__fc_drift"),
    )
    errs = fc.select(
        "nation",
        "wk",
        F.abs(F.col("cents") - F.col("__fc_naive")).alias("__e_naive"),
        F.abs(F.col("cents") - F.col("__fc_ma4")).alias("__e_ma4"),
        F.abs(F.col("cents") - F.col("__fc_drift")).alias("__e_drift"),
    )
    long = errs.selectExpr(
        "nation",
        "wk",
        "stack(3, 'naive', __e_naive, 'ma4', __e_ma4, 'drift', __e_drift)"
        " as (method, err)",
        "least(__e_naive, __e_ma4, __e_drift) as __best",
        "cast(__e_naive = least(__e_naive, __e_ma4, __e_drift) as int)"
        " + cast(__e_ma4 = least(__e_naive, __e_ma4, __e_drift) as int)"
        " + cast(__e_drift = least(__e_naive, __e_ma4, __e_drift) as int)"
        " as __nbest",
    )
    return (
        long.groupBy("nation", "method")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("err").alias("__sae"),
            F.sum(
                F.when(
                    (F.col("err") == F.col("__best")) & (F.col("__nbest") == 1), 1
                ).otherwise(0)
            ).alias("__wins"),
        )
        .select(
            "nation",
            "method",
            F.col("__n").cast("long").alias("n_folds"),
            F.expr("__sae div __n").cast("long").alias("mae_cents"),
            F.col("__wins").cast("long").alias("wins"),
        )
        .orderBy("nation", "method")
    )


def q_sequence_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PrefixSpan-style sequential-pattern support: for every ordered
    event-type pair A→B (25 patterns) and every signup-rooted triple
    signup→B→C (25 more), the number of users whose event stream
    contains the subsequence (greedy earliest-occurrence semantics:
    first A, then any B after it, then any C after the first such B —
    the standard subsequence-existence check, provably equivalent to
    "exists any embedding"). The sequence-mining census a funnel
    designer reads before hand-picking `session_funnel` stages.

    Integer-exact; support_ppm is one truncating division by the user
    count. Plan: pair support needs ONLY the per-(user, type) min/max
    timestamp census (n_users×5 rows — one event shuffle); triples
    re-join events once, user-keyed, for the "earliest B after first
    signup" midpoint. No per-pattern scan of raw events.

    The census is SPOOLED: its four consumers (both pair sides, the
    signup root, the triple tail) plus the user count otherwise each
    re-scan events — events is read exactly twice (census build +
    the triple midpoint join), whatever the pattern count.
    """

    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    firsts = spool(
        ev.groupBy("user_id", "event_type").agg(
            F.min("ts").alias("__t1"), F.max("ts").alias("__tmax")
        )
    )
    # every user has >= 1 event, so the census carries the same
    # distinct-user set as the raw table
    n_users = firsts.agg(F.countDistinct("user_id").alias("__nu"))
    a = firsts.select(
        F.col("user_id").alias("__u"),
        F.col("event_type").alias("__ta"),
        F.col("__t1").alias("__fa"),
    )
    b = firsts.select(
        F.col("user_id").alias("__u"),
        F.col("event_type").alias("__tb"),
        F.col("__tmax").alias("__mb"),
    )
    pair_support = (
        a.join(b, "__u")
        .filter(F.col("__mb") > F.col("__fa"))
        .groupBy("__ta", "__tb")
        .agg(F.countDistinct("__u").alias("support"))
        .select(
            F.concat_ws(">", "__ta", "__tb").alias("pattern"),
            F.lit(2).alias("length"),
            "support",
        )
    )
    su = a.filter(F.col("__ta") == "signup").select("__u", "__fa")
    mid = (
        ev.join(su, ev["user_id"] == su["__u"])
        .filter(F.col("ts") > F.col("__fa"))
        .groupBy("user_id", "event_type")
        .agg(F.min("ts").alias("__t2"))
        .select(
            F.col("user_id").alias("__u"),
            F.col("event_type").alias("__tb"),
            "__t2",
        )
    )
    triple_support = (
        mid.join(b.select(F.col("__u"), F.col("__tb").alias("__tc"), "__mb"), "__u")
        .filter(F.col("__mb") > F.col("__t2"))
        .groupBy("__tb", "__tc")
        .agg(F.countDistinct("__u").alias("support"))
        .select(
            F.concat_ws(">", F.lit("signup"), "__tb", "__tc").alias("pattern"),
            F.lit(3).alias("length"),
            "support",
        )
    )
    return (
        pair_support.unionAll(triple_support)
        .crossJoin(F.broadcast(n_users))
        .select(
            "pattern",
            F.col("length").cast("int").alias("length"),
            F.col("support").cast("long").alias("support"),
            F.expr("support * 1000000 div __nu").cast("long").alias("support_ppm"),
        )
        .orderBy(F.col("support").desc(), "pattern")
    )


# NDCG@10 position discounts: round(1e9 / log2(pos+1)) for pos 1..10,
# precomputed driver-side and inlined as identical literals in BOTH the
# Spark plan and the DuckDB oracle (the Benford-ppm / pq-distance-table
# convention — no engine evaluates a log, so libm can't split the hash).
# Derivation asserted in tests/test_round5_batch5.py.
_NDCG_W_E9 = [
    1000000000,
    630929754,
    500000000,
    430676558,
    386852807,
    356207187,
    333333333,
    315464877,
    301029996,
    289064826,
]


def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 ranking-quality evaluation — the metric every retrieval
    stack reports beside recall (`truncated_recall`) and RRF
    (`rrf_hybrid_search`): graded relevance, position-discounted.
    Ground truth grades come from EXACT token Jaccard against probe
    doc 0 (integer ppm thresholds 300k/150k/50k → grades 3/2/1/0);
    two rankers are evaluated against the same ideal: overlap (shared
    token count — the retrieval arm) and length (a deliberately naive
    doc-length prior, the audit's contrast arm, same role as
    `near_dup_jaccard` vs its banded twin).

    Float policy: DCG's 1/log2(pos+1) discounts are PRECOMPUTED
    integer literals (×10⁹, `_NDCG_W_E9`) inlined identically in both
    engines — DCG/IDCG are pure integer dot products, ndcg_ppm is one
    truncating division. Plan: probe tokens are a broadcast one-row
    artifact; grading fuses into the scan; each ranker is a bounded
    top-10 (TakeOrderedAndProject) and the position windows run on
    10-row frames. IDCG is shared.
    """
    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    t = d.select(
        "doc_id",
        "n_chars",
        F.array_distinct(F.split(F.col("text"), " ")).alias("__toks"),
    )
    probe = t.filter(F.col("doc_id") == 0).select(
        F.col("__toks").alias("__ptoks")
    )
    # spooled: the ideal ranking plus both ranker arms (each a grade
    # consumer, two reads apiece through dcg10) otherwise re-ran the
    # probe-intersection grading over the corpus eight times

    graded = spool(
        t.filter(F.col("doc_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select(
            "doc_id",
            "n_chars",
            F.size(F.array_intersect("__toks", "__ptoks")).alias("__inter"),
            (
                F.size("__toks") + F.size("__ptoks")
                - F.size(F.array_intersect("__toks", "__ptoks"))
            ).alias("__union"),
        )
        .select(
            "doc_id",
            "n_chars",
            "__inter",
            F.expr("__inter * 1000000 div __union").alias("__jppm"),
        )
        .select(
            "doc_id",
            "n_chars",
            "__inter",
            F.when(F.col("__jppm") >= 300000, 3)
            .when(F.col("__jppm") >= 150000, 2)
            .when(F.col("__jppm") >= 50000, 1)
            .otherwise(0)
            .alias("__grade"),
        )
    )
    wlit = F.array(*[F.lit(w) for w in _NDCG_W_E9])

    def dcg10(df: DataFrame, order_cols: list) -> DataFrame:
        top = df.orderBy(*order_cols).limit(10)
        pos = F.row_number().over(Window.orderBy(*order_cols))
        return top.select(
            (F.col("__grade").cast("long") * F.element_at(wlit, pos)).alias(
                "__term"
            )
        ).agg(F.sum("__term").alias("__dcg"))

    ideal = dcg10(graded, [F.col("__grade").desc(), F.col("doc_id")])
    arms = []
    for ranker, order in (
        ("overlap", [F.col("__inter").desc(), F.col("doc_id")]),
        ("length", [F.col("n_chars").desc(), F.col("doc_id")]),
    ):
        arms.append(
            dcg10(graded, order)
            .crossJoin(F.broadcast(ideal.select(F.col("__dcg").alias("__idcg"))))
            .select(
                F.lit(ranker).alias("ranker"),
                F.col("__dcg").cast("long").alias("dcg_e9"),
                F.col("__idcg").cast("long").alias("idcg_e9"),
                F.expr("__dcg * 1000000 div __idcg").cast("long").alias("ndcg_ppm"),
            )
        )
    return arms[0].unionAll(arms[1]).orderBy("ranker")


def q_bandit_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline policy evaluation by REPLAY (Li, Chu, Langford &
    Schapire WSDM 2011): treat the event log as bandit feedback (arm =
    event_type, reward = value cents) and estimate each candidate
    policy's value from the logged events where the policy's choice
    MATCHES the logged arm — the unbiased estimator when logging is
    uniform, and the standard way to pick a data-collection policy
    before deploying it. Policies scored: `logged` (the log itself),
    `md5` (a deterministic context-hash policy — md5(user:week) mod 5
    over the sorted arm set, the engine's RNG convention), and the
    five `fixed:<arm>` single-arm policies.

    Integer-exact: rewards go through DECIMAL cents; each policy's
    mean is ONE truncating division. Plan: the arm vocabulary is a
    sorted 5-element literal-free broadcast artifact (collected
    bounded set — model-artifact posture); match predicates fuse into
    the scan; one (policy) census shuffle via a 7-way stack of
    conditional aggregates over a single pass.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.floor(F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")) / 7)
        .cast("long")
        .alias("__wk"),
        (F.col("value").cast(MONEY) * 100).cast("bigint").alias("__cents"),
    )
    arms = sorted(
        r[0] for r in ev.select("event_type").distinct().collect()
    )
    arm_arr = F.array(*[F.lit(a) for a in arms])
    choice = F.element_at(
        arm_arr,
        (
            F.expr(
                "cast(conv(substring(md5(concat(cast(user_id as string), ':',"
                " cast(__wk as string))), 1, 8), 16, 10) as long)"
            )
            % F.lit(len(arms))
            + F.lit(1)
        ).cast("int"),
    )
    base = ev.select("event_type", "__cents", choice.alias("__choice"))
    aggs = [
        F.count(F.lit(1)).alias("__n_logged"),
        F.sum("__cents").alias("__r_logged"),
        F.sum((F.col("event_type") == F.col("__choice")).cast("long")).alias(
            "__n_md5"
        ),
        F.sum(
            F.when(F.col("event_type") == F.col("__choice"), F.col("__cents"))
        ).alias("__r_md5"),
    ]
    for i, a in enumerate(arms):
        aggs.append(
            F.sum((F.col("event_type") == a).cast("long")).alias(f"__n_f{i}")
        )
        aggs.append(
            F.sum(F.when(F.col("event_type") == a, F.col("__cents"))).alias(
                f"__r_f{i}"
            )
        )
    wide = base.agg(*aggs)
    stack_parts = ["'logged', __n_logged, __r_logged", "'md5', __n_md5, __r_md5"]
    for i, a in enumerate(arms):
        stack_parts.append(f"'fixed:{a}', __n_f{i}, __r_f{i}")
    long = wide.selectExpr(
        f"stack({len(stack_parts)}, {', '.join(stack_parts)})"
        " as (policy, n_matched, reward_cents)"
    )
    return long.select(
        "policy",
        F.col("n_matched").cast("long").alias("n_matched"),
        F.coalesce(F.col("reward_cents"), F.lit(0)).cast("long").alias(
            "reward_cents"
        ),
        F.expr("coalesce(reward_cents, 0) div n_matched")
        .cast("long")
        .alias("mean_reward_cents"),
    ).orderBy("policy")


def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on weekly revenue around the
    1998-01-01 policy cut (week 1461 of the 1970 epoch — a literal,
    like `mv_refresh`'s split): every nation in turn is the treated
    unit, all others pooled as control; the DiD estimate is
    (treated_post − treated_pre) − (control_post − control_pre) on
    OBSERVED-week mean cents (weeks with no orders don't enter the
    mean — documented, oracle mirrors). The causal-inference staple
    beside `event_attribution`/`markov_attribution`'s correlational
    credit models.

    Integer-exact: each cell mean is cents_total div weeks_n (one
    truncating division per cell, four cells per nation), the DiD is
    integer arithmetic on the four means. Plan: ONE fact shuffle to
    the (nation, wk) census; the per-nation control cells come from
    grand totals minus the nation's own (broadcast one-row grand
    aggregate) — no second scan, no self-join.
    """
    cut = 1461
    census = _weekly_nation_census(spark, sf_dir).select(
        "nation", "wk", "cents", (F.col("wk") >= cut).alias("__post")
    )
    cells = census.groupBy("nation").agg(
        F.sum(F.when(~F.col("__post"), F.col("cents"))).alias("__t_pre_c"),
        F.sum(F.when(~F.col("__post"), 1)).alias("__t_pre_w"),
        F.sum(F.when(F.col("__post"), F.col("cents"))).alias("__t_post_c"),
        F.sum(F.when(F.col("__post"), 1)).alias("__t_post_w"),
    )
    grand = census.agg(
        F.sum(F.when(~F.col("__post"), F.col("cents"))).alias("__g_pre_c"),
        F.sum(F.when(~F.col("__post"), 1)).alias("__g_pre_w"),
        F.sum(F.when(F.col("__post"), F.col("cents"))).alias("__g_post_c"),
        F.sum(F.when(F.col("__post"), 1)).alias("__g_post_w"),
    )
    m = cells.crossJoin(F.broadcast(grand)).select(
        "nation",
        F.expr("__t_pre_c div __t_pre_w").alias("treated_pre_cents"),
        F.expr("__t_post_c div __t_post_w").alias("treated_post_cents"),
        F.expr("(__g_pre_c - __t_pre_c) div (__g_pre_w - __t_pre_w)").alias(
            "control_pre_cents"
        ),
        F.expr("(__g_post_c - __t_post_c) div (__g_post_w - __t_post_w)").alias(
            "control_post_cents"
        ),
    )
    return m.select(
        "nation",
        *[
            F.col(c).cast("long").alias(c)
            for c in (
                "treated_pre_cents",
                "treated_post_cents",
                "control_pre_cents",
                "control_post_cents",
            )
        ],
        (
            (F.col("treated_post_cents") - F.col("treated_pre_cents"))
            - (F.col("control_post_cents") - F.col("control_pre_cents"))
        )
        .cast("long")
        .alias("did_cents"),
    ).orderBy("nation")


def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test inputs per nation: is the weekly
    revenue's above/below-median sign sequence random, or does it
    trend/oscillate? Reports the exact run count R against the
    expected E[R] = 1 + 2·n₁·n₂/(n₁+n₂) — R far below E[R] means
    trending (the eyeball check `weekly_trend`'s OLS slope formalizes
    from the other side), far above means oscillation. Nonparametric
    sibling of `mann_whitney_u` on the time axis.

    Integer-exact: the median is the exact rank-selected lower median
    (weeks AT the median count as 'below' — documented, oracle
    mirrors); R is a lag-compare sum; e_runs_ppm is one truncating
    division. One fact shuffle to the census; per-nation windows.
    """
    census = _weekly_nation_census(spark, sf_dir).select("nation", "wk", "cents")
    wmed = Window.partitionBy("nation").orderBy("cents", "wk")
    nwin = Window.partitionBy("nation")
    med = (
        census.select(
            "nation",
            "cents",
            F.row_number().over(wmed).alias("__rn"),
            F.count(F.lit(1)).over(nwin).alias("__n"),
        )
        .filter(F.col("__rn") == F.expr("(__n + 1) div 2"))
        .select("nation", F.col("cents").alias("__med"))
    )
    signs = census.join(med, "nation").select(
        "nation", "wk", (F.col("cents") > F.col("__med")).cast("int").alias("__s")
    )
    wseq = Window.partitionBy("nation").orderBy("wk")
    runs = signs.select(
        "nation",
        "__s",
        F.when(
            F.lag("__s").over(wseq).isNull()
            | (F.col("__s") != F.lag("__s").over(wseq)),
            1,
        )
        .otherwise(0)
        .alias("__new_run"),
    )
    agg = runs.groupBy("nation").agg(
        F.sum("__s").alias("__n1"),
        F.sum(F.lit(1) - F.col("__s")).alias("__n2"),
        F.sum("__new_run").alias("__r"),
    )
    return agg.select(
        "nation",
        F.col("__n1").cast("long").alias("n_above"),
        F.col("__n2").cast("long").alias("n_below"),
        F.col("__r").cast("long").alias("runs"),
        F.expr("1000000 + (2 * __n1 * __n2 * 1000000 div (__n1 + __n2))")
        .cast("long")
        .alias("e_runs_ppm"),
    ).orderBy("nation")


def q_source_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley data valuation (Ghorbani & Zou, ICML 2019) of four
    source groups, value function = distinct-shingle COVERAGE — "which
    data supplier actually adds content?", the curation question
    marginal counts answer wrongly when suppliers overlap (a group
    whose shingles all appear elsewhere is worth ~0 no matter its
    size; Shapley is the unique symmetric/efficient split). Groups =
    source id mod 4; `shapley_channels` is the same lattice machinery
    on journeys.

    All-integer by the coalition-lattice trick: the value function
    collapses to the ≤15-row BITMASK census (per shingle, OR of group
    bits — one shuffle), v(S) = Σ counts where mask∩S≠∅ against a
    16-row literal coalition spine, and n=4 Shapley weights ×12 are
    the integers {3,1,1,3} — φ·12 is exact, efficiency Σφ12 = 12·v(N)
    test-pinned. Plan: one (shingle, group)-distinct aggregate → one
    ≤15-row census; everything after is broadcast-lattice arithmetic.
    Flat at any corpus size (the state-space side of §6.4).
    """
    d = _docs_parallel(spark, sf_dir)
    ex = d.select(
        F.expr("cast(substring(source, 4) as int) % 4").alias("__g"),
        F.explode(dd.shingles(F.col("text"))).alias("__sh"),
    )
    # spooled: the ≤15-row bitmask census feeds v(S), whose four
    # downstream reads (both marginal sides, solo, grand) otherwise
    # each re-ran the corpus shingle explode

    mask_counts = spool(
        ex.groupBy("__sh")
        .agg(F.expr("bit_or(cast(1 as int) << __g)").alias("__mask"))
        .groupBy("__mask")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    coalitions = spark.createDataFrame(
        [(s,) for s in range(16)], "S int"
    )
    v = (
        coalitions.crossJoin(F.broadcast(mask_counts))
        .groupBy("S")
        .agg(
            F.sum(
                F.when(F.expr("(__mask & S) != 0"), F.col("__cnt")).otherwise(0)
            ).alias("__v")
        )
    )
    # (group, subset-without-group, weight×12): |S| ∈ {0,1,2,3} → w12 ∈ {3,1,1,3}
    w12 = {0: 3, 1: 1, 2: 1, 3: 3}
    spine_rows = [
        (g, s, s | (1 << g), w12[bin(s).count("1")])
        for g in range(4)
        for s in range(16)
        if not s & (1 << g)
    ]
    spine = spark.createDataFrame(
        spine_rows, "g int, S int, S_with int, w12 int"
    )
    vs = v.select(F.col("S").alias("__S0"), F.col("__v").alias("__v0"))
    vw = v.select(F.col("S").alias("__S1"), F.col("__v").alias("__v1"))
    phi = (
        spine.join(F.broadcast(vs), F.col("S") == F.col("__S0"))
        .join(F.broadcast(vw), F.col("S_with") == F.col("__S1"))
        .groupBy("g")
        .agg(
            F.sum(F.col("w12") * (F.col("__v1") - F.col("__v0"))).alias(
                "__phi12"
            )
        )
    )
    solo = v.select(F.col("S").alias("__Ss"), F.col("__v").alias("__v_solo"))
    grand = v.filter(F.col("S") == 15).select(
        F.col("__v").alias("__v_grand")
    )
    return (
        phi.join(F.broadcast(solo), F.expr("(1 << g) = __Ss"))
        .crossJoin(F.broadcast(grand))
        .select(
            F.col("g").cast("int").alias("source_group"),
            F.col("__phi12").cast("long").alias("shapley_x12"),
            F.col("__v_solo").cast("long").alias("v_solo"),
            F.col("__v_grand").cast("long").alias("v_grand"),
        )
        .orderBy("source_group")
    )


def q_max_coverage_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy submodular MAX-COVERAGE source selection (Nemhauser-
    Wolsey-Fisher 1978's (1−1/e) greedy — the data-subset-selection
    primitive behind corpus curation budgets): pick 5 of the 20
    sources, each round the source adding the most NOT-YET-COVERED
    distinct shingles, ties to the lexicographically smaller source.
    `kcenter_coreset` is the same greedy-trajectory pattern in vector
    space; this is its set-cover twin on text.

    Each round's argmax is a bounded ONE-ROW collect (model-artifact
    posture); candidate gains come from an anti-join of the SPOOLED
    (source, shingle)-distinct census against the covered set — the
    census materializes once, never re-exploding text (the winnow
    Generate lesson). Oracle replays the full 5-level greedy
    trajectory as unrolled CTEs. Output is the selection order with
    exact gain and cumulative coverage.
    """

    d = _docs_parallel(spark, sf_dir)
    census = spool(
        d.select(
            "source", F.explode(dd.shingles(F.col("text"))).alias("__sh")
        ).distinct()
    )
    selected: list[str] = []
    out_rows = []
    covered_total = 0
    for _ in range(5):
        cand = census
        if selected:
            cand = census.filter(~F.col("source").isin(selected))
            covered = (
                census.filter(F.col("source").isin(selected))
                .select("__sh")
                .distinct()
            )
            cand = cand.join(covered, "__sh", "left_anti")
        top_rows = (
            cand.groupBy("source")
            .agg(F.count(F.lit(1)).alias("gain"))
            .orderBy(F.col("gain").desc(), "source")
            .limit(1)
            .collect()
        )
        if not top_rows:
            break
        top = top_rows[0]
        selected.append(top["source"])
        covered_total += top["gain"]
        out_rows.append(
            (len(selected), top["source"], top["gain"], covered_total)
        )
    return spark.createDataFrame(
        out_rows, "pick_order int, source string, gain long, covered_total long"
    )


def q_pocock_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential A/B monitoring (Pocock, Biometrika 1977): the
    md5-parity user split (arm convention of `train_split`) monitored
    at 5 weekly looks on purchase-conversion, each look testing the
    CUMULATIVE 2×2 against the constant Pocock boundary for K=5,
    α=0.05 (z = 2.413 → χ² = 5.822569, a LITERAL both engines
    compare against — no engine evaluates a distribution function).
    The peeking-correct version of `ab_contingency_chi2`'s single
    test: 5 uncorrected α=.05 looks would inflate false positives to
    ~14%; Pocock's constant boundary restores the family-wise α.

    Hash-exactness: the output is the integer cumulative contingency
    plus the boundary verdict; χ² itself stays a double INSIDE the
    comparison (identical expression text both engines → identical
    IEEE bits → identical boolean — the chi2-as-ordering convention
    extended to thresholding). One event scan → (week, arm, conv)
    census → running sums over the 5-row-per-arm frame.
    """
    ev = read_table(spark, sf_dir, "events").select(
        F.floor(F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")) / 7)
        .cast("long")
        .alias("__wk"),
        F.expr(
            "cast(conv(substring(md5(cast(user_id as string)), 1, 1), 16, 10)"
            " as long) % 2"
        ).alias("__arm"),
        (F.col("event_type") == "purchase").cast("long").alias("__conv"),
    )
    weekly = ev.groupBy("__wk", "__arm").agg(
        F.sum("__conv").alias("__c"),
        F.sum(F.lit(1) - F.col("__conv")).alias("__nc"),
    )
    w = Window.partitionBy("__arm").orderBy("__wk")
    cum = weekly.select(
        "__wk",
        "__arm",
        F.sum("__c").over(w).alias("__cc"),
        F.sum("__nc").over(w).alias("__cnc"),
    )
    a = cum.filter(F.col("__arm") == 0).select(
        F.col("__wk").alias("wk"),
        F.col("__cc").alias("__a"),
        F.col("__cnc").alias("__b"),
    )
    b = cum.filter(F.col("__arm") == 1).select(
        F.col("__wk").alias("wk"),
        F.col("__cc").alias("__c2"),
        F.col("__cnc").alias("__d2"),
    )
    looks = a.join(b, "wk").select(
        F.dense_rank().over(Window.orderBy("wk")).cast("int").alias("look"),
        "wk",
        F.col("__a").cast("long").alias("a_conv"),
        F.col("__b").cast("long").alias("a_nonconv"),
        F.col("__c2").cast("long").alias("b_conv"),
        F.col("__d2").cast("long").alias("b_nonconv"),
    )
    chi2 = (
        "(cast((a_conv * b_nonconv - a_nonconv * b_conv) as double)"
        " * (a_conv * b_nonconv - a_nonconv * b_conv)"
        " * (a_conv + a_nonconv + b_conv + b_nonconv))"
        " / (cast((a_conv + a_nonconv) as double) * (b_conv + b_nonconv)"
        " * (a_conv + b_conv) * (a_nonconv + b_nonconv))"
    )
    return looks.select(
        "look",
        "wk",
        "a_conv",
        "a_nonconv",
        "b_conv",
        "b_nonconv",
        F.expr(f"cast({chi2} > 5.822569 as int)").cast("int").alias("crossed"),
    ).orderBy("look")


def q_burn_rate_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window error-budget BURN-RATE alerting (the Google SRE
    workbook policy): per day, the error rate over the 1-day and
    trailing-7-day windows, each expressed as a burn rate against the
    20%-of-events error budget (a literal calibrated to this fixture's
    uniform event mix); PAGE when BOTH windows burn ≥ 2× budget,
    TICKET at ≥ 1×. The two-window AND is the policy's point — a
    short spike alone (long window quiet) and a long slow burn alone
    (short window recovered) both stay quiet. Completes the
    operational-monitoring family (`drift_weekly_kl`, `cusum` via
    `changepoint_weeks`, `ewma_weekly`) with the SRE-native metric.

    Integer-exact: burn_milli = err·10⁹ div (tot·budget_ppm), one
    truncating division per window. Plan: one event scan → ~30-row
    daily census; the trailing window is a RANGE frame over the
    census (global window on ≤days rows — the documented bounded
    single-partition posture, same as every calendar-axis monitor
    here).
    """
    budget_ppm = 200000
    ev = read_table(spark, sf_dir, "events").select(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("__day"),
        (F.col("event_type") == "error").cast("long").alias("__err"),
    )
    daily = ev.groupBy("__day").agg(
        F.sum("__err").alias("__e1"), F.count(F.lit(1)).alias("__t1")
    )
    w7 = Window.orderBy("__day").rangeBetween(-6, 0)
    spans = daily.select(
        F.col("__day").alias("day"),
        F.col("__e1"),
        F.col("__t1"),
        F.sum("__e1").over(w7).alias("__e7"),
        F.sum("__t1").over(w7).alias("__t7"),
    )
    burn1 = F.expr(f"__e1 * 1000000000 div (__t1 * {budget_ppm})")
    burn7 = F.expr(f"__e7 * 1000000000 div (__t7 * {budget_ppm})")
    return spans.select(
        "day",
        F.col("__e1").cast("long").alias("err_1d"),
        F.col("__t1").cast("long").alias("tot_1d"),
        F.col("__e7").cast("long").alias("err_7d"),
        F.col("__t7").cast("long").alias("tot_7d"),
        burn1.cast("long").alias("burn_1d_milli"),
        burn7.cast("long").alias("burn_7d_milli"),
        ((burn1 >= 2000) & (burn7 >= 2000)).cast("int").alias("page_alert"),
        ((burn1 >= 1000) & (burn7 >= 1000)).cast("int").alias("ticket_alert"),
    ).orderBy("day")


def q_incident_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incident MTTR/MTBF accounting: error events sessionized into
    INCIDENTS (gap > 600 s closes one — the `sessionize_events`
    machinery pointed at service health instead of user behavior),
    rolled up to weekly n_incidents, total downtime, MTTR
    (downtime div incidents) and MTBF (week-seconds div incidents) —
    the reliability scorecard beside `burn_rate_alerts`' paging
    policy. Incidents are cut per DAY partition (a maintenance-
    boundary simplification, documented: a midnight-spanning incident
    counts once per day) so the sessionizing window never needs a
    global sort.

    Integer-exact: timestamps go through tz-free epoch-second
    arithmetic (`seconds_since_origin` — immune to session-tz/DST
    skew); durations, MTTR and MTBF are integer seconds with one
    truncating division each. One error-filtered scan → per-day
    windows → (incident) census → weekly rollup.
    """
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "error"
    )
    secs = tmp.seconds_since_origin("ts")
    base = ev.select(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("__day"),
        secs.alias("__s"),
        "event_id",
    )
    wday = Window.partitionBy("__day").orderBy("__s", "event_id")
    marked = base.select(
        "__day",
        "__s",
        "event_id",
        F.when(
            F.lag("__s").over(wday).isNull()
            | (F.col("__s") - F.lag("__s").over(wday) > 600),
            1,
        )
        .otherwise(0)
        .alias("__new"),
    ).select(
        "__day",
        "__s",
        F.sum("__new").over(
            Window.partitionBy("__day")
            .orderBy("__s", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ).alias("__inc"),
    )
    incidents = marked.groupBy("__day", "__inc").agg(
        F.min("__s").alias("__start"),
        F.max("__s").alias("__end"),
        F.count(F.lit(1)).alias("__n_ev"),
    )
    weekly = incidents.groupBy(
        F.expr("__day div 7").cast("long").alias("wk")
    ).agg(
        F.count(F.lit(1)).alias("__n_inc"),
        F.sum("__n_ev").alias("__n_err"),
        F.sum(F.col("__end") - F.col("__start")).alias("__down"),
    )
    return weekly.select(
        "wk",
        F.col("__n_inc").cast("long").alias("n_incidents"),
        F.col("__n_err").cast("long").alias("n_error_events"),
        F.col("__down").cast("long").alias("downtime_s"),
        F.expr("__down div __n_inc").cast("long").alias("mttr_s"),
        F.expr("604800 div __n_inc").cast("long").alias("mtbf_s"),
    ).orderBy("wk")


def q_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE via ``foreachBatch`` (`streaming/upsert_sink.py`):
    the orders snapshot arrives as micro-batch 1, the CDC update set
    (every 7th order repriced — the exact `upsert` derivation) as
    micro-batch 2, and each batch is merged into a parquet state dir
    by read → keyed full-outer → atomic overwrite — the relational
    core of Delta/Iceberg MERGE, minus the transaction log. Shares
    the BATCH `upsert` oracle verbatim, so the streaming path is
    hash-verified against the batch semantics (kappa parity for
    MERGE, the `event_value_by_nation`/`enrich_stream` pattern).

    Idempotence (the subtle part of any foreachBatch sink) is
    last-writer-wins BY KEY, asserted by a double-drain test. Scale:
    one keyed join per micro-batch; no driver-side state.
    """
    from .streaming.upsert_sink import upsert_drained  # noqa: PLC0415

    return upsert_drained(spark, sf_dir)


def q_join_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-order / pushdown cost audit: the EXACT intermediate
    cardinalities a cost-based optimizer estimates, measured — for
    the orders⋈customer⋈nation star under a status filter, four
    plans: fact-first vs dim-first join order, each with the filter
    pushed to the scan vs applied after the first join. The
    diagnostics table an engine owner reads beside
    `join_size_estimate` (the F₂ estimator this audits the ground
    truth for) and `rle_sort_key_planner`; the dim-first + pushed row
    IS Catalyst's choice, and the spread to the worst row is the
    price of getting order/pushdown wrong.

    All counts are exact integers from counting joins (the
    intermediate is COUNTED, never materialized wide — a count-only
    aggregate over the join keys). One scan per arm; only nation is
    broadcast by hint, since customer⋈nation grows with the data.
    Finals are asserted equal across plans in tests (join order can't
    change the answer, only the work).
    """
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey")
    of = o.filter(F.col("o_orderstatus") == "F")
    oc = o.join(c, o["o_custkey"] == c["c_custkey"])
    ofc = of.join(c, of["o_custkey"] == c["c_custkey"])
    cn = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    ofcn = of.join(cn, of["o_custkey"] == cn["c_custkey"])
    arms = [
        ("fact_first_late_filter", oc, oc.filter(F.col("o_orderstatus") == "F")
         .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])),
        ("fact_first_pushed", ofc, ofc.join(
            F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])),
        ("dim_first_late_filter", cn, o.join(cn, o["o_custkey"] == cn["c_custkey"])
         .filter(F.col("o_orderstatus") == "F")),
        ("dim_first_pushed", cn, ofcn),
    ]
    outs = []
    for name, inter, final in arms:
        outs.append(
            inter.agg(F.count(F.lit(1)).alias("intermediate_rows")).crossJoin(
                final.agg(F.count(F.lit(1)).alias("final_rows"))
            ).select(
                F.lit(name).alias("plan"),
                F.col("intermediate_rows").cast("long").alias(
                    "intermediate_rows"
                ),
                F.col("final_rows").cast("long").alias("final_rows"),
            )
        )
    out = outs[0]
    for a in outs[1:]:
        out = out.unionAll(a)
    return out.orderBy("plan")


def q_restatement_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal as-was/as-is reporting (restatement audit): weekly
    order revenue AS KNOWN at two literal report dates — a lineitem
    is "known" once SHIPPED (shipdate = transaction time, orderdate =
    valid time) — beside the final as-is number, plus the restatement
    the late-shipping tail caused. The accounting question
    (`scd2_pit_join` answers it for dimensions; this is the fact-side
    twin): "what did the Q1 report say, and how much was restated
    since?".

    One pass, conditional DECIMAL aggregation per knowledge cut (no
    per-cut re-scan); exact integer cents throughout. The week axis
    is valid-time; weeks after a cut simply show 0 known revenue —
    the honest as-was rendering.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_extendedprice").cast(MONEY) * 100)
        .cast("bigint")
        .alias("__cents"),
        F.col("l_shipdate").cast("date").alias("__ship"),
    )
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")) / 7
        ).cast("long").alias("__wk"),
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    cut1, cut2 = "1996-01-01", "1997-01-01"
    agg = j.groupBy("__wk").agg(
        F.sum(
            F.when(F.col("__ship") <= F.lit(cut1).cast("date"), F.col("__cents")).otherwise(0)
        ).alias("__k1"),
        F.sum(
            F.when(F.col("__ship") <= F.lit(cut2).cast("date"), F.col("__cents")).otherwise(0)
        ).alias("__k2"),
        F.sum("__cents").alias("__fin"),
    )
    return agg.select(
        F.col("__wk").alias("wk"),
        F.col("__k1").cast("long").alias("known_1996_cents"),
        F.col("__k2").cast("long").alias("known_1997_cents"),
        F.col("__fin").cast("long").alias("final_cents"),
        (F.col("__fin") - F.col("__k1")).cast("long").alias(
            "restated_since_1996_cents"
        ),
    ).orderBy("wk")


def q_cep_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern match (the MATCH_RECOGNIZE /
    Flink-CEP shape): per signup event, match `signup → purchase
    within 600 s with NO error strictly between` — sequence + time
    window + NEGATION, the three CEP primitives together.
    `sequence_mining` counts unconstrained subsequences; this is the
    guarded, windowed variant a fraud/funnel rule actually ships.
    Weekly census of signups vs full matches plus the negation's
    veto count.

    Deterministic semantics: the candidate purchase is the FIRST
    qualifying one per signup (min ts — a total order, strict
    inequalities); the negation window is the OPEN interval (signup,
    first purchase). Tz-free epoch-second arithmetic throughout.
    Plan: three user-keyed joins (signup×purchase, then ×error) —
    shuffle payloads are per-user event tuples, bounded by per-user
    burst density (the `event_cooccurrence` posture); no window over
    raw events, no cross join.
    """
    ev = read_table(spark, sf_dir, "events")
    secs = tmp.seconds_since_origin("ts")
    base = ev.select(
        "user_id",
        "event_type",
        secs.alias("__s"),
        "event_id",
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")) / 7
        ).cast("long").alias("__wk"),
    )
    sign = base.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("__u"),
        F.col("__s").alias("__ss"),
        F.col("event_id").alias("__sid"),
        "__wk",
    )
    pur = base.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("__u"), F.col("__s").alias("__ps")
    )
    first_p = (
        sign.join(pur, "__u")
        .filter((F.col("__ps") > F.col("__ss")) & (F.col("__ps") <= F.col("__ss") + 600))
        .groupBy("__u", "__sid", "__ss", "__wk")
        .agg(F.min("__ps").alias("__fp"))
    )
    err = base.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("__u"), F.col("__s").alias("__es")
    )
    vetoed = (
        first_p.join(err, "__u", "left")
        .groupBy("__u", "__sid", "__wk")
        .agg(
            F.max(
                (
                    F.col("__es").isNotNull()
                    & (F.col("__es") > F.col("__ss"))
                    & (F.col("__es") < F.col("__fp"))
                ).cast("int")
            ).alias("__veto")
        )
    )
    per_signup = sign.join(
        vetoed.select("__sid", "__veto"), "__sid", "left"
    ).select(
        "__wk",
        F.when(F.col("__veto") == 0, 1).otherwise(0).alias("__match"),
        F.when(F.col("__veto") == 1, 1).otherwise(0).alias("__vetoed"),
    )
    return (
        per_signup.groupBy(F.col("__wk").alias("wk"))
        .agg(
            F.count(F.lit(1)).alias("n_signups"),
            F.sum("__match").alias("__m"),
            F.sum("__vetoed").alias("__v"),
        )
        .select(
            "wk",
            F.col("n_signups").cast("long").alias("n_signups"),
            F.col("__m").cast("long").alias("n_matched"),
            F.col("__v").cast("long").alias("n_vetoed"),
            F.expr("__m * 1000000 div n_signups").cast("long").alias(
                "match_ppm"
            ),
        )
        .orderBy("wk")
    )


def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian ICDE 2007) —
    completing the privacy triad with `k_anonymity_audit` and
    `l_diversity_audit`: per quasi-identifier group (nation), the
    VARIATIONAL DISTANCE between the group's sensitive-attribute
    distribution (mktsegment) and the global one — the release is
    t-close iff every group's distance ≤ t. (For nominal attributes
    the paper's EMD reduces to exactly this 1/2·L1.)

    Integer-exact: dist = Σ|cntᵢ·N − Cᵢ·n| over the 5 segments (all
    products of counts), t_ppm = dist·10⁶ div (2·n·N) — one division.
    Plan: one (nation, segment) census off the broadcast-dim join;
    globals are a broadcast 5-row aggregate; everything after runs on
    the 125-row lattice. Flat in customer volume.
    """
    c = read_table(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    base = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).select(
        F.col("n_name").alias("nation"), F.col("c_mktsegment").alias("__seg")
    )
    cell = base.groupBy("nation", "__seg").agg(F.count(F.lit(1)).alias("__cnt"))
    glob = base.groupBy("__seg").agg(F.count(F.lit(1)).alias("__gc"))
    tot = base.agg(F.count(F.lit(1)).alias("__tt"))
    grp = base.groupBy("nation").agg(F.count(F.lit(1)).alias("__n"))
    # complete (nation × segment) lattice so absent cells contribute |0·N − Cᵢ·n|
    lattice = grp.crossJoin(F.broadcast(glob)).crossJoin(F.broadcast(tot))  # bounded: 5 segments
    full = lattice.join(cell, ["nation", "__seg"], "left").select(
        "nation",
        "__n",
        "__tt",
        F.abs(
            F.coalesce(F.col("__cnt"), F.lit(0)) * F.col("__tt")
            - F.col("__gc") * F.col("__n")
        ).alias("__term"),
    )
    return (
        full.groupBy("nation", "__n", "__tt")
        .agg(F.sum("__term").alias("__dist"))
        .select(
            "nation",
            F.col("__n").cast("long").alias("n_rows"),
            F.expr("__dist * 1000000 div (2 * __n * __tt)")
            .cast("long")
            .alias("t_ppm"),
        )
        .orderBy("nation")
    )


def q_gate_fairness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-fifths-rule (adverse impact) audit of a quality gate across
    languages — the fairness check a data-curation pipeline owes its
    gates (a filter that passes 60% of one language and 20% of
    another silently reshapes the corpus): gate = n_chars ≥ 300 (the
    `stump_gate` family's literal threshold form), per language the
    exact pass census, and the EEOC 80% test against the
    BEST-passing language evaluated by INTEGER CROSS-MULTIPLICATION
    (pass_g·n_best·5 ≥ pass_best·n_g·4 — no rate rounding can flip
    the verdict; the ppm columns are for reading, the flag is exact).

    Plan: one doc scan → 5-row language census; the best row is a
    broadcast rank-1 selection under (truncated integer ppm DESC,
    lang) — deterministic and engine-identical, no float anywhere.
    Flat at any corpus size.
    """
    d = read_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    census = d.groupBy(F.col("lang")).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum((F.col("n_chars") >= 300).cast("long")).alias("__p"),
    )
    best = (
        census.select(
            F.col("lang").alias("__bl"),
            F.col("__n").alias("__bn"),
            F.col("__p").alias("__bp"),
        )
        # argmax of p/n by cross-multiplication: p1·n2 > p2·n1
        .orderBy(
            F.expr("-__bp * 1000000 div __bn").asc(), F.col("__bl").asc()
        )
        .limit(1)
    )
    joined = census.crossJoin(F.broadcast(best))
    return joined.select(
        "lang",
        F.col("__n").cast("long").alias("n_docs"),
        F.col("__p").cast("long").alias("n_pass"),
        F.expr("__p * 1000000 div __n").cast("long").alias("pass_ppm"),
        F.col("__bl").alias("best_lang"),
        (
            F.col("__p") * F.col("__bn") * F.lit(5)
            >= F.col("__bp") * F.col("__n") * F.lit(4)
        )
        .cast("int")
        .alias("four_fifths_ok"),
    ).orderBy("lang")


def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail — the FIRST check every
    experimentation platform runs before reading any metric (a 50/50
    split that arrives 52/48 at scale means broken randomization, and
    every downstream metric is garbage): weekly ACTIVE-USER counts
    per md5-parity arm tested against the expected equal split. For
    the equal-split case χ² reduces to (a−b)²/(a+b), so the α=0.05
    verdict is the EXACT INTEGER comparison (a−b)²·1000 > 3841·(a+b)
    — no double anywhere, not even inside a comparison (one step
    stricter than `pocock_monitor`'s identical-double convention).

    Plan: one event scan → per-(week, arm) distinct-user census →
    5-row weekly frame. Flat at any volume.
    """
    ev = read_table(spark, sf_dir, "events").select(
        F.floor(F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")) / 7)
        .cast("long")
        .alias("__wk"),
        "user_id",
        F.expr(
            "cast(conv(substring(md5(cast(user_id as string)), 1, 1), 16, 10)"
            " as long) % 2"
        ).alias("__arm"),
    )
    weekly = ev.groupBy("__wk", "__arm").agg(
        F.countDistinct("user_id").alias("__u")
    )
    a = weekly.filter(F.col("__arm") == 0).select(
        F.col("__wk").alias("wk"), F.col("__u").alias("__ua")
    )
    b = weekly.filter(F.col("__arm") == 1).select(
        F.col("__wk").alias("wk"), F.col("__u").alias("__ub")
    )
    d = F.col("__ua") - F.col("__ub")
    return (
        a.join(b, "wk")
        .select(
            "wk",
            F.col("__ua").cast("long").alias("users_a"),
            F.col("__ub").cast("long").alias("users_b"),
            (d * d * 1000 > 3841 * (F.col("__ua") + F.col("__ub")))
            .cast("int")
            .alias("srm_flag"),
        )
        .orderBy("wk")
    )


def q_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker WSDM 2013)
    — the technique that makes A/B tests readable weeks earlier by
    regressing out pre-experiment behavior: per user, x = week-1
    purchase cents (pre-period covariate), y = weeks-2+ cents
    (experiment metric); θ = cov(x,y)/var(x) from the pooled moments,
    and each arm reports its raw vs θ-adjusted mean. Completes the
    experimentation shelf (`srm_check` → `pocock_monitor` →
    `ab_contingency_chi2` → this → `diff_in_diff`).

    Integer policy: θ_ppm = (n·Σxy − Σx·Σy)·10⁶ div (n·Σxx − (Σx)²)
    — the `weekly_trend` OLS-slope convention on exact cent moments,
    computed in DECIMAL(38,0) because the n·Σ products overflow
    BIGINT near sf1 (caught by the 10× replica probe, which died in
    an ANSI overflow before this guard); adjusted means apply θ_ppm
    with one further truncating division. Plan: one event scan →
    per-user conditional sums → one global + one per-arm census
    aggregate. The per-user frame is SPOOLED: the pooled-moment and
    per-arm aggregates otherwise each re-ran the event scan + groupBy
    (a 4× fact read for two census consumers).
    """

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    wk = F.floor(F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")) / 7)
    cents = (F.col("value").cast(MONEY) * 100).cast("long")
    first_wk = ev.agg(F.min(wk).alias("__w0"))
    per_user = spool(
        ev.crossJoin(F.broadcast(first_wk))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(wk == F.col("__w0"), cents).otherwise(0)).alias("__x"),
            F.sum(F.when(wk > F.col("__w0"), cents).otherwise(0)).alias("__y"),
        )
        .select(
            "user_id",
            "__x",
            "__y",
            F.expr(
                "cast(conv(substring(md5(cast(user_id as string)), 1, 1), 16,"
                " 10) as long) % 2"
            ).alias("__arm"),
        )
    )
    # The n·Σxy / Σx·Σy moment products overflow BIGINT near sf1
    # (measured: the 10× replica probe died in ANSI overflow), so θ
    # runs in DECIMAL(38,0) — exact to 38 digits — with TRUNCATING
    # division spelled as (num − num % den)/den (decimal `/` alone
    # rounds HALF_UP; `%` keeps the dividend's sign in both engines,
    # so the subtraction reproduces `div` semantics exactly, and
    # DuckDB's HUGEINT `//` matches on the oracle side).
    mom = per_user.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
    )
    num = (
        "(cast(__n as decimal(38,0)) * __sxy"
        " - cast(__sx as decimal(38,0)) * __sy) * 1000000"
    )
    den = (
        "(cast(__n as decimal(38,0)) * __sxx"
        " - cast(__sx as decimal(38,0)) * __sx)"
    )
    mom = mom.select(
        "*",
        F.expr(
            f"cast((({num}) - ({num}) % {den}) / {den} as bigint)"
        ).alias("__theta_ppm"),
    )
    arm = per_user.groupBy("__arm").agg(
        F.count(F.lit(1)).alias("__na"),
        F.sum("__x").alias("__ax"),
        F.sum("__y").alias("__ay"),
    )
    return (
        arm.crossJoin(F.broadcast(mom))
        .select(
            F.col("__arm").cast("int").alias("arm"),
            F.col("__na").cast("long").alias("n_users"),
            F.expr("__ay * 1000 div __na").cast("long").alias(
                "raw_mean_millicents"
            ),
            F.col("__theta_ppm").cast("long").alias("theta_ppm"),
            F.expr(
                "(__ay * 1000 div __na)"
                " - (__theta_ppm * ((__ax * 1000 div __na)"
                " - (__sx * 1000 div __n)) div 1000000)"
            )
            .cast("long")
            .alias("adj_mean_millicents"),
        )
        .orderBy("arm")
    )


def q_quantile_treatment_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects — the distributional read an A/B
    mean hides (a treatment that helps light users and hurts heavy
    ones can mean to zero): per md5-parity arm, the exact
    rank-selected deciles of per-user purchase spend, and the
    per-decile treatment−control difference. Completes the
    experimentation shelf (`srm_check` guardrail → `pocock_monitor`
    sequential → `cuped_adjustment` variance reduction → this
    distributional lens → `diff_in_diff` observational).

    Integer-exact: per-user spend is DECIMAL-cents; each decile is
    the ELEMENT at rank ⌈p·n/100⌉ under the (cents, user_id) total
    order (the `conversion_latency` rank-selection convention — never
    interpolation); the effect column is integer subtraction. Plan:
    one event scan → per-user census → per-arm rank windows over the
    user census → 9-row pivot.
    """
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    per_user = ev.groupBy("user_id").agg(
        (F.sum(F.col("value").cast(MONEY)) * 100).cast("bigint").alias("__cents")
    ).select(
        "user_id",
        "__cents",
        F.expr(
            "cast(conv(substring(md5(cast(user_id as string)), 1, 1), 16, 10)"
            " as long) % 2"
        ).alias("__arm"),
    )
    ranked = global_rank_scaled(
        per_user, "__cents", "__rn", ascending=True, tiebreaks=("user_id",),
        partition_cols=("__arm",), count_col="__n",
    ).select("__arm", "__cents", "__rn", "__n")
    # ONE pass over the ranked census, not eleven: the per-decile
    # union (9 branches) plus the arm split (2 filters) each re-ran
    # the whole rank subtree — Spark does no common-subexpression
    # reuse across union branches (the `ivf_probe_sweep` lesson).
    # Explode the 9 percentile literals against each census row and
    # keep rank hits, then pivot the two arms in one aggregate; the
    # both-arms-not-null filter is exactly the old inner join (ranks
    # are unique per arm, so each (pct, arm) selects ≤ 1 row).
    pcts = F.array(*[F.lit(p) for p in range(10, 100, 10)])
    dec = (
        ranked.select(
            "__arm", "__cents", "__rn", "__n", F.explode(pcts).alias("pct")
        )
        .filter(F.col("__rn") == F.expr("cast((pct * __n + 99) div 100 as int)"))
        .select("pct", "__arm", F.col("__cents").alias("__v"))
    )
    return (
        dec.groupBy("pct")
        .agg(
            F.max(F.when(F.col("__arm") == 0, F.col("__v"))).alias("__va"),
            F.max(F.when(F.col("__arm") == 1, F.col("__v"))).alias("__vb"),
        )
        .filter(F.col("__va").isNotNull() & F.col("__vb").isNotNull())
        .select(
            F.col("pct").cast("int").alias("pct"),
            F.col("__va").cast("long").alias("control_cents"),
            F.col("__vb").cast("long").alias("treat_cents"),
            (F.col("__vb") - F.col("__va")).cast("long").alias("qte_cents"),
        )
        .orderBy("pct")
    )


def q_experiment_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weekly experiment HEALTH REPORT — the composed table an
    experimentation platform actually renders (the `corpus_pipeline`
    composition pattern applied to the experiment shelf): per week,
    the SRM guardrail beside the Pocock sequential verdict, and the
    gating rule every platform enforces spelled as a column —
    `verdict_valid` = effect crossed AND randomization clean, because
    a significant effect under sample-ratio mismatch is a bug report,
    not a result. Composes `srm_check` ⋈ `pocock_monitor` on the
    week; both sides re-derive from one events table, and the oracle
    composes the two member oracles the same way — the composition
    itself is what this query hash-verifies.
    """
    srm = q_srm_check(spark, sf_dir).select(
        "wk", "users_a", "users_b", "srm_flag"
    )
    poc = q_pocock_monitor(spark, sf_dir).select(
        "wk", "look", "a_conv", "a_nonconv", "b_conv", "b_nonconv", "crossed"
    )
    return (
        srm.join(poc, "wk")
        .select(
            "wk",
            "look",
            "users_a",
            "users_b",
            "srm_flag",
            "a_conv",
            "a_nonconv",
            "b_conv",
            "b_nonconv",
            F.col("crossed").alias("effect_crossed"),
            ((F.col("crossed") == 1) & (F.col("srm_flag") == 0))
            .cast("int")
            .alias("verdict_valid"),
        )
        .orderBy("wk")
    )


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index MATERIALIZATION over the document corpus — the
    build side of the search stack whose query side ``bm25_search``
    already covers: per term, document frequency, total term
    frequency, and a CAPPED posting list (top-8 docs by tf DESC,
    doc_id ASC, rendered ``doc:tf``). Hapax terms (df = 1) are
    dropped — they bloat a real index and carry no retrieval signal.

    The posting CAP is the scale design, not a convenience: an
    uncapped posting list for a stop-word-frequency term is a
    data-proportional ARRAY on one reducer — and so is
    collect-then-slice (the whole array materializes before the
    slice, un-spillable). The cap therefore runs as a row_number ≤ 8
    filter over the (term, doc, tf) CENSUS: the per-term sort is
    spill-safe external sort state, payload stays count tuples,
    never text, never an unbounded array. df / total_tf ride the
    SAME window partition (full-census aggregates over an
    already-sorted run — no second scan, no self-join branch that
    would recompute the census lineage). Plan: one (term, doc)
    shuffle for tf → one term-keyed sort for the window → the ≤8
    survivors aggregate to a bounded array. A degenerate term whose
    census itself skews a reducer would sub-salt the tf census (the
    ``skewed_flag_history`` pattern); the sort spills long before
    that matters.
    """
    d = read_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    td = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    w = Window.partitionBy("term").orderBy(F.col("__tf").desc(), "doc_id")
    wfull = Window.partitionBy("term")
    ranked = td.select(
        "term",
        "doc_id",
        "__tf",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(wfull).cast("long").alias("df"),
        F.sum("__tf").over(wfull).cast("long").alias("total_tf"),
    ).filter(F.col("__rn") <= 8)
    # survivors arrive pre-sorted; struct(rn, …) keeps render order exact
    posting = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("__rn").alias("rn"),
                        F.concat_ws(":", F.col("doc_id"), F.col("__tf").cast("long")).alias(
                            "entry"
                        ),
                    )
                )
            ),
            lambda s: s["entry"],
        ),
        ",",
    )
    return (
        ranked.groupBy("term")
        .agg(
            F.first("df").alias("df"),
            F.first("total_tf").alias("total_tf"),
            posting.alias("postings"),
        )
        .filter(F.col("df") >= 2)
        .orderBy(F.col("df").desc(), "term")
    )


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter record linkage (JASA 1969) — the probabilistic
    entity-resolution pattern every MDM/identity pipeline runs:
    BLOCK candidate pairs cheaply, score each pair by summing
    per-field agreement/disagreement log-odds weights, tier into
    MATCH / POSSIBLE. Here: customer self-linkage (duplicate-account
    detection) blocked on (nation, R$500 balance band), scored on
    market-segment, balance-within-R$100, and same-cent-fraction
    agreement with fixed integer milli-log-odds weights (a trained
    FS model is a constant table — broadcast posture, like
    ``quality_logistic``'s coefficients).

    OVERLAPPING two-pass blocking is the recall guarantee: bands of
    width 50 000 cents plus a second pass shifted by 25 000 mean any
    pair within 25 000 cents shares at least one block — the classic
    fix for boundary-straddling duplicates that single-pass blocking
    drops. Pairs found by both passes dedup on the key pair.

    Integer policy: balances as exact DECIMAL→BIGINT cents; weights
    are integer literals; the score is a plain sum — no float
    anywhere. Plan: two shuffles (block-key self-join co-partition,
    pair-key distinct); pair fan-out is bounded by block occupancy
    (value-banded blocking, the LSH-bucket discipline on a numeric
    axis); a skewed band would sub-split on a second attribute, the
    ``salted_join`` pattern.
    """
    cents = (F.col("c_acctbal").cast(MONEY) * 100).cast("long")
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        cents.alias("__cents"),
    )
    blocked = c.withColumn("__pass", F.explode(F.array(F.lit(0), F.lit(1)))).withColumn(
        "__band",
        F.when(F.col("__pass") == 0, F.expr("__cents div 50000")).otherwise(
            F.expr("(__cents + 25000) div 50000")
        ),
    )
    a = blocked.select(
        F.col("c_custkey").alias("key_a"),
        F.col("c_nationkey").alias("__nat"),
        F.col("c_mktsegment").alias("__seg_a"),
        F.col("__cents").alias("__cents_a"),
        "__pass",
        "__band",
    )
    b = blocked.select(
        F.col("c_custkey").alias("key_b"),
        F.col("c_nationkey").alias("__nat"),
        F.col("c_mktsegment").alias("__seg_b"),
        F.col("__cents").alias("__cents_b"),
        "__pass",
        "__band",
    )
    pairs = (
        a.join(b, ["__nat", "__pass", "__band"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", "__nat", "__seg_a", "__seg_b", "__cents_a", "__cents_b")
        .distinct()
    )
    w_seg = F.when(F.col("__seg_a") == F.col("__seg_b"), F.lit(1609)).otherwise(F.lit(-223))
    w_bal = F.when(
        F.abs(F.col("__cents_a") - F.col("__cents_b")) <= 10000, F.lit(2303)
    ).otherwise(F.lit(-105))
    w_cent = F.when(
        F.col("__cents_a") % 100 == F.col("__cents_b") % 100, F.lit(2996)
    ).otherwise(F.lit(-51))
    score = (w_seg + w_bal + w_cent).cast("long")
    return (
        pairs.select(
            "key_a",
            "key_b",
            F.col("__nat").cast("long").alias("nationkey"),
            score.alias("score_milli"),
            F.when(score >= 4000, F.lit("MATCH"))
            .when(score >= 1000, F.lit("POSSIBLE"))
            .otherwise(F.lit("NON_MATCH"))
            .alias("tier"),
        )
        .filter(F.col("tier") != "NON_MATCH")
        .orderBy(F.col("score_milli").desc(), "key_a", "key_b")
    )


def q_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances over the co-purchase graph —
    the one graph primitive the family (PageRank, LPA, triangles,
    k-core, HyperBall) was still missing: exact shortest-hop
    distance from a seed set, the spine of influence radius,
    crawl-frontier depth, and "distance to a trusted core" features.
    Seeds: the top-3 hubs by (degree DESC, part ASC); 3 unrolled
    frontier expansions (hop ≤ 3), distance = MIN hop at which a
    node is reached — all integers, bit-identical cross-engine.

    Plan: the ``_basket_pairs`` spine → symmetric distinct edge list
    SPOOLED once (the ``pagerank_items`` lesson: without it every
    frontier join replays the basket fan-out lineage); each hop is
    ONE shuffle joining the spooled edges against a frontier of bare
    node ids — Pregel-shaped, payload = node ids, never baskets.
    Frontiers are NOT subtracted from the visited set per hop (a
    distinct-minus-join per round); the final MIN(hop) aggregate
    resolves re-reached nodes in one pass — fewer shuffles, same
    answer, the right trade at 3 hops.
    """

    edges_deg = _edges_sym_deg(spark, sf_dir)
    edges = edges_deg.select("u", "v")
    deg = edges_deg.select("u", "__deg").distinct()
    seeds = deg.orderBy(F.col("__deg").desc(), "u").limit(3).select("u")
    reached = seeds.select(F.col("u").alias("node"), F.lit(0).alias("hop"))
    frontier = seeds.select(F.col("u").alias("node"))
    for i in (1, 2, 3):
        frontier = (
            edges.join(frontier, edges["u"] == frontier["node"])
            .select(F.col("v").alias("node"))
            .distinct()
        )
        reached = reached.unionAll(frontier.select("node", F.lit(i).alias("hop")))
    return (
        reached.groupBy("node")
        .agg(F.min("hop").cast("long").alias("hop"))
        .join(deg, reached["node"] == deg["u"])
        .select(F.col("node").alias("part"), "hop", F.col("__deg").cast("long").alias("degree"))
        .orderBy("hop", "part")
    )


def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration fit of the learned quality score —
    the step AFTER ``quality_calibration``'s reliability audit: fit
    the best monotone pass-rate curve over the score deciles
    (Barlow et al. 1972; what sklearn's IsotonicRegression does to
    calibrate a classifier). Computed by the MINIMAX identity
    iso(i) = max_{j≤i} min_{k≥i} mean(pass over deciles j..k) — the
    closed form of pool-adjacent-violators that needs no sequential
    merging, so it is pure joins/aggregates on the decile census.

    Integer policy: range means are one truncating division each of
    exact pass/doc counts (cumulative-sum differences); min/max over
    already-rounded integers is order-exact cross-engine (rounded
    values are never summed — the repo float rule). Scale: the whole
    fit runs on the ≤10-row decile census — the O(bins²) range
    lattice is ~55 rows, the (i, j, k) triple ~220 — so the plan is
    FLAT in corpus size; only ``quality_calibration``'s one document
    scan sees data, and the census is SPOOLED because FOUR plan
    branches (cum frame, range ends, points, final attach) would
    otherwise each replay that scan (measured 14.6 → ~3 s at
    sf0.01). The census window is the documented bounded
    single-partition edge (``abc_classification`` precedent).
    """

    cal = spool(q_quality_calibration(spark, sf_dir))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = cal.select(
        "decile",
        "n_docs",
        "n_gopher_pass",
        "pass_rate_ppm",
        F.sum("n_docs").over(w).alias("__cn"),
        F.sum("n_gopher_pass").over(w).alias("__cp"),
    )
    j = c.select(
        F.col("decile").alias("__jd"),
        F.col("n_docs").alias("__jn"),
        F.col("n_gopher_pass").alias("__jp"),
        F.col("__cn").alias("__jcn"),
        F.col("__cp").alias("__jcp"),
    )
    k = c.select(
        F.col("decile").alias("__kd"),
        F.col("__cn").alias("__kcn"),
        F.col("__cp").alias("__kcp"),
    )
    ranges = (
        j.join(k, F.col("__jd") <= F.col("__kd"))
        .select(
            "__jd",
            "__kd",
            (F.col("__kcp") - F.col("__jcp") + F.col("__jp")).alias("__rp"),
            (F.col("__kcn") - F.col("__jcn") + F.col("__jn")).alias("__rn"),
        )
        .select("__jd", "__kd", F.expr("__rp * 1000000 div __rn").alias("__mean_ppm"))
    )
    pts = c.select(F.col("decile").alias("__i"))
    iso = (
        pts.join(
            ranges,
            (F.col("__jd") <= F.col("__i")) & (F.col("__i") <= F.col("__kd")),
        )
        .groupBy("__i", "__jd")
        .agg(F.min("__mean_ppm").alias("__mn"))
        .groupBy("__i")
        .agg(F.max("__mn").alias("iso_rate_ppm"))
    )
    return (
        cal.join(iso, cal["decile"] == iso["__i"])
        .select(
            "decile",
            "n_docs",
            F.col("pass_rate_ppm").alias("raw_rate_ppm"),
            "iso_rate_ppm",
            (F.col("iso_rate_ppm") != F.col("pass_rate_ppm")).cast("int").alias("pooled"),
        )
        .orderBy("decile")
    )


def q_km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier product-limit survival curve (JASA 1958) over the
    censored tenure census ``hazard_weekly`` builds — the cumulative
    complement the hazard table implies but does not show: S(k) =
    Π_{j≤k} (at_risk_j − churned_j) / at_risk_j, the "probability a
    user survives past tenure week k" curve a retention review reads.

    The recurrence is inherently SEQUENTIAL (each week's factor
    multiplies the previous survival), so it cannot be an associative
    aggregate; it runs as ONE applyInPandas fold over the
    calendar-bounded census (≤ observation-weeks rows — bounded by
    time span, not data volume; the oracle-checked escape-hatch
    posture of ``events_summary``). Integer policy: survival stays in
    ppm BIGINTs with one truncating division per week —
    s ← (s·(r−c)) div r — bit-identical to the oracle's recursive
    CTE; s·r fits long until population ~10¹⁰ (documented bound).
    Everything data-proportional happens inside ``hazard_weekly``'s
    one fact scan.
    """
    haz = q_hazard_weekly(spark, sf_dir)

    def _fold(pdf):  # noqa: ANN001, ANN202 — pandas batch, bounded census
        pdf = pdf.sort_values("week_k").reset_index(drop=True)
        s = 1_000_000
        out = []
        for r, ch in zip(pdf["at_risk"], pdf["n_churned"]):
            s = (s * (int(r) - int(ch))) // int(r)
            out.append(s)
        pdf["survival_ppm"] = out
        return pdf.drop(columns=["__g"])

    return (
        haz.withColumn("__g", F.lit(1))
        .groupBy("__g")
        .applyInPandas(
            _fold,
            "week_k long, at_risk long, n_churned long, n_censored long, "
            "hazard_ppm long, survival_ppm long",
        )
        .orderBy("week_k")
    )


def q_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table MONEY reconciliation — the finance-close audit
    ``fk_conformance`` (keys) and ``mrr_waterfall`` (one table's
    bridge) don't cover: does the order header's total equal the sum
    of its lines at line terms, Σ extendedprice·(1−discount)·(1+tax)?
    Per order status: orders, headerless-line orphans, mismatches,
    mismatch ppm, and the largest absolute delta — the table a data
    platform publishes when two upstream systems disagree. (On this
    synthetic fixture the header total is independent of the lines,
    so the audit correctly reports ~100% mismatch — the query's
    value is the exact delta census, not a green checkmark.)

    Integer policy: NO decimal-precision chains — every money value
    moves to BIGINT micros first (cents·100·100 via two integer
    percent factors: micros = ext_cents·(100−disc_pct)·(100+tax_pct)),
    so the per-order delta is exact integer subtraction in both
    engines. Plan: one lineitem shuffle keyed by order (map-side
    partial sums), broadcast-free join to headers on the same key,
    one ≤|statuses|-row census.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (
            ((F.col("l_extendedprice").cast(MONEY) * 100).cast("long"))
            * (F.lit(100) - (F.col("l_discount").cast(MONEY) * 100).cast("long"))
            * (F.lit(100) + (F.col("l_tax").cast(MONEY) * 100).cast("long"))
        ).alias("__micros"),
    )
    per_order = li.groupBy("l_orderkey").agg(F.sum("__micros").alias("__calc"))
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        ((F.col("o_totalprice").cast(MONEY) * 100).cast("long") * 10000).alias("__total"),
    )
    joined = o.join(per_order, o["o_orderkey"] == per_order["l_orderkey"], "left")
    delta = F.col("__calc") - F.col("__total")
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.when(F.col("__calc").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_no_lines"),
            F.sum(F.when(delta != 0, 1).otherwise(0)).cast("long").alias("n_mismatch"),
            F.max(F.abs(delta)).cast("long").alias("max_abs_delta_micros"),
        )
        .select(
            "o_orderstatus",
            "n_orders",
            "n_no_lines",
            "n_mismatch",
            F.expr("n_mismatch * 1000000 div n_orders").alias("mismatch_ppm"),
            "max_abs_delta_micros",
        )
        .orderBy("o_orderstatus")
    )


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve per source — the marginal-
    novelty read a corpus curator takes before buying MORE of a
    source: at each decile of the source's documents (ingest order =
    doc_id), cumulative tokens vs cumulative DISTINCT vocabulary. A
    source whose curve has flattened contributes volume, not novelty
    — the diminishing-returns complement to ``max_coverage_select``'s
    greedy pick and ``vocab_coverage``'s fixed-vocab OOV rate.

    All integer: per-source doc rank (row_number over doc_id), each
    term's FIRST rank (min over its docs), then both cumulatives live
    on the (source, rank) census — new-vocab-at-rank is a count of
    first-rank terms, so cum_vocab is a window sum, never a running
    distinct. Checkpoints are ceil(d·n/10) ranks joined against the
    census. Scale: one source-keyed rank window (partitions =
    sources; a mega-source would two-pass the rank, the
    ``key_gap_islands`` note), one (source, term) min-aggregate whose
    shuffle carries term/count tuples, cums on census rows.
    """
    d = read_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    wr = Window.partitionBy("source").orderBy("doc_id")
    ranked = d.select(
        "source",
        "doc_id",
        F.row_number().over(wr).alias("__r"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("__ntok"),
        F.split(F.col("text"), " ").alias("__toks"),
    )
    first_rank = (
        ranked.select("source", "__r", F.explode("__toks").alias("__term"))
        .filter(F.col("__term") != "")
        .groupBy("source", "__term")
        .agg(F.min("__r").alias("__fr"))
        .groupBy("source", F.col("__fr").alias("__r"))
        .agg(F.count(F.lit(1)).alias("__new_terms"))
    )
    census = (
        ranked.select("source", "__r", "__ntok")
        .join(first_rank, ["source", "__r"], "left")
        .select(
            "source",
            "__r",
            "__ntok",
            F.coalesce(F.col("__new_terms"), F.lit(0)).alias("__nt"),
        )
    )
    wc = Window.partitionBy("source").orderBy("__r").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cums = census.select(
        "source",
        "__r",
        F.sum("__ntok").over(wc).alias("__cum_tokens"),
        F.sum("__nt").over(wc).alias("__cum_vocab"),
    )
    ndocs = census.groupBy("source").agg(F.max("__r").alias("__n"))
    checkpoints = ndocs.select(
        "source",
        F.explode(F.sequence(F.lit(1), F.lit(10))).alias("decile"),
        "__n",
    ).select(
        "source",
        "decile",
        F.expr("(decile * __n + 9) div 10").alias("__r"),
    )
    return (
        checkpoints.join(cums, ["source", "__r"])
        .select(
            "source",
            F.col("decile").cast("long").alias("decile"),
            F.col("__r").cast("long").alias("n_docs"),
            F.col("__cum_tokens").cast("long").alias("cum_tokens"),
            F.col("__cum_vocab").cast("long").alias("cum_vocab"),
        )
        .orderBy("source", "decile")
    )


def q_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-burst detector — the abuse/bot screen every
    event pipeline runs before trusting engagement counts: the
    maximum number of events any single user fires inside a trailing
    1-hour window, found with a RANGE frame over tz-free epoch
    seconds (``rangeBetween(-3599, 0)`` — the value-range window the
    rest of the window family's ROWS frames don't exercise). Reports
    users whose peak meets the threshold (≥2 here — fixture-scaled),
    with the earliest second at which the peak occurs.

    Integer-exact: epoch seconds via ``seconds_since_origin`` (NTZ
    origin — timezone-proof), counts, and a min-over-argmax resolved
    by one conditional aggregate (no floats, no rank ties to break).
    Scale: ONE user-keyed shuffle; the RANGE frame is a per-user
    ordered scan (Spark evaluates it streaming over the sorted run —
    no pairwise self-join, which is how this is NOT the O(n²)
    time-band join); per-user state is the 1-hour event buffer.
    """
    e = read_table(spark, sf_dir, "events").select(
        "user_id", tmp.seconds_since_origin("ts").alias("__sec")
    )
    wb = Window.partitionBy("user_id").orderBy("__sec").rangeBetween(-3599, 0)
    b = e.select("user_id", "__sec", F.count(F.lit(1)).over(wb).alias("__burst"))
    # argmax with earliest-tie-break as ONE deterministic aggregate:
    # min over (−burst, sec) structs = (max burst, earliest peak sec)
    peak = F.min(
        F.struct((-F.col("__burst")).alias("nb"), F.col("__sec").alias("s"))
    )
    per_user = b.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        peak.alias("__pk"),
    )
    return (
        per_user.select(
            "user_id",
            "n_events",
            (-F.col("__pk.nb")).cast("long").alias("max_burst_1h"),
            F.col("__pk.s").cast("long").alias("peak_sec"),
        )
        .filter(F.col("max_burst_1h") >= 2)
        .orderBy(F.col("max_burst_1h").desc(), "user_id")
    )


def q_weekly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlesticks — the finance-standard open/high/low/close
    rollup, here per (nation, week) over order totals: open = first
    order's value in the week, close = last, high/low = extremes,
    plus volume (exact cents) and trade count. The one argfirst/
    arglast rollup shape (A10's ``first_by`` generalized to both
    ends of an ordered group) the aggregate family hadn't composed.

    Determinism: open/close resolve as MIN/MAX over
    (epoch_day, orderkey, cents) structs — orderkey breaks same-day
    ties, so the candle is bit-identical under any partitioning (a
    plain first()/last() over a grouped frame is NOT — Spark
    documents them non-deterministic). All money in BIGINT cents;
    one orders⋈customer key join (broadcast nation attach), one
    (nation, week) census aggregate riding map-side partials.
    """
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("week", "o_orderdate").cast("date").alias("__wk"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01")).alias("__day"),
        "o_orderkey",
        (F.col("o_totalprice").cast(MONEY) * 100).cast("long").alias("__cents"),
    )
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            "n_name",
            "__wk",
            F.struct(
                F.col("__day").alias("d"),
                F.col("o_orderkey").alias("k"),
                F.col("__cents").alias("v"),
            ).alias("__ord"),
            "__cents",
        )
    )
    return (
        j.groupBy("n_name", "__wk")
        .agg(
            F.min("__ord")["v"].alias("open_cents"),
            F.max("__cents").alias("high_cents"),
            F.min("__cents").alias("low_cents"),
            F.max("__ord")["v"].alias("close_cents"),
            F.sum("__cents").alias("volume_cents"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.date_format("__wk", "yyyy-MM-dd").alias("week"),
            "open_cents",
            "high_cents",
            "low_cents",
            "close_cents",
            "volume_cents",
            "n_orders",
        )
        .orderBy("nation", "week")
    )


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-based common-neighbor link prediction over the
    co-purchase graph — the graph family's PREDICTION task (PageRank
    ranks, LPA labels, triangles count; this says which edge forms
    next): for the top-20 degree hubs, the 3 strongest non-adjacent
    partners by common-neighbor count, with neighborhood-Jaccard ppm
    — the "recommend co-purchase partners for these SKUs" serving
    shape. Adamic–Adar's 1/ln(deg) weighting is deliberately NOT
    used — per-neighbor ln() is the libm hazard that broke
    ``join_skew_profile`` in r4; common-neighbor + Jaccard carry the
    same signal as exact integers.

    SEED-bounding is the scale design: the all-pairs wedge census is
    Σ deg²/2 rows (measured 298M on this graph — 24 s at sf0.1, and
    the expression-side adjacency-array variant was WORSE: flattening
    d² structs per row stalled the GC where the streaming join did
    not). Restricting wedges to seed–middle–candidate paths caps the
    stream at |seeds|·d̄² (~280k rows here) while keeping the
    statistic EXACT for the queried seeds — how production link
    prediction actually serves. Plan: spooled edge list (three
    consumers — the ``pagerank_items`` lesson), seed attach, one
    wedge join + one (seed, candidate) census, anti-join vs existing
    edges, degree attach, per-seed top-3 window on the bounded
    census. Jaccard ppm is one truncating division per pair.
    """

    edges = _edges_sym_deg(spark, sf_dir).select("u", "v")
    deg = _symdeg_nodes(spark, sf_dir)
    # seeds CARRY their degree, so the __da attach needs no third deg
    # subtree.
    seeds = deg.orderBy(F.col("__deg").desc(), "u").limit(20).select(
        F.col("u").alias("__a"), F.col("__deg").alias("__da")
    )
    ea = edges.join(seeds.select("__a"), edges["u"] == F.col("__a")).select(
        "__a", F.col("v").alias("__w")
    )
    wedges = (
        ea.join(edges, ea["__w"] == edges["u"])
        .filter(F.col("v") != F.col("__a"))
        .groupBy("__a", F.col("v").alias("__b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    # Adjacency check against SEED-INCIDENT edges only (r10-opt):
    # every candidate pair's left end is a seed, so the anti-join
    # right side needs only edges whose u is a seed — ~|seeds|·d̄ rows
    # instead of the full symmetric edge list (2.4M rows at sf0.1) per
    # call. Same matches by construction. No broadcast hint: |seeds| is
    # a constant 20 but per-seed degree is data-proportional, so the
    # size-checked planner decides (ADVICE r10 — the r10 after-plan is
    # SortMergeJoin LeftAnti over the shrunken side, as captured).
    seed_edges = edges.join(
        seeds.select("__a"), edges["u"] == F.col("__a")
    ).select(F.col("u").alias("__su"), F.col("v").alias("__sv"))
    cand = wedges.join(
        seed_edges,
        (wedges["__a"] == seed_edges["__su"])
        & (wedges["__b"] == seed_edges["__sv"]),
        "left_anti",
    )
    da = seeds.select("__a", "__da")
    db = deg.select(F.col("u").alias("__b"), F.col("__deg").alias("__db"))
    wr = Window.partitionBy("__a").orderBy(F.col("common").desc(), "__b")
    return (
        cand.join(da, "__a")
        .join(db, "__b")
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("__a").alias("seed_part"),
            F.col("rank").cast("long").alias("rank"),
            F.col("__b").alias("candidate_part"),
            F.col("common").cast("long").alias("common_neighbors"),
            F.expr("common * 1000000 div (__da + __db - common)").alias("jaccard_ppm"),
        )
        .orderBy("seed_part", "rank")
    )


def q_sla_compliance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day SLA compliance — the calendar arithmetic every
    ops warehouse needs and naive datediff gets wrong: each line must
    ship within N BUSINESS days of its order date (N per order
    priority, the broadcast policy table), where weekends don't
    count. Per priority: lines, breaches, breach ppm, and the worst
    calendar-day overrun.

    The deadline is a CLOSED FORM on epoch days — no calendar UDF,
    no recursive walk: start' = start pushed off a weekend
    (+2 if Sat, +1 if Sun via dow = (day+3) mod 7, Monday = 0), then
    deadline = start' + (N div 5)·7 + (N mod 5) + 2·[dow(start') +
    N mod 5 ≥ 5] (the remainder crossing a weekend costs exactly the
    2 weekend days). Pure integer arithmetic both engines — the
    ``srm_check`` discipline applied to calendars. One
    orders⋈lineitem key join + a ≤|priorities| census.
    """
    sla = F.when(F.col("o_orderpriority") == "1-URGENT", 3).when(
        F.col("o_orderpriority") == "2-HIGH", 5
    ).when(F.col("o_orderpriority") == "3-MEDIUM", 10).when(
        F.col("o_orderpriority") == "4-NOT SPECIFIED", 15
    ).otherwise(20)
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01")).alias("__d0"),
        sla.alias("__sla"),
    )
    li = read_table_parallel(spark, sf_dir, "lineitem", by=("l_orderkey",)).select(
        "l_orderkey",
        F.datediff(F.col("l_shipdate").cast("date"), F.lit("1970-01-01")).alias("__ship"),
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "o_orderpriority", "__d0", "__sla", "__ship"
    )
    dow0 = (F.col("__d0") + 3) % 7
    start = F.col("__d0") + F.when(dow0 == 5, 2).when(dow0 == 6, 1).otherwise(0)
    dow_s = (start + 3) % 7
    rem = F.col("__sla") % 5
    deadline = (
        start
        + F.expr("(__sla div 5) * 7")
        + rem
        + F.when(dow_s + rem >= 5, 2).otherwise(0)
    )
    scored = j.select(
        "o_orderpriority",
        (F.col("__ship") > deadline).cast("int").alias("__breach"),
        F.greatest(F.col("__ship") - deadline, F.lit(0)).alias("__over"),
    )
    return (
        scored.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum("__breach").cast("long").alias("n_breach"),
            F.max("__over").cast("long").alias("max_overrun_days"),
        )
        .select(
            F.col("o_orderpriority").alias("priority"),
            "n_lines",
            "n_breach",
            F.expr("n_breach * 1000000 div n_lines").alias("breach_ppm"),
            "max_overrun_days",
        )
        .orderBy("priority")
    )


def q_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-payment screen — the AP-audit staple (same payer,
    same amount, close together ⇒ probable double submission) that
    the NEAR-dup family deliberately doesn't cover: the match key is
    the payment AMOUNT, the evidence is temporal proximity. On a
    production ledger the key is exact cents; this fixture's totals
    are continuous synthetics (exact collisions: zero at every SF —
    measured), so the shipped screen matches on R$1,000 amount BANDS
    (cents div 100 000, one band-width parameter) — the same
    blocking-loosened-for-recall call ``entity_resolution``
    documents. Reports each (customer, band) repeat group with its
    order count, tightest consecutive gap in days, and the flag at
    the ≤7-day policy line.

    Plan: ONE (custkey, band) shuffle — the consecutive-gap lag
    window rides the SAME partitioning as the group aggregate (the
    window key equals the grouping key, so Spark reuses the
    exchange); integer cents and epoch-day gaps, timezone-proof.
    At any scale the shuffle payload is (key, day) tuples.
    """
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(
            "cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint) div 100000"
        ).alias("__band"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01")).alias("__day"),
        "o_orderkey",
    )
    wl = Window.partitionBy("o_custkey", "__band").orderBy("__day", "o_orderkey")
    gap = F.col("__day") - F.lag("__day").over(wl)
    g = o.select("o_custkey", "__band", gap.alias("__gap"))
    return (
        g.groupBy("o_custkey", "__band")
        .agg(
            (F.count(F.lit(1))).cast("long").alias("n_orders"),
            F.min("__gap").cast("long").alias("min_gap_days"),
        )
        .filter(F.col("n_orders") >= 2)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("__band").alias("amount_band"),
            "n_orders",
            "min_gap_days",
            (F.col("min_gap_days") <= 7).cast("int").alias("suspicious"),
        )
        .orderBy("min_gap_days", "custkey", "amount_band")
    )


def q_acf_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (lags 1–4) of each nation's weekly
    revenue — the seasonality/persistence diagnostic that completes
    the time-series shelf (`weekly_trend` slope, `runs_test`
    randomness, `changepoint_weeks` CUSUM, `ewma_weekly` smoothing;
    ACF says WHICH lag structure the series carries). Observed-week
    series (row_number over weeks with orders — the `runs_test`
    census convention; calendar gaps are a different question,
    `gapfill_weeks`' job).

    Integer policy: multiply the mean out — with S = Σx and n weeks,
    (x_t − x̄) scaled by n is (n·x_t − S), an exact integer, so
    A_k = Σ(n·x_t − S)(n·x_{t+k} − S) and D = Σ(n·x_t − S)² need no
    division until the single acf_ppm = trunc(A_k·10⁶ / D) site —
    the `cuped_adjustment` DECIMAL(38,0) moment convention (products
    reach ~10²³ per term at sf10 — BIGINT dies, DECIMAL(38) holds;
    truncating division spelled (num − num % den)/den so Spark
    decimal `/` HALF_UP never rounds, and `%` keeps the dividend's
    sign so negative autocorrelations truncate toward zero in both
    engines). Plan: one (nation, week) census shuffle; lag pairing
    is a census self-join on (nation, t+k) against a ×4 literal lag
    spine; per-nation moments broadcast back. FLAT in order volume —
    everything after the census lives on |nations|·|weeks| rows.
    """
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("week", "o_orderdate").cast("date").alias("__wk"),
        (F.col("o_totalprice").cast(MONEY) * 100).cast("long").alias("__cents"),
    )
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    census = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey", "__wk")
        .agg(F.sum("__cents").alias("__x"))
    )
    wr = Window.partitionBy("c_nationkey").orderBy("__wk")
    # spooled: moments, deviations, the denominator and both lag-join
    # sides otherwise each re-ran the orders⋈customer census build
    # (a 6× fact read for a |nations|·|weeks| frame)

    ts = spool(
        census.select(
            F.col("c_nationkey").alias("__nat"),
            F.row_number().over(wr).alias("__t"),
            "__x",
        )
    )
    mom = ts.groupBy("__nat").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__x").alias("__s"),
    )
    dev = (
        ts.join(F.broadcast(mom), "__nat")  # bounded: 25 nations
        .select(
            "__nat",
            "__t",
            "__n",
            F.expr(
                "cast(__n as decimal(38,0)) * __x - cast(__s as decimal(38,0))"
            ).alias("__d"),
        )
    )
    den = dev.groupBy("__nat").agg(
        F.sum(F.expr("__d * __d")).alias("__den"), F.max("__n").alias("__n")
    )
    lags = spark.range(1, 5).select(F.col("id").cast("int").alias("lag"))
    a = dev.select("__nat", "__t", F.col("__d").alias("__da"))
    b = dev.select(
        F.col("__nat").alias("__nat2"),
        F.col("__t").alias("__t2"),
        F.col("__d").alias("__db"),
    )
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("__nat") == F.col("__nat2"))
            & (F.col("__t2") == F.col("__t") + F.col("lag")),
        )
        .groupBy("__nat", "lag")
        .agg(F.sum(F.expr("__da * __db")).alias("__num"))
    )
    expr_div = (
        "cast(((__num * 1000000) - (__num * 1000000) % __den) / __den as bigint)"
    )
    return (
        num.join(den, "__nat")
        .filter(F.col("__n") > F.col("lag") + 2)
        .select(
            F.col("__nat").cast("long").alias("nationkey"),
            F.col("lag").cast("long").alias("lag"),
            F.col("__n").cast("long").alias("n_weeks"),
            F.expr(expr_div).alias("acf_ppm"),
        )
        .orderBy("nationkey", "lag")
    )


def q_corpus_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus HEALTH REPORT — the one-table governance
    view a corpus owner reads before a training run (the
    ``experiment_report`` composition pattern applied to the corpus
    shelf): volume, exact-duplication ppm, vocabulary saturation
    (distinct terms per million tokens at full depth — the
    ``vocab_growth`` decile-10 point: low = templated/repetitive
    source), and the Gopher rule-gate pass ppm. Composes
    ``dedup_rate_by_source`` ⋈ ``vocab_growth``@10 ⋈ an inline
    per-source Gopher census; the oracle composes the member SQL
    identically, so the COMPOSITION is what hash-verifies.

    Integer policy: all three ratios are fresh ppm divisions of the
    members' exact counts (never re-derived from their rounded
    display columns). Three document scans — one per member lineage,
    the documented composition trade (``corpus_pipeline`` spools
    when members share a stage; these three share nothing but the
    scan, and the scan is the cheap part at any SF).
    """
    dr = q_dedup_rate_by_source(spark, sf_dir).select(
        "source",
        "n_docs",
        F.expr("(n_docs - n_exact_distintos) * 1000000 div n_docs").alias(
            "exact_dup_ppm"
        ),
    )
    vg = (
        q_vocab_growth(spark, sf_dir)
        .filter(F.col("decile") == 10)
        .select(
            "source",
            F.expr("cum_vocab * 1000000 div cum_tokens").alias("vocab_per_mtok"),
        )
    )
    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    dup = F.round(dup_token_ratio("text"), 9)
    mlen = F.round(mean_token_len("text"), 9)
    n_tok = token_count("text")
    gopher = (
        n_tok.between(10, 1000)
        & mlen.between(2.0, 10.0)
        & (dup <= 0.6)
        & (stopword_hits("text") >= 2)
    )
    gq = (
        d.select("source", gopher.cast("long").alias("__pass"))
        .groupBy("source")
        .agg(
            F.sum("__pass").alias("__p"),
            F.count(F.lit(1)).alias("__n"),
        )
        .select("source", F.expr("__p * 1000000 div __n").alias("gopher_pass_ppm"))
    )
    return (
        dr.join(vg, "source")
        .join(gq, "source")
        .select(
            "source",
            "n_docs",
            "exact_dup_ppm",
            "vocab_per_mtok",
            "gopher_pass_ppm",
        )
        .orderBy("source")
    )


def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY audit per language — the number a
    multilingual-pipeline owner tracks when choosing/retraining a
    tokenizer (how many subword tokens a language pays per word;
    a language the tokenizer serves badly trains slower and costs
    more context): per lang, corpus token counts before/after the
    induced BPE merges and fertility as Σafter·10⁶ div Σbefore ppm
    (≤ 10⁶ here since merges only fuse). Composes ``bpe_apply``'s
    per-doc encode with the lang dimension — the composition is the
    hash-verified artifact, per the ``corpus_health`` convention.

    Plan: the member's zero-shuffle map encode (driver-side 3-row
    merge artifact inlined as literal replaces) + one doc_id join to
    re-attach lang + a ≤|langs| census. Integer-exact: counts and
    one truncating division per lang.
    """
    b = q_bpe_apply(spark, sf_dir)
    langs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        b.join(langs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok_before").cast("long").alias("tok_before"),
            F.sum("n_tok_after").cast("long").alias("tok_after"),
        )
        .select(
            "lang",
            "n_docs",
            "tok_before",
            "tok_after",
            F.expr("tok_after * 1000000 div tok_before").alias("fertility_ppm"),
        )
        .orderBy("lang")
    )


def q_ccf_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead–lag cross-correlation between weekly ORDER COUNT and
    weekly REVENUE (global series, lags −3..+3) — the diagnostic
    that answers "does volume lead value?": positive-lag peaks mean
    count moves first (mix shifts toward cheaper orders before
    revenue follows), the ``acf_weekly`` machinery pointed across
    two series. Same exact-integer policy: both series' means
    multiplied out via their shared n, so the lag products
    A_k = Σ(n·x_t − Sx)(n·y_{t+k} − Sy) and both denominators are
    DECIMAL(38) moment sums. Pearson's r needs √(Dx·Dy) — a sqrt is
    the cross-engine trap — so the report is the sqrt-free
    equivalent pair of lagged REGRESSION SLOPES, A_k·10⁶ div Dx
    (y-on-x beta) and A_k·10⁶ div Dy (x-on-y beta): one truncating
    division each, r² = beta₁·beta₂ recoverable offline, and the
    lead–lag PEAK position (all a lead–lag read needs) identical
    under either normalization. No transcendental, no sqrt,
    cross-engine exact.

    Plan: one (week) census off the order scan (count + revenue
    cents per week), deviations against broadcast moments, a ×7 lag
    spine self-join on t+k — everything after the census lives on
    |weeks| rows. FLAT in order volume.
    """
    o = read_table(spark, sf_dir, "orders").select(
        F.date_trunc("week", "o_orderdate").cast("date").alias("__wk"),
        (F.col("o_totalprice").cast(MONEY) * 100).cast("long").alias("__cents"),
    )
    census = o.groupBy("__wk").agg(
        F.count(F.lit(1)).alias("__x"),
        F.sum("__cents").alias("__y"),
    )
    wr = Window.orderBy("__wk")
    # spooled (the acf_weekly reasoning): moments, deviations, both
    # lag-join sides and the denominator share one |weeks|-row census

    ts = spool(
        census.select(F.row_number().over(wr).alias("__t"), "__x", "__y")
    )
    mom = ts.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
    )
    dev = ts.crossJoin(F.broadcast(mom)).select(
        "__t",
        "__n",
        F.expr("cast(__n as decimal(38,0)) * __x - cast(__sx as decimal(38,0))").alias(
            "__dx"
        ),
        F.expr("cast(__n as decimal(38,0)) * __y - cast(__sy as decimal(38,0))").alias(
            "__dy"
        ),
    )
    den = dev.agg(
        F.sum(F.expr("__dx * __dx")).alias("__dxx"),
        F.sum(F.expr("__dy * __dy")).alias("__dyy"),
        F.max("__n").alias("__n"),
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("int").alias("lag"))
    a = dev.select("__t", "__dx")
    b = dev.select(F.col("__t").alias("__t2"), "__dy")
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("__t2") == F.col("__t") + F.col("lag"))
        .groupBy("lag")
        .agg(F.sum(F.expr("__dx * __dy")).alias("__a"))
    )
    dx_div = "cast(((__a * 1000000) - (__a * 1000000) % __dxx) / __dxx as bigint)"
    dy_div = "cast(((__a * 1000000) - (__a * 1000000) % __dyy) / __dyy as bigint)"
    return (
        num.crossJoin(F.broadcast(den))
        .filter(F.col("__n") > F.abs(F.col("lag")) + 2)
        .select(
            F.col("lag").cast("long").alias("lag"),
            F.col("__n").cast("long").alias("n_weeks"),
            F.expr(dx_div).alias("beta_y_on_x_ppm"),
            F.expr(dy_div).alias("beta_x_on_y_ppm"),
        )
        .orderBy("lag")
    )


# Dict order doubles as the driver's sampling order (it verifies the first
# ~50 per round): queries with no driver-green CORRECTNESS row yet go first,
# then round-1-only rows (due a re-check), then round-2-green rows.
def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing, Winters
    1960) over the daily purchase-revenue series with a 7-step season
    — the forecasting capstone over `ewma_weekly` (level only),
    `holt_trend` (level+trend) and `seasonal_decompose` (static
    decomposition): level, trend and a 7-slot seasonal state all
    update every step, and the one-step-ahead forecast
    l + b + s[(t−1) mod 7] is emitted BEFORE the step's update — a
    true backtest, no look-ahead.

    Exactness: dyadic smoothing constants (α=1/8, β=1/16, γ=1/4 — the
    ewma α=1/8 lesson: a dyadic rational keeps every update one
    integer multiply-add plus one truncating power-of-two division,
    probed identical Spark `div` / DuckDB `//` on negatives) over
    milli-cent BIGINTs; init is the textbook first-season mean
    (l₀ = mean of days 1..7, b₀ = 0, s₀ᵢ = yᵢ − l₀). The series is
    REINDEXED t = row_number(day) so both engines walk the identical
    sequence regardless of calendar gaps.

    Scale shape: one fact shuffle to the per-day census; the fold is a
    single `aggregate` HOF over the CALENDAR-BOUNDED day array (~365
    structs — a bounded model artifact, same class as the BPE merge
    loop), mirrored in DuckDB by a recursive CTE (the `km_survival`
    pattern). Output: the last 14 backtest days (day, cents,
    forecast_milli, level_milli, trend_milli).
    """
    e = read_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = (
        e.select(
            tmp.seconds_since_origin("ts").alias("__s"),
            F.col("value").cast(MONEY).alias("__v"),
        )
        .groupBy(F.expr("__s div 86400").alias("day"))
        .agg((F.sum("__v") * 100).cast("long").alias("cents"))
    )
    seq = daily.select(
        F.row_number().over(Window.orderBy("day")).alias("t"), "day", "cents"
    )
    one = seq.agg(
        F.sort_array(F.collect_list(F.struct("t", "day", "cents"))).alias("xs")
    ).selectExpr(
        "xs",
        "cast(aggregate(slice(xs, 1, 7), cast(0 as bigint), (a, x) -> a + x.cents)"
        " * 1000 div 7 as bigint) as l0",
    ).selectExpr(
        "xs", "l0", "transform(slice(xs, 1, 7), x -> x.cents * 1000 - l0) as s0"
    )
    # The recurrence, written once and interpolated (the expression is
    # repeated per struct field because SQL lambdas have no let-binding):
    idx = "cast((x.t - 1) % 7 as int) + 1"
    s_prev = f"element_at(st.s, {idx})"
    l_new = f"cast(((x.cents * 1000 - {s_prev}) + 7 * (st.l + st.b)) div 8 as bigint)"
    b_new = f"cast((({l_new} - st.l) + 15 * st.b) div 16 as bigint)"
    s_new = f"cast(((x.cents * 1000 - {l_new}) + 3 * {s_prev}) div 4 as bigint)"
    fc = f"cast(st.l + st.b + {s_prev} as bigint)"
    rec = (
        "named_struct('day', x.day, 'cents', x.cents, "
        f"'fc', {fc}, 'l', {l_new}, 'b', {b_new})"
    )
    out_t = "array<struct<day:bigint,cents:bigint,fc:bigint,l:bigint,b:bigint>>"
    fold = f"""
    aggregate(
      slice(xs, 8, size(xs) - 7),
      named_struct('l', l0, 'b', cast(0 as bigint), 's', s0,
                   'out', cast(array() as {out_t})),
      (st, x) -> named_struct(
        'l', {l_new},
        'b', {b_new},
        's', transform(sequence(1, 7),
                       i -> if(i = {idx}, {s_new}, element_at(st.s, i))),
        'out', concat(st.out, array({rec}))),
      st -> st.out
    ) as out
    """
    return (
        one.selectExpr(fold)
        .selectExpr("explode(slice(out, greatest(size(out) - 13, 1), 14)) as r")
        .select(
            F.col("r.day").alias("day"),
            F.col("r.cents").alias("cents"),
            F.col("r.fc").alias("forecast_milli"),
            F.col("r.l").alias("level_milli"),
            F.col("r.b").alias("trend_milli"),
        )
        .orderBy("day")
    )


def q_forecast_pinball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss of the naive last-week forecast at
    q ∈ {10, 50, 90}% — the proper scoring rule for QUANTILE forecasts
    (Koenker & Bassett 1978; what the M5-uncertainty competition
    scored), completing the forecast-eval shelf: `naive_forecast_mape`
    grades the point forecast, `conformal_coverage` its intervals,
    this grades any quantile claim. For the naive point forecast the
    three losses also READ as an asymmetry diagnostic: if under- and
    over-shoots were symmetric, q10 and q90 would match.

    Integer-exact: with pct ∈ {10,50,90} and e = actual−forecast in
    cents, the per-week loss is max(pct·e, (pct−100)·e) — exact BIGINT
    centi-cents (the max of two integer products; no division at all
    until the mean). Per (nation, pct): n_weeks, total loss, and the
    mean via one truncating div. One fact shuffle to the (nation,
    week) census; the 3-quantile fan-out is a 3-row broadcast cross
    join on the census.
    """
    # (nation, wk, cents) = the session-shared `_weekly_nation_census`
    # spool (r10-opt) — this census was rebuilt inline per call.
    census = _weekly_nation_census(spark, sf_dir).select(
        "nation", "wk", "cents"
    )
    w = Window.partitionBy("nation").orderBy("wk")
    err = census.select(
        "nation", (F.col("cents") - F.lag("cents").over(w)).alias("__e")
    ).filter(F.col("__e").isNotNull())
    q = F.explode(F.array(*[F.lit(p_) for p_ in (10, 50, 90)])).alias("pct")
    fan = err.select("nation", "__e", q)
    loss = F.greatest(F.col("pct") * F.col("__e"), (F.col("pct") - 100) * F.col("__e"))
    return (
        fan.select("nation", "pct", loss.cast("long").alias("__l"))
        .groupBy("nation", "pct")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_weeks"),
            F.sum("__l").cast("long").alias("total_pinball_centicents"),
            F.expr("cast(sum(__l) div count(1) as bigint)").alias(
                "mean_pinball_centicents"
            ),
        )
        .orderBy("nation", "pct")
    )


def q_stream_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup ingest gate (streaming/neardup_stream.py):
    two REAL micro-batches — index build, then screened batch — with
    incremental MinHash-LSH admission per delivery; kappa parity with
    `incremental_dedup` (same even/odd split, same DuckDB oracle)."""
    from .streaming.neardup_stream import neardup_stream  # noqa: PLC0415

    return neardup_stream(spark, sf_dir)


def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the learned quality score against the Gopher
    gate label — the DISCRIMINATION companion to `quality_calibration`
    (calibration) and `brier_decomposition` (proper score): AUC = the
    probability a random passing doc outranks a random failing one,
    computed EXACTLY by the Mann-Whitney rank-sum identity with the
    standard average-rank tie handling (ties at 0.5 credit) — the same
    U statistic `mann_whitney_u` tests, re-read as a classifier metric
    (Hanley & McNeil 1982).

    Number policy: ranking is on the LINEAR logit z (monotone in the
    sigmoid p, so the AUC is identical and no engine evaluates exp);
    z is built from the established 9dp-rounded doc features and
    itself rounded at 9dp, so tie groups are bit-identical
    cross-engine. Doubled average ranks (2·rank_min + ties − 1) keep
    the whole statistic BIGINT; one ppm division at the edge.

    Scale shape: the global rank is the bucketed two-pass
    `global_rank_scaled` (r6 — no single-partition stage); the tie
    census is a hash-partitioned window on z. int64 headroom: the
    doubled rank-sum ≤ 2n·n_pos caps the exact path at ~3e9 ranked
    docs; past that, the per-z census pair-count formulation with
    DECIMAL(38) accumulators is the drop-in. Output: one row
    (n_pos, n_neg, auc_ppm, gini_ppm = 2·AUC−1 in ppm).

    Honest negative control (like `benford_audit`): on this fixture
    the audit reads AUC ≈ 0.361 — the logistic score is
    ANTI-correlated with the gate, because z rewards length
    (+0.002/token) while the gate caps tokens at 1000. Surfacing that
    inversion before anyone ships the score as a filter is the whole
    point of a discrimination audit; the brute pairwise test pins the
    number.
    """
    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    q = F.round(quality_score("text"), 9)
    dup = F.round(dup_token_ratio("text"), 9)
    mlen = F.round(mean_token_len("text"), 9)
    n_tok = token_count("text")
    z = F.round(
        F.lit(-2.0)
        + F.lit(6.0) * q
        + F.lit(-3.0) * dup
        + F.lit(0.25) * mlen
        + F.lit(0.002) * n_tok.cast("double"),
        9,
    )
    gopher = (
        n_tok.between(10, 1000)
        & mlen.between(2.0, 10.0)
        & (dup <= 0.6)
        & (stopword_hits("text") >= 2)
    )
    scored = d.select(z.alias("z"), gopher.cast("long").alias("__pos"))
    ranked = global_rank_scaled(scored, "z", "__rk", ascending=True, kind="rank")
    g = F.count(F.lit(1)).over(Window.partitionBy("z"))
    avg2 = (F.lit(2) * F.col("__rk") + g - 1).cast("long")
    agg = ranked.select("__pos", avg2.alias("__a2")).agg(
        F.sum("__pos").cast("long").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("__pos")).cast("long").alias("n_neg"),
        F.sum(F.when(F.col("__pos") == 1, F.col("__a2"))).cast("long").alias("__rs2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.expr(
            "cast((__rs2 - n_pos * (n_pos + 1)) * 1000000"
            " div (2 * n_pos * n_neg) as bigint)"
        ).alias("auc_ppm"),
    ).select(
        "n_pos",
        "n_neg",
        "auc_ppm",
        (F.lit(2) * F.col("auc_ppm") - F.lit(1000000)).cast("long").alias("gini_ppm"),
    )


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of daily purchase revenue —
    the classical-decomposition core of STL (Cleveland et al. 1990)
    restricted to what is exact: trend = centered 7-day moving average
    (emitted only where all 7 calendar days exist — a RANGE frame on
    the epoch day, so a missing day disqualifies the window instead of
    silently shrinking it), weekday seasonal index = per-ISO-weekday
    mean of the detrended series, remainder = what neither explains.
    The time-series shelf had the pieces (trend fits, ACF, bands) but
    not the decomposition every forecasting workflow starts from.

    Integer-exact throughout: cents from DECIMAL, milli-cents for the
    /7 and per-dow means via truncating integer division (Spark `div`
    and DuckDB `//` both truncate toward zero, negatives included —
    the probed `balanced_shards` precedent, and detrended values ARE
    negative). Weekday from pure epoch-day arithmetic on tz-free NTZ
    seconds (origin 1990-01-01 is a Monday) — session-tz-independent.

    Scale shape: one event-scan shuffle to the per-day census; every
    window after that runs on the CALENDAR-BOUNDED census (|days|
    rows), the same posture as the weekly shelf. Output: 7 rows
    (dow_iso, n_days, seasonal_milli, mean_abs_remainder_milli).
    """
    e = read_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = (
        e.select(
            tmp.seconds_since_origin("ts").alias("__s"),
            F.col("value").cast(MONEY).alias("__v"),
        )
        .groupBy(F.expr("__s div 86400").alias("day"))
        .agg((F.sum("__v") * 100).cast("long").alias("cents"))
    )
    w7 = Window.orderBy("day").rangeBetween(-3, 3)
    with_trend = daily.select(
        "day",
        "cents",
        F.count(F.lit(1)).over(w7).alias("__n7"),
        (F.sum("cents").over(w7) * 1000).alias("__s7"),
    ).filter(F.col("__n7") == 7)
    detr = with_trend.select(
        (F.col("day") % 7 + 1).cast("int").alias("dow_iso"),
        (F.col("cents") * 1000 - F.expr("__s7 div 7")).cast("long").alias("__d"),
    )
    seasonal = detr.groupBy("dow_iso").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.expr("cast(sum(__d) div count(1) as bigint)").alias("seasonal_milli"),
    )
    rem = (
        detr.join(F.broadcast(seasonal), "dow_iso")  # bounded: 7 weekdays
        .groupBy("dow_iso")
        .agg(
            F.expr(
                "cast(sum(abs(__d - seasonal_milli)) div count(1) as bigint)"
            ).alias("mean_abs_remainder_milli")
        )
    )
    return (
        seasonal.join(rem, "dow_iso")
        .select("dow_iso", "n_days", "seasonal_milli", "mean_abs_remainder_milli")
        .orderBy("dow_iso")
    )


def _excel_roundtrip_dir() -> str:
    """Session-scoped scratch dir for the xlsx ingest queries — must
    outlive the call because the distributed reader scans the file
    LAZILY (a per-call tempdir deleted in a finally would yank the
    file from under the returned plan)."""
    import atexit  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    global _EXCEL_RT_DIR
    if _EXCEL_RT_DIR is None:
        _EXCEL_RT_DIR = tempfile.mkdtemp(prefix="manipula_excel_rt_")
        atexit.register(shutil.rmtree, _EXCEL_RT_DIR, ignore_errors=True)
    return _EXCEL_RT_DIR


_EXCEL_RT_DIR = None


def _excel_roundtrip_file(spark: SparkSession, sf_dir: str) -> str:
    """Write the nation table to ONE xlsx (S8 sink, named sheet) once
    per (session, sf_dir); both ingest queries read it back."""
    import os  # noqa: PLC0415

    from .sources.io import write_excel  # noqa: PLC0415

    out = os.path.join(
        _excel_roundtrip_dir(),
        f"nation_{spark.sparkContext.applicationId}_"
        f"{os.path.abspath(sf_dir).replace(os.sep, '_')}",
    )
    path = os.path.join(out, "nation.xlsx")
    if not os.path.exists(path):
        import uuid  # noqa: PLC0415

        os.makedirs(out, exist_ok=True)
        # write-then-rename so a concurrent caller never reads a
        # half-written workbook (os.replace is atomic on one fs).
        # The tmp lives OUTSIDE the scanned subdir (the distributed
        # reader globs *.xlsx under `out`, and a crash-leftover tmp
        # there would surface as a second workbook) and keeps the
        # .xlsx suffix (pandas' to_excel infers its engine from it).
        tmp = os.path.join(
            _excel_roundtrip_dir(), f"tmp_{uuid.uuid4().hex}.xlsx"
        )
        write_excel(
            read_table(spark, sf_dir, "nation").select(
                "n_nationkey", "n_name", "n_regionkey"
            ),
            tmp,
            sheet_name="Nacoes",
        )
        os.replace(tmp, path)
    return path


def q_cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Mantel–Haenszel chi-squared statistic (Cochran 1954;
    Mantel–Haenszel 1959) on the same stratified 2×2 frame as
    ``mantel_haenszel`` — the TEST beside that ESTIMATE: under
    "no exposure–outcome association in any stratum", the statistic
    (Σa_s − ΣE_s)²/ΣV_s with E_s = n₁s·m₁s/n_s and hypergeometric
    V_s = n₁s·n₀s·m₁s·m₀s/(n_s²(n_s−1)) is χ²(1); the caller reads
    stat_milli against 3841 (the 5% critical value ×1000). No
    continuity correction (the modern default; a frozen contract
    either way).

    Integer policy: E on an exact milli grid, V on a micro grid, and
    EVERY multi-count product — E's n₁·m₁·10³, V's n⁴-scale
    numerator, and the final (1000·T − ΣE_milli)²·10³ — runs in
    DECIMAL(38,0) with truncating division spelled (num − num%den)/den
    (the `cuped_adjustment` overflow pattern; DuckDB mirrors in
    HUGEINT). BIGINT died already at ~50k-customer strata — the 10×
    replica probe raised an ANSI overflow on the variance product,
    and review showed the SAME class latent in E and the final
    square. Safe to ~10⁸ customers per stratum (n⁴·10⁶ < 10³⁸) and
    |T − E| ≤ ~10¹⁶ in the final square. Same scan shape as the
    pair: memoized frame + ≤4-row census algebra."""
    f = _obs_customer_frame(spark, sf_dir)
    cells = f.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_custs"),
        F.sum("__t").cast("long").alias("__n1"),
        F.sum(F.expr("case when __t = 1 and __y2 = 1 then 1 else 0 end")).alias("a"),
        F.sum("__y2").cast("long").alias("__m1"),
    )
    per = cells.select(
        "tier",
        F.col("n_custs").cast("long").alias("n_custs"),
        F.col("a").cast("long").alias("a"),
        F.expr(
            "cast(((cast(__n1 as decimal(38,0)) * __m1 * 1000)"
            " - (cast(__n1 as decimal(38,0)) * __m1 * 1000) % n_custs)"
            " / n_custs as bigint)"
        ).alias("e_milli"),
        F.expr(
            "case when n_custs >= 2 then cast("
            " ((cast(__n1 as decimal(38,0)) * (n_custs - __n1) * __m1"
            "   * (n_custs - __m1) * 1000000)"
            "  - (cast(__n1 as decimal(38,0)) * (n_custs - __n1) * __m1"
            "     * (n_custs - __m1) * 1000000)"
            "    % (cast(n_custs as decimal(38,0)) * n_custs * (n_custs - 1)))"
            " / (cast(n_custs as decimal(38,0)) * n_custs * (n_custs - 1))"
            " as bigint) else 0 end"
        ).alias("v_micro"),
    )
    # census windows below run on the ≤4-row tier table — bounded
    return per.select(
        "tier",
        "n_custs",
        "a",
        F.col("e_milli").cast("long").alias("e_milli"),
        F.col("v_micro").cast("long").alias("v_micro"),
        F.expr(
            "cast((("
            " cast(sum(a) over () * 1000 - sum(e_milli) over ()"
            "      as decimal(38,0))"
            " * (sum(a) over () * 1000 - sum(e_milli) over ()) * 1000)"
            " - (cast(sum(a) over () * 1000 - sum(e_milli) over ()"
            "         as decimal(38,0))"
            "    * (sum(a) over () * 1000 - sum(e_milli) over ()) * 1000)"
            "   % nullif(sum(v_micro) over (), 0))"
            " / nullif(sum(v_micro) over (), 0) as bigint)"
        ).alias("cmh_stat_milli"),
    ).orderBy("tier")


def q_kish_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size (Kish 1965) of the soft-dedup
    weights, per source — the diagnostic EVERY reweighting pipeline
    reads before trusting its weights: ESS = (Σw)²/Σw² is the number
    of equal-weight documents the weighted corpus is actually worth,
    and the design effect DEFF = n·Σw²/(Σw)² the variance inflation
    the weighting costs. The missing readout beside the weight
    PRODUCERS (`dedup_weights` 1/cluster-size, `dsir_weights`,
    `survey_raking`): those emit weights, this prices them. Same
    survey-statistics lineage as `neyman_allocation`.

    Weights are the ppm soft NEAR-dedup weights 1/cluster-size over
    the MinHash-LSH components (`dedup_clusters` — exact-dup weights
    would be degenerate here: the fixture has ZERO exact duplicates
    at the driver SF, while near-dup clusters are real): a source of
    all-singleton docs reads ESS = n exactly (retention 10⁶ ppm,
    DEFF 1000 milli), and clustering drags ESS below n. Integer
    policy: w and w² are exact longs; BOTH census sums and the (Σw)²
    square run in DECIMAL(38,0) with truncating division
    (num − num%den)/den — Σw² alone overflows BIGINT at ~9M
    docs/source and (Σw)² at ~3k, so this one is decimal from birth
    (the cmh_test lesson; DuckDB mirrors in HUGEINT). Safe to ~10¹⁰
    docs/source — the binding term is retention_ppm's (Σw)²·10⁶ =
    n²·10¹⁸ < 10³⁸, not the bare (n·10⁶)² < 10³⁸ which alone would
    allow ~10¹³. Scale: cluster labels come from
    the session-memoized `_doc_clusters` spool (shared with
    dedup_survivors / cluster_safe_split — one fixpoint per
    session); the ESS algebra runs on the per-source census."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    clusters = _doc_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster").agg(F.count(F.lit(1)).alias("__sz"))
    weighted = (
        d.join(clusters, "doc_id")
        .join(sizes, "cluster")
        .select("source", F.expr("1000000 div __sz").alias("__w"))
    )
    census = weighted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("__w").cast("decimal(38,0)")).alias("__sw"),
        F.sum((F.col("__w") * F.col("__w")).cast("decimal(38,0)")).alias(
            "__sww"
        ),
    )
    return census.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.expr(
            "cast(((__sw * __sw * 1000) - (__sw * __sw * 1000) % __sww)"
            " / __sww as bigint)"
        ).alias("ess_milli"),
        F.expr(
            "cast(((cast(n_docs as decimal(38,0)) * __sww * 1000)"
            " - (cast(n_docs as decimal(38,0)) * __sww * 1000)"
            "   % (__sw * __sw))"
            " / (__sw * __sw) as bigint)"
        ).alias("deff_milli"),
        F.expr(
            "cast(((__sw * __sw * 1000000)"
            " - (__sw * __sw * 1000000)"
            "   % (cast(n_docs as decimal(38,0)) * __sww))"
            " / (cast(n_docs as decimal(38,0)) * __sww) as bigint)"
        ).alias("retention_ppm"),
    ).orderBy("source")


def _schema_evolution_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage a two-batch parquet ingest directory ONCE per (session,
    sf_dir): batch1 = nation keys < 13 with the base 3-column schema,
    batch2 = the rest PLUS an `ingest_tag` column that batch1 never
    saw — the mid-corpus schema-evolution shape a long-running ingest
    actually produces. Atomically staged (write to a tmp dir, rename
    into place — the `_excel_roundtrip_file` discipline; a loser of a
    concurrent race just discards its tmp)."""
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import uuid  # noqa: PLC0415

    out = os.path.join(
        _excel_roundtrip_dir(),
        f"schemaevo_{spark.sparkContext.applicationId}_"
        f"{os.path.abspath(sf_dir).replace(os.sep, '_')}",
    )
    if not os.path.isdir(out):
        nat = read_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        tmp = os.path.join(_excel_roundtrip_dir(), f"tmpevo_{uuid.uuid4().hex}")
        nat.filter(F.col("n_nationkey") < 13).write.parquet(
            os.path.join(tmp, "batch1")
        )
        nat.filter(F.col("n_nationkey") >= 13).withColumn(
            "ingest_tag", F.concat(F.lit("b2-"), F.col("n_name"))
        ).write.parquet(os.path.join(tmp, "batch2"))
        try:
            os.replace(tmp, out)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(out):
                # not a lost concurrency race — surface the real error
                raise
    return out


def q_schema_evolution_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S19: schema-evolution ingest under the HASH gate — read a
    parquet directory whose later batch added a column
    (`mergeSchema=true`), and prove value-exactly that early rows
    surface the new column as NULL while late rows keep it. The
    ingest reality at 100 TB: corpora accrete batches for months and
    a field appears mid-stream; the engine must union the schemas
    without rewriting history. The oracle recomputes the merged frame
    from the nation table directly (CASE on the batch boundary), so
    the parquet-level merge behavior itself is what gets verified —
    the `excel_ingest` pattern applied to the second columnar edge.
    Scale: footer-schema merge is metadata-only (per-file footers,
    no data scan); the read itself stays a plain pruned columnar
    scan, and filter pushdown through a merged schema is pinned by
    test."""
    d = _schema_evolution_dir(spark, sf_dir)
    import os  # noqa: PLC0415

    merged = (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(d, "batch1"), os.path.join(d, "batch2"))
    )
    return merged.select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("long").alias("n_regionkey"),
        "ingest_tag",
    ).orderBy("n_nationkey")


def q_exact_substr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring coverage census (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — the
    ExactSubstr family): every 8-word gram that occurs MORE THAN ONCE
    in the corpus (across documents or repeated within one) marks its
    start position duplicated; per document, overlapping duplicated
    grams merge into MAXIMAL spans (gaps-and-islands on start
    positions, a new island when the gap exceeds the gram width), and
    the census reports span count, covered tokens, and an integer
    coverage ratio. The exact-span complement of the shelf's sampled
    and chunked arms: `winnow_near_dup` fingerprints a SAMPLE of
    grams (winnowing windows), `cdc_chunk_dedup` dedups at chunk
    granularity — this one answers "how many of this doc's tokens sit
    inside some exactly-duplicated passage", the statistic ExactSubstr
    cuts on.

    Scale: the gram table carries (16-hex md5 prefix, doc, pos) — one
    row per token, never the text (the inverted-index posture); the
    duplicate census is a map-side-combined count per hash; positions
    semi-join the duplicated-hash set; the island merge is a per-doc
    window over that doc's OWN duplicated positions (bounded by doc
    length — never a corpus-wide frame). ExactSubstr's suffix array
    does this marking in O(corpus) on one machine; the fixed-k
    gram-hash shuffle is its distributed equivalent (k = 8 plays the
    role of the 50-token threshold at the fixture's doc lengths).
    All-integer output (count/coverage/ratio via `div`).
    """
    K = 8
    base = (
        _docs_parallel(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("__t"))
        .select("doc_id", "__t", F.size("__t").alias("__n"))
    )
    grams = (
        base.filter(F.col("__n") >= K)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.col("__n") - K + 1),
                    lambda i: F.substring(
                        F.md5(F.concat_ws(" ", F.slice("__t", i, K))), 1, 16
                    ),
                )
            ).alias("__pi", "__h"),
        )
        .select("doc_id", (F.col("__pi") + 1).alias("__p"), "__h")
    )
    # duplicate marking via a count-over-hash window, NOT a census +
    # self-join: the census formulation computed the gram table TWICE
    # (no ReusedExchange — the aggregate changes the exchange
    # signature), i.e. two tokenize+md5 passes over the corpus text at
    # 100 TB. One window over tiny per-hash partitions = one gram
    # computation, one shuffle.
    wh = Window.partitionBy("__h")
    marked = (
        grams.withColumn("__c", F.count(F.lit(1)).over(wh))
        .filter(F.col("__c") > 1)
        .select("doc_id", "__p")
    )
    w = Window.partitionBy("doc_id").orderBy("__p")
    isl = (
        marked.withColumn("__prev", F.lag("__p").over(w))
        .withColumn(
            "__new",
            (F.col("__prev").isNull() | (F.col("__p") - F.col("__prev") > K)).cast(
                "int"
            ),
        )
        .withColumn(
            "__isl",
            F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    spans = isl.groupBy("doc_id", "__isl").agg(
        (F.max("__p") - F.min("__p") + K).alias("__cov")
    )
    census = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
        F.sum("__cov").cast("long").alias("dup_tokens"),
    )
    return (
        base.select("doc_id", F.col("__n").cast("long").alias("n_tokens"))
        .join(census, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("long").alias(
                "n_dup_spans"
            ),
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias(
                "dup_tokens"
            ),
            F.expr("1000 * coalesce(dup_tokens, 0) div n_tokens")
            .cast("long")
            .alias("dup_ratio_milli"),
        )
        .orderBy("doc_id")
    )


def q_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cluster-aware train/val/test split audit — the
    decontamination-correct split discipline: `train_split` keys on
    doc_id and `grouped_split` on source, but near-duplicates CROSS
    sources, so either can put two ~identical documents on opposite
    sides of the eval boundary (the leakage every "test-set
    contamination" postmortem traces back to). Here the split keys on
    the near-dup CLUSTER label (`dedup_clusters`' connected
    components, canonical = min doc_id), making no-straddle structural
    — the split is a pure function of the cluster — and the audit
    reports it anyway (`n_straddle_clusters`, definitionally 0, the
    column a corpus owner alerts on if an upstream change ever breaks
    the keying).

    Scale: clustering is the O(log n) large/small-star fixpoint the
    dedup shelf already runs; the split itself is a pure md5-prefix
    projection over (doc, cluster) rows (zero extra shuffle); the
    audit aggregates (split, partials). All-integer output.
    """
    from .operators.sampling import hash_split  # noqa: PLC0415

    clusters = _doc_clusters(spark, sf_dir)  # (doc_id, cluster), shared spool
    with_split = hash_split(clusters, "cluster")
    per = with_split.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("cluster").cast("long").alias("n_clusters"),
    )
    straddle = (
        with_split.select("cluster", "split")
        .distinct()
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("__ns"))
        .filter(F.col("__ns") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("n_straddle_clusters"))
    )
    return per.crossJoin(F.broadcast(straddle)).orderBy("split")


def q_excel_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2/S8 under the HASH gate (VERDICT r6 #6): the nation table
    round-trips through a real xlsx file — write_excel (named sheet,
    AP:110-114 sink) then read_excel (sheet-name scan, AP:12/APC:150)
    — and must come back value-identical to the parquet the DuckDB
    oracle reads. Numeric cells are doubles in the xlsx data model
    (stdlib codec and pandas alike), so keys cast back to bigint; an
    off-by-one header, a dropped row, or a string-mangled name all
    hash-mismatch. Driver-side by design: the reference's xlsx inputs
    are tens of MB; the fleet path is `excel_ingest_distributed`.
    """
    from .sources.io import read_excel  # noqa: PLC0415

    path = _excel_roundtrip_file(spark, sf_dir)
    back = read_excel(spark, path, sheet_name="Nacoes")
    return back.select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        F.col("n_name").cast("string").alias("n_name"),
        F.col("n_regionkey").cast("long").alias("n_regionkey"),
    ).orderBy("n_nationkey")


def q_excel_ingest_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fleet twin of `excel_ingest`: the same workbook ingested via
    `read_excel_distributed` (binaryFile scan → executor-side stdlib
    xlsx parse, S1 at many-workbook scale) — hash-verified against the
    same parquet oracle, proving the distributed parse is cell-exact,
    with the `source_file` lineage column checked too.
    """
    import os  # noqa: PLC0415

    from .sources.io import read_excel_distributed  # noqa: PLC0415

    path = _excel_roundtrip_file(spark, sf_dir)
    back = read_excel_distributed(spark, os.path.dirname(path), sheet_name="Nacoes")
    return back.select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        F.col("n_name").cast("string").alias("n_name"),
        F.col("n_regionkey").cast("long").alias("n_regionkey"),
        F.col("source_file").alias("source_file"),
    ).orderBy("n_nationkey")


def q_good_turing_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good–Turing unseen-mass + Chao1 unseen-vocabulary estimate over
    the corpus word-TRIGRAM table (Good 1953; Chao 1984) — the
    frequencies-of-frequencies TAIL read that answers "how much
    probability mass / how many n-gram types does this corpus NOT yet
    contain?", the question behind LM smoothing (Katz backoff runs on
    exactly these adjusted counts) and behind "is more of this source
    worth buying" (complements ``vocab_growth``'s Heaps curve, which
    tracks the seen side). Trigrams, not unigrams, because that is the
    LM-smoothing unit — and honestly because this fixture's word
    vocabulary is closed (min word freq 26; zero hapax), while the
    trigram table has the natural long tail (N₁≈9.4k of 26.9k
    instances at sf0.001 ⇒ ≈35% unseen mass).

    One row per count class r = 0..5: N_r (types seen r times), the
    raw mass r·N_r/N, and the Good–Turing total mass of the class,
    (r+1)·N_{r+1}/N — one uniform formula that at r=0 IS the unseen
    mass N₁/N. The r=0 row carries Chao's bias-corrected unseen-types
    estimate N₁(N₁−1)/(2(N₂+1)) in n_types (estimator, not census —
    the bias-corrected form needs no N₂>0 guard). Integer policy: ppm
    masses are one truncating div of exact BIGINT counts; the Chao
    product fits long to ~3e9 hapax types and the r·N_r·1e6 products
    to ~1.8e12 types per class (beyond, promote to DECIMAL(38,0) —
    documented bound, ``km_survival`` convention).

    Scale: one documents scan → gram explode → map-side-combined
    census shuffle carrying (xxhash64, count) longs, never text → a
    second tiny shuffle to the
    frequencies-of-frequencies census (rows = distinct counts,
    O(√N)); the fof census is SPOOLED because three plan branches
    (totals, N_r attach, N_{r+1} attach) would otherwise each replay
    the corpus scan (the ``isotonic_calibration`` posture). Everything
    after the spool runs on ≤ a few hundred rows via broadcasts."""

    d = _docs_parallel(spark, sf_dir).filter(F.col("text").isNotNull())
    toks = F.split(F.col("text"), " ")
    tris = F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # Census keys are xxhash64 LONGS, not gram text: the shuffle
    # carries 8 bytes/row instead of ~25 (the exact_substr_dedup
    # never-shuffle-text discipline) and the fof table downstream is
    # identical under ANY injective key, so the oracle can census the
    # text itself — no cross-engine hash needed. Measured sf0.1→10×:
    # text 2.5→3.8 s, md5-prefix 2.5→11.8 s (hex is as wide as the
    # gram AND pays md5 CPU), xxhash64 1.6→3.0 s. Birthday collisions
    # start to matter past ~10⁹ distinct types (p≈3%at 2⁶⁴); beyond,
    # widen to the 128-bit pair (xxhash64 of gram, xxhash64 reversed).
    counts = (
        d.select(F.explode(tris).alias("__gram"))
        .select(F.xxhash64("__gram").alias("__g"))
        .groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__f"))
    )
    fof = spool(counts.groupBy("__f").agg(F.count(F.lit(1)).alias("__n")))
    stats = fof.agg(
        F.sum(F.col("__f") * F.col("__n")).cast("long").alias("__N"),
        F.coalesce(F.sum(F.when(F.col("__f") == 1, F.col("__n"))), F.lit(0))
        .cast("long")
        .alias("__n1"),
        F.coalesce(F.sum(F.when(F.col("__f") == 2, F.col("__n"))), F.lit(0))
        .cast("long")
        .alias("__n2"),
    )
    spine = spark.range(0, 6).select(F.col("id").alias("freq_r"))
    fr = fof.select(F.col("__f").alias("__fr_f"), F.col("__n").alias("__fr_n"))
    fn = fof.select(F.col("__f").alias("__fn_f"), F.col("__n").alias("__fn_n"))
    return (
        spine.crossJoin(F.broadcast(stats))
        .join(F.broadcast(fr), F.col("freq_r") == F.col("__fr_f"), "left")
        .join(F.broadcast(fn), F.col("freq_r") + 1 == F.col("__fn_f"), "left")
        .select(
            "freq_r",
            F.when(
                F.col("freq_r") == 0,
                F.expr("__n1 * (__n1 - 1) div (2 * (__n2 + 1))"),
            )
            .otherwise(F.coalesce(F.col("__fr_n"), F.lit(0)))
            .cast("long")
            .alias("n_types"),
            F.when(F.col("freq_r") == 0, F.lit(0))
            .otherwise(F.expr("freq_r * coalesce(__fr_n, 0) * 1000000 div __N"))
            .cast("long")
            .alias("raw_mass_ppm"),
            F.expr("(freq_r + 1) * coalesce(__fn_n, 0) * 1000000 div __N")
            .cast("long")
            .alias("gt_mass_ppm"),
        )
        .orderBy("freq_r")
    )


def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal allocation (Neyman 1934) of a 1000-read human-
    eval budget across source strata — THE classic answer to "which
    sources get how many eval samples": n_h ∝ N_h·spread_h minimizes
    the variance of the stratified estimate of mean doc length, vs
    the proportional n_h ∝ N_h baseline reported beside it. The
    budgeting complement to ``fair_token_budget`` (max-min fairness)
    and ``survey_raking`` (post-hoc reweighting): this one decides
    where to SPEND before sampling.

    Sqrt-free spread: the Gini mean difference Σ_{i<j}|x_i−x_j| /
    C(n,2) replaces σ (same optimal-allocation shape; GMD is a
    first-class dispersion measure and, unlike σ, exact in integers):
    via the rank identity Σ(2r_i−n−1)·x_(i) it is ONE partitioned
    rank window + one aggregate — no pairwise join, no sqrt (the
    ``ccf_weekly`` sqrt-free discipline). Budget shares then follow
    largest-remainder apportionment (Hamilton), so both arms sum to
    EXACTLY 1000 structurally; milli-scaled weights carry one
    truncating div each (frozen contract, identical cross-engine),
    and a +1 milli-weight floor keeps the apportionment total even
    on degenerate spreads (singleton or constant strata).

    Scale: one documents scan; the rank window is PARTITIONED by
    source (a mega-stratum would two-pass the rank — the
    ``key_gap_islands`` note); the per-stratum aggregate rides the
    same key. Everything after runs on the #strata-row census
    (bounded: sources are a catalog, not data) — the documented
    bounded-census single-partition edge."""
    d = read_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    x = F.size(F.split(F.col("text"), " ")).cast("long")
    ranked = d.select("source", "doc_id", x.alias("__x")).withColumn(
        "__r",
        F.row_number().over(
            Window.partitionBy("source").orderBy("__x", "doc_id")
        ),
    )
    strata = (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__x").cast("long").alias("__sx"),
            F.sum(F.col("__r") * F.col("__x")).cast("long").alias("__srx"),
        )
        .select(
            "source",
            "n_docs",
            (2 * F.col("__srx") - (F.col("n_docs") + 1) * F.col("__sx")).alias(
                "__S"
            ),
        )
    )
    wts = strata.select(
        "source",
        "n_docs",
        F.when(
            F.col("n_docs") >= 2,
            F.expr("2000 * __S div (n_docs * (n_docs - 1))"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("gmd_milli"),
        F.when(F.col("n_docs") >= 2, F.expr("2000 * __S div (n_docs - 1) + 1"))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("__w"),
    )
    tot = Window.partitionBy()  # strata census only — bounded
    base = wts.select(
        "source",
        "n_docs",
        "gmd_milli",
        F.expr("1000 * __w").alias("__bw"),
        F.sum("__w").over(tot).alias("__tw"),
        F.expr("1000 * n_docs").alias("__bp"),
        F.sum("n_docs").over(tot).alias("__tn"),
    ).select(
        "source",
        "n_docs",
        "gmd_milli",
        F.expr("__bw div __tw").alias("__nb"),
        F.expr("__bw - (__bw div __tw) * __tw").alias("__nrem"),
        F.expr("__bp div __tn").alias("__pb"),
        F.expr("__bp - (__bp div __tn) * __tn").alias("__prem"),
    )
    final = base.select(
        "source",
        "n_docs",
        "gmd_milli",
        "__nb",
        "__pb",
        F.row_number()
        .over(Window.orderBy(F.col("__nrem").desc(), "source"))
        .alias("__nrk"),
        F.row_number()
        .over(Window.orderBy(F.col("__prem").desc(), "source"))
        .alias("__prk"),
        (F.lit(1000) - F.sum("__nb").over(tot)).alias("__nshort"),
        (F.lit(1000) - F.sum("__pb").over(tot)).alias("__pshort"),
    )
    return final.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        "gmd_milli",
        (F.col("__nb") + (F.col("__nrk") <= F.col("__nshort")).cast("long"))
        .cast("long")
        .alias("neyman_n"),
        (F.col("__pb") + (F.col("__prk") <= F.col("__pshort")).cast("long"))
        .cast("long")
        .alias("prop_n"),
    ).orderBy("source")


@session_artifact("obs_customer_frame")
def _obs_customer_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer observational frame for the causal-adjustment pair
    (``ipw_ate`` / ``mantel_haenszel``): exposure t = ordered in the
    first fixture year (< 1996), outcome y = 2001+ spend in exact
    cents (y2 = its binary form), confounder tier = mid-period
    (1996–2000) order-count band least(n div 3, 3) — activity drives
    BOTH early ordering and late spend, the classic confounding
    shape. Bands are a pure function of the count (no ranking, no
    quantile — deterministic and engine-free). One orders scan,
    customer left-joined on custkey (order-less customers stay as
    untreated zeros) with the groupBy riding the same key; date
    bounds are string-literal NTZ comparisons (wall-clock, tz-safe).
    A session artifact: both causal queries need the identical
    per-customer frame, so the first caller pays the orders scan and
    the second reads the spool.
    """
    c = read_table(spark, sf_dir, "customer").select("c_custkey")
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cents = (F.col("o_totalprice").cast(MONEY) * 100).cast("long")
    late = F.col("o_orderdate") >= F.lit("2001-01-01")
    frame = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(
            F.max(
                F.when(F.col("o_orderdate") < F.lit("1996-01-01"), 1).otherwise(0)
            ).alias("__t"),
            F.sum(
                F.when(
                    (F.col("o_orderdate") >= F.lit("1996-01-01"))
                    & (F.col("o_orderdate") < F.lit("2001-01-01")),
                    1,
                ).otherwise(0)
            ).alias("__nmid"),
            F.coalesce(F.sum(F.when(late, cents)), F.lit(0)).alias("__y"),
            F.max(F.when(late, 1).otherwise(0)).alias("__y2"),
        )
        .select(
            "c_custkey",
            F.least(F.expr("__nmid div 3"), F.lit(3)).cast("int").alias("tier"),
            "__t",
            "__y",
            "__y2",
        )
    )
    return spool(frame)


def q_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratification / exact-propensity IPW treatment effect
    (Horvitz–Thompson 1952; Rosenbaum & Rubin 1983's discrete case):
    does ordering in the FIRST fixture year "cause" higher 2001+
    spend, adjusting for mid-period activity tier? Within a tier the
    propensity is exactly n₁s/n_s, so the IPW estimator collapses to
    the stratum-weighted mean difference Σ (n_s/N)·(ȳ₁s − ȳ₀s) —
    reported beside the NAIVE unadjusted difference, the contrast an
    observational readout exists to show. Completes the causal shelf
    (`diff_in_diff` needs a parallel pre-trend, `cuped_adjustment` a
    randomized arm; this is the no-randomization estimator). Honest
    fixture read: TPC-H-ish order behavior is near-random, so
    adjusted ≈ naive here — the audit's value is that it PROVES that
    (the `roc_auc` negative-control convention).

    Integer policy: per-stratum means are one truncating div each in
    exact milli-cents; the ATE re-weights the already-rounded stratum
    gaps by exact counts with one final div (rounded values are
    never summed raw — weighted by BIGINT counts then divided once).
    Strata missing either arm (positivity violation) are EXCLUDED
    from the ATE and flagged by valid=0. Scale: everything after the
    ``_obs_customer_frame`` groupBy runs on the ≤4-row tier census
    (bounded single-partition edge, documented)."""
    f = _obs_customer_frame(spark, sf_dir)
    strata = f.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_custs"),
        F.sum("__t").cast("long").alias("n_treated"),
        F.sum(F.when(F.col("__t") == 1, F.col("__y")).otherwise(0)).alias("__s1"),
        F.sum(F.when(F.col("__t") == 0, F.col("__y")).otherwise(0)).alias("__s0"),
    )
    per = strata.select(
        "tier",
        "n_custs",
        "n_treated",
        F.expr("__s1 * 1000 div nullif(n_treated, 0)").alias("mean1_millicents"),
        F.expr("__s0 * 1000 div nullif(n_custs - n_treated, 0)").alias(
            "mean0_millicents"
        ),
        (
            (F.col("n_treated") > 0) & (F.col("n_custs") - F.col("n_treated") > 0)
        )
        .cast("int")
        .alias("valid"),
        "__s1",
        "__s0",
    ).withColumn(
        "dte_millicents",
        F.col("mean1_millicents") - F.col("mean0_millicents"),
    )
    # census windows below run on the ≤4-row tier table — bounded
    return per.select(
        "tier",
        F.col("n_custs").cast("long").alias("n_custs"),
        "n_treated",
        F.col("mean1_millicents").cast("long").alias("mean1_millicents"),
        F.col("mean0_millicents").cast("long").alias("mean0_millicents"),
        F.col("dte_millicents").cast("long").alias("dte_millicents"),
        F.col("valid").alias("valid"),
        F.expr(
            "sum(case when valid = 1 then n_custs * dte_millicents else 0 end)"
            " over () div nullif(sum(case when valid = 1 then n_custs"
            " else 0 end) over (), 0)"
        )
        .cast("long")
        .alias("ate_millicents"),
        (
            F.expr("sum(__s1) over () * 1000 div nullif(sum(n_treated) over (), 0)")
            - F.expr(
                "sum(__s0) over () * 1000"
                " div nullif(sum(n_custs - n_treated) over (), 0)"
            )
        )
        .cast("long")
        .alias("naive_millicents"),
    ).orderBy("tier")


def q_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel–Haenszel pooled odds ratio (JNCI 1959) over the same
    exposure/outcome/tier frame as ``ipw_ate`` — the binary-outcome
    twin: per activity tier the 2×2 table (a,b,c,d) of early-order ×
    any-2001-order, its crude per-stratum OR, and the MH common OR
    Σ(a_s·d_s/n_s) / Σ(b_s·c_s/n_s) that weights strata without
    modeling — THE stratified-table classic every epidemiology and
    experimentation toolkit ships.

    Integer policy: each stratum's a·d/n and b·c/n is one truncating
    div on a milli grid (frozen contract); the pooled ratio is one
    further ppm div of the two exact sums. The a·d·10⁶ / b·c·10⁶
    products fit BIGINT while every 2×2 cell stays ≤ ~3M customers
    (a·d < 9.2×10¹²); beyond that, promote the milli/ppm products to
    DECIMAL(38,0) — the `cuped_adjustment` overflow pattern
    (documented bound, `km_survival` convention). Per-stratum ORs are
    NULL when b·c = 0 (undefined crude ratio — synthetic-frame
    tested; the fixture tiers all keep four live cells); the MH sums
    stay defined (that stratum simply contributes 0). Scale: identical to
    ``ipw_ate`` — one orders scan + custkey groupBy; the 2×2 algebra
    runs on the ≤4-row census."""
    f = _obs_customer_frame(spark, sf_dir)
    cells = f.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_custs"),
        F.sum(F.expr("case when __t = 1 and __y2 = 1 then 1 else 0 end")).alias("a"),
        F.sum(F.expr("case when __t = 1 and __y2 = 0 then 1 else 0 end")).alias("b"),
        F.sum(F.expr("case when __t = 0 and __y2 = 1 then 1 else 0 end")).alias("c"),
        F.sum(F.expr("case when __t = 0 and __y2 = 0 then 1 else 0 end")).alias("d"),
    )
    # census windows below run on the ≤4-row tier table — bounded
    return (
        cells.select(
            "tier",
            F.col("n_custs").cast("long").alias("n_custs"),
            F.col("a").cast("long").alias("a"),
            F.col("b").cast("long").alias("b"),
            F.col("c").cast("long").alias("c"),
            F.col("d").cast("long").alias("d"),
            F.expr(
                "case when b * c > 0 then a * d * 1000000 div (b * c) end"
            ).alias("or_ppm"),
            F.expr("a * d * 1000 div n_custs").alias("__num"),
            F.expr("b * c * 1000 div n_custs").alias("__den"),
        )
        .select(
            "tier",
            "n_custs",
            "a",
            "b",
            "c",
            "d",
            F.col("or_ppm").cast("long").alias("or_ppm"),
            F.expr(
                "sum(__num) over () * 1000000 div nullif(sum(__den) over (), 0)"
            )
            .cast("long")
            .alias("mh_or_ppm"),
        )
        .orderBy("tier")
    )


# The registry: every ``q_*`` function above under its name without the
# prefix, plus the four plan entries. Its order is set below.
QUERIES = {
    "product_client_history": product_client_history,
    "abc_classification": abc_classification,
    "abc_classification_scaled": abc_classification_scaled,
    "pending_by_week": pending_by_week,
    **{k[2:]: v for k, v in list(globals().items()) if k.startswith("q_") and callable(v)},
}

# The driver verifies roughly the FIRST 50 entries each round, so dict
# order is a coverage budget: each round the front is rebuilt to spend
# the window on the queries with the weakest driver provenance
# (never-sampled first, then oldest rows).
_DRIVER_SAMPLE_PRIORITY = [
    # r10 window = every plan changed since the last driver run leads,
    # then the freshness rotation (VERDICT r9 #3). Three groups:
    # (1) the 24 queries whose plans changed in the r10 OPTIMIZATION
    #     pass (shared-census/artifact spools, the multi-rank rewrite,
    #     the LPA aggregation rewrite, link_prediction's anti-join) —
    #     same-round driver verification, per the landing discipline;
    # (2) the 5 CC-family queries whose physical path changed in the
    #     r10 consolidation (_component_roots rework), still awaiting
    #     their post-change driver row;
    # (3) the 23 queries whose newest driver row dates to r2
    #     (provenance hygiene; plans unchanged, sweep-green).
    # That is 52 entries for the 50-slot window: the last two stale
    # entries (union_by_name, weekly_deltas — plans unchanged,
    # sweep-green) overflow to positions 51-52; plan changes outrank
    # freshness hygiene.
    # -- (1) r10-opt plan changes --
    "event_transitions", "transition_steady_state",
    "rfm_segments", "label_propagation", "apriori_triples",
    "association_rules", "bpe_merges", "bpe_apply", "bpe_fertility",
    "kendall_tau", "spearman_corr", "forecast_tournament",
    "diff_in_diff", "runs_test", "theilsen_trend",
    "naive_forecast_mape", "holt_trend", "conformal_coverage",
    "forecast_pinball", "weekly_trend", "changepoint_weeks",
    "link_prediction", "open_order_concurrency", "littles_law_audit",
    # -- (2) the 5 whose physical path changed in the r10
    #    consolidation (CC gate rework) --
    "dedup_clusters", "dedup_survivors", "dedup_weights",
    "cluster_safe_split", "corpus_pipeline",
    # -- (3) the 23 r2-stale (oldest provenance in the registry) --
    "events_summary", "events_unpivot", "first_order_per_customer",
    "format_currency", "group_median_pandas", "join_compatibility",
    "lenient_dates", "neighbor_counts", "null_diagnostics",
    "paginate_orders", "pending_by_week", "product_client_history",
    "projection_ops", "sales_cube", "sales_rollup",
    "sessionize_events", "sessionize_native", "sorted_distinct_weeks",
    "top_k_customers", "train_split", "tuple_render",
    "union_by_name", "weekly_deltas",
    # -- r3-provenance fill + overflow (the two cross-round regression
    #    candidates classified this round lead the fill) --
    "stream_dedup", "sliding_active_users",
    "balance_sources", "bm25_search", "chunk_documents",
    "contamination_rate", "conversion_forward", "corpus_mix",
    "decontaminate", "dedup_rate_by_source",
    "embedding_near_dup_blocked", "embedding_quantize",
    "events_sketches", "fingerprint_dedup", "fk_conformance",
    "hll_mergeable", "json_props", "lsh_recall",
    "multimodal_chunks", "multimodal_embed", "multimodal_features",
    "multimodal_near_dup", "multimodal_resize", "normalize_text",
    "outlier_flags", "pack_sequences", "pii_scrub", "price_bands",
    "repetition_signals", "retention_cohorts", "revenue_by_nation",
    "rolling_user_spend", "salted_join", "scd2_dim", "session_funnel",
    "sql_frontdoor", "stratified_docs", "temperature_mix",
    "token_profile", "topk_per_group", "truncated_recall", "upsert",
    "value_percentiles", "zorder_keys",
]
assert set(_DRIVER_SAMPLE_PRIORITY) <= set(QUERIES), (
    sorted(set(_DRIVER_SAMPLE_PRIORITY) - set(QUERIES))
)
QUERIES = {
    **{k: QUERIES[k] for k in _DRIVER_SAMPLE_PRIORITY},
    **{k: v for k, v in QUERIES.items() if k not in set(_DRIVER_SAMPLE_PRIORITY)},
}

