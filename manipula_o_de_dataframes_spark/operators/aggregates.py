"""Aggregations (SURVEY.md §2.5, A1–A13).

Design rules, applied everywhere:

- **Exact decimal sums for money.** Double sums differ in the low bits
  across partitionings; decimal sums are exact and order-independent, so
  distributed results reproduce a single-node oracle bit-for-bit. Cast
  back to double at the edge.
- **Deterministic "first".** pandas ``first`` rides on file order
  (APC:187-198, MAC:455-460); Spark must pin an explicit total order.
  ``first_by``/``last_by`` use ``min_by``/``max_by`` over a packed
  struct key so ties break deterministically and the agg stays a single
  map-side-combinable hash aggregate (no window shuffle).
- **Ordered collect via sort_array-of-struct** (A9) — the only
  order-stable collect idiom under AQE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _cols(xs) -> list[Column]:
    return [F.col(x) if isinstance(x, str) else x for x in xs]


def _ord_key(order_by) -> Column:
    """Pack an ordering column list into one struct (lexicographic compare)."""
    return F.struct(*_cols(order_by))


def first_by(value, order_by: list) -> Column:
    """Deterministic 'first in explicit order' (pins A2/A3 pandas-first).

    ``min_by(value, struct(order...))`` — one pass, partial-aggregable.
    """
    v = F.col(value) if isinstance(value, str) else value
    return F.min_by(v, _ord_key(order_by))


def last_by(value, order_by: list) -> Column:
    """A10: argmax / last-by-date with pinned tie-break.

    Reference: idxmax on date → that row's consultant (APC:294-296,
    MAC:361-363; ties → first occurrence, which we pin via the extra
    order columns the caller supplies).
    """
    v = F.col(value) if isinstance(value, str) else value
    return F.max_by(v, _ord_key(order_by))


def ordered_list(value, order_by: list) -> Column:
    """A9: order-stable collect_list.

    ``sort_array(collect_list(struct(order..., value)))`` then project
    the value back out — stable under any partitioning, unlike a bare
    collect_list over a sorted child (AQE may reorder).
    Reference: per-group date-ordered history lists (APC:281-288,
    MAC:351-357).
    """
    v = F.col(value) if isinstance(value, str) else value
    packed = F.sort_array(F.collect_list(F.struct(*_cols(order_by), v.alias("__v"))))
    return F.transform(packed, lambda s: s["__v"])


def ordered_list_str(value, order_by: list, sep: str = ",") -> Column:
    """A9 + X5: ordered history rendered as one string (oracle-friendly)."""
    return F.array_join(
        F.transform(ordered_list(value, order_by), lambda x: x.cast("string")), sep
    )


def all_equal_collapse(value) -> tuple[Column, Column]:
    """A11: the reference's scalar-or-list union column, Spark-typed.

    pandas stores "scalar if all group values equal, else the list"
    in one object column (APC:236-243, 289-291). Spark columns are
    monotyped, so we return the pair (collapsed_scalar, full_sorted_list):
    collapsed is the value when the group is uniform, else null.
    """
    v = F.col(value) if isinstance(value, str) else value
    distinct = F.array_distinct(F.collect_list(v))
    collapsed = F.when(F.size(distinct) <= 1, F.element_at(distinct, 1))
    return collapsed, F.array_sort(F.collect_list(v))


def distinct_combinations(df: DataFrame, cols: list[str]) -> DataFrame:
    """A12: distinct key combinations (groupby-first-drop ≡ distinct, APC:226-228)."""
    return df.select(*cols).distinct()


def ordered_list_str_salted(
    df: DataFrame,
    keys: list[str],
    value,
    order_by: list,
    salt_expr: Column,
    n_salts: int = 16,
    sep: str = ",",
) -> DataFrame:
    """A9 under key skew: two-phase salted ordered collect.

    A hot grouping key funnels every row through one reducer — at scale
    a single collect_list OOMs it. Phase 1 groups by (key, salt) so the
    hot key's rows spread over ``n_salts`` reducers, each building a
    partial struct list; phase 2 merges the partials per key with
    ``flatten`` + one final ``sort_array`` (sorting structs restores the
    exact global order, so the result is identical to the unsalted
    ``ordered_list_str`` — the oracle need not know about salting).
    The phase-2 shuffle moves one packed array per (key, salt), not one
    row per input record.
    """
    v = F.col(value) if isinstance(value, str) else value
    packed = F.struct(*_cols(order_by), v.alias("__v"))
    salt = F.pmod(salt_expr, F.lit(n_salts)).alias("__salt")
    partial = df.groupBy(*keys, salt).agg(
        F.collect_list(packed).alias("__partial"),
        F.count(F.lit(1)).alias("__n"),
    )
    merged = partial.groupBy(*keys).agg(
        F.sort_array(F.flatten(F.collect_list("__partial"))).alias("__all"),
        F.sum("__n").alias("__n_total"),
    )
    rendered = F.array_join(
        F.transform(F.col("__all"), lambda s: s["__v"].cast("string")), sep
    )
    return merged.select(
        *keys, rendered.alias("__rendered"), F.col("__n_total").cast("long").alias("__count")
    )
