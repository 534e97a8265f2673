"""Joins (SURVEY.md §2.4, J1–J5).

Scale posture (revised r11, VERDICT r10 #1): an explicit ``broadcast()``
hint BYPASSES Spark's size check, so it is only safe on genuinely
bounded sides (nation/region, literal grids, top-k, one-row aggregates).
The dims these helpers receive in practice are customer/part/orders
frames — data-proportional at 100 TB — so the helpers no longer force a
broadcast: below the 10 MB auto-threshold Catalyst still picks
BroadcastHashJoin on its own (local SFs are unchanged), and above it AQE
converts sort-merge to broadcast at runtime exactly when the built side
actually fits. ``inner``/``left`` keep an explicit opt-in flag
(default False) for callers that KNOW their dim is bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def inner(facts: DataFrame, dim: DataFrame, on, broadcast_dim: bool = False) -> DataFrame:
    """J1: equi inner join (pd.merge(..., how='inner'), APC:180, MAC:35-41)."""
    return facts.join(F.broadcast(dim) if broadcast_dim else dim, on, "inner")


def left(facts: DataFrame, dim: DataFrame, on, broadcast_dim: bool = False) -> DataFrame:
    """J2: equi left outer join (pd.merge(..., how='left'), APC:162-167)."""
    return facts.join(F.broadcast(dim) if broadcast_dim else dim, on, "left")


def left_unique(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    order_by: list,
    attrs: list[str],
) -> DataFrame:
    """J3: dedupe-then-left-join (enrich with exactly one row per key).

    Reference dedups the build side with drop_duplicates (keeps first in
    row order, APC:109); Spark pins "first" with row_number over
    ``order_by`` for determinism, then broadcast-left-joins.
    """
    w = Window.partitionBy(key).orderBy(*order_by)
    one = (
        dim.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(key, *attrs)
    )
    return facts.join(one, key, "left")


def enrich(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    defaults: dict[str, object],
) -> DataFrame:
    """J4: enrichment with defaults for unmatched keys.

    The reference hand-rolls this as a python dict build + per-row probe
    with fallback attrs (build MAC:284-290, probe MAC:323-348, defaults
    ABC='C'/empty strings MAC:345-348). In Spark it is a LEFT join +
    coalesce(col, default) — left-join-plus-fill, not inner. No
    broadcast hint: the dim can grow with the data, so the size-checked
    planner (and AQE) decides the join strategy.
    """
    joined = facts.join(dim, key, "left")
    return joined.withColumns(
        {c: F.coalesce(F.col(c), F.lit(d)) for c, d in defaults.items() if c in joined.columns}
    )


def _row_salt(salt: int):
    """Row-unique salt in [0, salt): hash of the per-row monotonic id,
    NOT of the join key (tested: a single-key frame must spread)."""
    return F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(salt))


def salted_join(
    facts: DataFrame,
    build: DataFrame,
    key: str,
    salt: int = 4,
    how: str = "inner",
) -> DataFrame:
    """Skew-salted equi join for large⋈large with hot keys.

    Facts gain a ROW-level salt in [0, salt) — it must not be a
    function of the key alone, or every row of a hot key would land on
    the same (key, salt) partition and nothing spreads. The build side
    is replicated ×salt (explode over the salt range) and the join runs
    on (key, salt), so a hot key's rows fan across ``salt`` reducer
    partitions instead of one straggler. Row-for-row identical to the
    plain join for the FACT-preserving sides (inner/left/semi/anti:
    each fact row matches exactly the one build replica carrying its
    salt; the salt value itself never affects the result, so its
    run-to-run instability is harmless). 'right'/'full' are rejected —
    they would emit every unmatched build row once per replica. AQE's
    skew-join split handles moderate skew automatically; explicit
    salting is the tool when one key dominates a stage AQE can't split
    (e.g. a single monster partition feeding an aggregate). Cost:
    build ×salt — keep salt small.
    """
    # normalize Spark's documented alias set (leftouter/semi/leftanti/…)
    norm = how.lower().replace("_", "")
    if norm not in ("inner", "left", "leftouter", "semi", "leftsemi", "anti", "leftanti"):
        raise ValueError(
            f"salted_join(how={how!r}): only fact-preserving joins keep plain-join "
            "semantics; right/full would duplicate unmatched build rows ×salt"
        )
    f = facts.withColumn("__salt", _row_salt(salt))
    b = build.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return f.join(b, [key, "__salt"], how).drop("__salt")


def unmatched_keys(facts: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """J5/Q3: anti-join diagnostic — fact keys absent from the dimension.

    Reference: set(facts.key) - set(dim.key) → count/pct (MAC:746-755).
    Distinct-then-anti keeps the shuffle on the (small) distinct key set.
    """
    return (
        facts.select(key).distinct().join(dim.select(key).distinct(), key, "left_anti")
    )
