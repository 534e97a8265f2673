"""Filters / predicates (SURVEY.md §2.3, F1–F8).

All filters are declarative Column predicates so Catalyst pushes them to
the parquet scan (check ``PushedFilters`` in .explain). The dashboard's
dynamic sidebar filters (MAC:417-432) become a filter *spec* — a dict of
column → value with 'Todos' ("all") meaning skip — compiled to chained
predicates, which Catalyst conjuncts and pushes down as one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ALL = "Todos"  # reference sentinel for "no filter on this column" (MAC:420)


def eq(df: DataFrame, column: str, value) -> DataFrame:
    """F1: equality filter (df[df['Status Processo']=='PENDENTE'], AP:35)."""
    return df.filter(F.col(column) == F.lit(value))


def dynamic(df: DataFrame, spec: dict[str, object]) -> DataFrame:
    """F2: chained equality filters from a spec; ALL/'Todos'/None → skip.

    Reference: filtrar_dataframe, MAC:417-432 (5 sidebar filters).
    """
    for column, value in spec.items():
        if value is None or value == ALL:
            continue
        df = df.filter(F.col(column) == F.lit(value))
    return df


def date_range(df: DataFrame, column: str, lo, hi) -> DataFrame:
    """F3: conjunctive date-range filter (APC:264-267)."""
    return df.filter(F.col(column).between(F.lit(lo), F.lit(hi)))
