"""Scalar expression builders (SURVEY.md §2.9, X1–X14).

Everything here is a pure Column expression — JVM-side, codegen-able, no
Python UDFs. That keeps these functions inside whole-stage codegen at any
scale (D1 in SURVEY §2.11: the reference's elementwise ``apply(lambda)``
sites all decompose to ``when``/``format_number`` expressions).

Reference parity citations:
- X1 week label        — analise_pendentes.py:38-39
- X2 BRL currency      — análise_produtos_clientes.py:122, analise_pendentes.py:89
- X3 percent format    — análise_produtos_clientes.py:126-127
- X5 list→string       — manipulacao-analise-comercial.py:711,719
- X6 date parse        — análise_produtos_clientes.py:261, manipulacao-analise-comercial.py:270
- X7 date format       — análise_produtos_clientes.py:210,253,295
- X9 numeric coercion  — análise_produtos_clientes.py:100
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Exact-decimal money type. Sums over DecimalType are exact and therefore
# order-independent — the one property that makes a distributed sum
# reproducible bit-for-bit against any single-node oracle. Double sums
# vary in the low bits with partitioning; decimal sums never do.
MONEY = "decimal(18,2)"


def dsum_dec(col) -> Column:
    """Exact decimal sum of a money column (stays decimal)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(MONEY))


def dsum(col) -> Column:
    """Exact decimal sum rendered back as double (order-independent)."""
    return dsum_dec(col).cast("double")


def _grouped_2dp(col) -> Column:
    """Locale-independent ``-1,234.56`` built from exact decimal parts.

    Python's ``"{:,.2f}"`` groups thousands with ',' and keeps 2 dp
    (APC:122). Going through DECIMAL(18,2) makes the rounding exact and
    engine-portable (format_number on a double uses HALF_EVEN; a decimal
    cast is HALF_UP in both Spark and DuckDB).
    """
    c = F.col(col) if isinstance(col, str) else col
    d = c.cast(MONEY)
    sign = F.when(d < 0, F.lit("-")).otherwise(F.lit(""))
    ip = F.floor(F.abs(d)).cast("bigint")
    fp = (F.abs(d) * 100 % 100).cast("bigint")
    return F.concat(
        sign, F.format_number(ip, 0), F.lit("."), F.lpad(fp.cast("string"), 2, "0")
    )


def brl(col, null_as_empty: bool = True) -> Column:
    """X2: Brazilian-real currency string: ``R$ 1,234.56``.

    Python ``"R$ {:,.2f}".format(x)`` (APC:122). Nulls render as ""
    (APC:122 guards with pd.isna).
    """
    out = F.concat(F.lit("R$ "), _grouped_2dp(col))
    return F.coalesce(out, F.lit("")) if null_as_empty else out


def pct(col, null_as_empty: bool = True) -> Column:
    """X3: percent string ``12.34%`` (APC:126-127); null → ""."""
    out = F.concat(_grouped_2dp(col), F.lit("%"))
    return F.coalesce(out, F.lit("")) if null_as_empty else out


def week_label(idx_col) -> Column:
    """X1: snapshot position → week label (AP:38-39).

    idx 0 → ``Semana Atual``; idx N → ``Semana -N``.
    """
    c = F.col(idx_col) if isinstance(idx_col, str) else idx_col
    return F.when(c == 0, F.lit("Semana Atual")).otherwise(
        F.concat(F.lit("Semana -"), c.cast("string"))
    )


def parse_date(col, fmt: str | None = None) -> Column:
    """X6: lenient date parse — null on failure (= errors='coerce', APC:261)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.try_to_timestamp(c, F.lit(fmt)) if fmt else F.try_to_timestamp(c)
