"""Money rules, written once per engine.

Money is exact in DECIMAL(18,2) and leaves an aggregate as DOUBLE in
both engines (the first determinism rule in ``registry.py``): a decimal
sum is order independent, so the Spark result hash-matches its DuckDB
oracle. Rates (discount, tax) are DECIMAL(4,2); tpch Q1 averages the
discount from a DECIMAL(18,4) sum.

Each rule is a pair: a Spark Column builder and its DuckDB SQL twin.
Columns are named as strings.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY = "decimal(18,2)"
RATE = "decimal(4,2)"
RATE_SUM = "decimal(18,4)"


def money(c: str | Column) -> Column:
    """A value cast to MONEY; `c` is a column name or a Column."""
    return (F.col(c) if isinstance(c, str) else c).cast(MONEY)


def rate(c: str) -> Column:
    return F.col(c).cast(RATE)


def money_sum(c: str) -> Column:
    """The exact money sum, as DOUBLE."""
    return F.sum(money(c)).cast("double")


def disc_price() -> Column:
    """extendedprice * (1 - discount), all decimal: inputs cast once,
    no double rounding anywhere."""
    return money("l_extendedprice") * (F.lit(1) - rate("l_discount"))


def disc_price_sum() -> Column:
    """The exact sum of the discounted price, as DOUBLE."""
    return F.sum(disc_price()).cast("double")


def duck_money(c: str) -> str:
    return f"cast({c} as {MONEY})"


def duck_rate(c: str) -> str:
    return f"cast({c} as {RATE})"


def duck_money_sum(c: str) -> str:
    return f"cast(sum({duck_money(c)}) as double)"


def duck_disc_price() -> str:
    return f"{duck_money('l_extendedprice')} * (1 - {duck_rate('l_discount')})"


def duck_disc_price_sum() -> str:
    return f"cast(sum({duck_disc_price()}) as double)"
