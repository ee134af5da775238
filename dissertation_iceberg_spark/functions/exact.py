"""Exact cross-engine numeric forms, written once as SQL/Column pairs
that Spark plans and DuckDB oracles both use.

- Cents: a 2-dp amount as an exact BIGINT,
  ``CAST(round(x * 100) AS BIGINT)``. Sums of cents are exact in any
  aggregation order, so a ratio of two such sums is the same double in
  both engines. Sub-cent inputs are quantized to the cent.
- 6-dp display rounding on the integer grid,
  ``CAST(round(x * 1e6) AS BIGINT) / 1e6``. ``round(x, 6)`` is not
  portable: Spark rounds the double's decimal form (BigDecimal), DuckDB
  multiplies by 1e6 and rounds, so a double within an ulp of a 6-dp
  midpoint (1 in ~1e3 rows at sf0.1) can come out one unit apart in
  the 6th decimal. Rounding the identical double to an integer is
  bit-stable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents_sql(x: str) -> str:
    """``x`` (a 2-dp amount) as exact integer cents."""
    return f"CAST(round({x} * 100) AS BIGINT)"


def r6_sql(x: str) -> str:
    """6-dp integer-grid rounding of the SQL expression ``x``."""
    return f"CAST(round(({x}) * 1e6) AS BIGINT) / 1e6"


def r6(col: Column) -> Column:
    """6-dp integer-grid rounding of a Column (mirrors :func:`r6_sql`)."""
    return F.round(col * 1e6).cast("long") / 1e6
