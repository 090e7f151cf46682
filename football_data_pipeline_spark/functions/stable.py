"""Order-stable float aggregation.

Summing doubles is order-dependent; Spark and DuckDB (and any two
cluster runs with different partitionings!) can disagree in the last
ulps, which flips ROUND(sum, 2) when the true value sits near a .xx5
boundary — a real hash-mismatch observed at sf0.001 on q_star_join.

Fix: cast each term to DECIMAL(28,4) before summing. Per-row double
arithmetic is IEEE-deterministic and identical across engines; the
decimal sum is exact integer arithmetic, hence order-independent and
engine-independent. The result is cast back to DOUBLE and rounded for
presentation. This also makes results reproducible across cluster
sizes — a correctness property worth having at 100 TB, not just an
oracle trick.

A second, subtler hazard: ROUND itself is engine-dependent on
doubles. Spark rounds the value's shortest decimal REPR (HALF_UP via
BigDecimal); DuckDB rounds the BINARY value. A quality score whose
true double is 0.600249999… but prints as "0.60025" rounds to 0.6003
in Spark and 0.6002 in DuckDB — observed at sf0.001. Two stable
alternatives, used everywhere in this engine:
- exact path (sums/avgs): round IN DECIMAL (exact, HALF_UP ==
  half-away-from-zero in both engines), THEN cast to double;
- derived-ratio path: ``rnd`` = floor(x·10^k + 0.5)/10^k — pure
  float ops, so identical input doubles give identical outputs on
  any engine (the convention at negative .5 boundaries differs from
  HALF_UP, but it differs identically everywhere).

Oracle-side equivalents (DuckDB):
    dsum  → CAST(round(sum(CAST(x AS DECIMAL(28,4))), 2) AS DOUBLE)
    davg  → floor((…sum…/count) * 100 + 0.5) / 100
    rnd   → floor(x * 10^k + 0.5) / 10^k
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DECIMAL = "decimal(28,4)"


def rnd(col: Column, k: int = 2) -> Column:
    """Engine-stable rounding of a double to k decimals:
    floor(x·10^k + 0.5)/10^k. Same double in → same double out,
    regardless of engine round() semantics."""
    scale = 10**k
    return F.floor(col * scale + F.lit(0.5)) / scale


def oracle_rnd(expr: str, k: int = 2) -> str:
    """``rnd`` as SQL text. The same text is valid Spark SQL and
    plans to the same double arithmetic as ``rnd``, so SQL-built
    engine statements use it too."""
    scale = 10**k
    return f"floor(({expr}) * {scale} + 0.5) / {scale}"


def dsum(col: Column | str, round_to: int = 2) -> Column:
    """Order-stable SUM of a double expression: exact decimal sum,
    decimal rounding, then cast."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(DECIMAL)), round_to).cast("double")


def davg(col: Column | str, round_to: int = 2) -> Column:
    """Order-stable AVG: exact decimal sum / non-null count, then
    stable float rounding."""
    c = F.col(col) if isinstance(col, str) else col
    return rnd(F.sum(c.cast(DECIMAL)).cast("double") / F.count(c), round_to)


def oracle_dsum(expr: str, round_to: int = 2) -> str:
    return f"CAST(round(sum(CAST({expr} AS DECIMAL(28,4))), {round_to}) AS DOUBLE)"


def oracle_davg(expr: str, round_to: int = 2) -> str:
    inner = f"CAST(sum(CAST({expr} AS DECIMAL(28,4))) AS DOUBLE) / count({expr})"
    return oracle_rnd(inner, round_to)
