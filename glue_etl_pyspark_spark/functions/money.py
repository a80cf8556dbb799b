"""Order-independent money aggregation — the one money-sum path.

A double SUM's result depends on summation order: partial-aggregate
tree shape, partition count, engine. At sf0.01 the drift hides under a
6-dp comparison; at sf0.1 a 1e9-magnitude revenue sum drifts ~2e-6
across engines and the same query becomes flaky — caught by the
full-registry parity sweep at sf0.1. At 100 TB the drift is worse and
also RUN-dependent (AQE re-plans change the tree shape).

``msum`` floor-scales each per-row double to integer micro-units
(``floor(x*1e6 + 0.5)``: exact IEEE ops, bit-identical on Spark and
DuckDB per the repo's floor-scaling rule — unlike a decimal cast, which
splits on .5e-6 boundaries: Spark rounds the printed digits, DuckDB the
binary value) and accumulates those integers in DECIMAL(38,0). Integer
addition is exact and associative, so the sum is bit-identical
regardless of partitioning, plan shape, or engine; the result comes
back as a double so output schemas stay engine-neutral. DECIMAL(38,0)
never overflows where an ANSI long SUM would die (~9.2e12 money
units), and the long->Decimal path stays compact until the running
total tops 18 digits. Measured at sf0.1 (q1, 4 sums over 600k rows):
the older per-row decimal-cast sum 1.12 s -> msum 0.82 s; a plain long
sum is 0.59 s but overflows at scale, a plain double sum is
order-dependent.

``MSUM_SQL`` is the same sum as SQL text, used verbatim by every
DuckDB oracle and every ``spark.sql`` body (both engines accept it).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MSUM_SQL = "(CAST(SUM(CAST(floor({expr} * 1e6 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1e6)"


def msum(expr: Column) -> Column:
    """Order-independent sum of a money-valued double column (see
    module docstring; SQL twin: ``MSUM_SQL``)."""
    scaled = F.floor(expr * F.lit(1e6) + F.lit(0.5))
    return F.sum(scaled.cast("decimal(38,0)")).cast("double") / F.lit(1e6)
