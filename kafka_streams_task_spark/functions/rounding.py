"""Cross-engine-stable rounding for oracle-checked float outputs.

Spark's ``round`` on doubles converts through ``BigDecimal.valueOf`` (shortest
decimal repr) and rounds HALF_UP; DuckDB rounds the scaled double to nearest
(ties to even). A value landing exactly on a rounding boundary — which happens
systematically when averaging 2-decimal money values over counts with factors
of 2 and 5 (e.g. avg of 8 values = x.xxxx5) — rounds differently in the two
engines and flips the driver's value hash.

``stable_round`` adds a tiny positive bias before rounding: three orders of
magnitude below the rounding bucket (so it never moves a non-boundary value
to a different bucket) but far above cross-engine float noise (summation-order
ULP differences), so boundary values land strictly inside the upper bucket in
BOTH engines. Oracle SQL must apply the same bias: ``round(x + 1e-05, 2)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def stable_round(col: Column, digits: int) -> Column:
    eps = 10.0 ** -(digits + 3)
    return F.round(col + F.lit(eps), digits)

