"""Engine-portable decimal rounding of integer ratios.

``round(a / b, k)`` on a double is NOT portable across engines at exact
half-way points: Spark's ``round()`` goes through
``BigDecimal.valueOf(double)``, which renders the SHORTEST decimal
string (so the double nearest 44.94875 rounds half-UP to 44.9488),
while DuckDB rounds the BINARY value (the same double sits just below
the half, so it rounds DOWN to 44.9487). Found by the round-7
cross-scale gate on ``events_time_weighted_avg`` — the sf0.01 driver
gate never hit a half-way input, the sf0.1 gate did.

When both operands are exact integers the fix is to round in integer
space and divide once at the end:

    round_half_up(a / b, k) == ((2*10^k * a + b) div (2 * b)) / 10^k

for a >= 0, b > 0 (both engines' integer division truncates toward
zero, which equals floor for non-negative operands). For NEGATIVE a
the identity yields round-half-TOWARD-ZERO instead of half-up — but
measured on both engines (Spark `div` and DuckDB `//` both truncate
toward zero: -9499800 div 400 = -23749 on each), so cross-engine
parity still holds for signed numerators; the round-8 events sweep
plants a negative-value (refund) user to pin exactly that. Spark
evaluates it in long/HUGEINT-exact
arithmetic via the SQL ``div`` operator; the DuckDB oracle mirrors it
with ``//``. Overflow bound: 2*10^k * a must fit int64, i.e.
a < ~4.6e14 at k=4 and ~4.6e12 at k=6 — document the bound at any call
site whose numerator can grow with the corpus.

Exactness: within that bound the result is the double nearest the exact
decimal q * 10^-k, q the integer quotient, on both engines. The final
step casts the decimal literal string ``q || 'E-' || k`` to DOUBLE, and
each engine parses such a literal correctly rounded. Casting q to
DOUBLE and then dividing by 10^k rounds twice once |q| > 2^53: for
q = -9007199254749999, k = 4 it gives -900719925475.0 where the nearest
double is -900719925474.9999. For |q| <= 2^53 the two forms are equal.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_ratio(a_sql: str, b_sql: str, k: int) -> Column:
    """round-half-up(a/b, k) over integer SQL fragments, exactly.

    Takes SQL fragments (column names or integer expressions) rather
    than Columns because the integer ``div`` operator is only reachable
    through the SQL parser; pre-project window/aggregate operands to
    named columns first. Requires a >= 0, b > 0.
    """
    p = 10 ** k
    # The multiplier literal is written `...L` (BIGINT) so the whole
    # expression evaluates in long arithmetic even when the operands
    # are INT columns or literals — `20000 * <int>` would otherwise
    # overflow INT32 under ANSI. The quotient becomes the double by
    # parsing its decimal string `qE-k` (see the module docstring).
    return F.expr(
        f"CAST(CAST(({2 * p}L * ({a_sql}) + ({b_sql})) div (2 * ({b_sql}))"
        f" AS STRING) || 'E-{k}' AS DOUBLE)"
    )


def sql_round_ratio(a_sql: str, b_sql: str, k: int) -> str:
    """The DuckDB twin of :func:`round_ratio` (HUGEINT-exact ``//``)."""
    p = 10 ** k
    return (
        f"CAST(CAST(({2 * p}::BIGINT * ({a_sql}) + ({b_sql})) // (2 * ({b_sql}))"
        f" AS VARCHAR) || 'E-{k}' AS DOUBLE)"
    )
