"""Deterministic rounding for cross-engine comparison.

Averages/stddevs of values that sit on a decimal grid (prices with 2
decimals, pre-rounded diffs) frequently land EXACTLY on the rounding
boundary of the output precision (e.g. mean 30.97875 rounded to 4 dp).
There, ~1e-13 float summation-order differences between engines flip
the final digit. ``stable_round`` first snaps to ``n+6`` decimals —
collapsing any FP noise onto the same value — then rounds to ``n``,
so both engines make the same boundary decision.

Use it on every multi-row mean/stddev whose inputs are grid-aligned;
single-op ratios and non-grid sums don't need it (both engines compute
bit-identical doubles there).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def stable_round(c: Column, n: int) -> Column:
    return F.round(F.round(c, n + 6), n)


# --- exact integer statistics -----------------------------------------------
# For decimal-grid inputs (2-dp prices, 4-dp-rounded diffs) the mean
# frequently lies EXACTLY on the output rounding boundary, where no
# double-precision computation is reliably reproducible across engines
# or summation orders. Quantizing to integers makes the sums exact and
# order-independent; one final division yields the same double — and
# hence the same rounded value — everywhere. This is the engine's
# determinism guarantee: results don't depend on partitioning.

def quantized(c: Column, scale: int) -> Column:
    """Value snapped to the 10^-scale grid as an exact long."""
    return F.round(c * (10 ** scale), 0).cast("long")


def c_round(x: Column, out_dp: int) -> Column:
    """floor(x·10^dp + 0.5)/10^dp for non-negative x.

    Spark's F.round rounds the double's SHORTEST DECIMAL REPR (via
    BigDecimal.valueOf), so a mean whose true value is exactly on the
    boundary (e.g. 41.94875 stored as 41.94874999…96) rounds UP in
    Spark but DOWN in engines that round the binary value (DuckDB,
    C). For the exact-integer statistics — where both engines hold
    bit-identical doubles — C-style rounding makes the final digit
    engine-independent."""
    s = float(10 ** out_dp)
    return F.floor(x * s + F.lit(0.5)) / s


def exact_mean(qcol: Column, count: Column, scale: int, out_dp: int) -> Column:
    """round(Σq / (n·10^scale), out_dp) from a pre-summed quantized col."""
    return c_round(qcol / (count * float(10 ** scale)), out_dp)


def exact_stddev_samp(sum_q: Column, sum_q2: Column, count: Column,
                      scale: int, out_dp: int) -> Column:
    """Sample stddev from exact integer Σq and Σq²:
    sqrt((n·Σq² − (Σq)²) / (n(n−1))) / 10^scale, NULL when n < 2.

    The cross products overflow a long for big groups, so they run in
    DecimalType(38,0) — exact, like DuckDB's HUGEINT — and only the
    final ratio drops to double (both engines round the same exact
    integer to the same double)."""
    n = count
    d = "decimal(38,0)"
    var_num = (
        n.cast(d) * sum_q2.cast(d) - sum_q.cast(d) * sum_q.cast(d)
    ).cast("double")
    return F.when(
        n >= 2,
        c_round(F.sqrt(var_num / (n * (n - 1)).cast("double")) / float(10 ** scale),
                 out_dp),
    )

