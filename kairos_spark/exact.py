"""Engine-agreement arithmetic: each exact-rounding kernel as a pair.

Every kernel below is a Spark ``Column`` builder (what the queries run)
next to the SQL-text builder (``*_sql``) its DuckDB oracle calls, so
the formula both engines evaluate is written once. The SQL builders
take SQL-text arguments and parenthesize each one, so any expression
can be passed. A ratio result ends in ``/ 1000000.0`` with no outer
parentheses, as the oracles always spelled it inline: parenthesize the
call before using it as a divisor.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def _round6_ratio(num: Column, den: Column) -> Column:
    """round-half-up(num/den, 6) via exact integer arithmetic:
    floor((2·num·10^6 + den) / (2·den)) / 10^6. Integer-count ratios
    are exact rationals that can land EXACTLY on a 7th-decimal midpoint
    (e.g. 41/640 = 0.0640625, or 4 puncts in 512 chars = 0.0078125),
    where Spark's shortest-string round and DuckDB's multiply-round
    disagree; integer math is engine-identical. den ≥ 1 required.
    Bounds: the floor is mathematically exact while 2·10^6·num + den
    stays under 2^53 (num ≲ 2^32); between 2^32 and the ANSI BIGINT
    ceiling (num < (2^63−1)/2·10^6 ≈ 4.6·10^12) cross-engine PARITY
    still holds — both engines perform the identical int64→double
    conversion and the identical double division — but the result may
    differ from true half-up by 1 ulp of the quotient. Past 4.6·10^12
    the 2·10^6·num product hard-errors under Spark ANSI (and overflows
    DuckDB BIGINT): route through :func:`_round6_ratio_dec` instead.
    The float division's error (~1 ulp) is far below the ≥ 1/(2·den)
    gap to the nearest wrong integer, so the floor is exact in the
    2^53 regime. Oracles mirror with :func:`round6_ratio_sql`."""
    # force 64-bit arithmetic: length()/regexp_count() return INT, and
    # 2e6·num in 32-bit hard-errors under ANSI once num > 1073 (hit by
    # a ~2900-digit adversarial doc; DuckDB auto-widens, Spark doesn't)
    num = num.cast("long")
    den = den.cast("long")
    return (
        F.floor((F.lit(2_000_000) * num + den) / (F.lit(2) * den)).cast("long")
        / F.lit(1_000_000.0)
    )


def round6_ratio_sql(n: str, d: str) -> str:
    """DuckDB mirror of :func:`_round6_ratio`."""
    return f"floor((2000000 * ({n}) + ({d})) / (2.0 * ({d}))) / 1000000.0"


def _round6_ratio_dec(num: Column, den: Column) -> Column:
    """:func:`_round6_ratio` for numerators that can exceed the BIGINT
    product ceiling (num ≥ ~4.6·10^12, e.g. pairwise-count products like
    2·f2·v_obs or micro-unit monetary sums): the same
    floor((2·10^6·num + den)/(2·den)) computed entirely in
    DECIMAL(38,0), which holds 38 digits — no ANSI overflow and no
    double rounding anywhere. The division is made exact by stripping
    the remainder first (x − pmod(x, y) is an exact multiple of y, so
    Spark's DECIMAL division returns the integer quotient exactly at
    any result scale). Requires den ≥ 1 and num/den < ~9·10^12 so the
    quotient fits BIGINT — every round-6 ratio/estimate here is far
    below that. Verified engine-identical against DuckDB HUGEINT on
    midpoint and 10^17-scale fixtures (tests/test_round6_ratio.py).
    Oracles mirror with :func:`round6_ratio_dec_sql`."""
    x = num.cast("decimal(38,0)") * F.lit(2_000_000) + den.cast("decimal(38,0)")
    y = den.cast("decimal(38,0)") * F.lit(2)
    q = (x - F.pmod(x, y)) / y
    return q.cast("long") / F.lit(1_000_000.0)


def round6_ratio_dec_sql(n: str, d: str) -> str:
    """DuckDB mirror of :func:`_round6_ratio_dec` (HUGEINT floor
    division)."""
    return (
        f"CAST((2000000::HUGEINT * ({n}) + ({d})) // (2::HUGEINT * ({d}))"
        " AS BIGINT) / 1000000.0"
    )


def _round6_bridge(col: Column) -> Column:
    """Engine-agreeing round-6 for a DOUBLE that is NOT expressible as
    one integer ratio (iterative fixed points: pagerank, absorption
    probabilities). Plain round(double, 6) splits when the double's
    shortest decimal rendering is a 7-digit midpoint whose nearest
    double sits below it (41/640 → Spark 0.064063 via shortest-string
    HALF_UP, DuckDB 0.064062 via the multiply; engine-probed). The
    bridge casts to DECIMAL(27,12) first: both engines' double→decimal
    conversions land on the IDENTICAL 12-digit decimal (Spark's
    shortest-string parse and DuckDB's ×10^12 multiply agree — a split
    would need the double within half an ulp of a 13th-digit midpoint,
    and for every ≤12-digit-exact value, midpoints included, both are
    exact), and round(decimal, 6) is plain HALF_UP in both. Engine
    battery: tests/test_round6_ratio.py::test_round6_bridge_*.
    AGREEMENT BOUND: the two conversions coincide only while the
    double's binary tail beyond 12 decimals is sub-half-ulp-of-10^-12,
    i.e. ulp(x) < 10^-12 → |x| < ~4.5·10^3 (probed r7: at 10^12
    magnitudes Spark zero-pads the shortest rendering while DuckDB
    expands the binary fraction — they genuinely differ). Every call
    site here carries probabilities/ratios ≤ 1; keep it that way.
    Oracles mirror with :func:`round6_bridge_sql`."""
    return F.round(col.cast("decimal(27,12)"), 6).cast("double")


def round6_bridge_sql(x: str) -> str:
    """DuckDB mirror of :func:`_round6_bridge`."""
    return f"CAST(round(CAST({x} AS DECIMAL(27,12)), 6) AS DOUBLE)"


def _round6_ratio_dec_signed(num: Column, den: Column) -> Column:
    """:func:`_round6_ratio_dec` for numerators that can be NEGATIVE
    (den ≥ 1): round half AWAY FROM ZERO like ``_round6_ratio_signed``.
    Oracles mirror with :func:`round6_ratio_dec_signed_sql`.
    The `+ 0.0` normalizes the signed zero the `-mag` branch produces
    when a negative numerator rounds to zero (|num|/den < 5e-7): Spark
    would emit -0.0 while the oracle's negated-BIGINT zero is +0.0,
    and the driver value-hash renders them differently (ADVICE r10).
    IEEE -0.0 + 0.0 = +0.0, identity elsewhere."""
    mag = _round6_ratio_dec(F.abs(num), den)
    return F.when(num >= 0, mag).otherwise(-mag) + F.lit(0.0)


def round6_ratio_dec_signed_sql(n: str, d: str) -> str:
    """DuckDB mirror of :func:`_round6_ratio_dec_signed`. The negated
    BIGINT quotient is already an unsigned zero, so no ``+ 0.0``."""
    return (
        f"CASE WHEN ({n}) >= 0"
        f" THEN CAST((2000000::HUGEINT * ({n}) + ({d})) // (2::HUGEINT * ({d}))"
        " AS BIGINT) / 1000000.0"
        f" ELSE -CAST((-2000000::HUGEINT * ({n}) + ({d})) // (2::HUGEINT * ({d}))"
        " AS BIGINT) / 1000000.0 END"
    )


def _round6_ratio_signed(num: Column, den: Column) -> Column:
    """_round6_ratio for a numerator that can be NEGATIVE (den > 0):
    round half AWAY FROM ZERO, matching what both engines' round()
    does on negative doubles — sign(num) · half-up(|num|/den). Oracles
    mirror with :func:`round6_ratio_signed_sql`.
    The `+ 0.0` normalizes the signed zero the `-mag` branch produces
    when a negative numerator rounds to zero (|num|/den < 5e-7): Spark
    would emit -0.0, and so would an oracle's negated floor without
    the same `+ 0.0`; the driver value-hash renders -0.0 and 0.0
    differently (ADVICE r10). IEEE -0.0 + 0.0 = +0.0, identity
    elsewhere."""
    mag = _round6_ratio(F.abs(num), den)
    return F.when(num >= 0, mag).otherwise(-mag) + F.lit(0.0)


def round6_ratio_signed_sql(n: str, d: str) -> str:
    """DuckDB mirror of :func:`_round6_ratio_signed`, with the same
    ``+ 0.0`` (the negated DOUBLE floor is -0.0 on a zero magnitude)."""
    return (
        f"(CASE WHEN ({n}) >= 0"
        f" THEN floor((2000000 * ({n}) + ({d})) / (2.0 * ({d}))) / 1000000.0"
        f" ELSE -floor((-2000000 * ({n}) + ({d})) / (2.0 * ({d}))) / 1000000.0"
        " END + 0.0)"
    )


def _cents(col: Column) -> Column:
    """Exact integer hundredths of a (nominally 2-decimal-fixed) value
    with an ENGINE-MIRRORED tie rule. ``F.rint`` is round-half-to-even
    while DuckDB's ``round(x, 0)`` is half-away-from-zero: under the
    2dp contract x·100 never lands on .5 so they agree, but the
    contract is unasserted and testdata encodings change between
    rounds (ADVICE r8) — a 3-decimal value like 0.125 would split the
    engines. Both sides therefore compute the identical
    sign(x)·floor(|x·100| + 0.5): floor on the same IEEE double is
    engine-exact. Oracles mirror with :func:`cents_sql`."""
    x = col.cast("double") * F.lit(100)
    return (
        F.when(x >= 0, F.floor(x + F.lit(0.5)))
        .otherwise(-F.floor(-x + F.lit(0.5)))
        .cast("long")
    )


def cents_sql(v: str) -> str:
    """DuckDB mirror of :func:`_cents`."""
    return (
        f"CASE WHEN CAST({v} AS DOUBLE) >= 0"
        f" THEN CAST(floor(CAST({v} AS DOUBLE) * 100 + 0.5) AS BIGINT)"
        f" ELSE -CAST(floor(-CAST({v} AS DOUBLE) * 100 + 0.5) AS BIGINT) END"
    )
