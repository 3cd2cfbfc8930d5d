"""Engine-agreement lock for the integer half-up ratio helpers.

`_round6_ratio` / `_round6_ratio_signed` exist because rounding an
exact-rational double with Spark's round() and DuckDB's round() can
split on 7th-decimal midpoints (41/640 = 0.0640625). These tests pin:

1. the Spark helper equals the oracle-side floor formula evaluated in
   DuckDB, fraction for fraction, over an adversarial grid (every
   denominator that can produce a 7th-decimal midpoint, plus primes);
2. exact known midpoints round HALF UP (and half AWAY FROM ZERO when
   signed);
3. the NULL-propagation contract (NULL den → NULL, matching the old
   F.round behavior so no-NULL guards stay the callers' job).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from kairos_spark.exact import _round6_ratio, _round6_ratio_signed


def _grid():
    # denominators whose 1/d terminates with >= 7 decimals (2^a*5^b
    # forms) hit true midpoints; primes and composites cover the
    # non-terminating cases where the two engines' double rounds used
    # to drift. Numerators sweep the full [0, d] range coarsely plus
    # the exact-midpoint neighborhood.
    dens = [640, 1280, 12800, 512, 2560, 160, 3, 7, 11, 13, 97, 997, 640_000]
    cases = []
    for d in dens:
        step = max(1, d // 13)
        ns = set(range(0, d + 1, step)) | {1, d - 1, d, 41 % d}
        for n in ns:
            cases.append((n, d))
    return cases


def test_round6_ratio_matches_duckdb_floor_formula(spark):
    cases = _grid()
    sdf = spark.createDataFrame(cases, "n long, d long").select(
        "n", "d", _round6_ratio(F.col("n"), F.col("d")).alias("r")
    )
    got = {(r["n"], r["d"]): r["r"] for r in sdf.collect()}
    con = duckdb.connect()
    for n, d in cases:
        want = con.execute(
            f"SELECT floor((2000000 * CAST({n} AS BIGINT) + {d}) / (2.0 * {d})) / 1000000.0"
        ).fetchone()[0]
        assert got[(n, d)] == want, (n, d, got[(n, d)], want)


def test_known_midpoints_round_half_up(spark):
    rows = spark.range(1).select(
        _round6_ratio(F.lit(41), F.lit(640)).alias("a"),       # 0.0640625
        _round6_ratio(F.lit(1), F.lit(1280)).alias("b"),       # 0.00078125
        _round6_ratio(F.lit(5), F.lit(640)).alias("c"),        # 0.0078125
        _round6_ratio_signed(F.lit(-41), F.lit(640)).alias("d"),
        _round6_ratio_signed(F.lit(41), F.lit(640)).alias("e"),
        _round6_ratio_signed(F.lit(0), F.lit(7)).alias("z"),
    ).collect()[0]
    assert rows["a"] == 0.064063          # up, not 0.064062
    assert rows["b"] == 0.000781
    assert rows["c"] == 0.007813
    assert rows["d"] == -0.064063         # half AWAY FROM ZERO
    assert rows["e"] == 0.064063
    assert rows["z"] == 0.0


def test_signed_matches_duckdb_case_mirror(spark):
    cases = [(n, d) for n, d in _grid() if d <= 1280] + [(-41, 640), (-5, 640)]
    cases = [(n, d) for n, d in cases] + [(-n, d) for n, d in cases if n]
    sdf = spark.createDataFrame(cases, "n long, d long").select(
        "n", "d", _round6_ratio_signed(F.col("n"), F.col("d")).alias("r")
    )
    got = {(r["n"], r["d"]): r["r"] for r in sdf.collect()}
    con = duckdb.connect()
    for n, d in set(cases):
        want = con.execute(
            f"""SELECT CASE WHEN {n} >= 0
                 THEN  floor(( 2000000 * CAST({n} AS BIGINT) + {d})
                             / (2.0 * {d})) / 1000000.0
                 ELSE -floor((-2000000 * CAST({n} AS BIGINT) + {d})
                             / (2.0 * {d})) / 1000000.0 END"""
        ).fetchone()[0]
        assert got[(n, d)] == want, (n, d, got[(n, d)], want)


def test_null_denominator_propagates(spark):
    row = (
        spark.createDataFrame([(1, None)], "n long, d long")
        .select(_round6_ratio(F.col("n"), F.col("d")).alias("r"))
        .collect()[0]
    )
    assert row["r"] is None

def test_round6_ratio_dec_matches_duckdb_hugeint(spark):
    """_round6_ratio_dec == the HUGEINT // oracle mirror, including
    numerators past the BIGINT*2e6 ceiling where _round6_ratio would
    ANSI-overflow (the chao1 2*f2*v_obs product class)."""
    from kairos_spark.exact import _round6_ratio_dec

    cases = [(n, d) for n, d in _grid() if True] + [
        (2049 * 2049, 2 * 320),                 # odd f1, f2=320 chao1 midpoint
        (2 * 320 * 500 + 103 * 103, 2 * 320),   # full chao1 numerator form
        (123456789012345678, 123456),            # > 4.6e12: BIGINT 2e6*n overflows
        (10**17 + 7, 10**13 + 1),
        (999999999999999999, 2 * 10**6),
    ]
    sdf = spark.createDataFrame(cases, "n long, d long").select(
        "n", "d", _round6_ratio_dec(F.col("n"), F.col("d")).alias("r")
    )
    got = {(r["n"], r["d"]): r["r"] for r in sdf.collect()}
    con = duckdb.connect()
    for n, d in set(cases):
        want = con.execute(
            f"""SELECT CAST((2000000::HUGEINT * {n}::HUGEINT + {d}::HUGEINT)
                        // (2::HUGEINT * {d}::HUGEINT) AS BIGINT) / 1000000.0"""
        ).fetchone()[0]
        assert got[(n, d)] == want, (n, d, got[(n, d)], want)


def test_round6_ratio_dec_agrees_with_plain_in_bigint_range(spark):
    """Inside _round6_ratio's exact regime the two helpers agree, so
    swapping a site to the dec variant never changes green results."""
    from kairos_spark.exact import _round6_ratio, _round6_ratio_dec

    cases = [(n, d) for n, d in _grid() if d <= 12800]
    sdf = spark.createDataFrame(cases, "n long, d long").select(
        "n",
        "d",
        _round6_ratio(F.col("n"), F.col("d")).alias("a"),
        _round6_ratio_dec(F.col("n"), F.col("d")).alias("b"),
    )
    for r in sdf.collect():
        assert r["a"] == r["b"], (r["n"], r["d"], r["a"], r["b"])


def test_round6_bridge_agrees_on_splitting_midpoints(spark):
    """_round6_bridge == DuckDB's decimal-bridge mirror on exactly the
    doubles where bare round(double, 6) splits the engines (shortest
    rendering is a 7-digit midpoint, nearest double below it), plus
    agreeing midpoints and garden-variety values."""
    from kairos_spark.exact import _round6_bridge

    vals = [
        41 / 640,    # plain round SPLITS (Spark .064063, DuckDB .064062)
        323 / 640,   # plain round SPLITS
        333 / 640,   # plain round SPLITS
        7 / 640, 177 / 640, 5 / 128, 87 / 128,   # midpoints that agree
        (1 / 2) * (1 / 2) * (41 / 160),          # the absorption fixture value
        1 / 3, 2 / 3, 0.1234567891234, 0.9999999999999, 1e-13, 0.0, 1.0,
    ]
    sdf = spark.createDataFrame([(v,) for v in vals], "v double").select(
        "v", _round6_bridge(F.col("v")).alias("r")
    )
    got = {r["v"]: r["r"] for r in sdf.collect()}
    con = duckdb.connect()
    for v in vals:
        want = con.execute(
            "SELECT CAST(round(CAST(?::DOUBLE AS DECIMAL(27,12)), 6) AS DOUBLE)",
            [v],
        ).fetchone()[0]
        assert got[v] == want, (v, got[v], want)
    # and the three splitting cases land on the HALF-UP side
    assert got[41 / 640] == 0.064063
    assert got[323 / 640] == 0.504688
    assert got[333 / 640] == 0.520313


def test_round6_bridge_vs_plain_round_split_is_real(spark):
    """Documents WHY the bridge exists: bare F.round and DuckDB round
    genuinely disagree on 41/640 (guards against 'simplifying' the
    bridge back to F.round)."""
    v = 41 / 640
    plain = spark.range(1).select(F.round(F.lit(v), 6).alias("r")).collect()[0]["r"]
    duck = duckdb.connect().execute("SELECT round(?::DOUBLE, 6)", [v]).fetchone()[0]
    assert plain == 0.064063 and duck == 0.064062  # the split, pinned


def test_round6_ratio_dec_property_vs_exact_rational(spark):
    """Property check: _round6_ratio_dec equals the exact
    Fraction-computed half-up round AND DuckDB's HUGEINT mirror over
    random (num, den) spanning the full supported range — including
    numerators far past the BIGINT*2e6 ceiling."""
    from fractions import Fraction

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kairos_spark.exact import _round6_ratio_dec

    con = duckdb.connect()

    # the helper's contract is num/den < ~9e12 (quotient must fit
    # BIGINT after the 2e6 scaling) — hypothesis found the boundary at
    # 9_223_372_036_855/1, so the strategy draws inside the contract
    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 10**15), st.integers(1, 10**9)).filter(
                lambda t: t[0] // t[1] <= 9 * 10**12
            ),
            min_size=4,
            max_size=12,
        )
    )
    def run(cases):
        sdf = spark.createDataFrame(cases, "n long, d long").select(
            "n", "d", _round6_ratio_dec(F.col("n"), F.col("d")).alias("r")
        )
        got = {(r["n"], r["d"]): r["r"] for r in sdf.collect()}
        for n, d in set(cases):
            ref = float(Fraction(2_000_000 * n + d, 2 * d).__floor__()) / 1e6
            want = con.execute(
                f"""SELECT CAST((2000000::HUGEINT * {n}::HUGEINT + {d}::HUGEINT)
                            // (2::HUGEINT * {d}::HUGEINT) AS BIGINT) / 1000000.0"""
            ).fetchone()[0]
            assert got[(n, d)] == want == ref, (n, d, got[(n, d)], want, ref)

    run()
