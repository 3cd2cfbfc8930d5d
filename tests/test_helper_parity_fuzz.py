"""Batched randomized parity fuzz of the engine-agreement helpers.

The deterministic batteries (test_round6_ratio.py, test_signed_zero.py,
test_round9_ops.py) pin the KNOWN hazard points — midpoints, ties,
signed zeros. This suite searches for UNKNOWN counterexamples: large
seeded-random pools (plus the hazard families mixed in) flow through
each helper in ONE Spark job and through the SQL its oracles emit (the
``kairos_spark.exact`` builders) in ONE DuckDB query, and every row
must agree exactly. A failure here
is a new engine-divergence class — investigate before touching the
seed.

Batched (not per-example Hypothesis) because a Spark job per example
is ~100ms; one job per 20k examples keeps the whole suite in seconds
while sweeping far more space than any hand grid.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kairos_spark.exact import (
    _cents,
    _round6_bridge,
    _round6_ratio,
    _round6_ratio_dec,
    _round6_ratio_dec_signed,
    _round6_ratio_signed,
    cents_sql,
    round6_bridge_sql,
    round6_ratio_dec_signed_sql,
    round6_ratio_dec_sql,
    round6_ratio_signed_sql,
    round6_ratio_sql,
)

N = 20_000
SEED = 20260815


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


def _int_pool(rng, lo, hi, n):
    # log-uniform magnitudes so small counts and huge counts both appear
    mag = rng.uniform(np.log10(max(lo, 1)), np.log10(hi), n)
    return (10 ** mag).astype("int64")


def test_ratio_helpers_random_parity(spark, con):
    rng = np.random.default_rng(SEED)
    d = _int_pool(rng, 1, 4_000_000_000, N)          # den across 9 decades
    frac = rng.uniform(0, 1, N)
    num = (frac * d).astype("int64")                  # num in [0, d]
    # mix in exact midpoint-producing families: n/(2^a·5^b) denominators
    d[:2000] = rng.choice([640, 128, 512, 1280, 320, 2560, 10_000_000], 2000)
    num[:2000] = (rng.uniform(0, 1, 2000) * d[:2000]).astype("int64")
    sign = rng.choice([-1, 1], N)
    pdf = pd.DataFrame({"n": num, "d": d, "sn": num * sign})
    out = (
        spark.createDataFrame(pdf)
        .select(
            _round6_ratio(F.col("n"), F.col("d")).alias("r"),
            _round6_ratio_signed(F.col("sn"), F.col("d")).alias("rs"),
        )
        .toPandas()
    )
    con.register("pool", pdf)
    dk = con.execute(
        f"""
        SELECT {round6_ratio_sql("n", "d")} AS r,
               {round6_ratio_signed_sql("sn", "d")} AS rs
        FROM pool
        """
    ).df()
    for c in ("r", "rs"):
        bad = int((out[c].to_numpy() != dk[c].to_numpy()).sum())
        assert bad == 0, (c, bad)


def test_dec_ratio_helpers_random_parity(spark, con):
    rng = np.random.default_rng(SEED + 1)
    # numerators past the BIGINT·2e6 ceiling up to the documented
    # num/den < ~9e12 quotient bound
    d = _int_pool(rng, 1, 1_000_000, N // 2)
    q = rng.uniform(0, 9e12, N // 2)
    num = (q * d).astype("float64").astype("int64").clip(min=0)
    sign = rng.choice([-1, 1], N // 2)
    pdf = pd.DataFrame({"n": num, "d": d, "sn": num * sign})
    out = (
        spark.createDataFrame(pdf)
        .select(
            _round6_ratio_dec(F.col("n"), F.col("d")).alias("r"),
            _round6_ratio_dec_signed(F.col("sn"), F.col("d")).alias("rs"),
        )
        .toPandas()
    )
    con.register("pool_dec", pdf)
    dk = con.execute(
        f"""
        SELECT {round6_ratio_dec_sql("n", "d")} AS r,
               {round6_ratio_dec_signed_sql("sn", "d")} AS rs
        FROM pool_dec
        """
    ).df()
    for c in ("r", "rs"):
        bad = int((out[c].to_numpy() != dk[c].to_numpy()).sum())
        assert bad == 0, (c, bad)


def test_bridge_random_parity(spark, con):
    rng = np.random.default_rng(SEED + 2)
    # the bridge contract domain: |x| < ~4.5e3; mix uniform, tiny,
    # exact rationals, dyadic-coarse (cast-tie family), and ±0
    pools = [
        rng.uniform(-4500, 4500, N // 2),
        rng.uniform(-1e-5, 1e-5, N // 4),
        rng.integers(0, 10_000, N // 8) / rng.choice([640.0, 8192.0, 997.0], N // 8),
        rng.integers(-8192, 8192, N // 8) / 8192.0,
    ]
    x = np.concatenate(pools)
    pdf = pd.DataFrame({"x": x})
    out = (
        spark.createDataFrame(pdf)
        .select(_round6_bridge(F.col("x")).alias("b"))
        .toPandas()
    )
    con.register("pool_b", pdf)
    dk = con.execute(f"SELECT {round6_bridge_sql('x')} AS b FROM pool_b").df()
    a = out["b"].to_numpy()
    b = dk["b"].to_numpy()
    # bit-compare so +0.0 / -0.0 and every last-ulp case counts
    bad = int((a.view(np.int64) != b.view(np.int64)).sum())
    if bad:
        idx = np.nonzero(a.view(np.int64) != b.view(np.int64))[0][:5]
        raise AssertionError([(x[i], a[i], b[i]) for i in idx])


def test_cents_and_quantizer_random_parity(spark, con):
    rng = np.random.default_rng(SEED + 3)
    # cents: 2dp-ish values plus the dyadic 3-decimal tie family
    v = np.concatenate(
        [
            np.round(rng.uniform(-5000, 5000, N // 2), 2),
            rng.integers(-40_000, 40_000, N // 4) / 8.0,    # x.125 ties
            rng.integers(-40_000, 40_000, N // 4) / 16.0,
        ]
    )
    # quantizer: embedding-scale components incl. m/8192 scale-12 ties
    w = np.concatenate(
        [
            rng.uniform(-1, 1, N // 2),
            rng.integers(-8192, 8192, N // 2) / 8192.0,
        ]
    )
    pdf = pd.DataFrame({"v": v, "w": w})
    qmag = F.floor(F.abs(F.col("w")) * F.lit(1_000_000_000_000.0) + F.lit(0.5))
    out = (
        spark.createDataFrame(pdf)
        .select(
            _cents(F.col("v")).alias("c"),
            F.when(F.col("w") >= 0, qmag).otherwise(-qmag).cast("long").alias("q"),
        )
        .toPandas()
    )
    con.register("pool_c", pdf)
    dk = con.execute(
        f"""
        SELECT {cents_sql("v")} AS c,
               CASE WHEN w >= 0
                 THEN  CAST(floor( w * 1000000000000.0 + 0.5) AS BIGINT)
                 ELSE -CAST(floor(-w * 1000000000000.0 + 0.5) AS BIGINT) END AS q
        FROM pool_c
        """
    ).df()
    for c in ("c", "q"):
        bad = int((out[c].to_numpy() != dk[c].to_numpy()).sum())
        assert bad == 0, (c, bad)


def test_pct_pick_exact_percentiles_random_parity(spark, con):
    """The r10 exact-rank percentile machinery (_pct_pick/_pct_num over
    the DECIMAL ratio route) vs (1) exact Fraction arithmetic and
    (2) the documented DuckDB oracle mirror, over random groups with
    tie-heavy and single-row families mixed in. The true percentile of
    integer microseconds at p = a/b is the exact rational
    (b·v_lo + k·Δ)/(b·10⁶) with idx_b = a·(n−1) — a midpoint-capable
    class a float-interpolated percentile would round differently."""
    from fractions import Fraction

    from pyspark.sql.window import Window

    from kairos_spark.operators.windows import _pct_num, _pct_pick

    rng = np.random.default_rng(SEED + 10)
    groups = []
    gid = 0
    for sz in rng.integers(1, 50, 400):
        vals = _int_pool(rng, 1, 10_000_000_000_000, int(sz))
        if gid % 3 == 0:
            vals[: max(1, sz // 2)] = vals[0]  # heavy ties
        if gid % 7 == 0:
            vals = (vals // 1_000_000) * 1_000_000  # exact-second grid
        groups.append(pd.DataFrame({"g": gid, "v": vals.astype("int64")}))
        gid += 1
    pdf = pd.concat(groups, ignore_index=True)

    sdf = spark.createDataFrame(pdf)
    wr = Window.partitionBy("g").orderBy("v")
    ranked = sdf.withColumn("__r", F.row_number().over(wr)).withColumn(
        "__n", F.count("*").over(Window.partitionBy("g"))
    )
    cases = [(1, 2, "m"), (9, 10, "p"), (19, 20, "a"), (99, 100, "b")]
    picks = []
    for a, b, t in cases:
        picks.extend(_pct_pick("v", a, b, t))
    agg = ranked.groupBy("g").agg(*picks)
    out = agg.select(
        "g",
        *[
            _round6_ratio_dec(_pct_num(t, b), F.lit(b * 1_000_000)).alias(t)
            for a, b, t in cases
        ],
    ).toPandas().set_index("g").sort_index()

    def ref(vals, a, b):
        s = sorted(vals)
        n = len(s)
        idx = a * (n - 1)
        lo, k = divmod(idx, b)
        hi = min(lo + 1, n - 1)
        num = b * s[lo] + k * (s[hi] - s[lo])
        den = b * 10**6
        # round half-up to 6 decimals, exactly
        q = Fraction(num, den)
        scaled = q * 10**6
        r = (scaled.numerator * 2 + scaled.denominator) // (2 * scaled.denominator)
        return r / 1e6

    for g, grp in pdf.groupby("g"):
        vals = grp["v"].tolist()
        for a, b, t in cases:
            assert out.loc[g, t] == ref(vals, a, b), (g, t, vals)

    # oracle-mirror parity: the documented row_number/HUGEINT formula
    con.register("pct_fuzz", pdf)
    p90 = round6_ratio_dec_sql(
        "(10*vlo + k*(coalesce(vhi, vlo) - vlo))::HUGEINT", "10000000::HUGEINT"
    )
    sql = f"""
    WITH rk AS (
      SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS r,
             count(*) OVER (PARTITION BY g) AS n
      FROM pct_fuzz
    ),
    pick AS (
      SELECT g,
             max(CASE WHEN r = (9*(n-1))//10 + 1 THEN v END) AS vlo,
             max(CASE WHEN r = (9*(n-1))//10 + 2 THEN v END) AS vhi,
             max((9*(n-1)) % 10) AS k
      FROM rk GROUP BY 1
    )
    SELECT g, {p90} AS p
    FROM pick ORDER BY g
    """
    odf = con.execute(sql).df().set_index("g").sort_index()
    assert (odf["p"] == out["p"]).all()


def test_signed_ratio_zero_window_sign_parity(spark, con):
    """The signed helpers' ZERO-SIGN contract (ADVICE r10): any
    numerator with |num|/den < 5e-7 rounds to a zero that must be
    +0.0 on the Spark side AND on the SQL builders' mirrors (the
    `-CAST(... AS BIGINT)` integer-negation form, and the
    `-floor(...)` double form with its `+ 0.0`). The main parity fuzz
    compares with `==`, which is sign-blind on zeros — this one
    checks np.signbit explicitly across the whole window."""
    rng = np.random.default_rng(SEED + 7)
    n_ex = 5_000
    d = _int_pool(rng, 2_000_001, 4_000_000_000, n_ex)
    # |num| in [0, floor(5e-7·den)] — everything in the round-to-zero
    # window, both signs, zero included
    cap = np.maximum((d * 5e-7).astype("int64") - 1, 0)
    num = (rng.uniform(0, 1, n_ex) * (cap + 1)).astype("int64")
    sign = rng.choice([-1, 1], n_ex)
    pdf = pd.DataFrame({"d": d, "sn": num * sign})
    out = (
        spark.createDataFrame(pdf)
        .select(
            _round6_ratio_signed(F.col("sn"), F.col("d")).alias("rs"),
            _round6_ratio_dec_signed(F.col("sn"), F.col("d")).alias("rds"),
        )
        .toPandas()
    )
    for c in ("rs", "rds"):
        v = out[c].to_numpy()
        assert (v == 0.0).all(), c
        assert not np.signbit(v).any(), f"{c}: Spark emitted -0.0"
    con.register("pool_zw", pdf)
    dk = con.execute(
        f"""
        SELECT {round6_ratio_signed_sql("sn", "d")} AS rs,
               {round6_ratio_dec_signed_sql("sn", "d")} AS rds
        FROM pool_zw
        """
    ).df()
    for c in ("rs", "rds"):
        v = dk[c].to_numpy()
        assert (v == 0.0).all(), c
        assert not np.signbit(v).any(), f"{c}: DuckDB mirror emitted -0.0"
