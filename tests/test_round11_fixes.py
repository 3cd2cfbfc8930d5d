"""Round-11 ADVICE (r10) fix pins.

1. The signed ratio helpers (`_round6_ratio_signed`,
   `_round6_ratio_dec_signed`) normalize their zero: a negative
   numerator whose |num|/den rounds to zero used to come out of the
   `.otherwise(-mag)` branch as Spark double ``-0.0`` while the oracle
   mirrors emit ``+0.0`` (integer negation / `+ 0.0`); the driver
   value-hash renders them "−0.0" vs "0.0" and the local mirror masks
   it (Python ``-0.0 == 0.0``). Both helpers now end with
   ``+ F.lit(0.0)``; this suite pins the sign on BOTH engines,
   end-to-end through cuped_adjustment.raw_mean (the flagged site)
   with a >2·10^4-user variant carrying a −1-cent sum.
2. hll_union_overlap routes its estimate rounds through the
   engine-identical sign·floor(|x|·10^6 + 0.5) quantizer instead of a
   bare F.round (ADVICE r10 #3) — pinned on the canonical splitting
   midpoint 41/640.
3. `_sql_surgery` (queries.py) asserts its anchor exists so derived
   oracles fail LOUDLY at import time when base SQL drifts
   (ADVICE r10 #4).
4. cluster_diameter derives its float LSH threshold from the exact
   rational and refuses a contradictory explicit pair (ADVICE r10 #5).
"""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kairos_spark.operators import profiling
from kairos_spark.exact import _round6_ratio_dec_signed, _round6_ratio_signed


def _pos_zero(x: float) -> bool:
    return x == 0.0 and not math.copysign(1.0, x) < 0


# --- 1a. helper-level sign parity on the sub-5e-7 negative window ---

@pytest.mark.parametrize("num,den", [(-1, 2_000_100), (-3, 7_000_001)])
def test_signed_ratio_zero_is_positive_both_helpers(spark, num, den):
    row = (
        spark.range(1)
        .select(
            _round6_ratio_signed(F.lit(num), F.lit(den)).alias("plain"),
            _round6_ratio_dec_signed(F.lit(num), F.lit(den)).alias("dec"),
        )
        .collect()[0]
    )
    assert row.plain == 0.0 and _pos_zero(row.plain)
    assert row.dec == 0.0 and _pos_zero(row.dec)


@pytest.mark.parametrize("num,den", [(-1, 2_000_100), (-3, 7_000_001)])
def test_signed_ratio_zero_oracle_mirrors_are_positive(num, den):
    con = duckdb.connect()
    plain, dec = con.execute(
        f"""
        SELECT
          (CASE WHEN {num} >= 0
                THEN  floor(( 2000000*{num} + {den}) / (2.0*{den})) / 1000000.0
                ELSE -floor((-2000000*{num} + {den}) / (2.0*{den})) / 1000000.0
           END) + 0.0,
          CASE WHEN {num} >= 0
               THEN  CAST(( 2000000::HUGEINT*{num} + {den})
                          // (2::HUGEINT*{den}) AS BIGINT) / 1000000.0
               ELSE -CAST((-2000000::HUGEINT*{num} + {den})
                          // (2::HUGEINT*{den}) AS BIGINT) / 1000000.0 END
        """
    ).fetchone()
    assert plain == 0.0 and _pos_zero(plain)
    assert dec == 0.0 and _pos_zero(dec)


def test_signed_ratio_nonzero_values_unchanged(spark):
    # +0.0 must be an identity off the zero: spot the documented
    # half-away behavior on both signs
    row = (
        spark.range(1)
        .select(
            _round6_ratio_signed(F.lit(-41), F.lit(640)).alias("a"),
            _round6_ratio_signed(F.lit(41), F.lit(640)).alias("b"),
            _round6_ratio_dec_signed(F.lit(-41), F.lit(640)).alias("c"),
        )
        .collect()[0]
    )
    assert row.a == -0.064063 and row.b == 0.064063 and row.c == -0.064063


# --- 1b. end-to-end: cuped raw_mean at a −1-cent / >2e4-user variant ---

def _cuped_micro_rows():
    """Events where one md5 variant holds >20,000 users whose post-
    period cent sum is exactly −1: raw_mean = −1/(100·n_users) is in
    (−5e-7, 0) and rounds to zero — the ADVICE r10 hazard window."""
    import hashlib

    rows = []
    # span anchors: two zero-value events pin [lo, hi] = [0h, 10h];
    # bound = lo + (hi-lo) div 2 = 5h, so ts >= 5h is post-period
    h = 3_600_000_000  # 1h in µs
    rows.append((0, 1_000_000, "anchor", 0.0))
    rows.append((1, 10 * h, "anchor", 0.0))
    # one-event users, post-period, value 0.0; collect until variant 0
    # holds 20_002 users (the two anchors' user 1_000_000 may land
    # anywhere — its values are all 0.0)
    uid, v0 = 2, 0
    neg_user = None
    while v0 < 20_002:
        b = (
            int(hashlib.md5(str(uid).encode()).hexdigest()[:11], 16) % 2
        )
        if b == 0:
            v0 += 1
            if neg_user is None:
                neg_user = uid
        rows.append((uid, 6 * h + uid, "e", 0.0))
        uid += 1
    # the −1-cent event, post-period, from a variant-0 user
    rows.append((neg_user, 7 * h, "e", -0.01))
    return rows


def test_cuped_negative_micro_mean_zero_sign_end_to_end(spark):
    rows = _cuped_micro_rows()
    df = spark.createDataFrame(
        [
            Row(
                event_id=i,
                us=r[1],
                user_id=r[0],
                event_type=r[2],
                value=float(r[3]),
                props="{}",
            )
            for i, r in enumerate(rows)
        ]
    ).select(
        "event_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    out = {r["variant"]: r for r in profiling.cuped_adjustment(df).collect()}
    v0 = out[0]
    assert v0["n_users"] >= 20_002
    assert v0["raw_mean"] == 0.0 and _pos_zero(v0["raw_mean"])

    # oracle side on the identical data
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": pd.to_datetime([r[1] for r in rows], unit="us"),
            "user_id": [r[0] for r in rows],
            "event_type": [r[2] for r in rows],
            "value": [float(r[3]) for r in rows],
            "props": ["{}"] * len(rows),
        }
    )
    from kairos_spark import queries

    con = duckdb.connect()
    con.register("events", pdf)
    res = con.execute(queries.ORACLES["cuped_adjustment"]).fetchdf()
    o0 = res[res["variant"] == 0].iloc[0]
    assert o0["raw_mean"] == 0.0 and _pos_zero(float(o0["raw_mean"]))


# --- 2. hll quantizer midpoint parity ---

def test_hll_quantizer_midpoint_parity(spark):
    # 41/640 = 0.0640625 is the canonical engine-splitting 7th-decimal
    # midpoint under bare round(,6) (Spark shortest-string .064063,
    # DuckDB multiply .064062). The sign·floor quantizer computes
    # floor on the IDENTICAL double — whose value sits BELOW the
    # decimal midpoint — so BOTH engines land on .064062: parity, not
    # true-half-up, is the contract (HLL estimates aren't exact
    # rationals anyway).
    x = 41.0 / 640.0
    got = (
        spark.range(1)
        .select(
            (
                F.when(
                    F.lit(x) >= 0,
                    F.floor(F.abs(F.lit(x)) * F.lit(1_000_000.0) + F.lit(0.5)),
                )
                .otherwise(
                    -F.floor(F.abs(F.lit(x)) * F.lit(1_000_000.0) + F.lit(0.5))
                )
                .cast("long")
                / F.lit(1_000_000.0)
            ).alias("q")
        )
        .collect()[0]["q"]
    )
    # CAST to DOUBLE: a bare DuckDB literal parses as DECIMAL and the
    # whole expression would evaluate exactly (floor -> 64063); the
    # oracle's real input (ea.est etc.) is already a DOUBLE column
    oracle = duckdb.connect().execute(
        f"SELECT CAST(floor(CAST({x!r} AS DOUBLE)*1000000.0 + 0.5) AS BIGINT)"
        "/1000000.0"
    ).fetchone()[0]
    assert got == oracle == 0.064062


def test_hll_union_overlap_columns_quantized(spark):
    from kairos_spark.operators import sketches

    ev = spark.createDataFrame(
        [
            Row(event_type=t, user_id=u)
            for t in ("a", "b")
            for u in range(1, 40)
        ]
        + [Row(event_type="b", user_id=u) for u in range(100, 130)]
    )
    rows = sketches.hll_union_overlap(ev, "event_type", "user_id", p=8).collect()
    assert len(rows) == 1
    r = rows[0]
    # quantized to exactly 6 decimals and overlap zero (if any) is +0.0
    for c in ("est_a", "est_b", "est_union", "overlap_est"):
        v = r[c]
        assert v == round(v, 6)
        if v == 0.0:
            assert _pos_zero(v)
    assert r["exact_overlap"] == 39  # users 1..39 are in both groups


# --- 3. oracle surgery anchors ---

def test_sql_surgery_asserts_on_missing_anchor():
    from kairos_spark.queries import _sql_surgery

    assert _sql_surgery("abc", "b", "X") == "aXc"
    # ValueError since the -O hardening (assert would strip under
    # python -O and the no-op would be silent again)
    with pytest.raises(ValueError):
        _sql_surgery("abc", "zzz", "X")


# --- 4. cluster_diameter threshold coherence ---

def test_cluster_diameter_threshold_mismatch_refused(spark):
    from kairos_spark.operators import dedup

    d = spark.createDataFrame([Row(doc_id=1, text="a b c d e f g h i")])
    with pytest.raises(ValueError):
        dedup.cluster_diameter(d, threshold=0.3, threshold_num=1, threshold_den=5)
