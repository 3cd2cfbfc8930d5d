"""Engine-agreement lock for the signed-zero divergence class (r9).

Engine-probed facts this suite pins:

- Spark's ``round(x, 6)`` drops the sign of a zero result: ``-0.0``
  and every x in (-5e-7, 0) round to ``+0.0``. DuckDB's ``round``
  keeps the sign (``-0.0``). A bare round over a value that can be a
  tiny negative (or an exact ``-0.0``) therefore splits the driver's
  value hash ("0.0" vs "-0.0").
- ``_round6_bridge`` (double -> DECIMAL(27,12) -> round -> double)
  agrees at ``+0.0`` on BOTH engines across the whole window:
  decimal zeros are unsigned, so the bridge is the preferred route
  for any negative-capable rounded output (within its |x| < ~4.5e3
  contract).
- ``x + 0.0`` is an engine-agreed signed-zero normalizer (IEEE:
  ``-0.0 + 0.0 == +0.0``; identity for every other value incl. NaN).
- DuckDB's ``abs(-0.0)`` is ``-0.0`` where Java's is ``+0.0`` — an
  oracle-side abs over a zero-able signed quantity needs the same
  normalization.
- A structural producer exists on ordinary query shapes: a zero
  numerator over a NEGATIVE denominator ((a-b)/c with a==b, c<0) is
  ``-0.0`` on both engines; a bare round then splits them.

``tools/zero_audit.py`` checks the resulting no-signed-zero output
invariant mechanically over the whole registry; this suite keeps the
underlying engine facts honest so an engine upgrade that shifts any
of them fails loudly here first.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from kairos_spark.exact import _round6_bridge

WINDOW = [-0.0, -1e-9, -4.9e-7, -2.5e-7]


def _is_pos_zero(x: float) -> bool:
    return x == 0.0 and not math.copysign(1.0, x) < 0


def _is_neg_zero(x: float) -> bool:
    return x == 0.0 and math.copysign(1.0, x) < 0


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


def test_spark_round_drops_zero_sign(spark):
    row = spark.range(1).select(
        *[F.round(F.lit(x), 6).alias(f"c{i}") for i, x in enumerate(WINDOW)]
    ).collect()[0]
    for i in range(len(WINDOW)):
        assert _is_pos_zero(row[f"c{i}"]), (WINDOW[i], row[f"c{i}"])


def test_duckdb_round_keeps_zero_sign(con):
    """Load-bearing divergence: if DuckDB ever starts dropping the
    sign too, the class is dead and zero_audit can be relaxed —
    re-audit rather than silently drifting."""
    for x in WINDOW:
        (got,) = con.execute("SELECT round(?::DOUBLE, 6)", [x]).fetchone()
        assert _is_neg_zero(got), (x, got)


def test_bridge_agrees_at_positive_zero(spark, con):
    srow = spark.range(1).select(
        *[_round6_bridge(F.lit(x)).alias(f"c{i}") for i, x in enumerate(WINDOW)]
    ).collect()[0]
    for i, x in enumerate(WINDOW):
        (dk,) = con.execute(
            "SELECT CAST(round(CAST(?::DOUBLE AS DECIMAL(27,12)), 6) AS DOUBLE)",
            [x],
        ).fetchone()
        assert _is_pos_zero(srow[f"c{i}"]), (x, srow[f"c{i}"])
        assert _is_pos_zero(dk), (x, dk)


def test_add_zero_normalizes_both_engines(spark, con):
    (sp,) = spark.range(1).select(F.lit(-0.0) + F.lit(0.0)).collect()[0]
    (dk,) = con.execute("SELECT -0.0::DOUBLE + 0.0").fetchone()
    assert _is_pos_zero(sp) and _is_pos_zero(dk)
    # identity away from zero, including the not-quite-zero boundary
    (dk2,) = con.execute("SELECT -0.0000015::DOUBLE + 0.0").fetchone()
    assert dk2 == -0.0000015


def test_duckdb_abs_keeps_neg_zero(con):
    (dk,) = con.execute("SELECT abs(-0.0::DOUBLE)").fetchone()
    assert _is_neg_zero(dk)


def test_structural_producer_zero_over_negative(spark, con):
    """(a-b)/c with a==b, c<0 is -0.0 on BOTH engines — reachable on
    ordinary pct-change/ratio shapes whenever the denominator can be
    negative — and a bare round-6 then splits the engines."""
    (sp,) = spark.range(1).select(
        (F.lit(3.5) - F.lit(3.5)) / F.lit(-2.0)
    ).collect()[0]
    (dk,) = con.execute("SELECT (3.5::DOUBLE - 3.5) / -2.0").fetchone()
    assert _is_neg_zero(sp) and _is_neg_zero(dk)
    (sp_r,) = spark.range(1).select(
        F.round((F.lit(3.5) - F.lit(3.5)) / F.lit(-2.0), 6)
    ).collect()[0]
    (dk_r,) = con.execute("SELECT round((3.5::DOUBLE - 3.5) / -2.0, 6)").fetchone()
    assert _is_pos_zero(sp_r) and _is_neg_zero(dk_r)  # the split itself
