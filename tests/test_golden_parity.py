"""Golden parity suite: the reference's own heavyweight functional
scenarios, ported assert-for-assert from
/root/reference/test/functional/{series,count,gauge,histogram,set}_helper.py
(the 7200-point test_get / test_get_joined / test_series bodies).

These are the tests every kairos backend must pass identically
(SURVEY.md §5) — passing them here means a kairos user gets the same
results from this engine. Values are the reference's literal expected
values (Python-2 ``/`` on ints ported as ``//``). The reference's
deprecated ``condensed=`` kwarg is used throughout where the reference
used it, to exercise the alias.
"""

import pytest

from kairos_spark import Timeseries

# the library's clock reads the fixtures' anchor (tests/conftest.py)
pytestmark = pytest.mark.usefixtures("fixture_clock")

HOUR = 3600


def _time(t: float = 0) -> float:
    # reference anchor: helper_helper.py:11-12
    return 500000 * HOUR + t


INTERVALS = {
    "minute": {"step": 60, "steps": 5},
    "hour": {"step": HOUR, "resolution": 60},
}


def make(spark, type_):
    return Timeseries(spark, type=type_, intervals=INTERVALS, value_type="long")


def fill(ts, name="test", value=None, lo=1, hi=7200):
    """insert(name, f(t), _time(t)) for t in [lo, hi) — the reference's
    2-hours-of-data preamble, batched through bulk_insert for speed."""
    ts.bulk_insert({_time(t): {name: [value(t) if value else t]} for t in range(lo, hi)})


# ------------------------------------------------------------- series type
# ref: series_helper.py:152-198 (test_get)


@pytest.fixture(scope="module")
def series_full(spark):
    t = make(spark, "series")
    fill(t)
    return t


def test_series_get_golden(series_full):
    s = series_full
    # middle of an interval
    interval = s.get("test", "minute", timestamp=_time(100))
    assert list(interval.keys()) == [_time(60)]
    assert interval[_time(60)] == list(range(60, 120))
    # end of an interval
    interval = s.get("test", "minute", timestamp=_time(59))
    assert list(interval.keys()) == [_time(0)]
    assert interval[_time(0)] == list(range(1, 60))
    # no matching interval → single empty container
    interval = s.get("test", "minute", timestamp=_time(7400))
    assert len(interval) == 1
    assert list(interval.values())[0] == []
    # with transforms
    interval = s.get("test", "minute", timestamp=_time(100), transform="count")
    assert interval[_time(60)] == 60
    interval = s.get("test", "minute", timestamp=_time(100), transform=["min", "max"])
    assert interval[_time(60)] == {"min": 60, "max": 119}
    # with resolution, optionally condensed
    interval = s.get("test", "hour", timestamp=_time(100))
    assert len(interval) == 60
    assert interval[_time(60)] == list(range(60, 120))
    interval = s.get("test", "hour", timestamp=_time(100), condensed=True)
    assert len(interval) == 1
    assert interval[_time(0)] == list(range(1, 3600))
    interval = s.get("test", "hour", timestamp=_time(100), transform="count")
    assert interval[_time(60)] == 60
    interval = s.get(
        "test", "hour", timestamp=_time(100), transform=["min", "max"], condensed=True
    )
    assert interval[_time(0)] == {"min": 1, "max": 3599}


# ref: series_helper.py:258-330 (test_series)


def test_series_series_golden(series_full):
    s = series_full
    interval = s.series("test", "minute", end=_time(250))
    assert list(interval.keys()) == [_time(x) for x in (0, 60, 120, 180, 240)]
    assert interval[_time(0)] == list(range(1, 60))
    assert interval[_time(240)] == list(range(240, 300))

    interval = s.series("test", "minute", steps=2, end=_time(250))
    assert list(interval.keys()) == [_time(180), _time(240)]
    assert interval[_time(240)] == list(range(240, 300))

    interval = s.series("test", "minute", end=_time(250), transform=["min", "count"])
    assert interval[_time(0)] == {"min": 1, "count": 59}
    assert interval[_time(240)] == {"min": 240, "count": 60}

    interval = s.series("test", "minute", end=_time(250), collapse=True)
    assert list(interval.keys()) == [_time(0)]
    assert interval[_time(0)] == list(range(1, 300))

    interval = s.series(
        "test", "minute", end=_time(250), transform=["min", "count"], collapse=True
    )
    assert interval[_time(0)] == {"min": 1, "count": 299}

    # with resolution
    interval = s.series("test", "hour", end=_time(250))
    assert len(interval) == 1
    assert len(interval[_time(0)]) == 60
    assert interval[_time(0)][_time(0)] == list(range(1, 60))

    interval = s.series("test", "hour", end=_time(250), transform=["count", "max"])
    assert interval[_time(0)][_time(0)] == {"max": 59, "count": 59}

    interval = s.series("test", "hour", condensed=True, end=_time(4200))
    assert len(interval) == 1
    assert len(interval[_time(3600)]) == 3600
    assert interval[_time(3600)] == list(range(3600, 7200))

    interval = s.series("test", "hour", condensed=True, end=_time(4200), steps=2)
    assert list(interval.keys()) == [_time(0), _time(3600)]
    assert len(interval[_time(0)]) == 3599
    assert interval[_time(3600)] == list(range(3600, 7200))

    interval = s.series(
        "test", "hour", condensed=True, end=_time(4200), transform=["min", "max"]
    )
    assert interval[_time(3600)] == {"min": 3600, "max": 7199}

    interval = s.series(
        "test", "hour", condensed=True, end=_time(4200), steps=2, collapse=True
    )
    assert list(interval.keys()) == [_time(0)]
    assert interval[_time(0)] == list(range(1, 7200))

    interval = s.series(
        "test", "hour", condensed=True, end=_time(4200), steps=2, collapse=True,
        transform=["min", "count", "max"],
    )
    assert interval[_time(0)] == {"min": 1, "max": 7199, "count": 7199}


# ref: series_helper.py:200-256 (test_get_joined)


def test_series_get_joined_golden(spark):
    s = make(spark, "series")
    bulk = {}
    for t in list(range(1, 240)) + list(range(3600, 3840)):
        bulk.setdefault(_time(t), {}).setdefault("test1", []).append(t)
    for t in list(range(1, 120)) + list(range(3600, 3720)):
        bulk.setdefault(_time(t), {}).setdefault("test2", []).append(t)
    s.bulk_insert(bulk)

    interval = s.get(["test1", "test2"], "minute", timestamp=_time(100))
    assert list(interval.keys()) == [_time(60)]
    assert interval[_time(60)] == list(range(60, 120)) + list(range(60, 120))

    interval = s.get(["test1", "test2"], "minute", timestamp=_time(122))
    assert list(interval.keys()) == [_time(120)]
    assert interval[_time(120)] == list(range(120, 180))

    interval = s.get(["test1", "test2"], "hour", timestamp=_time(100))
    assert list(interval.keys()) == [_time(x) for x in (0, 60, 120, 180)]
    assert interval[_time(0)] == list(range(1, 60)) + list(range(1, 60))
    assert interval[_time(60)] == list(range(60, 120)) + list(range(60, 120))
    assert interval[_time(120)] == list(range(120, 180))
    assert interval[_time(180)] == list(range(180, 240))

    interval = s.get(["test1", "test2"], "hour", timestamp=_time(100), condensed=True)
    assert list(interval.keys()) == [_time(0)]
    assert interval[_time(0)] == (
        list(range(1, 60)) + list(range(1, 60))
        + list(range(60, 120)) + list(range(60, 120))
        + list(range(120, 180)) + list(range(180, 240))
    )

    interval = s.get(["test1", "test2"], "hour", timestamp=_time(100), transform="count")
    assert interval[_time(60)] == 120

    interval = s.get(
        ["test1", "test2"], "hour", timestamp=_time(100),
        transform=["min", "max", "count"], condensed=True,
    )
    assert interval[_time(0)] == {"min": 1, "max": 239, "count": 358}


# ------------------------------------------------------------- count type
# ref: count_helper.py:106-144 (test_get), :201-253 (test_series)


@pytest.fixture(scope="module")
def count_full(spark):
    t = make(spark, "count")
    fill(t, value=lambda t: 1)
    return t


def test_count_get_golden(count_full):
    s = count_full
    interval = s.get("test", "minute", timestamp=_time(100))
    assert list(interval.keys()) == [_time(60)]
    assert interval[_time(60)] == 60
    interval = s.get("test", "minute", timestamp=_time(7400))
    assert len(interval) == 1
    assert list(interval.values())[0] == 0
    interval = s.get("test", "hour", timestamp=_time(100))
    assert len(interval) == 60
    assert interval[_time(60)] == 60
    interval = s.get("test", "hour", timestamp=_time(100), transform="rate")
    assert interval[_time(60)] == 1.0
    interval = s.get("test", "hour", timestamp=_time(100), condensed=True)
    assert len(interval) == 1
    assert interval[_time(0)] == 3599
    interval = s.get("test", "hour", timestamp=_time(4000), condensed=True)
    assert interval[_time(3600)] == 3600
    interval = s.get("test", "hour", timestamp=_time(4000), condensed=True, transform="rate")
    assert interval[_time(3600)] == 1.0


def test_count_series_golden(count_full):
    s = count_full
    interval = s.series("test", "minute", end=_time(250))
    assert list(interval.keys()) == [_time(x) for x in (0, 60, 120, 180, 240)]
    assert interval[_time(0)] == 59
    assert interval[_time(60)] == 60
    interval = s.series("test", "minute", steps=2, end=_time(250))
    assert list(interval.keys()) == [_time(180), _time(240)]
    assert interval[_time(240)] == 60
    interval = s.series("test", "minute", steps=2, end=_time(250), transform="rate")
    assert interval[_time(240)] == 1.0
    interval = s.series("test", "minute", end=_time(250), collapse=True)
    assert list(interval.keys()) == [_time(0)]
    assert interval[_time(0)] == 299
    interval = s.series("test", "hour", end=_time(250))
    assert len(interval) == 1
    assert len(interval[_time(0)]) == 60
    assert interval[_time(0)][_time(0)] == 59
    assert interval[_time(0)][_time(60)] == 60
    interval = s.series("test", "hour", condensed=True, end=_time(4200))
    assert len(interval) == 1
    assert interval[_time(3600)] == 3600
    interval = s.series("test", "hour", condensed=True, end=_time(4200), transform="rate")
    assert interval[_time(3600)] == 1.0
    interval = s.series("test", "hour", condensed=True, end=_time(4200), steps=2)
    assert list(interval.keys()) == [_time(0), _time(3600)]
    assert interval[_time(0)] == 3599
    assert interval[_time(3600)] == 3600
    interval = s.series(
        "test", "hour", condensed=True, end=_time(4200), steps=2, collapse=True
    )
    assert list(interval.keys()) == [_time(0)]
    assert interval[_time(0)] == 7199


# ref: count_helper.py:146-199 (test_get_joined; count sums the VALUES)


def test_count_get_joined_golden(spark):
    s = make(spark, "count")
    bulk = {}
    for t in list(range(1, 240)) + list(range(3600, 3840)):
        bulk.setdefault(_time(t), {}).setdefault("test1", []).append(t)
    for t in list(range(1, 120)) + list(range(3600, 3720)):
        bulk.setdefault(_time(t), {}).setdefault("test2", []).append(t)
    s.bulk_insert(bulk)

    interval = s.get(["test1", "test2"], "minute", timestamp=_time(100))
    assert interval[_time(60)] == 2 * sum(range(60, 120))
    interval = s.get(["test1", "test2"], "minute", timestamp=_time(100), transform="rate")
    assert interval[_time(60)] == (2 * sum(range(60, 120))) / 60.0
    interval = s.get(["test1", "test2"], "hour", timestamp=_time(100), condensed=True)
    assert list(interval.keys()) == [_time(0)]
    assert interval[_time(0)] == 2 * sum(range(1, 120)) + sum(range(120, 240))
    interval = s.get(
        ["test1", "test2"], "hour", timestamp=_time(100), condensed=True, transform="rate"
    )
    assert interval[_time(0)] == (2 * sum(range(1, 120)) + sum(range(120, 240))) / 3600.0


# ref: count_helper.py:254-314 (test_series_joined; count sums the VALUES)


def test_count_series_joined_golden(spark):
    s = make(spark, "count")
    bulk = {}
    for t in list(range(1, 240)) + list(range(3600, 3840)):
        bulk.setdefault(_time(t), {}).setdefault("test1", []).append(t)
    for t in list(range(1, 120)) + list(range(3600, 3720)):
        bulk.setdefault(_time(t), {}).setdefault("test2", []).append(t)
    s.bulk_insert(bulk)

    interval = s.series(["test1", "test2"], "minute", end=_time(250))
    assert list(interval.keys()) == [_time(x) for x in (0, 60, 120, 180, 240)]
    assert interval[_time(0)] == 2 * sum(range(1, 60))
    assert interval[_time(60)] == 2 * sum(range(60, 120))
    assert interval[_time(120)] == sum(range(120, 180))
    assert interval[_time(180)] == sum(range(180, 240))
    assert interval[_time(240)] == 0

    interval = s.series(["test1", "test2"], "minute", end=_time(250), transform="rate")
    assert interval[_time(120)] == sum(range(120, 180)) / 60.0

    interval = s.series(["test1", "test2"], "minute", end=_time(250), collapse=True)
    assert list(interval.keys()) == [_time(0)]
    assert interval[_time(0)] == 2 * sum(range(1, 120)) + sum(range(120, 240))

    interval = s.series(["test1", "test2"], "hour", end=_time(250))
    assert len(interval) == 1
    assert list(interval[_time(0)].keys()) == [_time(x) for x in (0, 60, 120, 180)]
    assert interval[_time(0)][_time(0)] == 2 * sum(range(1, 60))
    assert interval[_time(0)][_time(60)] == 2 * sum(range(60, 120))
    assert interval[_time(0)][_time(120)] == sum(range(120, 180))
    assert interval[_time(0)][_time(180)] == sum(range(180, 240))

    interval = s.series(["test1", "test2"], "hour", end=_time(250), transform="rate")
    assert interval[_time(0)][_time(180)] == sum(range(180, 240)) / 60.0

    interval = s.series(["test1", "test2"], "hour", end=_time(250), condensed=True)
    assert list(interval.keys()) == [_time(0)]
    assert interval[_time(0)] == 2 * sum(range(1, 120)) + sum(range(120, 240))

    interval = s.series(
        ["test1", "test2"], "hour", condensed=True, end=_time(4200), steps=2,
        collapse=True,
    )
    assert list(interval.keys()) == [_time(0)]
    assert interval[_time(0)] == (
        2 * sum(range(1, 120)) + sum(range(120, 240))
        + 2 * sum(range(3600, 3720)) + sum(range(3720, 3840))
    )


# ------------------------------------------------------------- gauge type
# ref: gauge_helper.py:104-135 (test_get), :185-230 (test_series)


@pytest.fixture(scope="module")
def gauge_full(spark):
    t = make(spark, "gauge")
    fill(t)
    return t


def test_gauge_get_golden(gauge_full):
    s = gauge_full
    interval = s.get("test", "minute", timestamp=_time(100))
    assert list(interval.keys()) == [_time(60)]
    assert interval[_time(60)] == 119
    interval = s.get("test", "minute", timestamp=_time(7400))
    assert len(interval) == 1
    assert list(interval.values())[0] == 0
    interval = s.get("test", "hour", timestamp=_time(100))
    assert len(interval) == 60
    assert interval[_time(60)] == 119
    interval = s.get("test", "hour", timestamp=_time(100), condensed=True)
    assert len(interval) == 1
    assert interval[_time(0)] == 3599
    interval = s.get("test", "hour", timestamp=_time(4000), condensed=True)
    assert interval[_time(3600)] == 7199


def test_gauge_series_golden(gauge_full):
    s = gauge_full
    interval = s.series("test", "minute", end=_time(250))
    assert list(interval.keys()) == [_time(x) for x in (0, 60, 120, 180, 240)]
    assert interval[_time(0)] == 59
    assert interval[_time(60)] == 119
    interval = s.series("test", "minute", steps=2, end=_time(250))
    assert list(interval.keys()) == [_time(180), _time(240)]
    assert interval[_time(240)] == 299
    interval = s.series("test", "minute", end=_time(250), collapse=True)
    assert list(interval.keys()) == [_time(0)]
    assert interval[_time(0)] == 299
    interval = s.series("test", "hour", end=_time(250))
    assert len(interval) == 1
    assert len(interval[_time(0)]) == 60
    assert interval[_time(0)][_time(0)] == 59
    assert interval[_time(0)][_time(60)] == 119
    interval = s.series("test", "hour", condensed=True, end=_time(4200))
    assert len(interval) == 1
    assert interval[_time(3600)] == 7199
    interval = s.series("test", "hour", condensed=True, end=_time(4200), steps=2)
    assert list(interval.keys()) == [_time(0), _time(3600)]
    assert interval[_time(0)] == 3599
    assert interval[_time(3600)] == 7199
    interval = s.series(
        "test", "hour", condensed=True, end=_time(4200), steps=2, collapse=True
    )
    assert list(interval.keys()) == [_time(0)]
    assert interval[_time(0)] == 7199


# ref: gauge_helper.py:228-284 (test_series_joined). An empty joined slot
# is None, not 0: gauge _join skips falsy rows and returns its None
# initial (timeseries.py:981-988) — unlike the single-name empty (0).


def test_gauge_series_joined_golden(spark):
    s = make(spark, "gauge")
    bulk = {}
    for t in list(range(1, 240)) + list(range(3600, 3840)):
        bulk.setdefault(_time(t), {}).setdefault("test1", []).append(t)
    for t in list(range(1, 120)) + list(range(3600, 3720)):
        bulk.setdefault(_time(t), {}).setdefault("test2", []).append(t)
    s.bulk_insert(bulk)

    interval = s.series(["test1", "test2"], "minute", end=_time(250))
    assert list(interval.keys()) == [_time(x) for x in (0, 60, 120, 180, 240)]
    assert interval[_time(0)] == 59
    assert interval[_time(60)] == 119
    assert interval[_time(120)] == 179
    assert interval[_time(180)] == 239
    assert interval[_time(240)] is None

    interval = s.series(["test1", "test2"], "minute", end=_time(250), collapse=True)
    assert list(interval.keys()) == [_time(0)]
    assert interval[_time(0)] == 239

    interval = s.series(["test1", "test2"], "hour", end=_time(250))
    assert len(interval) == 1
    assert list(interval[_time(0)].keys()) == [_time(x) for x in (0, 60, 120, 180)]
    assert interval[_time(0)][_time(0)] == 59
    assert interval[_time(0)][_time(60)] == 119
    assert interval[_time(0)][_time(120)] == 179
    assert interval[_time(0)][_time(180)] == 239

    interval = s.series(["test1", "test2"], "hour", end=_time(250), condensed=True)
    assert list(interval.keys()) == [_time(0)]
    assert interval[_time(0)] == 239

    interval = s.series(
        ["test1", "test2"], "hour", condensed=True, end=_time(4200), steps=2,
        collapse=True,
    )
    assert list(interval.keys()) == [_time(0)]
    assert interval[_time(0)] == 3839


# --------------------------------------------------------- histogram type
# ref: histogram_helper.py:106-137 (test_get; Python-2 t/2 → t//2)


def test_histogram_get_golden(spark):
    s = make(spark, "histogram")
    fill(s, value=lambda t: t // 2)

    interval = s.get("test", "minute", timestamp=_time(100))
    assert list(interval.keys()) == [_time(60)]
    assert interval[_time(60)] == {k: 2 for k in range(30, 60)}
    interval = s.get("test", "minute", timestamp=_time(7400))
    assert len(interval) == 1
    assert list(interval.values())[0] == {}
    interval = s.get("test", "hour", timestamp=_time(100))
    assert len(interval) == 60
    assert sorted(interval[_time(60)].keys()) == list(range(30, 60))
    interval = s.get("test", "hour", timestamp=_time(100), condensed=True)
    assert len(interval) == 1
    condensed = interval[_time(0)]
    assert sorted(condensed.keys()) == list(range(0, 1800))
    assert condensed[0] == 1  # only t=1 → 0 (t=0 never written)
    assert all(condensed[k] == 2 for k in range(1, 1800))


# ref: histogram_helper.py:196-247 (test_series)


def test_histogram_series_golden(spark):
    s = make(spark, "histogram")
    fill(s, value=lambda t: t // 2)

    interval = s.series("test", "minute", end=_time(250))
    assert list(interval.keys()) == [_time(x) for x in (0, 60, 120, 180, 240)]
    assert sorted(interval[_time(0)].keys()) == list(range(0, 30))
    assert interval[_time(0)][0] == 1
    assert all(interval[_time(0)][k] == 2 for k in range(1, 30))
    assert sorted(interval[_time(240)].keys()) == list(range(120, 150))
    assert all(interval[_time(240)][k] == 2 for k in range(120, 150))

    interval = s.series("test", "minute", steps=2, end=_time(250))
    assert list(interval.keys()) == [_time(180), _time(240)]
    assert sorted(interval[_time(240)].keys()) == list(range(120, 150))

    interval = s.series("test", "minute", end=_time(250), collapse=True)
    assert list(interval.keys()) == [_time(0)]
    assert sorted(interval[_time(0)].keys()) == list(range(0, 150))
    assert all(interval[_time(0)][k] == 2 for k in range(1, 150))

    interval = s.series("test", "hour", end=_time(250))
    assert len(interval) == 1
    assert len(interval[_time(0)]) == 60
    assert sorted(interval[_time(0)][_time(0)].keys()) == list(range(0, 30))

    interval = s.series("test", "hour", condensed=True, end=_time(4200))
    assert len(interval) == 1
    assert len(interval[_time(3600)]) == 1800
    assert sorted(interval[_time(3600)].keys()) == list(range(1800, 3600))

    interval = s.series("test", "hour", condensed=True, end=_time(4200), steps=2)
    assert list(interval.keys()) == [_time(0), _time(3600)]
    assert len(interval[_time(0)]) == 1800
    assert len(interval[_time(3600)]) == 1800

    interval = s.series(
        "test", "hour", condensed=True, end=_time(4200), steps=2, collapse=True
    )
    assert list(interval.keys()) == [_time(0)]
    assert len(interval[_time(0)]) == 3600
    assert sorted(interval[_time(0)].keys()) == list(range(0, 3600))


# ref: histogram_helper.py:139-194 (test_get_joined), :249-331 (test_series_joined)


@pytest.fixture(scope="module")
def histogram_joined(spark):
    s = make(spark, "histogram")
    bulk = {}
    for t in list(range(1, 240)) + list(range(3600, 3840)):
        bulk.setdefault(_time(t), {}).setdefault("test1", []).append(t)
    for t in list(range(1, 120)) + list(range(3600, 3720)):
        bulk.setdefault(_time(t), {}).setdefault("test2", []).append(t)
    s.bulk_insert(bulk)
    return s


def test_histogram_get_joined_golden(histogram_joined):
    s = histogram_joined
    interval = s.get(["test1", "test2"], "minute", timestamp=_time(100))
    assert list(interval.keys()) == [_time(60)]
    assert interval[_time(60)] == dict.fromkeys(range(60, 120), 2)

    interval = s.get(["test1", "test2"], "minute", timestamp=_time(122))
    assert interval[_time(120)] == dict.fromkeys(range(120, 180), 1)

    interval = s.get(["test1", "test2"], "hour", timestamp=_time(100))
    assert list(interval.keys()) == [_time(x) for x in (0, 60, 120, 180)]
    assert interval[_time(0)] == dict.fromkeys(range(1, 60), 2)
    assert interval[_time(60)] == dict.fromkeys(range(60, 120), 2)
    assert interval[_time(120)] == dict.fromkeys(range(120, 180), 1)
    assert interval[_time(180)] == dict.fromkeys(range(180, 240), 1)

    data = dict.fromkeys(range(1, 120), 2)
    data.update(dict.fromkeys(range(120, 240), 1))
    interval = s.get(["test1", "test2"], "hour", timestamp=_time(100), condensed=True)
    assert list(interval.keys()) == [_time(0)]
    assert interval[_time(0)] == data

    interval = s.get(["test1", "test2"], "hour", timestamp=_time(100), transform="count")
    assert interval[_time(60)] == 120

    interval = s.get(
        ["test1", "test2"], "hour", timestamp=_time(100),
        transform=["min", "max", "count"], condensed=True,
    )
    assert interval[_time(0)] == {"min": 1, "max": 239, "count": 358}


def test_histogram_series_joined_golden(histogram_joined):
    s = histogram_joined
    interval = s.series(["test1", "test2"], "minute", end=_time(250))
    assert list(interval.keys()) == [_time(x) for x in (0, 60, 120, 180, 240)]
    assert interval[_time(0)] == dict.fromkeys(range(1, 60), 2)
    assert interval[_time(60)] == dict.fromkeys(range(60, 120), 2)
    assert interval[_time(120)] == dict.fromkeys(range(120, 180), 1)
    assert interval[_time(180)] == dict.fromkeys(range(180, 240), 1)
    assert interval[_time(240)] == {}

    interval = s.series(
        ["test1", "test2"], "minute", end=_time(250), transform=["min", "count"]
    )
    assert interval[_time(0)] == {"min": 1, "count": 118}
    assert interval[_time(60)] == {"min": 60, "count": 120}
    assert interval[_time(120)] == {"min": 120, "count": 60}
    assert interval[_time(180)] == {"min": 180, "count": 60}
    assert interval[_time(240)] == {"min": 0, "count": 0}

    data = dict.fromkeys(range(1, 120), 2)
    data.update(dict.fromkeys(range(120, 240), 1))
    interval = s.series(["test1", "test2"], "minute", end=_time(250), collapse=True)
    assert list(interval.keys()) == [_time(0)]
    assert interval[_time(0)] == data

    interval = s.series(
        ["test1", "test2"], "minute", end=_time(250),
        transform=["min", "max", "count"], collapse=True,
    )
    assert interval[_time(0)] == {"min": 1, "max": 239, "count": 358}

    interval = s.series(["test1", "test2"], "hour", end=_time(250))
    assert len(interval) == 1
    assert list(interval[_time(0)].keys()) == [_time(x) for x in (0, 60, 120, 180)]
    assert interval[_time(0)][_time(0)] == dict.fromkeys(range(1, 60), 2)
    assert interval[_time(0)][_time(180)] == dict.fromkeys(range(180, 240), 1)

    interval = s.series(["test1", "test2"], "hour", end=_time(250), condensed=True)
    assert list(interval.keys()) == [_time(0)]
    assert interval[_time(0)] == data

    full = dict(data)
    full.update(dict.fromkeys(range(3600, 3720), 2))
    full.update(dict.fromkeys(range(3720, 3840), 1))
    interval = s.series(
        ["test1", "test2"], "hour", condensed=True, end=_time(4200), steps=2,
        collapse=True,
    )
    assert list(interval.keys()) == [_time(0)]
    assert interval[_time(0)] == full

    interval = s.series(
        ["test1", "test2"], "hour", condensed=True, end=_time(4200), steps=2,
        collapse=True, transform=["min", "max", "count"],
    )
    assert interval[_time(0)] == {"min": 1, "max": 3839, "count": 718}


# ref: gauge_helper.py:137-183 (test_get_joined; last NAME in the argument
# list wins a slot — test2 shadows test1 where both have data)


def test_gauge_get_joined_golden(spark):
    s = make(spark, "gauge")
    bulk = {}
    for t in list(range(1, 240)) + list(range(3600, 3721)) + list(range(3721, 3840)):
        bulk.setdefault(_time(t), {}).setdefault("test1", []).append(t)
    for t in list(range(1, 120)) + list(range(3600, 3720)):
        bulk.setdefault(_time(t), {}).setdefault("test2", []).append(t)
    s.bulk_insert(bulk)

    interval = s.get(["test1", "test2"], "minute", timestamp=_time(100))
    assert list(interval.keys()) == [_time(60)]
    assert interval[_time(60)] == 119

    interval = s.get(["test1", "test2"], "minute", timestamp=_time(122))
    assert interval[_time(120)] == 179

    interval = s.get(["test1", "test2"], "hour", timestamp=_time(100))
    assert list(interval.keys()) == [_time(x) for x in (0, 60, 120, 180)]
    assert interval[_time(0)] == 59
    assert interval[_time(60)] == 119
    assert interval[_time(120)] == 179
    assert interval[_time(180)] == 239

    interval = s.get(["test1", "test2"], "hour", timestamp=_time(100), condensed=True)
    assert list(interval.keys()) == [_time(0)]
    assert interval[_time(0)] == 239


# --------------------------------------------------------------- set type
# ref: set_helper.py:104-136 (test_get), :138-184 (test_series); t/15 → t//15


@pytest.fixture(scope="module")
def set_full(spark):
    t = make(spark, "set")
    fill(t, value=lambda t: t // 15)
    return t


def test_set_get_golden(set_full):
    s = set_full
    interval = s.get("test", "minute", timestamp=_time(100))
    assert list(interval.keys()) == [_time(60)]
    assert interval[_time(60)] == {4, 5, 6, 7}
    interval = s.get("test", "minute", timestamp=_time(7400))
    assert len(interval) == 1
    assert list(interval.values())[0] == set()
    interval = s.get("test", "hour", timestamp=_time(100))
    assert len(interval) == 60
    assert interval[_time(60)] == {4, 5, 6, 7}
    interval = s.get("test", "hour", timestamp=_time(100), condensed=True)
    assert len(interval) == 1
    assert interval[_time(0)] == set(range(0, 240))
    interval = s.get("test", "hour", timestamp=_time(4000), condensed=True)
    assert interval[_time(3600)] == set(range(240, 480))


def test_set_series_golden(set_full):
    s = set_full
    interval = s.series("test", "minute", end=_time(250))
    assert list(interval.keys()) == [_time(x) for x in (0, 60, 120, 180, 240)]
    assert interval[_time(0)] == {0, 1, 2, 3}
    assert interval[_time(60)] == {4, 5, 6, 7}
    interval = s.series("test", "minute", steps=2, end=_time(250))
    assert list(interval.keys()) == [_time(180), _time(240)]
    assert interval[_time(240)] == {16, 17, 18, 19}
    interval = s.series("test", "minute", end=_time(250), collapse=True)
    assert list(interval.keys()) == [_time(0)]
    assert interval[_time(0)] == set(range(0, 20))
    interval = s.series("test", "hour", end=_time(250))
    assert len(interval) == 1
    assert len(interval[_time(0)]) == 60
    assert interval[_time(0)][_time(0)] == {0, 1, 2, 3}
    assert interval[_time(0)][_time(60)] == {4, 5, 6, 7}
    interval = s.series("test", "hour", condensed=True, end=_time(4200))
    assert len(interval) == 1
    assert interval[_time(3600)] == set(range(240, 480))
    interval = s.series("test", "hour", condensed=True, end=_time(4200), steps=2)
    assert list(interval.keys()) == [_time(0), _time(3600)]
    assert interval[_time(0)] == set(range(0, 240))
    assert interval[_time(3600)] == set(range(240, 480))
    interval = s.series(
        "test", "hour", condensed=True, end=_time(4200), steps=2, collapse=True
    )
    assert list(interval.keys()) == [_time(0)]
    assert interval[_time(0)] == set(range(0, 480))


# ref: set_helper.py:186-240 (test_series_joined; t/15 → t//15)


def test_set_series_joined_golden(spark):
    s = make(spark, "set")
    bulk = {}
    for t in list(range(1, 240)) + list(range(3600, 3840)):
        bulk.setdefault(_time(t), {}).setdefault("test1", []).append(t // 15)
    for t in list(range(1, 120)) + list(range(3600, 3720)):
        bulk.setdefault(_time(t), {}).setdefault("test2", []).append(t // 15)
    s.bulk_insert(bulk)

    interval = s.series(["test1", "test2"], "minute", end=_time(250))
    assert list(interval.keys()) == [_time(x) for x in (0, 60, 120, 180, 240)]
    assert interval[_time(0)] == {0, 1, 2, 3}
    assert interval[_time(60)] == {4, 5, 6, 7}
    assert interval[_time(120)] == {8, 9, 10, 11}
    assert interval[_time(180)] == {12, 13, 14, 15}
    assert interval[_time(240)] == set()

    interval = s.series(["test1", "test2"], "minute", end=_time(250), collapse=True)
    assert list(interval.keys()) == [_time(0)]
    assert interval[_time(0)] == set(range(0, 16))

    interval = s.series(["test1", "test2"], "hour", end=_time(250))
    assert len(interval) == 1
    assert list(interval[_time(0)].keys()) == [_time(x) for x in (0, 60, 120, 180)]
    assert interval[_time(0)][_time(0)] == {0, 1, 2, 3}
    assert interval[_time(0)][_time(60)] == {4, 5, 6, 7}
    assert interval[_time(0)][_time(120)] == {8, 9, 10, 11}
    assert interval[_time(0)][_time(180)] == {12, 13, 14, 15}

    interval = s.series(["test1", "test2"], "hour", end=_time(250), condensed=True)
    assert list(interval.keys()) == [_time(0)]
    assert interval[_time(0)] == set(range(0, 16))

    interval = s.series(
        ["test1", "test2"], "hour", condensed=True, end=_time(4200), steps=2,
        collapse=True,
    )
    assert list(interval.keys()) == [_time(0)]
    assert interval[_time(0)] == set(range(0, 16)) | set(range(240, 256))


# ref: test/functional/api_helper.py:30-81 (list / properties / iterate)


def test_api_golden(spark):
    s = Timeseries(
        spark,
        type="series",
        value_type="long",
        intervals={
            "minute": {"step": 60, "steps": 5},
            "hour": {"step": HOUR, "resolution": 60},
            "bulk-hour": {"step": HOUR},
        },
    )
    # test_list
    for name in ("test", "test1", "test2", "test"):
        s.insert(name, 32, timestamp=_time(0))
    assert sorted(s.list()) == ["test", "test1", "test2"]
    s.delete("test1")
    s.delete("test2")
    assert sorted(s.list()) == ["test"]
    s.delete("test")

    # test_properties
    s.insert("test", 32, timestamp=_time(0))
    s.insert("test", 32, timestamp=_time(60))
    s.insert("test", 32, timestamp=_time(600))
    res = s.properties("test")
    assert res["minute"]["first"] == _time(0)
    assert res["minute"]["last"] == _time(600)
    assert res["hour"]["first"] == _time(0)
    assert res["hour"]["last"] == _time(0)
    s.delete("test")

    # test_iterate
    s.insert("test", 32, timestamp=_time(0))
    s.insert("test", 42, timestamp=_time(60))
    s.insert("test", 52, timestamp=_time(600))

    res = list(s.iterate("test", "minute"))
    assert len(res) == 11
    assert res[0] == (_time(0), [32])
    assert res[1] == (_time(60), [42])
    assert res[2] == (_time(120), [])
    assert res[-1] == (_time(600), [52])

    res = list(s.iterate("test", "hour"))
    assert len(res) == 3
    assert res[0] == (_time(0), [32])
    assert res[1] == (_time(60), [42])
    assert res[2] == (_time(600), [52])

    res = list(s.iterate("test", "bulk-hour"))
    assert res == [(_time(0), [32, 42, 52])]


# ref: series_helper.py:106-151 (relative-time ±N insert fan-out; the
# Gregorian twin lives in test_golden_gregorian.py)


def test_insert_multiple_intervals_after_relative(spark):
    s = make(spark, "series")
    minute = s.intervals["minute"]
    ts1 = _time(0)
    ts2 = minute.i_calc.normalize(ts1, 1)
    ts3 = minute.i_calc.normalize(ts1, 2)
    assert ts1 != ts2

    s.insert("test", 32, timestamp=ts1, intervals=1)
    assert s.get("test", "minute", timestamp=ts1)[ts1] == [32]
    assert s.get("test", "minute", timestamp=ts2)[ts2] == [32]

    s.insert("test", 42, timestamp=ts1, intervals=2)
    assert s.get("test", "minute", timestamp=ts1)[ts1] == [32, 42]
    assert s.get("test", "minute", timestamp=ts2)[ts2] == [32, 42]
    assert s.get("test", "minute", timestamp=ts3)[ts3] == [42]


def test_insert_multiple_intervals_before_relative(spark):
    s = make(spark, "series")
    minute = s.intervals["minute"]
    ts1 = _time(0)
    ts2 = minute.i_calc.normalize(ts1, -1)
    ts3 = minute.i_calc.normalize(ts1, -2)

    s.insert("test", 32, timestamp=ts1, intervals=-1)
    assert s.get("test", "minute", timestamp=ts1)[ts1] == [32]
    assert s.get("test", "minute", timestamp=ts2)[ts2] == [32]

    s.insert("test", 42, timestamp=ts1, intervals=-2)
    assert s.get("test", "minute", timestamp=ts1)[ts1] == [32, 42]
    assert s.get("test", "minute", timestamp=ts2)[ts2] == [32, 42]
    assert s.get("test", "minute", timestamp=ts3)[ts3] == [42]


# ref: set_helper.py:27-103 (bulk_insert, incl. ±3 interval fan-out and
# the None→now timestamp key)


def test_set_bulk_insert_golden(spark):
    s = make(spark, "set")
    s.bulk_insert({
        None: {"test1": [1, 2, 3], "test2": [4, 5, 6]},
        _time(0): {"test1": [1, 2, 3], "test2": [4, 5, 6], "test3": [7, 8, 9]},
        _time(30): {"test1": [1, 2, 3], "test2": [4, 5, 6]},
        _time(60): {"test1": [1, 2, 3], "test3": [7, 8, 9]},
    })
    assert s.get("test1", "minute", timestamp=_time(0))[_time(0)] == {1, 2, 3}
    assert s.get("test2", "minute", timestamp=_time(0))[_time(0)] == {4, 5, 6}
    assert s.get("test3", "minute", timestamp=_time(0))[_time(0)] == {7, 8, 9}
    assert s.get("test1", "minute", timestamp=_time(60))[_time(60)] == {1, 2, 3}


def test_set_bulk_insert_intervals_after_golden(spark):
    a, b, c, d, e, f = 10, 11, 12, 13, 14, 15
    s = make(spark, "set")
    s.bulk_insert(
        {
            None: {"test1": [1, 2, 3], "test2": [4, 5, 6]},
            _time(0): {"test1": [1, 2, 3], "test2": [4, 5, 6], "test3": [7, 8, 9]},
            _time(30): {"test1": [1, 2, 3], "test2": [4, 5, 6]},
            _time(60): {"test1": [a, b, c], "test3": [d, e, f]},
        },
        intervals=3,
    )
    assert s.get("test1", "minute", timestamp=_time(0))[_time(0)] == {1, 2, 3}
    assert s.get("test3", "minute", timestamp=_time(0))[_time(0)] == {7, 8, 9}
    assert s.get("test1", "minute", timestamp=_time(60))[_time(60)] == {1, 2, 3, a, b, c}
    assert s.get("test3", "minute", timestamp=_time(120))[_time(120)] == {7, 8, 9, d, e, f}
    assert s.get("test3", "minute", timestamp=_time(180))[_time(180)] == {7, 8, 9, d, e, f}


def test_set_bulk_insert_intervals_before_golden(spark):
    a, b, c, d, e, f = 10, 11, 12, 13, 14, 15
    s = make(spark, "set")
    s.bulk_insert(
        {
            None: {"test1": [1, 2, 3], "test2": [4, 5, 6]},
            _time(0): {"test1": [1, 2, 3], "test2": [4, 5, 6], "test3": [7, 8, 9]},
            _time(30): {"test1": [1, 2, 3], "test2": [4, 5, 6]},
            _time(60): {"test1": [a, b, c], "test3": [d, e, f]},
        },
        intervals=-3,
    )
    assert s.get("test1", "minute", timestamp=_time(0))[_time(0)] == {1, 2, 3, a, b, c}
    assert s.get("test2", "minute", timestamp=_time(0))[_time(0)] == {4, 5, 6}
    assert s.get("test3", "minute", timestamp=_time(0))[_time(0)] == {7, 8, 9, d, e, f}
    assert s.get("test1", "minute", timestamp=_time(-60))[_time(-60)] == {1, 2, 3, a, b, c}
    assert s.get("test3", "minute", timestamp=_time(-120))[_time(-120)] == {7, 8, 9, d, e, f}
    assert s.get("test3", "minute", timestamp=_time(-180))[_time(-180)] == {7, 8, 9}
