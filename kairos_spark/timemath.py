"""Driver-side time-bucketing kernel.

Re-expresses the reference's bucket semantics (kairos/timeseries.py:44-264)
as pure functions: relative (seconds-since-epoch) buckets and Gregorian
calendar buckets encoded as strftime-style integers (daily ``%Y%m%d``,
weekly ``%Y%U``, monthly ``%Y%m``, yearly ``%Y``).

Each calculator also owns the stored-key encoding of the long-format
``i_time`` / ``r_time`` columns (``key`` / ``key_of`` / ``key_time``):
relative steps store the bucket-start epoch seconds, Gregorian steps
store the strftime code (the ``bucket_expr`` encoding written by
``kairos_spark.ingest``).

Deliberate deviation from the reference: the reference converts buckets
back to timestamps with ``time.mktime`` (local timezone,
timeseries.py:206) while bucketing with ``utcfromtimestamp``
(timeseries.py:175). This engine is UTC-symmetric on both directions
(``calendar.timegm``); run Spark with
``spark.sql.session.timeZone=UTC`` so column expressions agree.

Column-expression twins of these functions live in
``kairos_spark.functions.buckets`` — those are what execute on the
cluster; this module is driver-side scalar math for query construction
(range → bucket lists) and for tests.
"""

from __future__ import annotations

import calendar
import re
import time as _time
from datetime import datetime, timedelta, timezone

SECONDS = {
    "h": 60 * 60,
    "d": 60 * 60 * 24,
    "w": 60 * 60 * 24 * 7,
    "m": 60 * 60 * 24 * 30,  # month-ish, matches reference shorthand
    "y": 60 * 60 * 24 * 365,  # year-ish
}

GREGORIAN_STEPS = ("daily", "weekly", "monthly", "yearly")

_NUMBER_RE = re.compile(r"^\d+$")
_SHORTHAND_RE = re.compile(r"^(\d+)([hdwmy])$")


def resolve_time(value):
    """Resolve a config value to seconds (int) or a Gregorian step name.

    Grammar parity: kairos/timeseries.py:44-63 (``'30d'`` → 2592000;
    ``'daily'`` passes through).
    """
    if value is None or isinstance(value, int):
        return value
    if _NUMBER_RE.match(value):
        return int(value)
    m = _SHORTHAND_RE.match(value)
    if m:
        return int(m.group(1)) * SECONDS[m.group(2)]
    if value in GREGORIAN_STEPS:
        return value
    raise ValueError(f"Unsupported time format {value!r}")


def is_gregorian(step) -> bool:
    return step in GREGORIAN_STEPS


class RelativeTime:
    """Fixed-width buckets: bucket = int(ts / step).

    Semantics parity: kairos/timeseries.py:65-133.
    """

    FORMAT = None  # relative buckets carry no calendar format

    def __init__(self, step: int = 1):
        self.step = step

    def to_bucket(self, timestamp: float, steps: int = 0) -> int:
        return int(timestamp / self.step) + steps

    def from_bucket(self, bucket: int) -> int:
        return bucket * self.step

    def buckets(self, start: float, end: float) -> list[int]:
        return list(range(self.to_bucket(start), self.to_bucket(end) + 1))

    def normalize(self, timestamp: float, steps: int = 0) -> int:
        return self.from_bucket(self.to_bucket(timestamp, steps))

    def key(self, timestamp: float, steps: int = 0) -> int:
        """Stored key of ``timestamp``'s bucket: its start in seconds."""
        return self.normalize(timestamp, steps)

    def key_of(self, bucket: int) -> int:
        """Bucket index → stored key."""
        return self.from_bucket(bucket)

    def key_time(self, key: int) -> int:
        """Stored key → bucket-start timestamp (identity here)."""
        return key

    def step_size(self, t0: float | None = None, t1: float | None = None) -> int:
        """Seconds covered by one bucket, or by the closed bucket range
        [bucket(t0), bucket(t1)] when both ends are given
        (kairos/timeseries.py:73-85: end is the *end* of t1's bucket)."""
        if t0 is not None and t1 is not None:
            b0 = self.to_bucket(t0)
            b1 = self.to_bucket(t1, steps=1)
            if b0 == b1:
                return self.step
            return self.from_bucket(b1) - self.from_bucket(b0)
        return self.step

    def ttl(self, steps: int | None, relative_time: float | None = None):
        """Remaining-lifetime seconds under a ``steps`` retention; 0 when
        ``relative_time`` already fell out of retention
        (kairos/timeseries.py:114-133)."""
        if not steps:
            return None
        if relative_time is not None:
            rbucket = self.to_bucket(relative_time)
            nbucket = self.to_bucket(_time.time())
            if (nbucket - rbucket) > steps:
                return 0
            return (steps + rbucket - nbucket) * self.step
        return steps * self.step


def _utc_dt(timestamp: float) -> datetime:
    return datetime.fromtimestamp(timestamp, tz=timezone.utc).replace(tzinfo=None)


def _add_months(dt: datetime, months: int) -> datetime:
    month_index = dt.year * 12 + (dt.month - 1) + months
    year, month = divmod(month_index, 12)
    # clamp the day into the target month (Jan 31 + 1 month → Feb 28/29)
    last = calendar.monthrange(year, month + 1)[1]
    return dt.replace(year=year, month=month + 1, day=min(dt.day, last))


class GregorianTime:
    """Calendar buckets encoded as strftime integers.

    Semantics parity: kairos/timeseries.py:135-264. Weekly uses C/posix
    ``%U``: Sunday-start weeks, week 00 for days before the year's first
    Sunday; bucket→timestamp for weekly is ``Jan1 + week*7d`` (the
    reference's documented strptime workaround, timeseries.py:195-206).
    All bucket→timestamp conversion is UTC (see module docstring).
    """

    FORMATS = {
        "daily": "%Y%m%d",
        "weekly": "%Y%U",
        "monthly": "%Y%m",
        "yearly": "%Y",
    }

    def __init__(self, step: str = "daily"):
        if step not in self.FORMATS:
            raise ValueError(f"Unknown Gregorian step {step!r}")
        self.step = step

    @property
    def FORMAT(self) -> str:
        return self.FORMATS[self.step]

    def _shift(self, dt: datetime, steps: int) -> datetime:
        if steps == 0:
            return dt
        if self.step == "daily":
            return dt + timedelta(days=steps)
        if self.step == "weekly":
            return dt + timedelta(weeks=steps)
        if self.step == "monthly":
            return _add_months(dt, steps)
        return datetime(year=dt.year + steps, month=1, day=1)

    def to_bucket(self, timestamp: float, steps: int = 0) -> int:
        dt = self._shift(_utc_dt(timestamp), steps)
        return int(dt.strftime(self.FORMAT))

    def _bucket_dt(self, bucket: int) -> datetime:
        text = str(bucket)
        if self.step == "weekly":
            year, week = int(text[:4]), int(text[4:])
            return datetime(year=year, month=1, day=1) + timedelta(weeks=week)
        return datetime.strptime(text, self.FORMAT)

    def from_bucket(self, bucket: int, native: bool = False):
        dt = self._bucket_dt(bucket)
        if native:
            return dt
        return int(calendar.timegm(dt.timetuple()))

    def buckets(self, start: float, end: float) -> list[int]:
        """All buckets whose start lies in [bucket(start), end]
        (kairos/timeseries.py:208-227)."""
        out = [self.to_bucket(start)]
        step = 1
        while True:
            bucket = self.to_bucket(start, step)
            bucket_time = self.from_bucket(bucket)
            if bucket_time >= end:
                if bucket_time == end:
                    out.append(bucket)
                break
            out.append(bucket)
            step += 1
        return out

    def normalize(self, timestamp: float, steps: int = 0) -> int:
        return self.from_bucket(self.to_bucket(timestamp, steps))

    def key(self, timestamp: float, steps: int = 0) -> int:
        """Stored key of ``timestamp``'s bucket: its strftime code."""
        return self.to_bucket(timestamp, steps)

    def key_of(self, bucket: int) -> int:
        """Bucket index → stored key (the index is the code)."""
        return bucket

    def key_time(self, key: int) -> int:
        """Stored key → bucket-start timestamp."""
        return self.from_bucket(key)

    def step_size(self, t0: float, t1: float | None = None) -> int:
        """Variable-length step: whole days between bucket starts × 86400
        (kairos/timeseries.py:155-169; leap February → 29*86400)."""
        b0 = self.to_bucket(t0)
        b1 = self.to_bucket(t1 if t1 is not None else t0, steps=1)
        days = (self.from_bucket(b1, native=True) - self.from_bucket(b0, native=True)).days
        return days * SECONDS["d"]

    def ttl(self, steps: int | None, relative_time: float | None = None):
        """Day-approximated retention TTL (kairos/timeseries.py:237-264)."""
        if not steps:
            return None
        if relative_time is not None:
            rbucket = self.to_bucket(relative_time)
            nbucket = self.to_bucket(_time.time())
            day_diff = (
                self.from_bucket(nbucket, native=True) - self.from_bucket(rbucket, native=True)
            ).days
            step_days = (steps * SECONDS[self.step[0]]) / SECONDS["d"]
            if day_diff > step_days:
                return 0
            return (step_days - day_diff) * SECONDS["d"]
        return steps * SECONDS[self.step[0]]


def make_calculator(step):
    """Bucket calculator for a resolved step: int → RelativeTime,
    Gregorian name → GregorianTime (kairos/timeseries.py:378-389)."""
    if is_gregorian(step):
        return GregorianTime(step)
    return RelativeTime(step)
