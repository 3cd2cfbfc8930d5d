"""Interval configuration (parity: kairos/timeseries.py:336-393).

Each named interval resolves to:
- ``step``     — bucket width (seconds int, or Gregorian name)
- ``steps``    — optional retention in number of steps
- ``resolution`` — sub-bucket width, defaults to step
- ``coarse``   — True iff resolution == step (the central read-path branch)
- ``i_calc`` / ``r_calc`` — driver-side bucket calculators
"""

from __future__ import annotations

from dataclasses import dataclass, field

from kairos_spark.exceptions import UnknownInterval
from kairos_spark.timemath import make_calculator, resolve_time


@dataclass
class IntervalConfig:
    name: str
    step: object  # int seconds or Gregorian name
    steps: int | None = None
    resolution: object = None
    coarse: bool = field(init=False)
    i_calc: object = field(init=False)
    r_calc: object = field(init=False)

    def __post_init__(self):
        self.step = resolve_time(self.step)
        self.resolution = resolve_time(self.resolution)
        if self.resolution is None:
            self.resolution = self.step
        self.coarse = self.resolution == self.step
        self.i_calc = make_calculator(self.step)
        self.r_calc = make_calculator(self.resolution)


def parse_intervals(intervals: dict) -> dict[str, IntervalConfig]:
    if not intervals:
        raise ValueError("at least one interval must be configured")
    out = {}
    for name, spec in intervals.items():
        out[name] = IntervalConfig(
            name=name,
            step=spec.get("step", 1),
            steps=spec.get("steps"),
            resolution=spec.get("resolution"),
        )
    return out


def require_interval(configs: dict[str, IntervalConfig], name: str) -> IntervalConfig:
    if name not in configs:
        raise UnknownInterval(name)
    return configs[name]
