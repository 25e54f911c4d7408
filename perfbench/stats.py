"""Percentiles with their sample counts, and op outcome accounting.

Pure Python so the tests of the benchmark's own logic need no Spark.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

# A failed op counts as missing every latency limit: it enters the
# percentiles as an infinitely slow sample.
FAILED = math.inf
# Stand-in for an infinite percentile in the JSON result line, which
# allows only finite numbers.
INF_MS = 1e12


@dataclass(frozen=True)
class Pct:
    """A percentile with the samples behind it: ``n`` samples in all,
    ``beyond`` of them strictly above ``value``."""

    value: float
    n: int
    beyond: int


def percentile(samples, q: float) -> Pct:
    """The ``q``-th percentile (0-100) by linear interpolation between
    closest ranks, the rule of ``numpy.percentile``'s default.  An
    infinite sample (a failed op) makes every percentile it reaches
    infinite."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside 0-100")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    frac = pos - lo
    if frac == 0 or xs[lo] == xs[hi]:
        value = xs[lo]
    elif math.isinf(xs[hi]):
        value = math.inf
    else:
        value = xs[lo] + (xs[hi] - xs[lo]) * frac
    return Pct(value, len(xs), sum(1 for x in xs if x > value))


def finite(v: float) -> float:
    return INF_MS if math.isinf(v) else v


@dataclass
class Outcomes:
    """Timed ops of one kind: latencies in ms, failures as FAILED."""

    samples_ms: list[float] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)

    def ok(self, ms: float) -> int:
        self.samples_ms.append(ms)
        return len(self.samples_ms) - 1

    def fail(self, why: str, index: int | None = None) -> None:
        """Record a failure: a new failed op when ``index`` is None,
        else a failed output check of the op already recorded there."""
        if index is None:
            self.samples_ms.append(FAILED)
        else:
            self.samples_ms[index] = FAILED
        self.failures.append(why)

    @property
    def attempted(self) -> int:
        return len(self.samples_ms)

    @property
    def failed(self) -> int:
        return sum(1 for s in self.samples_ms if math.isinf(s))

    def pct(self, q: float) -> Pct:
        return percentile(self.samples_ms, q)

    def ok_time_ms(self) -> float:
        return sum(s for s in self.samples_ms if not math.isinf(s))
