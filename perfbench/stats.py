"""Summary statistics for one measured phase.

Every end-to-end figure of a run comes from one interval: the time the
measured ops ran, end to end (their checks run between ops and are not
part of it).  Latencies are those ops, and the throughputs divide by the
same time, so ``ops_per_s`` and the latency median always describe the
same ops.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

#: the tail percentile is the highest one with at least this many
#: samples strictly beyond it
TAIL_BEYOND = 10


@dataclass(frozen=True)
class Tail:
    value: float
    percentile: float  #: share of samples at or below ``value``, in percent
    beyond: int  #: samples beyond ``value``
    n: int


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> Tail:
    """The highest percentile of ``samples`` that still has ``beyond``
    samples above it.  With too few samples no percentile qualifies;
    the maximum is returned then, marked by ``beyond`` below the rule
    (callers print the percentile and the count next to the value)."""
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    n = len(xs)
    k = n - 1 - beyond
    if k < 0:
        return Tail(xs[-1], 100.0, 0, n)
    return Tail(xs[k], 100.0 * (k + 1) / n, beyond, n)


@dataclass
class OpLog:
    """The measured ops of one run and how each ended.

    An op that raised, or whose output later failed its check, is a
    failure.  Only ops that completed and passed count towards latency
    and throughput; every attempted op's interval counts towards the
    measured time ``busy_s``, the interval both throughputs divide by.
    """

    latencies: dict[int, float] = field(default_factory=dict)
    rows: dict[int, int] = field(default_factory=dict)
    errors: dict[int, str] = field(default_factory=dict)
    attempted: int = 0
    busy_s: float = 0.0

    def record(self, op: int, t0: float, t1: float, error: str | None = None) -> None:
        self.attempted += 1
        self.busy_s += t1 - t0
        if error is None:
            self.latencies[op] = t1 - t0
            self.rows[op] = 0
        else:
            self.fail(op, error)

    def fail(self, op: int, why: str) -> None:
        """Mark ``op`` failed; a check may fail an op that completed."""
        self.errors.setdefault(op, why)
        self.latencies.pop(op, None)
        self.rows.pop(op, None)

    @property
    def failed(self) -> int:
        return len(self.errors)

    def summary(self) -> dict[str, float | int]:
        ok = [self.latencies[i] for i in sorted(self.latencies)]
        if not ok:
            raise ValueError("no op of the measured phase completed")
        t = tail(ok)
        return {
            "latency_p50_s": statistics.median(ok),
            "latency_tail_s": t.value,
            "tail_percentile": t.percentile,
            "tail_beyond": t.beyond,
            "ops_per_s": len(ok) / self.busy_s,
            "rows_per_s": sum(self.rows.values()) / self.busy_s,
            "n": len(ok),
            "attempted": self.attempted,
            "failed": self.failed,
            "failed_ops_ratio": self.failed / self.attempted,
            "busy_s": self.busy_s,
        }


def halves_drift(samples: list[float]) -> float | None:
    """Median of the second half of ``samples`` over the median of the
    first half, minus one: the warm-up proof (near 0 when the measured
    ops no longer drift); ``None`` below two samples."""
    h = len(samples) // 2
    if h == 0:
        return None
    return statistics.median(samples[h : 2 * h]) / statistics.median(samples[:h]) - 1.0
