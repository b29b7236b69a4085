"""Error-rate circuit breaker (reference pkg/core/breaker.go:34-64).

The reference marks every Kafka/S3/SQS error against a token-bucket rate
limiter (capacity = threshold errors, refilling threshold/interval per
second); when a mark finds the bucket empty the breaker's action fires
(default: a loud warning — the reference deliberately alerts rather than
halts).  Same semantics here, with an injectable clock so tests are
deterministic.

Reference defaults (breaker.go:23-32): Kafka 100 errors/min, S3 10/min,
SQS 20/min — e.g. ``ThresholdBreaker(100, 60.0, label="Kafka")``.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable

logger = logging.getLogger("kafka_replicator_spark")


class ThresholdBreaker:
    """Token-bucket error breaker: allows ``threshold`` errors per
    ``interval_s`` (with burst capacity ``threshold``); beyond that, every
    further mark invokes ``action``.
    """

    def __init__(
        self,
        threshold: int,
        interval_s: float = 60.0,
        action: Callable[[], None] | None = None,
        label: str = "errors",
        clock: Callable[[], float] = time.monotonic,
    ) -> None:
        if threshold < 1:
            raise ValueError(f"invalid config: threshold must be >= 1, got {threshold}")
        if interval_s <= 0:
            raise ValueError(f"invalid config: interval_s must be > 0, got {interval_s}")
        self.threshold = threshold
        self.rate = threshold / interval_s  # tokens per second
        self.label = label
        self.action = action or (lambda: logger.warning("%s breaker was triggered", label))
        self._clock = clock
        self._tokens = float(threshold)
        self._last = clock()
        self.marks = 0
        self.trips = 0

    def mark(self) -> bool:
        """Record one error; returns True if the breaker tripped."""
        now = self._clock()
        self._tokens = min(
            float(self.threshold), self._tokens + (now - self._last) * self.rate
        )
        self._last = now
        self.marks += 1
        if self._tokens >= 1.0:
            self._tokens -= 1.0
            return False
        self.trips += 1
        self.action()
        return True

    def snapshot(self) -> dict:
        return {"label": self.label, "marks": self.marks, "trips": self.trips}

