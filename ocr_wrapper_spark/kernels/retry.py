"""Retry policies (SURVEY.md §2.10 D2).

The reference retries provider calls: Google with 2 fixed 1 s retries
(google_ocr.py:226-248), Azure with 5 retries, exponential backoff x2 and
+-10% jitter (azure.py:107-135). In this engine transient faults are
(a) captured per-document into the error column and (b) retried at task
level by Spark — but extraction backends CAN be remote (a layout-model
service), so the policy layer is kept as an explicit, testable kernel.

Jitter uses a caller-seeded Random: deterministic in tests, seedable per
(url, attempt) in production — never global random state inside a task.
"""

from __future__ import annotations

import random
import time
from collections.abc import Callable
from dataclasses import dataclass


@dataclass(frozen=True)
class RetryPolicy:
    retries: int
    delay_s: float
    backoff: float = 1.0
    jitter: float = 0.0

    def delays(self, rng: random.Random | None = None) -> list[float]:
        out = []
        d = self.delay_s
        for _ in range(self.retries):
            j = 1.0 + (rng.uniform(-self.jitter, self.jitter) if rng and self.jitter else 0.0)
            out.append(d * j)
            d *= self.backoff
        return out


# reference policies (google_ocr.py:229,244; azure.py:108-110,123-129)
GOOGLE_POLICY = RetryPolicy(retries=2, delay_s=1.0, backoff=1.0, jitter=0.0)
AZURE_POLICY = RetryPolicy(retries=5, delay_s=1.0, backoff=2.0, jitter=0.1)


def with_retries(fn: Callable, policy: RetryPolicy, sleep: Callable[[float], None] = time.sleep):
    """Run fn(); on an exception sleep per the policy (unjittered) and
    retry. The final failure propagates (the caller turns it into an
    error row)."""
    delays = policy.delays()
    for attempt, delay in enumerate([*delays, None]):
        try:
            return fn()
        except Exception:
            if delay is None:
                raise
            sleep(delay)
