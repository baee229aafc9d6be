"""Retry combinator — parity with DoRetry
(ingester/ingest_databend.go:206-241): up to 500 attempts, exponential
backoff starting at 1s capped at 60 minutes, retrying only designated
retryable error types (the reference retries its sink sentinel errors;
Spark task-level failures are already retried by
``spark.task.maxFailures`` — this wraps *driver-side* statements: the
archive's ``COPY INTO``, ``job.run_copy_into``).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from typing import TypeVar

__all__ = ["CopyIntoError", "RetryableError", "do_retry"]

T = TypeVar("T")

MAX_ATTEMPTS = 500
INITIAL_BACKOFF_SEC = 1.0
MAX_BACKOFF_SEC = 60 * 60.0


class RetryableError(Exception):
    """Errors eligible for retry (the sink-error sentinels)."""


class CopyIntoError(RetryableError):
    """COPY INTO failed (ErrCopyIntoFailed, ingest_databend.go:27)."""


def do_retry(
    fn: Callable[[], T],
    max_attempts: int = MAX_ATTEMPTS,
    initial_backoff: float = INITIAL_BACKOFF_SEC,
    max_backoff: float = MAX_BACKOFF_SEC,
    retryable: tuple[type[BaseException], ...] = (RetryableError,),
    sleep: Callable[[float], None] = time.sleep,
) -> T:
    """Run ``fn``; retry on ``retryable`` errors with exponential
    backoff. Non-retryable errors propagate immediately, mirroring the
    reference's sentinel-error check.

    Cancellation-aware on top of the reference semantics: each attempt
    is a phase boundary (``raise_if_cancelled``), so a cancelled job
    stops before its next attempt instead of sleeping through up to
    500 backoffs (60 min each at the cap). A delivered signal already
    interrupts the in-progress ``sleep`` via the handler's raise; the
    boundary check covers PROGRAMMATIC ``request_cancel()``, which
    sets the token without interrupting the main thread."""
    from .cancel import raise_if_cancelled

    backoff = initial_backoff
    last: BaseException | None = None
    for _ in range(max_attempts):
        raise_if_cancelled("retry attempt")
        try:
            return fn()
        except retryable as e:
            last = e
            sleep(backoff)
            backoff = min(backoff * 2, max_backoff)
    raise last if last is not None else RuntimeError("retry: no attempts made")
