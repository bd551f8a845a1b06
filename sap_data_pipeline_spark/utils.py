"""Operational utilities mirrored from the reference's runtime contract.

* ``retry_call`` — the reference wraps every download/ETL/upload step in a
  3-attempt, 5-second-delay retry (``pipelines/etl_utils.py:39-53``,
  ``common/loader.py:81,150``).  In Spark, *task*-level faults are retried
  by the scheduler; this covers the same driver-side job-level transient
  failures the reference saw (sink I/O, flaky FS).
"""

from __future__ import annotations

import itertools
import logging
import time
from collections.abc import Callable
from typing import TypeVar

log = logging.getLogger(__name__)

T = TypeVar("T")


def retry_call(
    fn: Callable[[], T],
    *,
    attempts: int = 3,
    delay_s: float = 5.0,
    strict: bool = True,
) -> T | None:
    """Call ``fn`` with up to ``attempts`` tries and ``delay_s`` between.

    ``strict=True`` re-raises the last error (fail the job loudly);
    ``strict=False`` reproduces the reference's ``return False``-style
    swallow (returns None) so an orchestration loop can continue to the
    next pipeline (``run_all_template.py:23-67``).
    """
    last: Exception | None = None
    for attempt in range(1, attempts + 1):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 - mirrored contract
            last = exc
            log.warning("attempt %d/%d failed: %s", attempt, attempts, exc)
            if attempt < attempts:
                time.sleep(delay_s)
    if strict:
        assert last is not None
        raise last
    return None


# Monotonic suffix for session-scoped temp-view names: the iterative
# graph/dedup operators register their per-round frames as temp views so
# each round is ONE parsed spark.sql round-trip instead of dozens of
# py4j Column/DataFrame calls (guide §4; measured ~0.15-0.3 s per
# operator invocation, r14).  Unique names keep interleaved invocations
# in one session (tests, streaming batches) from clobbering each other;
# ``next`` on an ``itertools.count`` is atomic in CPython, so two threads
# never mint the same name.
_VIEW_SEQ = itertools.count(1)


def temp_view_name(prefix: str) -> str:
    """A process-unique temp-view name ``_{prefix}{n}``."""
    return f"_{prefix}{next(_VIEW_SEQ)}"
