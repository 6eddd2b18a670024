"""Operations: the clock around each one, and the answer tally."""

from __future__ import annotations

import time


def timed(tracer, name: str, cls: str, fn):
    """Run ``fn()`` as one operation; return (result, wall ms, error).

    Only ``fn`` is inside the clock. An exception is the operation's
    failure: it is returned, not raised, so the run goes on and counts it.
    """
    tracer.begin(name, cls)
    t0 = time.perf_counter_ns()
    try:
        result, error = fn(), None
    except Exception as e:  # noqa: BLE001 - counted as a failed operation
        result, error = None, e
    t1 = time.perf_counter_ns()
    tracer.end(t0, t1)
    return result, (t1 - t0) / 1e6, error


class Tally:
    """Attempted and failed operations of a run; keeps the first failures."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, ok: bool, what) -> None:
        """Count one operation; ``what()`` describes it if it failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(str(what())[:500])

