"""Tracing from outside the program: wrap the public entry points of
each layer with timers, and restore them afterwards."""

from __future__ import annotations

import functools
import inspect
import threading
from collections import defaultdict
from time import perf_counter


class Tracer:
    """Per-name total seconds and call counts of wrapped callables."""

    def __init__(self):
        self.totals: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object, bool]] = []

    def add(self, name: str, seconds: float) -> None:
        with self._lock:
            self.totals[name] += seconds
            self.calls[name] += 1

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a timed wrapper booked under
        ``name``. Calls nested inside another wrapped call are booked
        under both names."""
        own = attr in vars(owner)
        orig = getattr(owner, attr)

        if inspect.isgeneratorfunction(orig):
            # A generator does its work while the caller iterates, after
            # the call has returned: time every step and book the sum
            # once the caller is done with it.
            @functools.wraps(orig)
            def timed(*args, **kwargs):
                spent = 0.0
                t0 = perf_counter()
                steps = orig(*args, **kwargs)
                try:
                    while True:
                        try:
                            item = next(steps)
                        except StopIteration:
                            return
                        finally:
                            spent += perf_counter() - t0
                        yield item
                        t0 = perf_counter()
                finally:
                    steps.close()
                    self.add(name, spent)

        else:

            @functools.wraps(orig)
            def timed(*args, **kwargs):
                t0 = perf_counter()
                try:
                    return orig(*args, **kwargs)
                finally:
                    self.add(name, perf_counter() - t0)

        setattr(owner, attr, timed)
        self._patches.append((owner, attr, orig, own))

    def close(self) -> None:
        for owner, attr, orig, own in reversed(self._patches):
            if own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._patches.clear()

    def per_call(self, name: str) -> float:
        n = self.calls.get(name, 0)
        return self.totals[name] / n if n else 0.0
