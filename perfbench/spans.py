"""Spans for the traced run, and the ``sources`` spread probe.

Spans are kept in memory and written as one JSON file when the run ends.
Each span has a name, start, end (seconds since the epoch), the id of the
span that caused it, and the id of the operation it belongs to.
"""

from __future__ import annotations

import itertools
import json
import sys
import time
from dataclasses import dataclass


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self.op_id: str | None = None

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        """Record one span; returns its id for use as a child's parent."""
        sid = next(self._ids)
        self.spans.append({"id": sid, "op": self.op_id, "name": name,
                           "start": start, "end": end, "parent": parent,
                           **attrs})
        return sid

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


@dataclass
class SpreadCounts:
    calls: int = 0
    fired: int = 0
    probe_s: float = 0.0


class SpreadProbe:
    """Counts ``spread_small_input[_by]`` calls, how many fired (returned a
    repartitioned frame) and the time spent deciding, by wrapping the two
    public functions wherever engine modules hold a reference to them."""

    NAMES = ("spread_small_input", "spread_small_input_by")

    def __init__(self, tracer: Tracer | None = None) -> None:
        from desbordante_spark.sources import readers

        self.counts = SpreadCounts()
        self.tracer = tracer
        self._originals = {n: getattr(readers, n) for n in self.NAMES}
        self._patched: list[tuple[object, str, object]] = []

    def _wrap(self, name: str, fn):
        def wrapper(df, *args, **kwargs):
            start = time.time()
            t0 = time.perf_counter()
            out = fn(df, *args, **kwargs)
            self.counts.probe_s += time.perf_counter() - t0
            self.counts.calls += 1
            self.counts.fired += out is not df
            if self.tracer is not None:
                self.tracer.add(f"sources.{name}", start, time.time(),
                                fired=out is not df)
            return out

        return wrapper

    def install(self) -> None:
        wrappers = {n: self._wrap(n, f) for n, f in self._originals.items()}
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("desbordante_spark"):
                continue
            for name, orig in self._originals.items():
                if getattr(mod, name, None) is orig:
                    setattr(mod, name, wrappers[name])
                    self._patched.append((mod, name, orig))

    def uninstall(self) -> None:
        for mod, name, orig in self._patched:
            setattr(mod, name, orig)
        self._patched.clear()

    def take(self) -> SpreadCounts:
        out, self.counts = self.counts, SpreadCounts()
        return out
