"""Span recorder for traced runs.

Spans are kept in memory (name, start, end, parent, op id, counts) and
written out once when the run ends. Layer spans come from wrapping the
program's public functions at run time: :meth:`Tracer.wrap_module` replaces
each public function of a module, in every already-imported module of the
package that holds a reference to it, with a wrapper that opens a span.
The program's own files are not changed.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from stats import self_time, union_length

PACKAGE = "fantasy_premier_league_spark"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    op: int | None
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; one per run, used from the driver thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None
        self.storage_bytes_peak = 0

    @contextmanager
    def span(self, name: str, **counts):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, time.time(), None, parent, self.op, dict(counts))
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def sample_storage(self) -> None:
        """Record the bytes Spark holds for persisted RDDs right now."""
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return
        held = sum(int(i.memSize()) + int(i.diskSize()) for i in sc._jsc.sc().getRDDStorageInfo())
        self.storage_bytes_peak = max(self.storage_bytes_peak, held)

    def self_times(self) -> dict[int, float]:
        kids: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append((sp.start, sp.end))
        return {sp.id: self_time(sp.start, sp.end, kids.get(sp.id, [])) for sp in self.spans}

    def layer_seconds(self, prefix: str, *, self_only: bool = True) -> float:
        """Time spent in spans named ``prefix`` or ``prefix.*``: self time,
        or the union of outermost intervals when ``self_only`` is false."""
        match = [sp for sp in self.spans if sp.name == prefix or sp.name.startswith(prefix + ".")]
        if self_only:
            st = self.self_times()
            return sum(st[sp.id] for sp in match)
        return union_length((sp.start, sp.end) for sp in match)

    def count(self, prefix: str) -> int:
        return sum(1 for sp in self.spans if sp.name == prefix or sp.name.startswith(prefix + "."))

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped_by_tracer__ = True
        return traced

    def wrap_function(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` everywhere in the package with a span wrapper."""
        orig = getattr(module, attr)
        if getattr(orig, "__wrapped_by_tracer__", False):
            return
        traced = self.wrap(orig, name)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, traced)

    def wrap_module(self, module, name: str) -> None:
        """Wrap every public function defined in ``module`` as span ``name``."""
        for attr, val in list(vars(module).items()):
            if attr.startswith("_") or not inspect.isfunction(val) or val.__module__ != module.__name__:
                continue
            self.wrap_function(module, attr, f"{name}.{attr}")

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(sp) for sp in self.spans], fh)
