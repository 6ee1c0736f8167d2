"""In-memory span tracer for the traced run.

Spans are recorded around calls into the library's layers by wrapping
the public functions from here, at every name their callers resolve (a
function imported with ``from .x import f`` is a separate module
attribute and is patched too).  Each span records its name, start, end,
parent span and operation id; spans stay in a list until the run ends.

A layer's self time is its span's duration minus the time its child
spans cover.  Spans nest strictly (one driver thread), so the self
times of one operation's span tree sum to the operation's wall time.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from collections import defaultdict


class Tracer:
    """``enabled=False`` makes :meth:`span` a no-op, so the untraced run
    executes the same benchmark code without bookkeeping."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled or self.op_id is None:
            yield
            return
        rec = {"name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        traced.__perfbench_orig__ = fn
        return traced

    def patch(self, owner, attr: str, name: str, package: str) -> None:
        """Replace ``owner.attr`` and every module attribute under
        ``package`` bound to the same object with a traced wrapper."""
        orig = getattr(owner, attr)
        traced = self.wrap(name, orig)
        setattr(owner, attr, traced)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == package
                                   or mod_name.startswith(package + ".")):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, traced)

    def self_times(self) -> dict[int, dict[str, float]]:
        """``{op_id: {span name: self seconds}}``."""
        covered = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for i, s in enumerate(self.spans):
            out[s["op"]][s["name"]] += (s["end"] - s["start"]) - covered[i]
        return out

    def inclusive(self, name: str) -> dict[int, float]:
        """``{op_id: seconds}`` covered by outermost spans named ``name``."""
        out: dict[int, float] = defaultdict(float)
        for s in self.spans:
            p = s["parent"]
            while p is not None and self.spans[p]["name"] != name:
                p = self.spans[p]["parent"]
            if s["name"] == name and p is None:
                out[s["op"]] += s["end"] - s["start"]
        return out

    def counts(self) -> dict[int, dict[str, int]]:
        out: dict[int, dict[str, int]] = defaultdict(lambda: defaultdict(int))
        for s in self.spans:
            out[s["op"]][s["name"]] += 1
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
