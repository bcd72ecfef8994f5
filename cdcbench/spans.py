"""In-memory spans for the traced benchmark run.

A span is (name, start, end, parent, run id); times are epoch seconds, the
clock the checkpoint's commit files are stamped with. Spans are recorded
around calls into the package's public functions, from the benchmark's own
files: :meth:`Tracer.instrument` swaps a module or class attribute for a
timing wrapper and :meth:`Tracer.restore` puts every original back. Nothing
inside the package changes. Spans are kept in memory and written out once,
when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- recording -------------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end,
                 "parent": parent, "run_id": self.run_id}
            )

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def substitute(self, owner: object, attr: str, make) -> None:
        """Replace ``owner.attr`` (a module function or a class method) with
        ``make(original)`` until :meth:`restore`."""
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, make(original))

    def instrument(self, owner: object, attr: str, name: str) -> None:
        """Wrap ``owner.attr`` in a span named ``name`` until :meth:`restore`."""
        self.substitute(owner, attr, lambda fn: self.wrap(name, fn))

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # -- reporting -------------------------------------------------------------
    def window(self, since: float, until: float) -> list[dict]:
        """Spans that started inside [since, until] (epoch seconds)."""
        return [s for s in self.spans if since <= s["start"] <= until]

    @staticmethod
    def self_times(spans: list[dict]) -> dict[str, float]:
        """name -> summed self time: each span's duration minus the part of
        it that its direct children cover."""
        child_time: dict[int, float] = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["name"]] += max(0.0, s["end"] - s["start"] - child_time[s["id"]])
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh)
