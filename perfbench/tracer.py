"""In-memory span recorder for the traced runs.

A span has a name, a start, an end and a parent (the span open on the
same thread when it began, kept on a thread-local stack); the root of
a span's chain identifies its request. Spans are appended to one list
while the run is live and written out once when it ends.

``install`` wraps the program's public layer boundaries from the
outside by replacing class and module attributes: nothing inside the
program changes. ``Tracer.enabled`` switches recording on and off so a
traced run can also measure an untraced stretch with the same code
loaded; a disabled wrapper costs one attribute test.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time

# (owner description, attribute, span name) for every wrapped boundary;
# the owner is resolved in ``install``.
LOG_BOUNDARIES = (
    ("server", "finish_request", "server.request"),
    ("engine", "produce", "engine.produce"),
    ("engine", "consume", "engine.consume"),
    ("engine", "lowest_offset", "engine.lowest_offset"),
    ("engine", "highest_offset", "engine.highest_offset"),
    ("engine", "consume_iter", "engine.consume_iter"),
    ("acl", "authorize", "acl.authorize"),
    ("log", "append", "log.append"),
    ("log", "read", "log.read"),
    ("log", "lowest_offset", "log.lowest_offset"),
    ("log", "highest_offset", "log.highest_offset"),
    ("sources", "_scan_rows", "sources.scan"),
    ("sources", "_min_offset_at_least", "sources.min_offset"),
)


class Tracer:
    """Thread-safe span sink. Each span is a tuple
    ``(id, parent_id, name, start_s, end_s, size)`` where ``size`` is a
    per-span count (records appended, rows scanned) or None."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, fn, name: str, size=None):
        """Return ``fn`` wrapped in a span named ``name``; ``size`` maps
        (args, result) to the span's count."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            stack = self._stack()
            sid = next(self._ids)
            parent = stack[-1] if stack else 0
            stack.append(sid)
            t0 = time.perf_counter()
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                t1 = time.perf_counter()
                stack.pop()
                n = size(args, result) if size is not None else None
                self.spans.append((sid, parent, name, t0, t1, n))

        return traced

    def take(self) -> list[tuple]:
        """Hand over the spans recorded so far and start a new list."""
        spans, self.spans = self.spans, []
        return spans


def install(tracer: Tracer) -> None:
    """Wrap every boundary in ``LOG_BOUNDARIES`` (process-wide, for the
    life of the process: call once, in the program process only)."""
    from http.server import ThreadingHTTPServer

    from proglog_spark.acl import Authorizer
    from proglog_spark.engine import Engine
    from proglog_spark.log.table import LogTable
    from proglog_spark.sources import datasource

    owners = {
        "server": ThreadingHTTPServer,
        "engine": Engine,
        "acl": Authorizer,
        "log": LogTable,
        "sources": datasource,
    }
    sizes = {
        # records appended / rows returned by a scan / 1 when a poll
        # found data: the counts the per-layer report needs
        "log.append": lambda a, r: (r[1] - r[0] + 1) if r else 0,
        "sources.scan": lambda a, r: len(r) if r is not None else 0,
        "sources.min_offset": lambda a, r: 0 if r is None else 1,
    }
    for owner, attr, name in LOG_BOUNDARIES:
        cls = owners[owner]
        setattr(cls, attr, tracer.wrap(getattr(cls, attr), name, sizes.get(name)))


def self_times(spans: list[tuple]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover."""
    child = {}
    for sid, parent, _, t0, t1, _ in spans:
        if parent:
            child[parent] = child.get(parent, 0.0) + (t1 - t0)
    return {sid: (t1 - t0) - child.get(sid, 0.0) for sid, _, _, t0, t1, _ in spans}


def write_spans(path: str, spans: list[tuple]) -> None:
    with open(path, "w") as fh:
        for sid, parent, name, t0, t1, n in spans:
            fh.write(
                json.dumps(
                    {"id": sid, "parent": parent, "name": name,
                     "start": t0, "end": t1, "n": n}
                )
                + "\n"
            )
