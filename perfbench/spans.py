"""Spans around the benchmark's calls into the engine's layers, and the
streaming progress listener of the traced run.

A span has a name, start, end, parent and the entry/pass it ran under.
Spans stay in memory and are written out once, at the end of the run.
The wrappers are installed from the outside, on module attributes:
``install`` must run before ``flink_scala_spark.queries`` is imported,
because the catalog modules bind ``materialize.shared_bounded`` by name
at import time.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

#: (module, attribute, layer) for every call the traced run wraps.
LAYER_CALLS = (
    ("flink_scala_spark.session", "get_spark", "session"),
    ("flink_scala_spark.tables", "load", "tables.load"),
    ("flink_scala_spark.materialize", "shared_bounded", "materialize"),
    ("flink_scala_spark.materialize", "loop_checkpoint", "materialize"),
    ("flink_scala_spark.materialize", "loop_checkpoint_lazy", "materialize"),
)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    entry: str | None
    pass_: str | None


class Tracer:
    """Collects spans. ``enabled`` is flipped off for the untraced
    passes of a traced run, so the same process measures both."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.entry: str | None = None
        self.pass_: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                Span(sid, name, time.time(), 0.0, stack[-1] if stack else None,
                     self.entry, self.pass_)
            )
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            self.spans[sid].end = time.time()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def install(self) -> None:
        import importlib

        for module, attr, layer in LAYER_CALLS:
            mod = importlib.import_module(module)
            setattr(mod, attr, self.wrap(getattr(mod, attr), layer))

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its direct children cover."""
        own = {s.id: s.end - s.start for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.end - s.start
        return own

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def progress_listener():
    """A ``StreamingQueryListener`` that keeps every trigger's progress
    JSON. Built lazily: pyspark is imported only by the caller."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()
