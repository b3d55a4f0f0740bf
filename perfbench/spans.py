"""In-memory spans around calls into the program's public functions.

Spans are recorded from the benchmark's side only: a wrapper is put in
place of a module attribute, times the call, and tags the Spark jobs it
starts with a job group ``<layer>#<op>`` so the event log can charge
engine work to the same layer and op.  Nothing inside the program is
edited.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str


class Tracer:
    """Spans of one run, kept in memory until the run writes its record.

    ``op`` names the op the next spans belong to (``w<i>`` for warm-up
    ops, the measured index otherwise).  Spans opened on a thread with
    no open span of its own take the op's root span as parent, which
    links work the program runs on its own threads (the actuator's job
    thread) to the op that caused it.
    """

    enabled = True

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op = "setup"
        #: job group → ``<layer>#<op>`` for groups the program names itself
        #: (a streaming query's jobs carry its run id)
        self.group_alias: dict[str, str] = {}
        self._root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[f"{name}#{self.op}"] += n

    def span(self, name: str, group: bool = True):
        return _SpanCtx(self, name, group)

    @contextlib.contextmanager
    def op_span(self, op: str):
        """The root span of op ``op``: spans opened inside it belong to it."""
        self.op = op
        self._root = None
        with self.span("op", group=False) as ctx:
            self._root = ctx.idx
            yield

    def wrap(self, fn, name: str, group: bool = True):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, group):
                return fn(*args, **kwargs)

        return wrapper

    # --- queries over the recorded spans -----------------------------
    def total(self, name: str, ops: set[str]) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name and s.op in ops)

    def counted(self, name: str, ops: set[str]) -> float:
        return sum(self.counts.get(f"{name}#{op}", 0) for op in ops)


class NullTracer(Tracer):
    """The tracer of an untraced run: it takes the same calls and records
    nothing, so an op has one body whether traced or not."""

    enabled = False

    def count(self, name: str, n: float = 1) -> None:
        pass

    def span(self, name: str, group: bool = True):
        return contextlib.nullcontext()

    def op_span(self, op: str):
        self.op = op
        return contextlib.nullcontext()

    def wrap(self, fn, name: str, group: bool = True):
        return fn


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, group: bool):
        self.t = tracer
        self.name = name
        self.group = group
        self.idx: int | None = None
        self._prev_group = None

    def __enter__(self):
        t = self.t
        stack = t._stack()
        parent = stack[-1] if stack else t._root
        with t._lock:
            self.idx = len(t.spans)
            t.spans.append(Span(self.name, time.time(), 0.0, parent, t.op))
        stack.append(self.idx)
        if self.group and t.sc is not None:
            self._prev_group = t.sc.getLocalProperty(GROUP_KEY)
            t.sc.setLocalProperty(GROUP_KEY, f"{self.name}#{t.op}")
        return self

    def __exit__(self, *exc):
        t = self.t
        t.spans[self.idx].end = time.time()
        t._stack().pop()
        if self.group and t.sc is not None:
            t.sc.setLocalProperty(GROUP_KEY, self._prev_group)
        return False


def patch_everywhere(module, attr: str, wrapper) -> list[tuple[object, str, object]]:
    """Replace ``module.attr`` and every ``from module import attr``
    binding in the program's loaded modules; returns what to restore."""
    original = getattr(module, attr)
    undo = []
    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "") or ""
        if not name.startswith("cassandra_extractor_spark"):
            continue
        if getattr(mod, attr, None) is original:
            undo.append((mod, attr, original))
            setattr(mod, attr, wrapper)
    return undo


def restore(undo: list[tuple[object, str, object]]) -> None:
    for mod, attr, original in reversed(undo):
        setattr(mod, attr, original)
