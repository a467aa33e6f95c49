"""Spans around calls into the package's layers, recorded from outside.

:class:`Tracer` keeps every span in memory as ``(op, id, parent, name,
start, end, extra)``; spans opened on one thread nest through a per-thread
stack, and all spans of one benchmark op share that op's id.  ``extra`` is
the time of children too fine-grained to keep as spans (one per sanitized
row), accumulated into the open parent instead.

:func:`instrument` wraps the package's public entry points by replacing
module attributes, so no file of the package changes; ``uninstall`` puts
the originals back.  A layer's self time is its span's duration minus the
time its child spans (and accumulated children) cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager, nullcontext


class NullTracer:
    """The untraced window's tracer: records nothing, so one op body
    serves both windows."""

    enabled = False

    def span(self, name: str):
        return nullcontext()

    def set_op(self, op_id) -> None:
        pass

    def count(self, name: str, n: float = 1) -> None:
        pass


class _Frame:
    __slots__ = ("sid", "extra")

    def __init__(self, sid: int):
        self.sid = sid
        self.extra = 0.0


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.accum: Counter = Counter()  # name -> seconds, for row-level calls
        self.counts: Counter = Counter()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple] = []

    # -- recording -----------------------------------------------------
    def _stack(self) -> list[_Frame]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_op(self, op_id) -> None:
        self._local.op = op_id

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        frame = _Frame(next(self._ids))
        parent = stack[-1].sid if stack else None
        stack.append(frame)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append(
                (getattr(self._local, "op", None), frame.sid, parent, name, t0, t1, frame.extra)
            )

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] += n

    def accumulate(self, name: str, seconds: float) -> None:
        with self._lock:
            self.accum[name] += seconds
        stack = self._stack()
        if stack:
            stack[-1].extra += seconds

    # -- wrapping --------------------------------------------------------
    def wrap(self, owner, attr: str, name) -> None:
        """Replace ``owner.attr`` by a traced wrapper.  ``name`` is a span
        name or a function of the call's arguments returning one."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        is_cm = isinstance(orig, classmethod)
        fn = orig.__func__ if is_cm else orig
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with tracer.span(label):
                return fn(*args, **kwargs)

        setattr(owner, attr, classmethod(traced) if is_cm else traced)
        self._undo.append((owner, attr, orig))

    def wrap_accumulating(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.accumulate(name, time.perf_counter() - t0)

        setattr(owner, attr, timed)
        self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- analysis --------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name, accumulated names included."""
        child = defaultdict(float)
        for _, _, parent, _, t0, t1, _ in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for _, sid, _, name, t0, t1, extra in self.spans:
            out[name] += (t1 - t0) - child[sid] - extra
        for name, sec in self.accum.items():
            out[name] += sec
        return dict(out)

    def durations(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = defaultdict(list)
        for _, _, _, name, t0, t1, _ in self.spans:
            out[name].append(t1 - t0)
        return dict(out)

    def dump(self, path: str) -> None:
        keys = ("op", "id", "parent", "name", "start", "end", "accumulated_child_s")
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [dict(zip(keys, s)) for s in self.spans],
                    "accumulated_s": dict(self.accum),
                    "counts": dict(self.counts),
                },
                f,
            )


def _timeout_label(spark, action, timeout_s, group_desc="") -> str:
    return "timeout.collect" if group_desc.startswith("execute:collect") else "timeout.count"


def instrument(tracer: Tracer) -> None:
    """Wrap the serving path and the format writers and reader."""
    from nlp_to_nosql_spark import api, executor
    from nlp_to_nosql_spark.ir import QuerySpec
    from nlp_to_nosql_spark.sources import formats

    tracer.wrap(api.Engine, "query", "api.query")
    tracer.wrap(api, "nl_to_ir", "compiler.nl_to_ir")
    tracer.wrap(QuerySpec, "from_ir", "ir.from_ir")
    tracer.wrap(api, "execute", "executor.execute")
    tracer.wrap(executor, "apply_spec", "plans.apply_spec")
    tracer.wrap(executor, "run_with_timeout", _timeout_label)
    tracer.wrap_accumulating(executor, "sanitize_row", "executor.sanitize")
    for attr in ("write_csv", "write_json", "write_orc", "to_parquet", "write_text_lines"):
        tracer.wrap(formats, attr, "sources.formats.write")
    tracer.wrap(formats, "read_table", "sources.formats.read")
