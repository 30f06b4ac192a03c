"""Spans around the engine's layer functions, recorded from outside
the engine.

``Tracer.install`` wraps every public function defined in each layer
module and swaps the wrapper in, by identity, wherever a loaded engine
module holds a reference to the original -- most callers bind layer
functions with ``from ... import``, so patching the defining module
alone would miss them.

Each span records its name, start, end, parent and the query execution
it belongs to. While a span is open on the driver's main thread, the
Spark local property ``jmrf.span`` carries its id, so every Spark job
submitted inside it (including parquet footer-inference jobs, which have
no SQL execution id) names its innermost span in the event log.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import sys
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "java_mapreduce_framework_spark"
SPAN_PROPERTY = "jmrf.span"

#: Layer modules whose public functions get spans, relative to PACKAGE.
LAYER_MODULES = (
    "session",
    "plans.jobs",
    "plans.sql",
    "sources.tables",
    "sources.staging",
    "operators.analytics",
    "operators.relational",
    "operators.text",
    "operators.dedup",
    "operators.similarity",
    "operators.temporal",
    "operators.multimodal",
    "operators.ml",
    "streaming.jobs",
)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    parent: int | None
    query: int | None
    end: float | None = None
    info: dict = field(default_factory=dict)


class _Traced:
    """Callable stand-in for one layer function.

    Pickles as a reference to the original (``getattr(module, name)``),
    so a UDF closure that captured the wrapper ships the unwrapped
    function to Python workers, which never trace."""

    def __init__(self, fn, name: str, layer: str, tracer: "Tracer"):
        functools.update_wrapper(self, fn)
        self._span_name = name
        self._layer = layer
        self._tracer = tracer

    def __call__(self, *args, **kwargs):
        tracer = self._tracer
        if not tracer.active:
            return self.__wrapped__(*args, **kwargs)
        hook = tracer.hooks.get(self._span_name)
        with tracer.span(self._span_name, self._layer) as span:
            if hook is None:
                return self.__wrapped__(*args, **kwargs)
            return hook(span, self.__wrapped__, args, kwargs)

    def __reduce__(self):
        fn = self.__wrapped__
        return (getattr, (sys.modules[fn.__module__], fn.__name__))


class Tracer:
    """In-memory span recorder. Spans are kept until the run ends."""

    def __init__(self, clock=time.time, set_property=None):
        self.clock = clock
        self.spans: list[Span] = []
        self.active = False
        self.query: int | None = None
        self.hooks: dict = {}
        self._local = threading.local()
        self._main = threading.main_thread()
        self._lock = threading.Lock()
        self._next = 0
        self._set_property = set_property or _set_spark_property
        self._main_top: Span | None = None
        #: callbacks run after a span's end time is taken
        self.on_exit = []

    # ---------------------------------------------------------- spans
    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def main_current(self) -> Span | None:
        """Innermost open span of the driver's main thread."""
        return self._main_top

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **info):
        span = self._open(name, layer, info)
        try:
            yield span
        finally:
            self._close(span)

    def _open(self, name: str, layer: str, info: dict) -> Span:
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1].id if stack else None
        span = Span(sid, name, layer, self.clock(), parent, self.query, info=info)
        stack.append(span)
        with self._lock:
            self.spans.append(span)
        if threading.current_thread() is self._main:
            self._main_top = span
            self._set_property(str(sid))
        return span

    def _close(self, span: Span) -> None:
        span.end = self.clock()
        stack = self._stack()
        stack.pop()
        if threading.current_thread() is self._main:
            top = stack[-1] if stack else None
            self._main_top = top
            self._set_property(None if top is None else str(top.id))
        for callback in self.on_exit:
            callback(span)

    # ------------------------------------------------------- wrapping
    def install(self) -> int:
        """Wrap the public functions of every layer module; returns the
        number of references replaced."""
        wrappers: dict[int, _Traced] = {}
        for rel in LAYER_MODULES:
            mod = importlib.import_module(f"{PACKAGE}.{rel}")
            for attr, fn in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__
                ):
                    continue
                wrappers[id(fn)] = _Traced(fn, f"{rel}.{attr}", rel, self)
        replaced = 0
        for name, mod in list(sys.modules.items()):
            if not (name == PACKAGE or name.startswith(PACKAGE + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                w = wrappers.get(id(value))
                if w is not None and w.__wrapped__ is value:
                    setattr(mod, attr, w)
                    replaced += 1
        return replaced


def _set_spark_property(value: str | None) -> None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.setLocalProperty(SPAN_PROPERTY, value)


# ------------------------------------------------------------ hooks
def staging_hook(span: Span, fn, args, kwargs):
    """``ensure_staged_table`` / ``stage_once``: record whether the call
    built its table (the ``build`` callback ran), adopted on-disk
    staging, or found the table already in the catalog."""
    params = inspect.signature(fn).bind(*args, **kwargs)
    params.apply_defaults()
    arguments = params.arguments
    built = []
    build = arguments["build"]

    def counting_build(*a, **k):
        built.append(True)
        return build(*a, **k)

    arguments["build"] = counting_build
    cataloged = False
    if "spark" in arguments:
        cataloged = bool(arguments["spark"].catalog.tableExists(arguments["name"]))
    out = fn(*params.args, **params.kwargs)
    span.info["staging"] = (
        "build" if built else ("hit" if cataloged or "spark" not in arguments else "adopt")
    )
    return out


def spread_scan_hook(span: Span, fn, args, kwargs):
    out = fn(*args, **kwargs)
    span.info["fired"] = out is not args[0]
    return out


def default_hooks() -> dict:
    return {
        "sources.staging.ensure_staged_table": staging_hook,
        "sources.staging.stage_once": staging_hook,
        "sources.tables.spread_scan": spread_scan_hook,
    }


class StreamRecorder:
    """Collects ``StreamingQueryListener`` events and ties each query to
    the main-thread span that started it. Progress events arrive
    asynchronously; ``drain`` waits for a query's termination event,
    which the listener bus delivers after its last progress event."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.started: dict[str, int | None] = {}
        self.progress: list[tuple[str, dict]] = []
        self.terminated: set[str] = set()
        self._cond = threading.Condition()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        rec = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                top = rec.tracer.main_current()
                with rec._cond:
                    rec.started[str(event.id)] = None if top is None else top.id

            def onQueryProgress(self, event):
                p = event.progress
                states = [
                    {
                        "rows_total": s.numRowsTotal,
                        "memory_bytes": s.memoryUsedBytes,
                        "rows_removed": s.numRowsRemoved,
                    }
                    for s in (p.stateOperators or [])
                ]
                entry = {
                    "batch": p.batchId,
                    "input_rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs or {}),
                    "state": states,
                }
                with rec._cond:
                    rec.progress.append((str(p.id), entry))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with rec._cond:
                    rec.terminated.add(str(event.id))
                    rec._cond.notify_all()

        return _Listener()

    def drain(self, span: Span, timeout: float = 3.0) -> None:
        """Called when a span closes: wait until every streaming query
        started under it has reported termination."""
        deadline = time.monotonic() + timeout
        with self._cond:
            pending = [q for q, s in self.started.items() if s == span.id]
            while any(q not in self.terminated for q in pending):
                left = deadline - time.monotonic()
                if left <= 0:
                    break
                self._cond.wait(left)
