"""In-memory spans around calls into the engine's layers.

A :class:`Tracer` records one span per call of an instrumented function:
its layer (``operators.merge``, ``functions``, ``plans.build`` …), label,
start/end time, parent span, and the number of py4j round trips made
while it was open. Spans of eager layers also set a Spark job group
named after the span id, so the event log ties every job to the
innermost such span (see ``eventlog.py``).

Instrumentation patches module attributes from the outside; nothing in
the engine changes. Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass

# Lazy builders: their spans measure plan construction only and do not
# claim the jobs that later actions run, so they set no job group.
LAZY_LAYERS = ("functions", "operators.cdc", "operators.joins", "operators.pivot")
_SPARK_TYPES = ("DataFrame", "SparkSession", "Column")
JOB_GROUP = "spark.jobGroup.id"


def layer_of(module: str) -> str | None:
    """Layer name for an engine module, or None if it is not instrumented."""
    parts = module.split(".")
    if parts[0] != "fsc_etl_spark" or len(parts) < 2:
        return None
    if parts[1] == "operators" and len(parts) > 2:
        return f"operators.{parts[2]}"
    if parts[1] in ("functions", "sources"):
        return parts[1]
    if module == "fsc_etl_spark.plans.covid":
        return "plans.covid"
    return None


def _touches_spark(fn) -> bool:
    """True if the signature names a DataFrame/SparkSession/Column, i.e.
    the function runs in this process. Executor-side kernels (pandas or
    Arrow batch functions) are never wrapped: they are pickled."""
    ann = [str(a) for a in getattr(fn, "__annotations__", {}).values()]
    return any(t in a for a in ann for t in _SPARK_TYPES)


@dataclass
class Span:
    sid: str
    parent: str | None
    layer: str
    label: str
    t0: float
    py4j0: int
    t1: float = 0.0
    py4j1: int = 0
    grouped: bool = False


class Tracer:
    """Span recorder bound to one Python process's py4j gateway."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.py4j_calls = 0
        self._stack: list[Span] = []
        self._sc = None
        self._internal = False
        self._main = threading.main_thread()

    # -- py4j round trips ----------------------------------------------------
    def count_py4j(self, gateway) -> None:
        """Count every ``send_command`` on the gateway client, except the
        tracer's own job-group calls."""
        client = gateway._gateway_client
        if getattr(client, "_perfbench_counted", False):
            return
        orig = client.send_command

        def send_command(*args, **kwargs):
            if not self._internal:
                self.py4j_calls += 1
            return orig(*args, **kwargs)

        client.send_command = send_command
        client._perfbench_counted = True

    def bind(self, spark) -> None:
        """Use this session's context for job groups (call after every
        (re)start of the session)."""
        self._sc = spark.sparkContext
        self.count_py4j(self._sc._gateway)

    def _set_group(self, sid: str | None) -> None:
        self._internal = True
        try:
            self._sc.setLocalProperty(JOB_GROUP, sid)
        finally:
            self._internal = False

    # -- spans ----------------------------------------------------------------
    def open(self, layer: str, label: str, group: bool = True) -> Span:
        parent = self._stack[-1] if self._stack else None
        span = Span(
            sid=f"pb{len(self.spans)}",
            parent=parent.sid if parent else None,
            layer=layer,
            label=label,
            t0=time.perf_counter(),
            py4j0=self.py4j_calls,
            grouped=group and self._sc is not None,
        )
        self.spans.append(span)
        self._stack.append(span)
        if span.grouped:
            self._set_group(span.sid)
        return span

    def close(self, span: Span) -> None:
        span.t1 = time.perf_counter()
        span.py4j1 = self.py4j_calls
        self._stack.pop()
        if span.grouped:
            outer = next((s for s in reversed(self._stack) if s.grouped), None)
            self._set_group(outer.sid if outer else None)

    @contextlib.contextmanager
    def span(self, layer: str, label: str, group: bool = True):
        s = self.open(layer, label, group)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, fn, layer: str, label: str):
        group = layer not in LAZY_LAYERS

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if threading.current_thread() is not self._main:
                return fn(*args, **kwargs)
            with self.span(layer, label, group):
                return fn(*args, **kwargs)

        return traced

    # -- instrumentation ------------------------------------------------------
    def instrument(self) -> None:
        """Wrap the public in-process functions of every instrumented
        layer, in every engine module that references them, plus the
        public methods of classes those layers define."""
        mods = [m for n, m in list(sys.modules.items())
                if m is not None and (n.startswith("fsc_etl_spark") or n == "__spark_entry__")]
        wrapped: dict[int, object] = {}
        for m in mods:
            layer = layer_of(m.__name__)
            if layer is None:
                continue
            for attr, obj in list(vars(m).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != m.__name__:
                    continue
                if inspect.isfunction(obj) and _touches_spark(obj):
                    wrapped[id(obj)] = self.wrap(obj, layer, attr)
                elif inspect.isclass(obj):
                    for name, meth in list(vars(obj).items()):
                        if not name.startswith("_") and inspect.isfunction(meth):
                            setattr(obj, name, self.wrap(meth, layer, f"{obj.__name__}.{name}"))
        for m in mods:
            for attr, obj in list(vars(m).items()):
                w = wrapped.get(id(obj))
                if w is not None:
                    setattr(m, attr, w)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
