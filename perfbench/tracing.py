"""Spans around the public functions of the engine's modules.

The traced run wraps every public function (and public method of a public
class) defined in each module of ``LAYERS``.  Spans are kept in memory and
turned into per-module counts when the run ends.  Nothing in the engine
changes: the wrappers are installed from outside, at benchmark start-up,
and removed again afterwards.

``plans.queries*`` and ``__spark_entry__`` bind operator names when they
are imported (``from ...asof import asof_join``).  So ``install`` first
imports every module of the package and ``__spark_entry__``, then patches
the defining modules, then re-points every name in those modules that
holds an original function object at its wrapper.  Each binding is
recorded, so ``uninstall`` restores all of them and no untraced call goes
through a wrapper.

A wrapper keeps the wrapped function's ``__module__`` and ``__qualname__``,
so cloudpickle still pickles a wrapped function by reference when it is
shipped to a Python worker; the worker imports the unpatched original.
"""

from __future__ import annotations

import dataclasses
import functools
import importlib
import inspect
import json
import pkgutil
import sys
import time
from dataclasses import dataclass

PACKAGE = "uncharted_ta1_pipeline_spark"
# modules outside the package that bind layer functions by name
CONSUMERS = ("__spark_entry__",)
LAYERS = (
    "sources.transcripts",
    "sources.readers",
    "operators.salt",
    "operators.windows",
    "operators.sessionize",
    "operators.asof",
    "operators.feature_store",
    "operators.dedup",
    "operators.similarity",
    "operators.outliers",
    "operators.convstats",
    "operators.evalm",
    "operators.enrich",
    "functions.geof",
    "functions.docf",
    "plans.manifest",
    "plans.pipeline",
)


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    op: str | None
    start: float
    end: float = 0.0


def _traceable(obj, module_name: str) -> bool:
    # pandas/Python UDF objects are functions carrying an evalType; their
    # call only builds a Column, and they must stay the object Spark expects
    return (
        inspect.isfunction(obj)
        and obj.__module__ == module_name
        and not hasattr(obj, "evalType")
    )


class Tracer:
    """Records one span per call into a wrapped function.  ``op`` names the
    benchmark operation the calls belong to; the caller sets it."""

    def __init__(self, clock=time.time) -> None:
        self.clock = clock
        self.spans: list[Span] = []
        self.op: str | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    def wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = Span(
                len(tracer.spans),
                tracer._stack[-1] if tracer._stack else None,
                layer,
                fn.__qualname__,
                tracer.op,
                tracer.clock(),
            )
            tracer.spans.append(span)
            tracer._stack.append(span.sid)
            try:
                return fn(*args, **kwargs)
            finally:
                span.end = tracer.clock()
                tracer._stack.pop()

        return traced

    @property
    def installed(self) -> bool:
        return bool(self._patches)

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self, package: str = PACKAGE, layers=LAYERS, consumers=CONSUMERS) -> int:
        """Wrap the public functions of ``layers``; return how many."""
        # every module that may bind a layer function is loaded before the
        # patching, so it holds the original and its binding is recorded
        pkg = importlib.import_module(package)
        for info in pkgutil.walk_packages(pkg.__path__, f"{package}."):
            importlib.import_module(info.name)
        for name in consumers:
            importlib.import_module(name)
        wrapped: dict[int, object] = {}
        for layer in layers:
            name = f"{package}.{layer}"
            mod = importlib.import_module(name)
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_"):
                    continue
                if _traceable(obj, name):
                    w = self.wrap(layer, obj)
                    wrapped[id(obj)] = (obj, w)
                    self._patch(mod, attr, w)
                elif inspect.isclass(obj) and obj.__module__ == name:
                    for m_attr, m_obj in list(vars(obj).items()):
                        if not m_attr.startswith("_") and _traceable(m_obj, name):
                            self._patch(obj, m_attr, self.wrap(layer, m_obj))
        # re-point names bound by `from x import y` in loaded modules
        for mname, mod in list(sys.modules.items()):
            in_package = mname == package or mname.startswith(f"{package}.")
            if mod is None or not (in_package or mname in consumers):
                continue
            for attr, obj in list(vars(mod).items()):
                hit = wrapped.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self._patch(mod, attr, hit[1])
        return len(wrapped)

    def dump(self, path: str) -> None:
        """Write every span as one JSON line."""
        with open(path, "w") as f:
            for span in self.spans:
                f.write(json.dumps(dataclasses.asdict(span)) + "\n")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, old = self._patches.pop()
            setattr(owner, attr, old)
