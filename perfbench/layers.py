"""Span recording around calls into the program's layers, from outside.

A layer is a module of the ``kevinlang_spark`` package: ``frame``,
``sources``, ``functions``, ``streaming`` and one layer per
``operators.<module>``.  ``install()`` wraps every public function and
``KevinFrame`` method of the package and rebinds each wrapped name in every
module that imported it, so calls between layers are attributed too.  It
must run before ``__spark_entry__`` is imported.

A span's self time is its duration minus the time of the spans it caused.
Spans are kept in memory as per-layer sums.
"""

from __future__ import annotations

import functools
import importlib
import pkgutil
import sys
import time
import types

PACKAGE = "kevinlang_spark"


def layer_of(module: str) -> str:
    parts = module.split(".")[1:]
    if not parts:
        return "package"
    if parts[0] == "operators" and len(parts) > 1:
        return f"operators.{parts[1]}"
    return parts[0]


class LayerTracer:
    def __init__(self) -> None:
        #: spans are recorded only while this is set
        self.enabled = False
        self.calls: dict[str, int] = {}
        self.self_s: dict[str, float] = {}
        # one frame per open span: [layer, time spent in child spans]
        self._stack: list[list] = []
        self._wrapped: dict[int, object] = {}

    def _wrap(self, fn, layer: str):
        stack, calls, self_s = self._stack, self.calls, self.self_s
        clock = time.perf_counter

        @functools.wraps(fn)
        def span(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            frame = [layer, 0.0]
            stack.append(frame)
            t0 = clock()
            try:
                return fn(*args, **kwargs)
            finally:
                dur = clock() - t0
                stack.pop()
                calls[layer] = calls.get(layer, 0) + 1
                self_s[layer] = self_s.get(layer, 0.0) + dur - frame[1]
                if stack:
                    stack[-1][1] += dur

        return span

    def totals(self) -> dict[str, float]:
        """Cumulative ``calls:<layer>`` and ``self_s:<layer>`` values."""
        out = {f"calls:{k}": float(v) for k, v in self.calls.items()}
        out.update({f"self_s:{k}": v for k, v in self.self_s.items()})
        return out

    def install(self) -> None:
        if "__spark_entry__" in sys.modules:
            raise RuntimeError("install() must run before __spark_entry__ is imported")
        pkg = importlib.import_module(PACKAGE)
        modules = [pkg] + [
            importlib.import_module(info.name)
            for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + ".")
        ]
        for mod in modules:
            layer = layer_of(mod.__name__)
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if isinstance(obj, types.FunctionType) and not hasattr(obj, "evalType"):
                    wrapper = self._wrap(obj, layer)
                    self._wrapped[id(obj)] = wrapper
                    setattr(mod, name, wrapper)
                elif isinstance(obj, type):
                    self._wrap_class(obj, layer)
        # rebind names other modules imported before they were wrapped
        for mod in modules:
            for name, obj in list(vars(mod).items()):
                wrapper = self._wrapped.get(id(obj))
                if wrapper is not None:
                    setattr(mod, name, wrapper)

    def _wrap_class(self, cls: type, layer: str) -> None:
        for name, attr in list(vars(cls).items()):
            if name.startswith("_"):
                continue
            if isinstance(attr, (classmethod, staticmethod)):
                setattr(cls, name, type(attr)(self._wrap(attr.__func__, layer)))
            elif isinstance(attr, types.FunctionType):
                setattr(cls, name, self._wrap(attr, layer))
