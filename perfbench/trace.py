"""Span tracer for the traced benchmark run.

:meth:`Tracer.install` wraps every public function and public method
defined in a ``revtron_utils_spark`` module (and the ``__spark_entry__``
registry query functions) from the benchmark's side: the wrapper
replaces the name in its defining module and in every other library
module that imported it, so calls between modules are traced as well.
The library source is not touched.  A span is ``{id, op, phase, layer,
name, start, end, parent}``; the layer is the library module below the
package (``engine``, ``io``, ``operators`` ...), or ``entry`` for the
registry.

Executor-side Python (UDFs, ``mapInPandas`` bodies) runs in worker
processes that import the library afresh, so only calls made in the
benchmark's own process are traced.  Wrappers keep their target's
``__module__`` and ``__qualname__``, so cloudpickle still ships them to
workers by reference, where the name resolves to the untraced original.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import pkgutil
import sys
import threading
import time

PACKAGE = "revtron_utils_spark"
ENTRY = "__spark_entry__"
#: private functions traced as well, because a ratio needs their count
EXTRA = {f"{PACKAGE}.io": ("_read_parquet_uncached",)}


def layer_of(module: str) -> str:
    if module == ENTRY:
        return "entry"
    parts = module.split(".")
    return parts[1] if len(parts) > 1 else "engine"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.active = False
        self.op: str | None = None
        self.phase: str | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._originals: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, layer: str, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span (a no-op wrapper while inactive)."""
        if not self.active:
            return fn(*args, **kwargs)
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append(
                {
                    "id": sid,
                    "op": self.op,
                    "phase": self.phase,
                    "layer": layer,
                    "name": name,
                    "start": start,
                    "end": end,
                    "parent": parent,
                }
            )

    def _wrap(self, fn, layer: str):
        name = fn.__qualname__

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.span(layer, name, fn, *args, **kwargs)

        return traced

    # --------------------------------------------------------- install

    def install(self) -> int:
        """Wrap the library's public callables; returns how many."""
        pkg = importlib.import_module(PACKAGE)
        for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
            importlib.import_module(info.name)
        importlib.import_module(ENTRY)
        mods = [
            m
            for n, m in list(sys.modules.items())
            if m is not None and (n == ENTRY or n == PACKAGE or n.startswith(PACKAGE + "."))
        ]
        swap: dict[int, object] = {}
        for mod in mods:
            layer = layer_of(mod.__name__)
            extra = EXTRA.get(mod.__name__, ())
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") and name not in extra:
                    continue
                if _is_plain_function(obj) and obj.__module__ == mod.__name__:
                    swap[id(obj)] = self._wrap(obj, layer)
                elif inspect.isclass(obj) and obj.__module__ == mod.__name__:
                    self._wrap_methods(obj, layer)
        # rebind every module-level name that refers to a wrapped function
        for mod in mods:
            for name, obj in list(vars(mod).items()):
                w = swap.get(id(obj))
                if w is not None and inspect.isfunction(obj):
                    self._originals.append((mod, name, obj))
                    setattr(mod, name, w)
        return len(swap)

    def _wrap_methods(self, cls, layer: str) -> None:
        for name, raw in list(vars(cls).items()):
            if name.startswith("_"):
                continue
            if isinstance(raw, staticmethod):
                new = staticmethod(self._wrap(raw.__func__, layer))
            elif isinstance(raw, classmethod):
                new = classmethod(self._wrap(raw.__func__, layer))
            elif _is_plain_function(raw):
                new = self._wrap(raw, layer)
            else:
                continue
            self._originals.append((cls, name, raw))
            setattr(cls, name, new)

    def uninstall(self) -> None:
        for owner, name, obj in reversed(self._originals):
            setattr(owner, name, obj)
        self._originals.clear()


def _is_plain_function(obj) -> bool:
    return (
        inspect.isfunction(obj)
        and not inspect.isgeneratorfunction(obj)
        and not inspect.iscoroutinefunction(obj)
    )


def outermost_time(spans: list[dict], names: set[str]) -> float:
    """Summed duration of the spans named in ``names`` that have no
    ancestor also named there (inclusive time, nested calls once)."""
    by_id = {s["id"]: s for s in spans}
    total = 0.0
    for s in spans:
        if s["name"] not in names:
            continue
        p = by_id.get(s["parent"])
        while p is not None and p["name"] not in names:
            p = by_id.get(p["parent"])
        if p is None:
            total += s["end"] - s["start"]
    return total
