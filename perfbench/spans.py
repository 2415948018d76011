"""In-memory spans around calls into the program's layers.

The benchmark wraps each layer's public entry points from its own
files, so the program under test is unchanged. ``Tracer.install``
replaces a function in its defining module and in every package module
that imported the same object (found by an identity scan of
``sys.modules``), so ``from x import f`` call sites are traced too.

Spans use ``time.time()``, the clock Spark's event log stamps jobs
with, so jobs can be attributed to spans afterwards (``eventlog``).
"""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

PACKAGE = "ais_data_pipeline_spark"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    thread: str


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: dict[int, Span] = {}
        self._lock = threading.Lock()
        self._stacks = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._stacks, "ids", None)
        if stack is None:
            stack = self._stacks.ids = []
        with self._lock:
            if stack:
                parent = stack[-1]
            else:
                # a pool thread: its parent is the innermost span open
                # anywhere (the one that submitted the work)
                parent = max(self._open, key=lambda i: self._open[i].start, default=None)
            s = Span(len(self.spans), name, time.time(), None, parent,
                     threading.current_thread().name)
            self.spans.append(s)
            self._open[s.id] = s
        stack.append(s.id)
        try:
            yield s
        finally:
            stack.pop()
            with self._lock:
                s.end = time.time()
                del self._open[s.id]

    def install(self, targets: list[str]) -> None:
        """Wrap each ``"package.module:function"`` target; the span is
        named ``module.function`` relative to the package."""
        for target in targets:
            mod_name, fn_name = target.split(":")
            original = getattr(importlib.import_module(mod_name), fn_name)
            name = f"{mod_name.removeprefix(PACKAGE + '.')}.{fn_name}"
            wrapper = self._wrap(original, name)
            for mod in list(sys.modules.values()):
                mod_id = getattr(mod, "__name__", "")
                if mod_id != PACKAGE and not mod_id.startswith(PACKAGE + "."):
                    continue
                for attr, value in list(vars(mod).items()):
                    if value is original:
                        setattr(mod, attr, wrapper)
                        self._patched.append((mod, attr, original))

    def uninstall(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced
