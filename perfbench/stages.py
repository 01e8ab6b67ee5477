"""Stage spans measured from outside the program.

A stage opens at ``begin`` and stays open until ``end`` or the next
``begin``, so a stage whose work runs lazily (a checkpoint taken later,
a plan first executed by a later action) can be closed where that work
finishes. With a ``JobGroups`` attached, every Spark job started while
a stage is open lands in that stage's job group.
"""

from __future__ import annotations

import contextlib
import time


class Timeline:
    def __init__(self, groups=None):
        self.groups = groups
        self.walls: dict[str, float] = {}
        self.first_start: dict[str, float] = {}
        self._open: tuple[str, float] | None = None

    def begin(self, label: str) -> None:
        self.end()
        if self.groups is not None:
            self.groups.enter(label)
        now = time.perf_counter()
        self.first_start.setdefault(label, now)
        self._open = (label, now)

    def end(self) -> None:
        if self._open is None:
            return
        label, t0 = self._open
        self.walls[label] = self.walls.get(label, 0.0) + time.perf_counter() - t0
        self._open = None
        if self.groups is not None:
            self.groups.leave()

    def span(self, label: str, fn, *args, **kwargs):
        self.begin(label)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end()

    # Wrapper factories for ``patched``.
    def spanning(self, label: str):
        def make(fn):
            return lambda *a, **kw: self.span(label, fn, *a, **kw)

        return make

    def opening(self, label: str):
        def make(fn):
            def wrapper(*a, **kw):
                self.begin(label)
                return fn(*a, **kw)

            return wrapper

        return make

    def closing(self):
        def make(fn):
            def wrapper(*a, **kw):
                out = fn(*a, **kw)
                self.end()
                return out

            return wrapper

        return make


@contextlib.contextmanager
def patched(patches):
    """Replace ``module.name`` with ``make(original)`` for each
    ``(module, name, make)`` while the block runs. A missing name is an
    error: the stage split would silently stop matching the program."""
    saved = []
    try:
        for module, name, make in patches:
            if not hasattr(module, name):
                raise AttributeError(
                    f"{module.__name__}.{name} is gone; the benchmark's stage "
                    "split no longer matches the program"
                )
            original = getattr(module, name)
            saved.append((module, name, original))
            setattr(module, name, make(original))
        yield
    finally:
        for module, name, original in reversed(saved):
            setattr(module, name, original)
