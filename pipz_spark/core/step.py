"""Step — the engine's uniform composable unit.

Spark-native analog of ``Chainable[T]`` (reference: api.go:423-428):
where pipz pushes ONE value through ``Process(ctx, T) → (T, error)``,
a Step pushes a whole DataFrame (a distributed batch of values)
through a lazy transformation, with the per-row error column standing
in for the ``(T, error)`` pair.

A Step compiles to a plain ``DataFrame → DataFrame`` closure given a
*path prefix* — the chain of enclosing connector names. Because the
combinator tree is frozen once composed (the reference snapshots its
processor slice per run, sequence.go:118-121; DataFrame plans are
immutable for free), error paths can be computed statically at
compile time instead of prepended dynamically at bubble-up time
(reference: sequence.go:146-151). The observable result is identical.

Plan export (``to_node``/``to_json``) mirrors the reference's
``Schema()``/``Node`` tree (reference: schema.go:272-331).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame

from . import caches
from .errors import ensure_error_column
from .identity import Identity

# A compiled step body: receives the DataFrame (error column already
# present) and the full path (ancestors + self) for error attribution.
CompiledFn = Callable[[DataFrame, tuple[str, ...]], DataFrame]


class Step:
    """A named, composable, lazy DataFrame transformation."""

    node_type: str = "step"

    def __init__(
        self,
        identity: Identity | str,
        fn: CompiledFn,
        node_type: str | None = None,
        children: tuple["Step", ...] = (),
        metadata: dict[str, Any] | None = None,
    ) -> None:
        self.identity = (
            identity if isinstance(identity, Identity) else Identity(identity)
        )
        self._fn = fn
        if node_type is not None:
            self.node_type = node_type
        self.children = tuple(children)
        self.metadata = dict(metadata or {})
        self._close_hooks: list[Callable[[], None]] = []
        self._closed = False

    @property
    def name(self) -> str:
        return self.identity.name

    # -- execution -----------------------------------------------------
    def apply(self, df: DataFrame, prefix: tuple[str, ...] = ()) -> DataFrame:
        """Run this step; ``prefix`` = names of enclosing connectors."""
        df = ensure_error_column(df)
        return self._fn(df, prefix + (self.name,))

    def __call__(self, df: DataFrame) -> DataFrame:
        return self.apply(df, ())

    # -- plan export (mirror of schema.go:272-331) ---------------------
    def to_node(self) -> dict[str, Any]:
        node: dict[str, Any] = {
            "name": self.name,
            "type": self.node_type,
        }
        if self.identity.description:
            node["description"] = self.identity.description
        if self.metadata:
            node["metadata"] = self.metadata
        if self.children:
            node["children"] = [c.to_node() for c in self.children]
        return node

    def to_json(self, indent: int | None = None) -> str:
        return json.dumps(self.to_node(), indent=indent)

    def render(self) -> str:
        """ASCII tree of the plan (the human face of to_json; SURVEY
        §7.1 M6 'plan visualization')."""
        lines: list[str] = []

        def walk(step: "Step", prefix: str, is_last: bool, is_root: bool) -> None:
            connector = "" if is_root else ("└─ " if is_last else "├─ ")
            lines.append(f"{prefix}{connector}{step.node_type}:{step.name}")
            child_prefix = prefix if is_root else prefix + ("   " if is_last else "│  ")
            for i, c in enumerate(step.children):
                walk(c, child_prefix, i == len(step.children) - 1, False)

        walk(self, "", True, True)
        return "\n".join(lines)

    # -- graceful shutdown (mirror of sequence.go:332-347) -------------
    def on_close(self, hook: Callable[[], None]) -> "Step":
        """Register a cleanup hook (sink flush, connection teardown)."""
        self._close_hooks.append(hook)
        return self

    def release_caches(self) -> int:
        """Free the caller's cached frames; safe between applies, NOT a close."""
        return caches.release_caches()

    def close(self) -> None:
        """Idempotent close cascading to children in LIFO order, like
        the reference (sequence.go:332-347: children closed reverse of
        registration; double-close is a no-op). Hook errors are
        swallowed so one failing cleanup can't block the rest. Frees the
        caller's cached frames before running this step's own hooks."""
        if self._closed:
            return
        self._closed = True
        for child in reversed(self.children):
            try:
                child.close()
            except Exception:
                pass
        caches.release_caches()
        for hook in reversed(self._close_hooks):
            try:
                hook()
            except Exception:
                pass

    # -- traversal (mirror of schema.go:336-436) -----------------------
    def walk(self) -> Iterator["Step"]:
        """Depth-first pre-order, like the reference's ``Walk``."""
        yield self
        for child in self.children:
            yield from child.walk()

    def find_by_name(self, name: str) -> "Step | None":
        for s in self.walk():
            if s.name == name:
                return s
        return None

    def find_by_type(self, node_type: str) -> list["Step"]:
        return [s for s in self.walk() if s.node_type == node_type]

    def count(self) -> int:
        return sum(1 for _ in self.walk())

    def __repr__(self) -> str:  # pragma: no cover
        return f"<Step {self.node_type}:{self.name} children={len(self.children)}>"


def identity_step(name: str = "identity") -> Step:
    """Pass-through step (the reference's no-route/no-match behavior,
    switch.go:104-107 / filter.go:94-97)."""
    return Step(name, lambda df, path: df, node_type="identity")
