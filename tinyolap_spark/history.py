"""Undo/redo history over cube mutations (reference ``history.py:298-417``,
``commands.py`` — SURVEY §2.1 S7).

The reference logs one Command per cell write (value_before/value_after,
``history.py:329-343``) and undoes them by re-applying inverse writes.
Spark-native版: DataFrames are IMMUTABLE, so a "version" is just a
reference to the cube's fact DataFrame at capture time — capturing a
version is O(1), no copy, no diff.  Each logical mutation (one ``set``,
one ``write_rows``, one bulk load, one area op) pushes
``(cube, fact_ref, pending_copy)`` onto the undo stack; undo swaps the
references back, redo swaps forward.  Granularity therefore matches the
reference: ``cube.set(...)`` is one undoable step.

Session-scoped (reference ``HistoryMode.SESSION``); the PERSIST mode's
at-scale analogue is table-format time travel (e.g. Delta), per
ARCHITECTURE.md §5 — a history survives a restart as retained table
versions, not a command log.

Cache management: ``Cube._replace_fact`` normally unpersists the fact it
replaces; while history is enabled that would tear down cached/checkpoint
blocks still referenced by undo entries, so cubes consult
:meth:`History.holds` before unpersisting and evicted entries release
their facts through :meth:`History._release`.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Optional

if TYPE_CHECKING:  # pragma: no cover
    from .cube import Cube


class History:
    """Per-database undo/redo stack (reference ``History``)."""

    def __init__(self, capacity: int = 64):
        self.capacity = capacity
        self.enabled = True
        self._undo: list[tuple["Cube", Any, dict]] = []
        self._redo: list[tuple["Cube", Any, dict]] = []

    # ------------------------------------------------------------- capture
    def capture(self, cube: "Cube") -> None:
        """Record the cube's state BEFORE a mutation (one undo step)."""
        if not self.enabled:
            return
        self._undo.append((cube, cube._fact, dict(cube._pending)))
        for entry in self._redo:
            self._release(entry)
        self._redo.clear()
        while len(self._undo) > self.capacity:
            self._release(self._undo.pop(0))

    # ------------------------------------------------------------ undo/redo
    def undo(self, count: int = 1) -> int:
        """Revert up to ``count`` mutations; returns how many reverted."""
        done = 0
        for _ in range(count):
            if not self._undo:
                break
            cube, fact, pending = self._undo.pop()
            self._redo.append((cube, cube._fact, dict(cube._pending)))
            cube._pending = pending
            cube._replace_fact(fact, persist=False)
            done += 1
        return done

    def redo(self, count: int = 1) -> int:
        done = 0
        for _ in range(count):
            if not self._redo:
                break
            cube, fact, pending = self._redo.pop()
            self._undo.append((cube, cube._fact, dict(cube._pending)))
            cube._pending = pending
            cube._replace_fact(fact, persist=False)
            done += 1
        return done

    # ------------------------------------------------------------- queries
    @property
    def can_undo(self) -> bool:
        return bool(self._undo)

    @property
    def can_redo(self) -> bool:
        return bool(self._redo)

    def __len__(self) -> int:
        return len(self._undo)

    def clear(self) -> None:
        for entry in self._undo + self._redo:
            self._release(entry)
        self._undo.clear()
        self._redo.clear()

    # ------------------------------------------------------------ internals
    def holds(self, df) -> bool:
        """Is this DataFrame referenced by any history entry?  Cubes skip
        unpersisting replaced facts that history still needs."""
        if not self.enabled:
            return False
        return any(entry[1] is df for entry in self._undo) or any(
            entry[1] is df for entry in self._redo
        )

    def _release(self, entry: tuple) -> None:
        cube, fact, _pending = entry
        if fact is cube._fact or self.holds(fact):
            return
        try:
            fact.unpersist()
        except Exception:  # noqa: BLE001 — best-effort cache release
            pass
