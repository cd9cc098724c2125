"""Undo/redo history over cube mutations (reference ``history.py:298-417``,
``commands.py`` — SURVEY §2.1 S7).

Each logical mutation (one ``set``, one ``write_rows``, one bulk load, one
area op) pushes one ``(cube, fact, cells)`` entry onto the undo stack, so
granularity matches the reference: ``cube.set(...)`` is one undoable step.
An entry is one of two kinds:

- **Cell entry** (``fact is None``): a cell write on a cube whose driver
  copy is the store of record (``tinyolap_spark/local.py``).  ``cells``
  maps each written base address to the value it held before — the
  reference's command log of before-images (``history.py:329-343``).
  Undo writes the images back as cell writes and keeps the current values
  as the redo entry's images, so an entry costs its cells, not a fact.
- **Snapshot entry**: whole-fact ops (loads, area ops, ``clear``) and
  writes on a cube whose Spark fact is the record.  DataFrames are
  IMMUTABLE, so ``fact`` is just a reference to the fact DataFrame at
  capture time (O(1), no copy) and ``cells`` the pending writes then;
  undo swaps the references back, redo swaps forward.  Cubes consult
  :meth:`History.holds` before unpersisting a replaced fact, and evicted
  entries release theirs through :meth:`History._release`.

Session-scoped (reference ``HistoryMode.SESSION``); ``Database.save``
persists the most recent entries per cube — cell entries as JSON images
next to the cube metadata, snapshot entries as fact-version parquet files.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Optional, Sequence

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
    def capture(
        self,
        cube: "Cube",
        cells: "Optional[Sequence[tuple[int, ...]]]" = None,
    ) -> None:
        """Record the cube's state BEFORE a mutation (one undo step).
        ``cells``: the base addresses a cell write is about to write; the
        entry is then a cell entry when the cube's copy is the store of
        record, else (and for whole-fact ops) a snapshot entry."""
        if not self.enabled:
            return
        if cells is not None and cube._local is not None:
            self._undo.append((cube, None, cube._stored(cells)))
        else:
            self._undo.append((cube, cube._fact, dict(cube._pending)))
        for entry in self._redo:
            self._release(entry)
        self._redo.clear()
        while len(self._undo) > self.capacity:
            self._release(self._undo.pop(0))

    # ------------------------------------------------------------ undo/redo
    def undo(self, count: int = 1) -> int:
        """Revert up to ``count`` mutations; returns how many reverted."""
        return self._replay(self._undo, self._redo, count)

    def redo(self, count: int = 1) -> int:
        return self._replay(self._redo, self._undo, count)

    @staticmethod
    def _replay(src: list, dst: list, count: int) -> int:
        """Apply up to ``count`` entries popped from ``src``, pushing onto
        ``dst`` the entry that reverts each."""
        done = 0
        while done < count and src:
            cube, fact, cells = src.pop()
            if fact is None:
                dst.append((cube, None, cube._stored(cells)))
                cube._pending.update(cells)
                cube._invalidate()
            else:
                dst.append((cube, cube._fact, dict(cube._pending)))
                cube._pending = dict(cells)
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
        cube, fact, _cells = entry
        if fact is None or fact is cube._built_fact or self.holds(fact):
            return
        try:
            fact.unpersist()
        except Exception:  # noqa: BLE001 — best-effort cache release
            pass
