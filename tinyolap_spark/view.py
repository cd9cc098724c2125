"""View — crosstab reports over a cube (reference ``tinyolap/view.py:245``).

The reference refreshes a view by running one point aggregation per
(row, col) grid position (``view.py:769-911`` — O(rows x cols) index
intersections).  Here a refresh is ONE batch read of the grid
(``Cube._read_grid``): from the cube's driver copy of a small fact, with
no Spark job, else as one Spark job

    fact ⋈ broadcast(closure per axis dim, filtered to axis members)
         |> groupBy(axis member ids...)
         |> sum(value * weights)

Rule-covered cells evaluate in the same batch, as ``Cube.get_many``
evaluates them.  Ordering (definition order, never alphabetical —
reference ``view.py:167-171``), zero suppression, number formats and
rendering happen on the driver.
"""

from __future__ import annotations

import itertools
from typing import Any, Optional, Sequence, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import engine
from .cube import Cube
from .metadata import InvalidAddressError, Member


AxisSpec = Sequence[tuple[str, Union[str, None, Sequence[str]]]]


class ViewAxis:
    """One axis: ordered list of (dimension position, member idx list)."""

    def __init__(self, cube: Cube, spec: AxisSpec):
        self.cube = cube
        self.dims: list[int] = []
        self.members: list[list[int]] = []
        for dim_name, members in spec:
            pos = cube._dim_position(dim_name)
            dim = cube.dimensions[pos]
            if members is None or members == "*":
                # the NAMED-member surface: for a from_dataframe
                # dimension this is the upper hierarchy (groups + top)
                # by design — its leaves live in a DataFrame and a
                # 10^7-row view axis is never what "*" means; query
                # leaves with DataFrame filters instead (pinned by
                # tests/test_round13_fixes.py)
                idxs = [m.index for m in dim.members]
            elif isinstance(members, str):
                if members.lower() in dim.subsets:
                    idxs = [m.index for m in dim.subset(members).members]
                else:
                    idxs = [dim.member(members).index]
            else:
                idxs = []
                for m in members:
                    if isinstance(m, Member):
                        idxs.append(m.index)
                    elif isinstance(m, str) and m.lower() in dim.subsets:
                        idxs.extend(x.index for x in dim.subset(m).members)
                    else:
                        idxs.append(dim.member(m).index)
            self.dims.append(pos)
            self.members.append(idxs)

    @property
    def positions(self) -> list[tuple[int, ...]]:
        """Cartesian product in definition order (reference
        ``view.py:167-171``)."""
        return list(itertools.product(*self.members))

    def __len__(self) -> int:
        n = 1
        for m in self.members:
            n *= len(m)
        return n


class View:
    """Usage::

        v = View(cube,
                 filters=[("years", "2023")],
                 rows=[("regions", "*")],
                 columns=[("measures", ["Sales", "Cost", "Profit"])])
        v.refresh()
        print(v.to_console())
    """

    def __init__(
        self,
        cube: Cube,
        filters: Optional[AxisSpec] = None,
        rows: Optional[AxisSpec] = None,
        columns: Optional[AxisSpec] = None,
        zero_suppression: bool = False,
        name: str = "view",
    ):
        self.cube = cube
        self.name = name
        self.zero_suppression = zero_suppression
        filters = list(filters or [])
        rows = list(rows or [])
        columns = list(columns or [])
        used = {
            cube._dim_position(d) for d, _ in filters + rows + columns
        }
        if len(used) != len(filters) + len(rows) + len(columns):
            raise InvalidAddressError("a dimension may appear on one axis only")
        # default axes (reference view.py:615-622): unmentioned dims are
        # filter-pinned to their default member; if no row/col axis given,
        # the last two unused dims become rows/columns.
        unused = [i for i in range(len(cube.dimensions)) if i not in used]
        if not columns and unused:
            pos = unused.pop()
            columns = [(cube.dimensions[pos].name, "*")]
        if not rows and unused:
            pos = unused.pop()
            rows = [(cube.dimensions[pos].name, "*")]
        for pos in unused:
            dim = cube.dimensions[pos]
            filters.append((dim.name, dim.default_member.name))
        self.filter_axis = ViewAxis(cube, filters)
        for idxs in self.filter_axis.members:
            if len(idxs) != 1:
                raise InvalidAddressError(
                    "filter axis dimensions must pin exactly one member"
                )
        self.row_axis = ViewAxis(cube, rows)
        self.col_axis = ViewAxis(cube, columns)
        self._grid: dict[tuple[tuple[int, ...], tuple[int, ...]], Any] = {}
        self.stats: dict[str, Any] = {}

    # ------------------------------------------------------------- refresh
    def refresh(self) -> "View":
        import time

        t0 = time.time()
        cube = self.cube
        row_dims, col_dims = self.row_axis.dims, self.col_axis.dims
        members: list[Sequence[int]] = [[] for _ in cube.dimensions]
        for pos, idxs in self._axes():
            members[pos] = idxs
        values, tier, n_rules = cube._read_grid(members)
        self._grid = {}
        for addr in itertools.product(*members):
            rpos = tuple(addr[p] for p in row_dims)
            cpos = tuple(addr[p] for p in col_dims)
            self._grid[(rpos, cpos)] = values[addr]
        self.stats = {
            "refresh_sec": time.time() - t0,
            "rows": len(self.row_axis),
            "cols": len(self.col_axis),
            "cells": len(self._grid),
            "rule_cells": n_rules,
            "executed_as": tier,
        }
        return self

    def _axes(self) -> list[tuple[int, list[int]]]:
        """(dimension position, member ids) of every axis dimension."""
        return [
            (pos, list(idxs))
            for axis in (self.filter_axis, self.row_axis, self.col_axis)
            for pos, idxs in zip(axis.dims, axis.members)
        ]

    # ------------------------------------------------------------ helpers
    def _names(self, axis: ViewAxis, position: tuple[int, ...]) -> tuple[str, ...]:
        return tuple(
            self.cube.dimensions[p]._defs[m].name
            for p, m in zip(axis.dims, position)
        )

    def _fmt(self, position_addr: Sequence[tuple[int, int]], value: Any) -> str:
        if value is None:
            return ""
        fmt = None
        for pos, midx in position_addr:  # member-last-wins (view.py:841-852)
            f = self.cube.dimensions[pos]._defs[midx].format
            if f:
                fmt = f
        if fmt and isinstance(value, (int, float)):
            try:
                return fmt.format(value)
            except Exception:
                pass
        if isinstance(value, float):
            return f"{value:,.2f}"
        return str(value)

    def _visible_rows(self) -> list[tuple[int, ...]]:
        rows = self.row_axis.positions
        if not self.zero_suppression:
            return rows
        out = []
        for rpos in rows:
            vals = [
                self._grid.get((tuple(rpos), tuple(cpos)))
                for cpos in self.col_axis.positions
            ]
            if any(v is not None and v != 0.0 for v in vals):
                out.append(rpos)
        return out

    # ----------------------------------------------------------- renderers
    def value(self, row: tuple[int, ...], col: tuple[int, ...]) -> Any:
        return self._grid.get((tuple(row), tuple(col)))

    def cell_by_names(self, row_names: Sequence[str], col_names: Sequence[str]) -> Any:
        rpos = tuple(
            self.cube.dimensions[p].member(n).index
            for p, n in zip(self.row_axis.dims, row_names)
        )
        cpos = tuple(
            self.cube.dimensions[p].member(n).index
            for p, n in zip(self.col_axis.dims, col_names)
        )
        return self._grid.get((rpos, cpos))

    def to_dict(self, window: Optional[tuple[int, int]] = None) -> dict:
        """``window=(row_offset, row_count)`` paginates rows (reference
        ``ViewWindow`` ``view.py:65-105`` — presentation-layer windowing;
        the grid itself is already computed in one job)."""
        cols = [self._names(self.col_axis, c) for c in self.col_axis.positions]
        rows = []
        visible = self._visible_rows()
        if window is not None:
            off, cnt = window
            visible = visible[off : off + cnt]
        for rpos in visible:
            rows.append(
                {
                    "row": self._names(self.row_axis, rpos),
                    "cells": [
                        self._grid.get((tuple(rpos), tuple(cpos)))
                        for cpos in self.col_axis.positions
                    ],
                }
            )
        return {
            "name": self.name,
            "cube": self.cube.name,
            "filters": [
                (self.cube.dimensions[p].name, self.cube.dimensions[p]._defs[m[0]].name)
                for p, m in zip(self.filter_axis.dims, self.filter_axis.members)
            ],
            "columns": cols,
            "rows": rows,
            "stats": self.stats,
        }

    def to_console(self) -> str:
        d = self.to_dict()
        col_headers = [" / ".join(c) for c in d["columns"]]
        row_headers = [" / ".join(r["row"]) for r in d["rows"]]
        widths = [max(12, len(h) + 2) for h in col_headers]
        rw = max([14] + [len(h) + 2 for h in row_headers])
        lines = []
        title = f"{self.cube.name} — " + ", ".join(
            f"{dn}={mn}" for dn, mn in d["filters"]
        )
        lines.append(title)
        lines.append(
            " " * rw + "".join(h.rjust(w) for h, w in zip(col_headers, widths))
        )
        for rh, row, rpos in zip(row_headers, d["rows"], self._visible_rows()):
            cells = []
            for cpos, w in zip(self.col_axis.positions, widths):
                addr = list(zip(self.row_axis.dims, rpos)) + list(
                    zip(self.col_axis.dims, cpos)
                )
                cells.append(
                    self._fmt(addr, self._grid.get((tuple(rpos), tuple(cpos)))).rjust(w)
                )
            lines.append(rh.ljust(rw) + "".join(cells))
        return "\n".join(lines)

    def to_html(self) -> str:
        d = self.to_dict()
        h = ["<table class='tinyolap-view'>", "<thead><tr><th></th>"]
        for c in d["columns"]:
            h.append(f"<th>{' / '.join(c)}</th>")
        h.append("</tr></thead><tbody>")
        for row in d["rows"]:
            h.append(f"<tr><th>{' / '.join(row['row'])}</th>")
            for v in row["cells"]:
                h.append(f"<td>{'' if v is None else v}</td>")
            h.append("</tr>")
        h.append("</tbody></table>")
        return "".join(h)

    def to_df(self) -> DataFrame:
        """The grid as a Spark DataFrame (row header cols + one col per
        column position) — stays distributed for big grids."""
        cube = self.cube
        axes = {cube._cols[pos]: idxs for pos, idxs in self._axes()}
        group_cols = [cube._cols[p] for p in self.row_axis.dims + self.col_axis.dims]
        grid = engine.aggregate_grid(
            cube._rollup_fact(axes), cube.spark, cube._dims_spec(),
            axes, group_cols,
        )
        # join member names for readability
        for p in self.row_axis.dims + self.col_axis.dims:
            col = cube._cols[p]
            mdf = engine.members_df(cube.spark, cube.dimensions[p]).select(
                F.col("member_id").alias(f"__id_{col}"),
                F.col("name").alias(f"{col}_name"),
            )
            grid = grid.join(
                engine._members_side(mdf, cube.dimensions[p]),
                grid[col] == F.col(f"__id_{col}"),
            ).drop(f"__id_{col}")
        # __cnt is an engine internal (matched-row count at whatever grain
        # the router chose, fact or summary) — not part of the grid contract
        return grid.drop("__cnt")
