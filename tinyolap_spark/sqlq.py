"""Mini SQL dialect over cubes (reference ``tinyolap/query.py:14-363``).

Grammar (the reference's surface)::

    SELECT <field>[, <field>...] FROM <cube> [WHERE <slicer>[, <slicer>...]]

- fields: dimension names, ``value``, or ``dim.attribute``;
- slicers are member selections, NOT predicates: a bare member name,
  ``dim=member``, a parenthesised member list ``(a, b, c)``, a subset name,
  or ``*`` (all members of the dimension inferred from the first member);
- unmentioned dimensions default to their first member (reference
  ``query.py:233-236``);
- the result is the DENSE cartesian product of the slicer member lists with
  one row per address and a ``value`` column (empty cells -> NULL).

Execution is one batch read of the dense member product
(``Cube._read_grid``): from the cube's driver copy of a small fact, else
one Spark job (closure join + grouped weighted sum); rule cells evaluate
in the same batch.  The reference instead runs one full cell read per
product element (``query.py:98-136``).

In addition to this dialect, :func:`register_views` exposes the cube's fact,
members and closure tables as temp views so users can run FULL Spark SQL
over the model (the superset surface).
"""

from __future__ import annotations

import itertools
import re
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from . import engine
from .cube import Cube
from .database import Database
from .metadata import InvalidAddressError


class QueryError(InvalidAddressError):
    pass


_SELECT_RE = re.compile(
    r"^\s*select\s+(?P<select>.+?)\s+from\s+(?P<from>[\w\" ]+?)"
    r"(?:\s+where\s+(?P<where>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == sep and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return [x for x in out if x]


class Query:
    """``Query(db, sql).execute()`` — reference-compatible entry point."""

    #: default dense-product budget: the result grid is driver-collected,
    #: so cap it well under driver memory (SURVEY §7.4)
    DEFAULT_MAX_CELLS = 1_000_000

    def __init__(self, db: Database, sql: str, max_cells: Optional[int] = None):
        self.db = db
        self.sql = sql
        self.max_cells = max_cells or self.DEFAULT_MAX_CELLS
        self.records: list[list[Any]] = []
        self.column_names: list[str] = []
        self.df: Optional[DataFrame] = None

    def execute(self) -> "Query":
        m = _SELECT_RE.match(self.sql)
        if not m:
            raise QueryError(f"cannot parse query: {self.sql!r}")
        cube_name = m.group("from").strip().strip('"')
        try:
            cube = self.db.cube(cube_name)
        except KeyError:
            raise QueryError(f"unknown cube '{cube_name}'") from None

        # ---- WHERE -> per-dimension member lists -------------------------
        member_lists: dict[int, list[int]] = {}

        def add_members(pos: int, idxs: list[int]) -> None:
            member_lists.setdefault(pos, [])
            for i in idxs:
                if i not in member_lists[pos]:
                    member_lists[pos].append(i)

        where = m.group("where")
        if where:
            for term in _split_top_level(where):
                self._resolve_slicer(cube, term, add_members)
        # defaults: first member (reference query.py:233-236)
        for pos, dim in enumerate(cube.dimensions):
            if pos not in member_lists:
                member_lists[pos] = [dim.default_member.index]

        # ---- SELECT fields ----------------------------------------------
        fields: list[tuple[str, Any]] = []  # (kind, payload)
        for f_ in _split_top_level(m.group("select")):
            f_ = f_.strip().strip('"')
            if f_.lower() == "value":
                fields.append(("value", None))
            elif f_ == "*":
                for pos in range(len(cube.dimensions)):
                    fields.append(("dim", pos))
                fields.append(("value", None))
            elif "." in f_:
                dname, aname = f_.split(".", 1)
                pos = cube._dim_position(dname.strip())
                cube.dimensions[pos].attribute_field(aname.strip())  # validate
                fields.append(("attr", (pos, aname.strip().lower())))
            else:
                fields.append(("dim", cube._dim_position(f_)))
        if not any(k == "value" for k, _ in fields):
            fields.append(("value", None))

        # ---- dense-product guard (SURVEY §7.4) --------------------------
        # the result is the dense cross product of slicer member lists; an
        # unbounded ``d1=*, d2=*`` over big dimensions would blow up the
        # driver, so refuse above a configurable cell budget
        n_cells = 1
        for lst in member_lists.values():
            n_cells *= max(len(lst), 1)
        if n_cells > self.max_cells:
            raise QueryError(
                f"query spans {n_cells:,} cells, above the max_cells limit "
                f"of {self.max_cells:,}; narrow the WHERE slicers or raise "
                "Query(..., max_cells=...)"
            )

        # ---- one batch read of the dense product -------------------------
        positions = list(range(len(cube.dimensions)))
        values, _, _ = cube._read_grid([member_lists[p] for p in positions])

        self.column_names = []
        for kind, payload in fields:
            if kind == "value":
                self.column_names.append("value")
            elif kind == "dim":
                self.column_names.append(cube.dimensions[payload].name)
            else:
                pos, aname = payload
                self.column_names.append(f"{cube.dimensions[pos].name}.{aname}")
        self.records = []
        # definition order
        for combo in itertools.product(*[member_lists[p] for p in positions]):
            row: list[Any] = []
            for kind, payload in fields:
                if kind == "value":
                    row.append(values[combo])
                elif kind == "dim":
                    row.append(
                        cube.dimensions[payload]._defs[combo[payload]].name
                    )
                else:
                    pos, aname = payload
                    row.append(
                        cube.dimensions[pos]._defs[combo[pos]].attributes.get(aname)
                    )
            self.records.append(row)
        return self

    def _resolve_slicer(self, cube: Cube, term: str, add) -> None:
        term = term.strip()
        if "=" in term:
            dname, rhs = term.split("=", 1)
            pos = cube._dim_position(dname.strip().strip('"'))
            dim = cube.dimensions[pos]
            rhs = rhs.strip()
            if rhs == "*":
                # named-member surface: for a from_dataframe dimension
                # "*" expands to the upper hierarchy (groups + top) —
                # leaves live in a DataFrame, not the driver graph
                # (same contract as View's "*" axis)
                add(pos, [m.index for m in dim.members])
            elif rhs.startswith("("):
                names = [
                    x.strip().strip('"').strip("'")
                    for x in _split_top_level(rhs[1:-1])
                ]
                add(pos, [dim.member(n).index for n in names])
            else:
                rhs = rhs.strip('"').strip("'")
                if rhs.lower() in dim.subsets:
                    add(pos, [m.index for m in dim.subset(rhs).members])
                else:
                    add(pos, [dim.member(rhs).index])
            return
        if term.startswith("("):
            names = [
                x.strip().strip('"').strip("'")
                for x in _split_top_level(term[1:-1])
            ]
            pos = None
            idxs = []
            for n in names:
                p, i = self._find_member(cube, n)
                if pos is None:
                    pos = p
                elif p != pos:
                    raise QueryError(
                        "member list must address a single dimension"
                    )
                idxs.append(i)
            if pos is not None:
                add(pos, idxs)
            return
        name = term.strip('"').strip("'")
        for pos, dim in enumerate(cube.dimensions):
            if name.lower() in dim.subsets:
                add(pos, [m.index for m in dim.subset(name).members])
                return
        p, i = self._find_member(cube, name)
        add(p, [i])

    @staticmethod
    def _find_member(cube: Cube, name: str) -> tuple[int, int]:
        for pos, dim in enumerate(cube.dimensions):
            if name in dim:
                return pos, dim.member(name).index
        raise QueryError(f"member '{name}' not found in any dimension")

    def to_df(self, spark: SparkSession) -> DataFrame:
        fields = []
        for c in self.column_names:
            t = DoubleType() if c == "value" else StringType()
            fields.append(StructField(c.replace(".", "_"), t, True))
        return spark.createDataFrame(self.records, StructType(fields))


def register_views(db: Database, prefix: str = "") -> list[str]:
    """Expose fact/members/closure tables as temp views for full Spark SQL."""
    names = []
    for cube in db.cubes.values():
        n = f"{prefix}{cube.name}_fact"
        cube.fact.createOrReplaceTempView(n)
        names.append(n)
    for dim in db.dimensions.values():
        n = f"{prefix}{dim.name}_members"
        engine.members_df(db.spark, dim).createOrReplaceTempView(n)
        names.append(n)
        n = f"{prefix}{dim.name}_closure"
        engine.closure_df(db.spark, dim).createOrReplaceTempView(n)
        names.append(n)
    return names
