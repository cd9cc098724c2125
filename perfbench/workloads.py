"""The workloads: seeded op schedules and the sessions that run them.

A schedule is an endless sequence of blocks; every block has the same mix
of op types, and a run executes a whole number of blocks, so each run sees
the workload's mix exactly.  Ops are plain data made from the seed alone;
a ``Session`` (one database + cube + oracle) executes them, timing only
the calls into the package, and checks every returned value against its
oracle outside the timed region.

Every op has a *type* (one shape of request, e.g. ``drill3_batch``) and a
*kind* (the end-to-end latency family the type belongs to):

- ``view``: ``View(...).refresh()``
- ``batch_read``: one uncached ``Cube.get_many`` of base or leaf cells, or
  one mini-SQL ``Query``
- ``agg_read``: one uncached ``Cube.get_many`` of aggregated cells
- ``point_read``: one uncached ``cube[address]``
- ``cached_read``: a read that repeats an earlier one with no write in
  between, so the cell cache can answer it
- ``write_visible``: ``cube[address] = v`` until the ``get_many`` that
  reads it back returns (that read also counts as an ``agg_read``)
- ``bulk_write``: one ``Cube.write_rows`` of 1,000 cells
"""

from __future__ import annotations

import random
import time
from dataclasses import dataclass, field
from typing import Any, Iterator, Sequence

from models import (
    ALL, HUGE_DIMS, HUGE_LEAVES, RULE_GROUPS, RULE_LEAVES_PER_GROUP, RULE_TOP,
    STORED_MEASURES, HugeOracle, RuleOracle, build_huge, build_rules,
    group_ordinal, huge_name, huge_names, huge_records, rule_key, rule_records,
    same,
)


@dataclass
class Op:
    kind: str
    type: str
    method: str  # the Session method ``op_<method>`` that runs it
    data: Any


@dataclass
class Outcome:
    seconds: float  # latency of the op itself
    cells: int
    mismatches: list[str] = field(default_factory=list)
    # latencies of other (kind, type)s measured inside the op
    also: dict[tuple[str, str], float] = field(default_factory=dict)


class Session:
    """One model instance: database, cube and the oracle that shadows it."""

    exact = True

    def __init__(self, db, cube, oracle):
        self.db, self.cube, self.oracle = db, cube, oracle

    def run(self, op: Op) -> Outcome:
        return getattr(self, "op_" + op.method)(op.data)

    @staticmethod
    def _timed(fn):
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0

    def _compare(self, label, got, want) -> list[str]:
        return [] if same(got, want, self.exact) else [f"{label}: got {got!r}, want {want!r}"]

    def _save_open(self, path: str, top_address, want) -> tuple[float, float, list[str]]:
        from tinyolap_spark import Database

        _, save_s = self._timed(lambda: self.db.save(path))
        db2, open_s = self._timed(lambda: Database.open(path, spark=self.cube.spark))
        got = db2.cube(self.cube.name)[top_address]
        return save_s, open_s, self._compare(f"reopened {top_address}", got, want)

    def prime(self) -> None:
        """Build the engine's per-dimension frames with a mini-SQL query,
        which leaves the cell cache empty."""
        from tinyolap_spark.sqlq import Query

        where = ", ".join(f"{d.name}={d.default_member.name}" for d in self.cube.dimensions)
        Query(self.db, f"SELECT value FROM {self.cube.name} WHERE {where}").execute()

    def release(self) -> None:
        """Free the cube's cached fact blocks (set-up copies not measured)."""
        self.cube.fact.unpersist(blocking=True)


# ------------------------------------------------------------ dashboard
class HugeSession(Session):
    def _check_cells(self, addrs, got) -> list[str]:
        out = []
        for a, g in zip(addrs, got):
            out += self._compare(huge_names(a), g, self.oracle.cell(a))
        return out

    def op_batch(self, addrs) -> Outcome:
        names = [huge_names(a) for a in addrs]
        got, dt = self._timed(lambda: self.cube.get_many(names))
        return Outcome(dt, len(got), self._check_cells(addrs, got))

    def op_point(self, addr) -> Outcome:
        names = huge_names(addr)
        got, dt = self._timed(lambda: self.cube[names])
        return Outcome(dt, 1, self._check_cells([addr], [got]))

    def op_view(self, cols) -> Outcome:
        """``h0`` (all 101 members) by ``cols`` of ``h1``, the rest at All."""
        from tinyolap_spark import View

        filters = [(f"h{d}", huge_name(ALL)) for d in range(2, HUGE_DIMS)]
        v, dt = self._timed(lambda: View(
            self.cube, filters=filters, rows=[("h0", "*")],
            columns=[("h1", [huge_name(o) for o in cols])],
        ).refresh())
        want = self.oracle.grid((ALL,) * HUGE_DIMS, 0, 1, [ALL] + list(range(HUGE_LEAVES)), cols)
        grid = v.to_dict()
        got = {}
        for row in grid["rows"]:
            for (cname,), value in zip(grid["columns"], row["cells"]):
                got[(row["row"][0], cname)] = value
        bad = [] if len(got) == len(want) else [f"view has {len(got)} cells, want {len(want)}"]
        for (ro, co), w in want.items():
            bad += self._compare(f"view {huge_name(ro)},{huge_name(co)}",
                                 got.get((huge_name(ro), huge_name(co)), "missing"), w)
        return Outcome(dt, len(got), bad)

    def op_sql(self, spec) -> Outcome:
        from tinyolap_spark.sqlq import Query

        x, y = spec
        where = ", ".join(
            ["h0=*", f"h1={huge_name(x)}", f"h2={huge_name(y)}"]
            + [f"h{d}={huge_name(ALL)}" for d in range(3, HUGE_DIMS)]
        )
        sql = f"SELECT h0, value FROM huge WHERE {where}"
        q, dt = self._timed(lambda: Query(self.db, sql).execute())
        bad = [] if len(q.records) == HUGE_LEAVES + 1 else [f"sql returned {len(q.records)} rows"]
        for name, value in q.records:
            o = ALL if name == huge_name(ALL) else int(name[1:])
            bad += self._compare(f"sql {name}", value,
                                 self.oracle.cell((o, x, y) + (ALL,) * (HUGE_DIMS - 3)))
        return Outcome(dt, len(q.records), bad)

    def save_check(self, path: str):
        top = (ALL,) * HUGE_DIMS
        return self._save_open(path, huge_names(top), self.oracle.cell(top))


class _HugeAddresses:
    """Address generators for the huge model; half of the leaf addresses
    come from loaded records, so most drilled cells hold data."""

    def __init__(self, rng: random.Random, keys):
        self.rng, self.keys = rng, keys

    def leaf(self) -> tuple[int, ...]:
        if self.rng.random() < 0.5:
            return tuple(int(o) for o in self.keys[self.rng.randrange(len(self.keys))])
        return tuple(self.rng.randrange(HUGE_LEAVES) for _ in range(HUGE_DIMS))

    def drilled(self, k: int, dims: Sequence[int] = range(HUGE_DIMS)) -> tuple[int, ...]:
        """``k`` of ``dims`` at a leaf, the rest at All."""
        src = self.leaf()
        pick = set(self.rng.sample(list(dims), k))
        return tuple(src[d] if d in pick else ALL for d in range(HUGE_DIMS))

    def members(self, n: int) -> list[int]:
        return self.rng.sample(range(HUGE_LEAVES), n)


class Dashboard:
    """Read-only traffic on the huge model; a third of the ops repeat an
    earlier one, and the cell cache answers the repeated reads."""

    name = "dashboard"
    BLOCK_S = 6.0  # seconds one block takes on a 4-core host
    AGG3_CELLS = 25

    def inputs(self, seed: int):
        return huge_records(seed)

    def build(self, spark, inputs, tag: str) -> HugeSession:
        db, cube = build_huge(spark, *inputs, name=f"huge_{tag}")
        return HugeSession(db, cube, HugeOracle(*inputs))

    def blocks(self, seed: int, inputs) -> Iterator[list[Op]]:
        rng = random.Random(seed)
        gen = _HugeAddresses(rng, inputs[0])
        seen: set[tuple[int, ...]] = set()  # cells an earlier op put in the cache
        views: list[Op] = []
        bases: list[Op] = []
        points: list[Op] = []

        def fresh_point() -> Op:
            # near-top cells off the view's axes (dims 0 and 1), never read
            # before, so only the repeats below can hit the cache
            while True:
                addr = gen.drilled(1, range(2, HUGE_DIMS))
                if addr not in seen:
                    seen.add(addr)
                    return Op("point_read", "point", "point", addr)

        while True:
            view = Op("view", "view", "view", [ALL] + gen.members(10))
            batch1 = Op("agg_read", "drill1_batch", "batch", [gen.drilled(1) for _ in range(100)])
            seen.update(batch1.data)
            new_points = [fresh_point(), fresh_point()]
            base = Op("batch_read", "base_batch", "batch", [gen.leaf() for _ in range(1000)])
            block = new_points + [
                view, batch1, base,
                Op("batch_read", "sql", "sql", tuple(gen.members(2))),
                Op("agg_read", "drill3_batch", "batch",
                   [gen.drilled(3) for _ in range(self.AGG3_CELLS)]),
            ]
            rng.shuffle(block)
            views.append(view)
            bases.append(base)
            points += new_points
            # repeats of earlier ops, each placed after the op it repeats:
            # the cache answers the get_many and cube[] ones; View.refresh
            # recomputes its grid, so a repeated view is one more view
            v, b, p = rng.choice(views), rng.choice(bases), rng.choice(points)
            for src, repeat in [
                (v, v),
                (b, Op("cached_read", "repeat_base_batch", "batch", b.data)),
                (p, Op("cached_read", "repeat_point", "point", p.data)),
            ]:
                after = next((i + 1 for i, op in enumerate(block) if op is src), 0)
                block.insert(rng.randint(after, len(block)), repeat)
            yield block


# ------------------------------------------------------------- planning
class RuleSession(Session):
    exact = False

    def _check(self, cells, got) -> list[str]:
        out = []
        for (k, m), g in zip(cells, got):
            out += self._compare((rule_key(k), m), g, self.oracle.cell(k, m))
        return out

    def op_batch(self, cells) -> Outcome:
        names = [(rule_key(k), m) for k, m in cells]
        got, dt = self._timed(lambda: self.cube.get_many(names))
        return Outcome(dt, len(got), self._check(cells, got))

    def op_point(self, cell) -> Outcome:
        names = (rule_key(cell[0]), cell[1])
        got, dt = self._timed(lambda: self.cube[names])
        return Outcome(dt, 1, self._check([cell], [got]))

    def op_view(self, groups) -> Outcome:
        from tinyolap_spark import View

        measures = ("Quantity", "Price", "Cost", "Sales")
        v, dt = self._timed(lambda: View(
            self.cube, rows=[("keys", [rule_key(g) for g in groups])],
            columns=[("measures", list(measures))],
        ).refresh())
        grid = v.to_dict()
        cells, got = [], []
        for g, row in zip(groups, grid["rows"]):
            for m, value in zip(measures, row["cells"]):
                cells.append((g, m))
                got.append(value)
        bad = [] if len(got) == len(groups) * len(measures) else ["view shape"]
        return Outcome(dt, len(got), bad + self._check(cells, got))

    def op_write_visible(self, spec) -> Outcome:
        (key, measure, value), reads = spec
        names = [(rule_key(k), m) for k, m in reads]
        t0 = time.perf_counter()
        self.cube[rule_key(key), measure] = value
        t1 = time.perf_counter()
        got = self.cube.get_many(names)
        t2 = time.perf_counter()
        self.oracle.write(key, measure, value)
        return Outcome(t2 - t0, len(got), self._check(reads, got),
                       also={("agg_read", "readback"): t2 - t1})

    def op_bulk_write(self, rows) -> Outcome:
        api_rows = [(rule_key(k), m, v) for k, m, v in rows]
        _, dt = self._timed(lambda: self.cube.write_rows(api_rows))
        for k, m, v in rows:
            self.oracle.write(k, m, v)
        return Outcome(dt, 0)

    def save_check(self, path: str):
        return self._save_open(path, (RULE_TOP, "Sales"), self.oracle.cell(ALL, "Sales"))


class Planning:
    """Planners edit stored measures of the rules model and read the
    derived rule cells back: every write flushes through the fact and
    clears the whole cell cache, so each read after it recomputes its
    rules; only a re-read before the next write is answered by the cache."""

    name = "planning"
    BLOCK_S = 9.0  # seconds one block takes on a 4-core host
    CYCLES = 2
    BULK_CELLS = 1000

    def inputs(self, seed: int):
        return rule_records(seed)

    def build(self, spark, inputs, tag: str) -> RuleSession:
        db, cube = build_rules(spark, inputs, name=f"rules_{tag}")
        return RuleSession(db, cube, RuleOracle(inputs))

    def blocks(self, seed: int, inputs) -> Iterator[list[Op]]:
        rng = random.Random(seed)
        n = RULE_GROUPS * RULE_LEAVES_PER_GROUP

        def value(measure: str) -> float:
            hi = {"Quantity": 20, "Price": 50, "Cost": 500}[measure]
            return float(rng.randrange(1, hi))

        def write() -> tuple[int, str, float]:
            m = rng.choice(STORED_MEASURES)
            return rng.randrange(n), m, value(m)

        def view_groups(written: int) -> list[int]:
            """The written group and 9 others, in outline order."""
            others = rng.sample([g for g in range(RULE_GROUPS) if g != written], 9)
            return [group_ordinal(g) for g in sorted(others + [written])]

        while True:
            block = []
            for _ in range(self.CYCLES):
                key, m, v = write()
                group = group_ordinal(key // RULE_LEAVES_PER_GROUP)
                reads = [(key, "Sales"), (group, "Sales"), (ALL, "Sales")]
                block += [
                    Op("write_visible", "write_visible", "write_visible", ((key, m, v), reads)),
                    Op("point_read", "margin_point", "point", (key, "Margin")),
                    Op("cached_read", "repeat_readback", "batch", reads),
                    Op("view", "view", "view", view_groups(key // RULE_LEAVES_PER_GROUP)),
                    Op("batch_read", "leaf_batch", "batch",
                       [(rng.randrange(n), m) for m in ("Sales", "LogQ") for _ in range(50)]),
                ]
            block.append(Op("bulk_write", "bulk_write", "bulk_write",
                            [write() for _ in range(self.BULK_CELLS)]))
            yield block


WORKLOADS = {w.name: w for w in (Dashboard(), Planning())}
