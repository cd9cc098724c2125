"""Cube — N-dimensional model over a Spark fact DataFrame.

Data layout (SURVEY.md §1): one row per **base-level** cell::

    (dim1 INT, ..., dimN INT, value DOUBLE, value_str STRING)

``value_str`` carries non-numeric cell writes and rule error sentinels;
only ``value`` participates in aggregation (reference ``cube.py:468,493``:
the aggregation loop skips non-float values).

Read path (parity with reference ``cube.py:282-497``, re-expressed
set-at-a-time):

- point reads are *batched*: ``cube.get_many(addresses)`` answers any mix
  of base and aggregated addresses in at most TWO Spark jobs (one exact
  equality join for base cells, one closure-rollup join for aggregates);
- a driver-side cell cache (bolt -> value, invalidated on write — reference
  ``cube.py:347-349,510-511``) makes repeated interactive reads free;
- whole grids (views) compute in ONE job via
  :func:`tinyolap_spark.engine.aggregate_grid`.

Write path: point writes buffer in a driver dict and flush as one merge
(anti-join + union) — the Spark analogue of the reference's per-cell
``FactTable.set`` (``facttable.py:146-164``); bulk loads go straight to
:meth:`Cube.load_dataframe`.
"""

from __future__ import annotations

import inspect
import itertools
from collections import Counter
from typing import Any, Iterable, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from . import arith, engine, local
from .metadata import (
    Dimension,
    InvalidAddressError,
    InvalidCellWriteError,
    Member,
    TinyOlapError,
)
from .rules import (
    CONTINUE,
    RuleDef,
    RuleRegistry,
    RuleScope,
    map_rule_error,
)

MAX_DIMS_PER_CUBE = 32  # reference database.py:35-37

_FALLBACK = object()  # sentinel: distributed rule path declined


class _NonLocalRead(Exception):
    """A slice-local rule cell was asked for data outside its slice."""


class _FloatOps:
    """Float operator surface shared by Cell and slice-local rule cells
    (reference ``cell.py:336-448``).  All operators — including in-place
    variants — return plain numbers, so ``c += x`` rebinds to a float,
    exactly like the reference.  (Deviation: reference ``__iadd__`` calls
    ``other.numeric_value`` and so crashes on ``c += 2.0``; we use the
    sane numeric path.)  Subclasses provide ``_f() -> float``."""

    __slots__ = ()

    def _f(self) -> float:
        raise NotImplementedError

    def __float__(self) -> float:
        return self._f()

    def __index__(self) -> int:
        return int(self._f())

    def __neg__(self):
        return -self._f()

    def __pos__(self):
        return self._f()

    def __abs__(self):
        return abs(self._f())

    def __add__(self, o):
        return self._f() + float(o)

    __radd__ = __add__
    __iadd__ = __add__

    def __sub__(self, o):
        return self._f() - float(o)

    __isub__ = __sub__

    def __rsub__(self, o):
        return float(o) - self._f()

    def __mul__(self, o):
        return self._f() * float(o)

    __rmul__ = __mul__
    __imul__ = __mul__

    def __truediv__(self, o):
        return self._f() / float(o)

    __itruediv__ = __truediv__

    def __rtruediv__(self, o):
        return float(o) / self._f()

    def __floordiv__(self, o):
        return self._f() // float(o)

    __ifloordiv__ = __floordiv__

    def __rfloordiv__(self, o):
        return float(o) // self._f()

    def __mod__(self, o):
        return self._f() % float(o)

    __imod__ = __mod__

    def __rmod__(self, o):
        return float(o) % self._f()

    def __divmod__(self, o):
        return divmod(self._f(), float(o))

    def __rdivmod__(self, o):
        return divmod(float(o), self._f())

    def __pow__(self, o, modulo=None):
        return self._f() ** float(o)

    __ipow__ = __pow__

    def __rpow__(self, o):
        return float(o) ** self._f()

    def __and__(self, o):
        return self._f() and o

    __iand__ = __and__

    def __rand__(self, o):
        return o and self._f()

    def __or__(self, o):
        return self._f() or o

    __ior__ = __or__

    def __ror__(self, o):
        return o or self._f()

    def __eq__(self, o):
        return self._f() == o

    def __lt__(self, o):
        return self._f() < o

    def __le__(self, o):
        return self._f() <= o

    def __gt__(self, o):
        return self._f() > o

    def __ge__(self, o):
        return self._f() >= o


class _BypassSentinel:
    """Marker modifier: read raw stored values, skipping rules (reference
    ``cell.py:42-51`` — ``c["temperature", c.BYPASS_RULES]``)."""

    def __repr__(self) -> str:  # pragma: no cover
        return "BYPASS_RULES"


BYPASS_RULES = _BypassSentinel()


class Cell(_FloatOps):
    """Cursor at one cube address, handed to rules
    (reference ``cell.py:17``, member resolution ``cell.py:251-331``).

    Inside a rule::

        @rule("sales", trigger=["Profit in %"])
        def profit_pct(c):
            return c["Profit"] / c["Sales"]

    Modifier syntax for ``c[...]``: a bare member name (resolved against the
    first dimension that contains it), ``"dim:member"``, or ``"i:member"``
    with a 0-based dimension ordinal.  Multiple modifiers combine.
    """

    __slots__ = ("_cube", "_idx_address", "bypass_rules")

    #: modifier sentinel (reference ``c.BYPASS_RULES``)
    BYPASS_RULES = BYPASS_RULES

    def __init__(self, cube: "Cube", idx_address: tuple[int, ...], bypass_rules: bool = False):
        self._cube = cube
        self._idx_address = idx_address
        self.bypass_rules = bypass_rules

    # -- address ----------------------------------------------------------
    @property
    def address(self) -> tuple[str, ...]:
        return tuple(
            dim._defs[idx].name
            for dim, idx in zip(self._cube.dimensions, self._idx_address)
        )

    def member(self, dim: "str | int") -> Member:
        pos = self._cube._dim_position(dim)
        return Member(self._cube.dimensions[pos], self._idx_address[pos])

    # -- reads ------------------------------------------------------------
    @property
    def value(self) -> Any:
        return self._cube._get_idx(
            self._idx_address, bypass_rules=self.bypass_rules
        )

    def _shifted(self, modifiers: "str | tuple") -> tuple[int, ...]:
        if isinstance(modifiers, str):
            modifiers = (modifiers,)
        addr = list(self._idx_address)
        for mod in modifiers:
            pos, midx = self._resolve_modifier(str(mod))
            addr[pos] = midx
        return tuple(addr)

    def _resolve_modifier(self, mod: str) -> tuple[int, int]:
        cube = self._cube
        if ":" in mod:
            dpart, mname = mod.split(":", 1)
            dpart, mname = dpart.strip(), mname.strip()
            if dpart.isdigit():
                pos = int(dpart)
                if pos >= len(cube.dimensions):
                    raise KeyError(f"dimension ordinal {pos} out of range")
            else:
                pos = cube._dim_position(dpart)
            return pos, cube.dimensions[pos].member(mname).index
        for pos, dim in enumerate(cube.dimensions):
            if mod in dim:
                return pos, dim.member(mod).index
        raise KeyError(f"member '{mod}' not found in any dimension")

    def __getitem__(self, modifiers) -> Any:
        if not isinstance(modifiers, tuple):
            modifiers = (modifiers,)
        bypass = self.bypass_rules
        mods = []
        for m in modifiers:
            if isinstance(m, _BypassSentinel):
                bypass = True  # c["temperature", c.BYPASS_RULES]
            else:
                mods.append(m)
        return self._cube._get_idx(
            self._shifted(tuple(mods)), bypass_rules=bypass
        )

    def __setitem__(self, modifiers, value) -> None:
        self._cube._set_idx(self._shifted(modifiers), value)

    def __getattr__(self, name):
        # attr-style member shift: ``c.Plan == c["Plan"]`` (reference
        # ``cell.py`` attribute resolution; samples/tesla.py:16 uses it).
        # __getattr__ only fires for names not found normally, so the
        # real API surface is never shadowed.
        if name.startswith("_"):
            raise AttributeError(name)
        try:
            return self[name]
        except KeyError:
            raise AttributeError(name) from None

    # reference-compat surface (cell.py public API)
    @property
    def numeric_value(self) -> float:
        """The cell value as a float; non-numeric -> 0.0 (reference)."""
        return self._f()

    @property
    def cube(self) -> "Cube":
        return self._cube

    def alter(self, *modifiers) -> "Cell":
        """A new Cell at the modifier-shifted address (reference
        ``cell.alter``)."""
        return Cell(
            self._cube,
            self._shifted(tuple(str(m) for m in modifiers)),
            bypass_rules=self.bypass_rules,
        )

    # float-ish arithmetic: inherited from _FloatOps (reference
    # cell.py:336-448)
    def _f(self) -> float:
        v = self.value
        return float(v) if isinstance(v, (int, float)) else 0.0

    def __hash__(self):
        return hash((id(self._cube), self._idx_address))


class _ProbeCell(Cell):
    """Cell that records which (dim position, member) every modifier of
    ``c[...]`` resolves to — a one-row dry run deciding whether a
    BASE_LEVEL rule is eligible for executor-side evaluation."""

    __slots__ = ("probed",)

    def __init__(self, cube, idx_address, probed):
        super().__init__(cube, idx_address, bypass_rules=False)
        self.probed = probed

    def _resolve_modifier(self, mod):
        pos, midx = super()._resolve_modifier(mod)
        self.probed.append((pos, midx))
        return pos, midx

    def run(self, fn):
        return fn(self)


class _SliceCell(_FloatOps):
    """Executor-side rule cursor backed by ONE fact slice row: the values
    of dimension ``p``'s members at a fixed rest-address, as a plain dict.
    Resolution mirrors ``Cell._resolve_modifier``; any read that leaves
    the slice raises ``_NonLocalRead`` (→ driver fallback)."""

    __slots__ = (
        "_p", "_rest_cols", "_rest", "_trigger_midx", "_vals",
        "_dim_lookups", "_id_names", "_n_dims", "_p_col", "_p_leaves",
    )

    def __init__(
        self, p, rest_cols, rest, trigger_midx, vals,
        dim_lookups, id_names, n_dims, p_col, p_leaves=None,
    ):
        # p_leaves: in leaf-only slice mode (no closure expansion) the set
        # of base member ids of dim p — a runtime read outside it means the
        # map can't answer (aggregated member the probe never saw) and must
        # raise _NonLocalRead -> driver fallback, never a silent None
        self._p_leaves = p_leaves
        self._p = p
        self._rest_cols = rest_cols
        self._rest = rest
        self._trigger_midx = trigger_midx
        if vals and not isinstance(vals, dict):
            vals = dict(vals)  # Arrow map -> list of (k, v) tuples
        self._vals = vals or {}
        self._dim_lookups = dim_lookups
        self._id_names = id_names
        self._n_dims = n_dims
        self._p_col = p_col

    # -- reads -------------------------------------------------------------
    @property
    def value(self):
        return self._vals.get(self._trigger_midx)

    def _f(self) -> float:
        v = self.value
        return float(v) if isinstance(v, (int, float)) else 0.0

    def _resolve(self, mod: str) -> tuple[int, int]:
        mod = str(mod)
        if ":" in mod:
            dpart, mname = mod.split(":", 1)
            dpart, mname = dpart.strip(), mname.strip()
            key = mname.strip().lower()
            if dpart.isdigit():
                pos = int(dpart)
                if pos >= self._n_dims:
                    raise KeyError(f"dimension ordinal {pos} out of range")
            else:
                dl = dpart.strip().lower()
                pos = next(
                    (
                        i
                        for i, (_lk, dname) in enumerate(self._dim_lookups)
                        if dname == dl
                    ),
                    None,
                )
                if pos is None:
                    raise KeyError(f"dimension '{dpart}' not found")
            midx = self._dim_lookups[pos][0].get(key)
            if midx is None:
                raise KeyError(f"member '{mname}' not found")
            return pos, midx
        key = mod.strip().lower()
        for pos, (lk, _dname) in enumerate(self._dim_lookups):
            if key in lk:
                return pos, lk[key]
        raise KeyError(f"member '{mod}' not found in any dimension")

    #: slice values ARE raw base values, so bypass is inherently satisfied
    BYPASS_RULES = BYPASS_RULES

    def __getitem__(self, modifiers):
        if isinstance(modifiers, str):
            modifiers = (modifiers,)
        midx = self._trigger_midx
        for mod in modifiers:
            if isinstance(mod, _BypassSentinel):
                continue  # raw-value read is the slice's only mode
            pos, m = self._resolve(str(mod))
            if pos != self._p:
                raise _NonLocalRead(str(mod))
            if self._p_leaves is not None and m not in self._p_leaves:
                raise _NonLocalRead(str(mod))  # aggregated, not in the map
            midx = m
        return self._vals.get(midx)

    def __setitem__(self, modifiers, value):
        raise _NonLocalRead("write from distributed rule")

    @property
    def address(self) -> tuple:
        out = []
        ri = 0
        for pos in range(self._n_dims):
            if pos == self._p:
                out.append(self._id_names[pos].get(self._trigger_midx))
            else:
                out.append(self._id_names[pos].get(self._rest[ri]))
                ri += 1
        return tuple(out)

    def __getattr__(self, name):
        # attr-style member shift, mirroring Cell.__getattr__ — keeps
        # ``c.Plan``-style rules on the executor fast path.  An UNKNOWN
        # name falls back to the driver (_NonLocalRead), where the full
        # Cell surface decides whether it is a real error — classifying
        # it here would turn reference-API attribute uses into #ERR!.
        if name.startswith("_"):
            raise AttributeError(name)
        try:
            return self[name]
        except KeyError:
            raise _NonLocalRead(name) from None


class Cube:
    """See module docstring."""

    def __init__(
        self,
        name: str,
        dimensions: Sequence[Dimension],
        spark: SparkSession,
        description: str = "",
    ):
        if not (1 <= len(dimensions) <= MAX_DIMS_PER_CUBE):
            raise ValueError(
                f"cubes support 1..{MAX_DIMS_PER_CUBE} dimensions"
            )
        self.name = name
        self.description = description
        self.spark = spark
        self.dimensions: list[Dimension] = list(dimensions)
        #: retained for API compatibility (r8 surface); since r9 every
        #: additive fold flattens the summary lineage eagerly — see the
        #: load_dataframe fold block for why Nth-fold compaction could
        #: not bound plan-STRING growth (AQE InMemoryRelation nesting
        #: doubles explainString per fold)
        self.SUMMARY_AUTO_COMPACT_EVERY = 64
        #: the FACT accumulates one union+aggregate plan node per
        #: load_dataframe/write_rows merge; every Nth merge the fact is
        #: eagerly localCheckpoint-ed so an unattended micro-batch
        #: ingest has bounded fact-plan depth (r9 endurance finding).
        #: The cadence must stay SMALL: each nested persisted aggregate
        #: frame DOUBLES the printed plan (AQE InMemoryRelation prints
        #: its cached subtree twice), so depth 8 ≈ a few-MB explain
        #: string — fine — while r8-style 64 would be ~2^64x.  Costs one
        #: fact-sized materialization every 8th batch.
        self.FACT_AUTO_COMPACT_EVERY = 8
        self._fact_folds = 0
        # fact column per dimension; duplicates of the same dimension get a
        # positional suffix (the reference allows using a dimension twice)
        cols: list[str] = []
        for i, d in enumerate(self.dimensions):
            base = _safe_col(d.name)
            cols.append(base if base not in cols else f"{base}_{i}")
        self._cols = cols
        self._schema = StructType(
            [StructField(c, IntegerType(), False) for c in cols]
            + [
                StructField("value", DoubleType(), True),
                StructField("value_str", StringType(), True),
            ]
        )
        self._fact: DataFrame = spark.createDataFrame([], schema=self._schema)
        self._fact_is_persisted = False
        self._pending: dict[tuple[int, ...], Any] = {}
        # driver copy of a small fact (local.LocalFact, mirrors exactly
        # self._fact) and, for a fact not copied, (fact, a lower bound of
        # its cell count) so it is not counted again
        self._local: Optional[local.LocalFact] = None
        self._local_over: Optional[tuple[DataFrame, int]] = None
        self.rules = RuleRegistry()
        self.caching = True
        self._cache: dict[tuple[int, ...], Any] = {}
        # which path evaluated the last BASE_LEVEL aggregate rule
        # ("executor" | "driver") — observability + tests
        self._last_base_rule_path: Optional[str] = None
        # database-level undo/redo (set by Database.add_cube)
        self._history = None
        # per-cell comment threads (reference comments.py:75-111)
        from .comments import CubeComments

        self.comments = CubeComments(self)
        # stats (reference cube.py:118-127)
        self.counter_cell_requests = 0
        self.counter_aggregations = 0
        self.counter_rule_requests = 0
        self.counter_cache_hits = 0
        # cells answered by the driver copy, and how often it was built
        self.counter_local_cells = 0
        self.counter_local_builds = 0
        # aggregate navigation (add_summary): materialized summary tables
        self._summaries: list[dict] = []
        self.counter_summary_hits = 0
        # workload log for suggest_summaries: minimal keep-set of every
        # routed rollup request (grids, mini-SQL, batched agg reads)
        self._request_sigs: "Counter[frozenset]" = Counter()

    # ------------------------------------------------------------ plumbing
    @property
    def dim_cols(self) -> list[str]:
        return list(self._cols)

    def _dim_position(self, dim: "str | int | Dimension") -> int:
        if isinstance(dim, int):
            if 0 <= dim < len(self.dimensions):
                return dim
            raise InvalidAddressError(f"dimension ordinal {dim} out of range")
        if isinstance(dim, Dimension):
            for i, d in enumerate(self.dimensions):
                if d is dim:
                    return i
            raise InvalidAddressError(f"dimension '{dim.name}' not in cube")
        key = str(dim).strip().lower()
        for i, d in enumerate(self.dimensions):
            if d.name.lower() == key or self._cols[i].lower() == key:
                return i
        raise InvalidAddressError(f"dimension '{dim}' not in cube '{self.name}'")

    def _dims_spec(self) -> list[tuple[str, Dimension]]:
        return list(zip(self._cols, self.dimensions))

    def _resolve_address(self, address: Sequence) -> tuple[tuple[int, ...], int]:
        """names -> (idx_address, super_level) — the reference's "bolt"
        (``cube.py:601-627``)."""
        if len(address) != len(self.dimensions):
            raise InvalidAddressError(
                f"address has {len(address)} components, cube "
                f"'{self.name}' has {len(self.dimensions)} dimensions"
            )
        idxs = []
        super_level = 0
        for dim, name in zip(self.dimensions, address):
            m = dim.member(name)
            idxs.append(m.index)
            super_level += m.level
        return tuple(idxs), super_level

    def _super_level(self, idx_address: Sequence[int]) -> int:
        return sum(
            dim._defs[idx].level
            for dim, idx in zip(self.dimensions, idx_address)
        )

    # ------------------------------------------------------------- fact df
    @property
    def fact(self) -> DataFrame:
        """The (flushed) fact DataFrame."""
        self._flush()
        return self._fact

    def _maybe_compact_fact(
        self, merged: DataFrame
    ) -> "tuple[DataFrame, bool]":
        """Every ``FACT_AUTO_COMPACT_EVERY``-th load merge, flatten the
        fact's accumulated union+aggregate lineage with an eager
        localCheckpoint (returns ``(frame, was_checkpointed)``).  Without
        this an unattended micro-batch ingest grows one plan node per
        batch: each load's ``isEmpty()`` then recomputes an ever-deeper
        shuffle chain (persisted ancestors are lazy, so their blocks
        never fully fill) — quadratic work and unbounded analysis state.
        Found by the r9 endurance test (100 one-row additive loads OOMed
        a 6g driver); summaries were already bounded, the fact was not."""
        self._fact_folds += 1
        if (
            self.FACT_AUTO_COMPACT_EVERY
            and self._fact_folds >= self.FACT_AUTO_COMPACT_EVERY
        ):
            self._fact_folds = 0
            return merged.localCheckpoint(eager=True), True
        return merged, False

    def _replace_fact(
        self,
        df: DataFrame,
        persist: bool = True,
        written: "Optional[Sequence[tuple]]" = None,
    ) -> None:
        """Every fact swap goes through here (writes, loads, area ops,
        ``clear``, undo/redo, save/open): it clears the cell cache,
        stale-marks the summaries and moves the driver copy along.
        ``written``: the ``(*ids, value, value_str)`` rows a successful
        merge applied on top of the outgoing fact — the copy is patched
        with them; any other swap drops it (the next read rebuilds)."""
        old = self._fact
        lf, over = self._local, self._local_over
        self._local_over = None
        if written is not None and lf is not None and lf.fact is old:
            lf = lf.patched(df, written)
            if lf is not None and len(lf.codes) > local.CELL_LIMIT:
                lf, self._local_over = None, (df, len(lf.codes))
        else:
            lf = None
            if written is not None and over is not None and over[0] is old:
                # still over the limit: a merge drops at most one stored
                # row per written row
                if over[1] - len(written) > local.CELL_LIMIT:
                    self._local_over = (df, over[1] - len(written))
        self._fact = df
        self._local = lf
        if persist:
            self._fact.persist()
            self._fact_is_persisted = True
        if old is not None and self._fact_is_persisted:
            # history entries hold replaced facts by reference — tearing
            # down their cached/checkpoint blocks would corrupt undo
            if not (self._history is not None and self._history.holds(old)):
                try:
                    old.unpersist()
                except Exception:
                    pass
        self._invalidate()
        # summaries derive from the fact: mark stale (specs survive, the
        # frames rebuild lazily on next eligible rollup)
        for s in getattr(self, "_summaries", []):
            if s.get("df") is not None:
                try:
                    s["df"].unpersist()
                except Exception:
                    pass
                s["df"] = None

    def _local_copy(self) -> "Optional[local.LocalFact]":
        """The driver copy of the (flushed) fact, built on first use, or
        ``None`` when this cube's cell reads stay on Spark: a fact of
        more than ``local.CELL_LIMIT`` cells (never collected), a
        ``large_dim`` dimension, or registered summaries (aggregate
        navigation routes their rollups)."""
        if self._summaries:
            return None
        fact = self._fact
        lf = self._local
        if lf is not None and lf.fact is fact:
            return lf
        over = self._local_over
        if (over is not None and over[0] is fact) or not local.eligible(
            self.dimensions
        ):
            return None
        cells = fact.count()
        lf = (
            local.LocalFact.build(fact, self._cols, self.dimensions)
            if cells <= local.CELL_LIMIT
            else None
        )
        if lf is None:
            self._local_over = (fact, cells)
            return None
        self.counter_local_builds += 1
        if self._fact is fact:  # a concurrent write may have swapped it
            self._local = lf
        return lf

    # ---------------------------------------------- aggregate navigation
    def add_summary(self, keep_dims: "Sequence") -> None:
        """Materialize a SUMMARY TABLE — the fact pre-aggregated over
        every dimension NOT in ``keep_dims`` — and register it for
        automatic aggregate navigation: any grid / batched-aggregate
        query whose request touches the dropped dimensions only through
        all-covering weight-1 ancestors is transparently answered from
        the (much smaller) summary instead of the fact.

        This is the classic OLAP summary-table pattern and the 100 TB
        dashboard story: the fact is scanned ONCE per load to build the
        summary (one groupBy shuffle at summary grain), and every
        recurring rollup that doesn't drill into the dropped dims scans
        summary-grain rows from then on.  Exactness: kept dims stay at
        LEAF grain, so weighted closure rollups distribute over the
        partial sums unchanged; dropped dims may only be requested at
        trivial tops (weight-1, all-covering), whose value IS the total
        the summary already folded in.  ``value_str`` cells participate
        as presence only (their value is NULL in the fact and stays NULL
        through the partial sum — identical to a fact-side rollup).

        ``keep_dims``: dimension names (or Dimension objects).  Writes /
        loads mark every summary stale; the frame rebuilds lazily on the
        next eligible query.  ``Database.save`` persists the summary
        SPECS (keep-sets) with the cube metadata; after ``open`` the
        frames themselves are derived state, rebuilt lazily on the first
        eligible rollup."""
        names = [
            d.name if hasattr(d, "name") else str(d) for d in keep_dims
        ]
        kept_cols = []
        for nm in names:
            matches = [
                c for c, dim in self._dims_spec() if dim.name == nm or c == nm
            ]
            if not matches:
                raise ValueError(
                    f"unknown dimension {nm!r} (cube dims: "
                    f"{[d.name for d in self.dimensions]})"
                )
            kept_cols.extend(matches)
        kept = tuple(c for c in self._cols if c in set(kept_cols))
        if len(kept) == len(self._cols):
            raise ValueError(
                "summary must drop at least one dimension "
                "(keeping all of them is just the fact)"
            )
        if not hasattr(self, "_summaries"):
            self._summaries: list[dict] = []
        if any(s["kept"] == kept for s in self._summaries):
            return
        spec = {"kept": kept, "df": None, "rows": None}
        self._summaries.append(spec)
        self._summary_df(spec)  # build eagerly — callers add at load time

    def compact_summaries(self) -> None:
        """Flatten the lineage of every built summary frame.

        Additive loads fold each micro-batch into the summaries as
        ``summary ∪ rollup(batch)`` — batch-sized work, but one union
        node per fold, so a long-lived ingest driver accumulates an
        ever-deeper plan (slower analysis, larger task binaries, and a
        recompute cliff if persisted blocks are evicted).  This
        localCheckpoints each built frame (eager — summary frames are
        summary-grain small), giving a flat lineage at current contents;
        results are bit-identical.  Additive loads also auto-compact
        every ``SUMMARY_AUTO_COMPACT_EVERY`` folds, so calling this is
        optional hygiene (e.g. before a long quiescent period);
        ``Database.save``/``open`` rebuild from scratch."""
        for s in getattr(self, "_summaries", []):
            old = s.get("df")
            if old is None:
                continue
            flat = old.localCheckpoint(eager=True)
            s["df"] = flat
            s["folds"] = 0
            try:
                old.unpersist()
            except Exception:
                pass

    def drop_summaries(self) -> None:
        """Unregister and free every summary table."""
        for s in getattr(self, "_summaries", []):
            if s.get("df") is not None:
                try:
                    s["df"].unpersist()
                except Exception:
                    pass
        self._summaries = []

    def suggest_summaries(
        self,
        max_summaries: int = 2,
        max_fraction: float = 0.5,
        apply: bool = False,
    ) -> "list[dict]":
        """Summary-table ADVISOR (the classic warehouse pattern): mine
        the cube's own rollup workload and rank ``add_summary`` keep-sets
        by how much fact scanning they would absorb.

        Every routed rollup request (grids, mini-SQL, batched aggregate
        reads) logs its MINIMAL keep-set — the dimensions it requests
        below their trivial tops — into ``_request_sigs``; a summary
        kept on ``K`` answers every logged request whose keep-set ⊆ K.
        Candidates are the logged keep-sets plus their pairwise unions
        (one summary often serves several recurring dashboards);
        candidates whose ESTIMATED grain — ``min(fact_rows, Π
        leaf-count(kept dims))``, metadata only, no Spark job — exceeds
        ``max_fraction`` of the fact get ONE second chance: a single
        batched ``approx_count_distinct`` pass over the fact measures
        every metadata-rejected candidate's TRUE grain (sparse cubes
        hold far fewer tuples than the leaf product suggests), and only
        candidates big by MEASUREMENT are discarded (a summary nearly
        as big as the fact absorbs nothing).  Greedy selection by
        ``requests_covered × (1 − est_rows/fact_rows)``, re-scoring
        after each pick so the second suggestion only earns credit for
        requests the first one misses.

        Returns ranked suggestions ``{keep_dims, est_rows,
        requests_covered, fraction}`` (``keep_dims`` are dimension
        names, ready for :meth:`add_summary`); ``apply=True`` registers
        them immediately.  Driver-side arithmetic over ≤ a few dozen
        signatures; Spark jobs: one ``fact.count()`` (usually served
        from the persisted fact) plus at most one batched
        approx-distinct pass when the metadata screen rejects
        candidates — safe in a live session.
        """
        sigs = getattr(self, "_request_sigs", None)
        if not sigs:
            return []
        fact_rows = max(1, self.cells_count)
        spec = self._dims_spec()
        dim_by_col = dict(spec)
        name_by_col = {c: d.name for c, d in spec}

        def est_rows(kept: frozenset) -> int:
            est = 1
            for c in kept:
                est *= max(1, len(dim_by_col[c].leaf_members))
                if est >= fact_rows:
                    return fact_rows
            return est

        common = [s for s, _ in sigs.most_common(8)]
        candidates = {s for s in common if s}
        for i, a in enumerate(common):
            for b in common[i + 1:]:
                if a | b:
                    candidates.add(a | b)
        all_cols = frozenset(self._cols)
        scored = []
        refine: "list[frozenset]" = []
        for k in candidates:
            if k == all_cols:
                continue  # keeping every dim is just the fact
            rows = est_rows(k)
            frac = rows / fact_rows
            if frac > max_fraction:
                # Π leaf-counts OVERESTIMATES sparse cubes (VERDICT r7
                # #8): a dense-looking grain can hold few actual tuples.
                # Refine before discarding — see the batched job below.
                refine.append(k)
                continue
            scored.append((k, rows, frac))
        if refine:
            # ONE pass over the (persisted) fact measures every
            # metadata-rejected candidate's TRUE grain: a batched
            # approx_count_distinct per kept-tuple (HLL at an explicit
            # 2% rsd — plenty for an advisor ranking; Spark's DEFAULT
            # rsd is 0.05, so the margin below must match the rsd the
            # aggregate actually runs at — ADVICE r9).  Only candidates
            # the cheap screen rejected pay this; dense cubes where the
            # screen is accurate never reach it.
            _HLL_RSD = 0.02
            aggs = [
                F.approx_count_distinct(
                    F.struct(*[F.col(c) for c in sorted(k)]), rsd=_HLL_RSD
                ).alias(f"__g{i}")
                for i, k in enumerate(refine)
            ]
            row = self.fact.agg(*aggs).collect()[0]
            # approx_count_distinct carries ~rsd relative error, so a
            # borderline candidate could flip in/out of the suggestion
            # list across runs (ADVICE r8).  Accept only candidates
            # whose measured grain clears the threshold by the rsd
            # margin — deterministic for the same cube state; the
            # boundary band [max_fraction*(1-rsd), max_fraction] is
            # deliberately rejected (a summary that close to the fact
            # absorbs almost nothing anyway).
            for i, k in enumerate(refine):
                rows = int(row[f"__g{i}"])
                frac = rows / fact_rows
                if frac <= max_fraction * (1.0 - _HLL_RSD):
                    scored.append((k, rows, frac))
        picks: "list[dict]" = []
        covered: "set[frozenset]" = set()
        for _ in range(max_summaries):
            best = None
            for k, rows, frac in scored:
                if any(k == p["_kept"] for p in picks):
                    continue
                served = [
                    s for s in sigs if s <= k and s not in covered
                ]
                gain = sum(sigs[s] for s in served) * (1.0 - frac)
                if gain > 0 and (best is None or gain > best[0]):
                    best = (gain, k, rows, frac, served)
            if best is None:
                break
            _, k, rows, frac, served = best
            covered.update(served)
            picks.append({
                "_kept": k,
                "keep_dims": sorted(name_by_col[c] for c in k),
                "est_rows": rows,
                "fraction": round(frac, 4),
                "requests_covered": sum(sigs[s] for s in served),
            })
        for p in picks:
            del p["_kept"]
            if apply:
                self.add_summary(p["keep_dims"])
        return picks

    def _summary_df(self, spec: dict) -> DataFrame:
        if spec["df"] is None:
            df = (
                self.fact.groupBy(*spec["kept"])
                .agg(F.sum("value").alias("value"))
                .persist()
            )
            spec["rows"] = df.count()
            spec["df"] = df
        return spec["df"]

    def _rollup_fact(
        self, requested: "dict[str, Sequence[int]] | None"
    ) -> DataFrame:
        """Aggregate navigation: the smallest registered summary whose
        dropped dimensions are requested only at trivial tops (or not at
        all), else the full fact.  ``requested`` maps fact column ->
        requested member ids (grid axes, or the per-column union of a
        batch of addresses)."""
        # flush pending interactive writes FIRST: the flush path swaps the
        # fact and stale-marks every summary, so the routed frame below is
        # rebuilt from the post-write fact.  Without this, a fresh cached
        # summary would be returned with cube.set() writes silently missing
        # (Query.execute / View.to_df reach the summary without touching
        # the flushing ``fact`` property).  No-op when nothing is pending.
        self._flush()
        if requested is None:
            return self.fact
        dim_by_col = dict(self._dims_spec())
        self._log_request(requested)
        summaries = getattr(self, "_summaries", None)
        if not summaries:
            return self.fact
        best = None
        for s in summaries:
            kept = set(s["kept"])
            ok = True
            for c, ids in requested.items():
                if c in kept or ids is None:
                    continue
                if not set(int(i) for i in ids) <= dim_by_col[c]._trivial_tops:
                    ok = False
                    break
            if not ok:
                continue
            # prefer an already-built frame (stale/fresh-open specs carry
            # rows=None); among built, the smallest; among unbuilt, the
            # fewest kept dims (coarsest grain → smallest build)
            key = (
                s["df"] is None,
                s["rows"] if s["rows"] is not None else float("inf"),
                len(s["kept"]),
            )
            if best is None or key < best[0]:
                best = (key, s)
        best = best[1] if best is not None else None
        if best is None:
            return self.fact
        self.counter_summary_hits = getattr(
            self, "counter_summary_hits", 0
        ) + 1
        return self._summary_df(best)

    def _log_request(
        self, requested: "dict[str, Sequence[int] | None]"
    ) -> None:
        """Workload log for ``suggest_summaries`` (kept even with no
        summaries yet — that's what the advisor mines): the MINIMAL
        keep-set that could answer this request = dims requested below
        their trivial tops."""
        dim_by_col = dict(self._dims_spec())
        sig = frozenset(
            c
            for c, ids in requested.items()
            if ids is not None
            and not set(int(i) for i in ids)
            <= dim_by_col[c]._trivial_tops
        )
        if not hasattr(self, "_request_sigs"):
            self._request_sigs = Counter()
        self._request_sigs[sig] += 1

    def _invalidate(self) -> None:
        self._cache.clear()

    def _flush(self) -> None:
        if not self._pending:
            return
        pending = self._pending
        self._pending = {}
        rows = []
        for addr, v in pending.items():
            if v is None:
                rows.append(tuple(addr) + (None, None))
            elif isinstance(v, str):
                rows.append(tuple(addr) + (None, v))
            else:
                rows.append(tuple(addr) + (float(v), None))
        new = self.spark.createDataFrame(rows, schema=self._schema)
        keep = self._fact.join(new.select(*self._cols), on=self._cols, how="left_anti")
        inserts = new.where(
            F.col("value").isNotNull() | F.col("value_str").isNotNull()
        )
        merged = keep.unionByName(inserts)
        # cut lineage so thousands of interactive writes don't stack plans
        merged = merged.localCheckpoint(eager=True)
        self._fact_folds = 0  # fact is flat again: restart the fold count
        self._replace_fact(merged, persist=False, written=rows)

    # -------------------------------------------------------------- writes
    def set(self, address: Sequence, value: Any) -> None:
        """Write one base cell (reference ``cube.py:508-540``)."""
        idx_address, super_level = self._resolve_address(address)
        if super_level > 0:
            raise InvalidCellWriteError(
                "writing to aggregated cells is not supported "
                f"(address {tuple(address)!r})"
            )
        self._set_idx(idx_address, value)

    def _set_idx(self, idx_address: tuple[int, ...], value: Any) -> None:
        # Writes through ANY path (Cube.set, Cell cursors, push rules) must
        # hit base-level cells only (reference cube.py:540 raises
        # TinyOlapInvalidOperationError for aggregated targets).
        if self._super_level(idx_address) > 0:
            raise InvalidCellWriteError(
                "writing to aggregated cells is not supported "
                f"(address {self._names_for(idx_address)!r})"
            )
        if isinstance(value, bool):
            pass  # stored as value_str? reference stores any object; keep float path for bool
        if isinstance(value, int) and not isinstance(value, bool):
            value = float(value)  # reference cube.py:515-516
        if self._history is not None:
            self._history.capture(self)  # one undo step per cell write
        self._pending[idx_address] = value
        self._invalidate()
        # ON_ENTRY push rules (reference cube.py:526-537): the reference
        # calls ``func(cursor, value)``.  Accept one-arg rules too, picking
        # the arity up front so a signature mismatch is not silently
        # swallowed by the rule-error guard below.
        rdef = self.rules.match(idx_address, (RuleScope.ON_ENTRY,))
        if rdef is not None:
            fn = rdef.function
            try:
                nargs = len(inspect.signature(fn).parameters)
            except (TypeError, ValueError):
                nargs = 2
            cell = Cell(self, idx_address, bypass_rules=True)
            try:
                if nargs >= 2:
                    fn(cell, value)
                else:
                    fn(cell)
            except Exception:
                pass  # reference swallows push-rule errors (cube.py:536-537)

    def _names_for(self, idx_address: Sequence[int]) -> tuple[str, ...]:
        return tuple(
            dim._defs[idx].name
            for dim, idx in zip(self.dimensions, idx_address)
        )

    def __setitem__(self, address, value) -> None:
        if not isinstance(address, tuple):
            address = (address,)
        if len(address) < len(self.dimensions):
            # partial address -> area write (reference cube.py:289-294:
            # ``cube["Plan"] = 500`` sets every EXISTING Plan cell;
            # ``cube["Plan", "2023"] = cube["Plan", "2022"] * 1.5`` copies)
            target = self.area(*address)
            if isinstance(value, (Area, AreaTransform)):
                target.assign_from(value)
            else:
                target.set_value(value)
            return
        self.set(address, value)

    def __delitem__(self, address) -> None:
        if not isinstance(address, tuple):
            address = (address,)
        if len(address) < len(self.dimensions):
            self.area(*address).clear()  # reference cube.py:296-301
            return
        self.set(address, None)

    def delete(self, address: Sequence) -> None:
        self.set(address, None)

    def clear(self) -> None:
        if self._history is not None:
            self._history.capture(self)
        self._pending.clear()
        self._replace_fact(
            self.spark.createDataFrame([], schema=self._schema), persist=False
        )

    def write_rows(
        self, rows: Iterable[Sequence], last_write_wins: bool = True
    ) -> None:
        """Bulk write of (member_name..., value) tuples in ONE merge."""
        if self._history is not None:
            self._history.capture(self)
        resolved = []
        for r in rows:
            *addr, value = r
            idx_address, super_level = self._resolve_address(addr)
            if super_level > 0:
                raise InvalidCellWriteError(
                    f"bulk write contains aggregated address {tuple(addr)!r}"
                )
            if isinstance(value, int) and not isinstance(value, bool):
                value = float(value)
            if isinstance(value, str):
                resolved.append(tuple(idx_address) + (None, value))
            else:
                resolved.append(tuple(idx_address) + (value, None))
        if last_write_wins:
            dedup: dict[tuple, tuple] = {}
            for row in resolved:
                dedup[row[: len(self._cols)]] = row
            resolved = list(dedup.values())
        new = self.spark.createDataFrame(resolved, schema=self._schema)
        keep = self._fact.join(new.select(*self._cols), on=self._cols, how="left_anti")
        # None values delete the cell (mirror _flush): inserting a
        # (None, None) tombstone would inflate cells_count and make rollups
        # report 0.0 where the reference reports an empty cell.
        inserts = new.where(
            F.col("value").isNotNull() | F.col("value_str").isNotNull()
        )
        merged, ckpt = self._maybe_compact_fact(keep.unionByName(inserts))
        self._replace_fact(merged, persist=not ckpt, written=resolved)

    def load_dataframe(
        self,
        df: DataFrame,
        mapping: Optional[dict[str, str]] = None,
        value_col: str = "value",
        by_name: bool = False,
        additive: bool = False,
        assume_unique: bool = False,
    ) -> None:
        """Bulk-load a fact DataFrame (the 100 TB path — no driver round-trip).

        ``df`` columns: one per dimension (member *ids*, or member *names*
        when ``by_name``) plus ``value_col``.  ``mapping`` renames df columns
        to cube fact columns.  ``additive=True`` sums duplicate addresses
        (reference semantics are last-write-wins per cell; additive is the
        natural bulk mode for transaction feeds).
        """
        if self._history is not None:
            self._history.capture(self)
        if mapping:
            for src, dst in mapping.items():
                df = df.withColumnRenamed(src, dst)
        if by_name:
            for col, dim in self._dims_spec():
                mdf = (
                    engine.members_df(self.spark, dim)
                    .select(
                        F.lower(F.col("name")).alias(f"__k_{col}"),
                        F.col("member_id").alias(f"__id_{col}"),
                    )
                )
                df = (
                    df.join(
                        engine._members_side(mdf, dim),
                        F.lower(F.trim(F.col(col))) == F.col(f"__k_{col}"),
                        "inner",
                    )
                    .drop(col, f"__k_{col}")
                    .withColumnRenamed(f"__id_{col}", col)
                )
        sel = [F.col(c).cast(IntegerType()).alias(c) for c in self._cols]
        sel.append(F.col(value_col).cast(DoubleType()).alias("value"))
        sel.append(F.lit(None).cast(StringType()).alias("value_str"))
        df = df.select(*sel)
        if assume_unique:
            pass  # caller guarantees one row per address (pre-aggregated)
        elif additive:
            df = df.groupBy(*self._cols).agg(
                F.sum("value").alias("value")
            ).withColumn("value_str", F.lit(None).cast(StringType()))
        else:
            # last-write-wins on duplicates within the load
            df = df.dropDuplicates(self._cols)
        base = self._fact
        if base.isEmpty():
            self._replace_fact(df)
        elif additive:
            # additive merge ACCUMULATES into existing cells (streaming
            # micro-batch ingestion); value_str survives via max (additive
            # loads never carry strings)
            merged = (
                base.unionByName(df)
                .groupBy(*self._cols)
                .agg(
                    F.sum("value").alias("value"),
                    F.max("value_str").alias("value_str"),
                )
            )
            # summaries fold the batch in ADDITIVELY — batch-sized work
            # (summary' = summary ∪ rollup(batch), re-grouped) instead of
            # the full-fact rebuild the stale-marking path would pay on
            # every micro-batch.  Sound because addition distributes over
            # the dropped-dim totals; the last-write-wins branch below
            # cannot fold (replacement isn't additive) and stays on
            # stale-marking.  The folded frames are built and MATERIALIZED
            # (persist + count) BEFORE the fact swap: _replace_fact
            # unpersists the old summary frames and may free an old
            # localCheckpoint fact, so counting afterwards would recompute
            # the old summary from full lineage every batch (quadratic
            # over an ingest) or fail outright on dropped checkpoint
            # blocks.  Fold lineage stays FLAT (eager checkpoint every
            # fold, below); compact_summaries() / Database.save+open
            # remain for explicit control.
            folded = []
            for s in self._summaries:
                old = s.get("df")
                if old is None:
                    continue
                kept = list(s["kept"])
                delta = df.groupBy(*kept).agg(F.sum("value").alias("value"))
                new = (
                    old.select(*kept, "value")
                    .unionByName(delta)
                    .groupBy(*kept)
                    .agg(F.sum("value").alias("value"))
                )
                # FLAT plan depth EVERY fold via eager localCheckpoint.
                # r8 compacted every Nth fold and persisted in between —
                # the r9 endurance test (100 one-row loads) showed why
                # that cannot work: with AQE on, a persisted frame's
                # InMemoryRelation prints its cached AdaptiveSparkPlan
                # subtree twice (final + initial plan), so nesting
                # persisted aggregate frames makes explainString — which
                # AQE regenerates on every plan update — grow 2x PER
                # FOLD (measured: 82KB → 697MB in 14 folds, then driver
                # OOM).  The checkpoint costs the same materialization
                # the persist+count already paid; the summary is
                # grain-bounded small.
                new = new.localCheckpoint(eager=True)
                rows = new.count()
                folded.append((s, new, rows, 0))
            merged, ckpt = self._maybe_compact_fact(merged)
            # stale-marks + unpersists old frames
            self._replace_fact(merged, persist=not ckpt)
            for s, new, rows, n_folds in folded:
                s["df"] = new
                s["rows"] = rows
                s["folds"] = n_folds
        else:
            keep = base.join(df.select(*self._cols), on=self._cols, how="left_anti")
            merged, ckpt = self._maybe_compact_fact(keep.unionByName(df))
            self._replace_fact(merged, persist=not ckpt)

    # --------------------------------------------------------------- reads
    def get(self, address: Sequence) -> Any:
        idx_address, _ = self._resolve_address(address)
        return self._get_idx(idx_address)

    def __getitem__(self, address) -> Any:
        if not isinstance(address, tuple):
            address = (address,)
        if len(address) < len(self.dimensions):
            # partial address -> Area (reference cube.py:282-287:
            # ``cube["Plan"]`` addresses the whole Plan slice)
            return self.area(*address)
        return self.get(address)

    def get_many(self, addresses: Sequence[Sequence]) -> list[Any]:
        """Answer N point reads in one batch.  Base and aggregated cells
        come from the driver copy of a small fact (no Spark job), else
        from at most two Spark jobs (one base-cell join, one rollup).
        Rule cells add their own evaluation, which may run more jobs."""
        idxs = [self._resolve_address(a)[0] for a in addresses]
        self._prefetch(idxs)
        return [self._get_idx(i) for i in idxs]

    def _base_values(
        self, addresses: "dict[int, tuple[int, ...]]"
    ) -> "dict[int, Any]":
        """Stored base cells by request id: from the driver copy when the
        fact has one, else one Spark join (``engine.base_lookup``)."""
        self._flush()
        lf = self._local_copy()
        if lf is None:
            return engine.base_lookup(
                self._fact, self.spark, self._cols, addresses
            )
        self.counter_local_cells += len(addresses)
        return lf.base(addresses)

    def _aggregate_values(
        self, addresses: "dict[int, tuple[int, ...]]"
    ) -> "dict[int, Optional[float]]":
        """Rolled-up cells by request id: from the driver copy when the
        fact has one, else one Spark rollup (``engine.aggregate_cells``)
        over the fact or the summary that navigation picks."""
        self._flush()
        self.counter_aggregations += len(addresses)
        requested = {
            c: sorted({int(a[i]) for a in addresses.values()})
            for i, c in enumerate(self._cols)
        }
        lf = self._local_copy()
        if lf is None:
            return engine.aggregate_cells(
                self._rollup_fact(requested),
                self.spark,
                self._dims_spec(),
                addresses,
            )
        self._log_request(requested)
        self.counter_local_cells += len(addresses)
        return lf.aggregate(self.dimensions, addresses)

    def _prefetch(self, idx_addresses: Sequence[tuple[int, ...]]) -> None:
        """Batch-compute values for addresses not in cache / not rule-covered."""
        self._flush()
        base: dict[int, tuple[int, ...]] = {}
        aggs: dict[int, tuple[int, ...]] = {}
        for i, addr in enumerate(idx_addresses):
            if addr in self._cache:
                continue
            if self.rules.match(
                addr, (RuleScope.ALL_LEVELS, RuleScope.AGGREGATION_LEVEL, RuleScope.BASE_LEVEL)
            ):
                continue  # rule cells evaluate lazily (may recurse)
            if self._super_level(addr) == 0:
                base[i] = addr
            else:
                aggs[i] = addr
        for batch, read in (
            (base, self._base_values), (aggs, self._aggregate_values)
        ):
            if batch:
                vals = read(batch)
                for i, addr in batch.items():
                    self._cache[addr] = vals[i]
        if self.caching:
            self._prefetch_agg_rule_cells(idx_addresses)
        self._prefetch_rule_reads(idx_addresses)

    def _prefetch_agg_rule_cells(
        self, idx_addresses: Sequence[tuple[int, ...]]
    ) -> None:
        """Batch-evaluate AGGREGATED addresses dispatched to the same
        BASE_LEVEL rule (one distributed pass instead of one per address);
        results land in the cell cache, which `_aggregate_base_rule`
        consults first.  Dispatch precedence is preserved: only addresses
        whose first match IS the BASE_LEVEL rule participate."""
        by_rule: dict[int, list[tuple[int, ...]]] = {}
        rdefs: dict[int, RuleDef] = {}
        for addr in dict.fromkeys(idx_addresses):
            if addr in self._cache or self._super_level(addr) == 0:
                continue
            if self.rules.match(addr, (RuleScope.ALL_LEVELS,)) is not None:
                continue
            if (
                self.rules.match(addr, (RuleScope.AGGREGATION_LEVEL,))
                is not None
            ):
                continue
            rdef = self.rules.match(addr, (RuleScope.BASE_LEVEL,))
            if rdef is None or rdef.expression is not None:
                continue
            rdefs[id(rdef)] = rdef
            by_rule.setdefault(id(rdef), []).append(addr)
        for key, addrs in by_rule.items():
            if len(addrs) < 2:
                continue  # single address: the per-address path is fine
            res = self._aggregate_base_rule_many(rdefs[key], addrs)
            if res is not None:
                self.counter_aggregations += len(addrs)
                self._cache.update(res)

    def _prefetch_rule_reads(
        self, idx_addresses: Sequence[tuple[int, ...]]
    ) -> None:
        """Warm the cache for BASE-LEVEL rule cells in a batch.

        A batch of N rule cells would otherwise evaluate lazily, each
        rule read (``c["Quantity"]``) being its own point-read Spark job —
        O(N x reads) jobs.  Instead: probe each distinct rule ONCE to
        learn its read set; when the reads stay on the rule's single
        trigger dimension and hit only leaf members, batch-fetch every
        (read-member x requested rest-address) cell in ONE job, caching
        misses as None (negative cache) so evaluation never goes back to
        Spark.  Cross-dimension / aggregated / data-dependent reads fall
        back to the lazy per-cell path unchanged.
        """
        if not self.caching:
            return
        by_rule: dict[int, list[tuple[int, ...]]] = {}
        rdefs: dict[int, RuleDef] = {}
        for addr in dict.fromkeys(idx_addresses):
            if addr in self._cache or self._super_level(addr) != 0:
                continue
            rdef = self.rules.match(
                addr, (RuleScope.ALL_LEVELS, RuleScope.BASE_LEVEL)
            )
            if rdef is None or rdef.expression is not None:
                continue
            pattern = rdef.trigger_idx_pattern or rdef.idx_pattern
            if len({pos for pos, _ in pattern or []}) != 1:
                continue
            key = id(rdef)
            rdefs[key] = rdef
            by_rule.setdefault(key, []).append(addr)
        for key, addrs in by_rule.items():
            rdef = rdefs[key]
            pattern = rdef.trigger_idx_pattern or rdef.idx_pattern
            p = next(iter({pos for pos, _ in pattern}))
            pdim = self.dimensions[p]
            plan = arith.compile_rule_plan(self, rdef, p, dict(pattern)[p])
            if plan is not None:
                # compiled read set: no Spark probe jobs at all
                read_members = set(plan.reads)
            else:
                probed: list[tuple[int, int]] = []
                try:
                    _ProbeCell(self, addrs[0], probed).run(rdef.function)
                except Exception:  # noqa: BLE001 — probe best-effort
                    pass
                if not probed or {pos for pos, _ in probed} - {p}:
                    continue  # cross-dim or opaque — lazy path handles it
                read_members = {m for _, m in probed}
            if any(pdim._defs[m].level != 0 for m in read_members):
                continue  # aggregated reads — lazy path handles it
            want: dict[int, tuple[int, ...]] = {}
            for addr in addrs:
                for m in read_members:
                    ra = list(addr)
                    ra[p] = m
                    rat = tuple(ra)
                    if rat not in self._cache and rat not in self._pending:
                        want[len(want)] = rat
            if not want:
                continue
            vals = self._base_values(want)
            for i, rat in want.items():
                self._cache[rat] = vals[i]

    def _get_idx(self, idx_address: tuple[int, ...], bypass_rules: bool = False) -> Any:
        self.counter_cell_requests += 1
        super_level = self._super_level(idx_address)
        # 1) ALL_LEVELS rules first (reference cube.py:351-367)
        if not bypass_rules:
            rdef = self.rules.match(idx_address, (RuleScope.ALL_LEVELS,))
            if rdef is not None:
                v = self._run_rule(rdef, idx_address)
                if v is not CONTINUE:
                    return v
        if super_level == 0:
            if not bypass_rules:
                rdef = self.rules.match(idx_address, (RuleScope.BASE_LEVEL,))
                if rdef is not None:
                    v = self._run_rule(rdef, idx_address)
                    if v is not CONTINUE:
                        return v
            return self._read_base(idx_address, use_cache=not bypass_rules)
        # aggregated
        if not bypass_rules:
            rdef = self.rules.match(idx_address, (RuleScope.AGGREGATION_LEVEL,))
            if rdef is not None:
                v = self._run_rule(rdef, idx_address)
                if v is not CONTINUE:
                    return v
            rdef = self.rules.match(idx_address, (RuleScope.BASE_LEVEL,))
            if rdef is not None:
                return self._aggregate_base_rule(rdef, idx_address)
        # BYPASS reads must not touch the cell cache: for rule-matched
        # addresses the cache holds the RULE value, so a bypass read
        # consulting it would return the rule value (and a bypass read
        # populating it would poison later rule reads with raw values)
        return self._read_aggregate(idx_address, use_cache=not bypass_rules)

    def _run_rule(self, rdef: RuleDef, idx_address: tuple[int, ...]) -> Any:
        self.counter_rule_requests += 1
        if rdef.expression is not None:
            return self._eval_expression_rule(rdef, idx_address)
        try:
            return rdef.function(Cell(self, idx_address))
        except Exception as exc:  # noqa: BLE001 — sentinel mapping is the contract
            return map_rule_error(exc)

    def _expression_operand_addrs(
        self, rdef: RuleDef, idx_address: tuple[int, ...]
    ) -> dict[str, tuple[int, ...]]:
        dim_pos = rdef.idx_pattern[0][0]
        out = {}
        for ref, midx in rdef.operand_idx.items():
            addr = list(idx_address)
            addr[dim_pos] = midx
            out[ref] = tuple(addr)
        return out

    def _eval_expression_rule(
        self, rdef: RuleDef, idx_address: tuple[int, ...]
    ) -> Any:
        from .rules import eval_expression

        addrs = self._expression_operand_addrs(rdef, idx_address)
        self._prefetch(list(addrs.values()))
        values = {ref: self._get_idx(a) for ref, a in addrs.items()}
        return eval_expression(rdef.expression, values)

    def _read_base(
        self, idx_address: tuple[int, ...], use_cache: bool = True
    ) -> Any:
        if idx_address in self._pending:
            v = self._pending[idx_address]
            return v
        if use_cache and self.caching and idx_address in self._cache:
            self.counter_cache_hits += 1
            return self._cache[idx_address]
        v = self._base_values({0: idx_address})[0]
        if use_cache and self.caching:
            self._cache[idx_address] = v
        return v

    def _read_aggregate(
        self, idx_address: tuple[int, ...], use_cache: bool = True
    ) -> Any:
        if use_cache and self.caching and idx_address in self._cache:
            self.counter_cache_hits += 1
            return self._cache[idx_address]
        v = self._aggregate_values({0: idx_address})[0]
        if use_cache and self.caching:
            self._cache[idx_address] = v
        return v

    def _aggregate_base_rule(
        self, rdef: RuleDef, idx_address: tuple[int, ...]
    ) -> Any:
        """BASE_LEVEL rule under an aggregated address: the aggregate is the
        weighted sum of the rule evaluated at every matching *base* cell
        (reference ``cube.py:416-497`` feeder re-addressing).

        The base-cell set comes from the feeder slice when a feeder is
        declared (rows of ``Quantity`` drive ``Sales``), else from the
        trigger slice itself.

        Execution is two-tier (SURVEY §2.10/R6): a distributed path
        evaluates the rule executor-side over the feeder slice and
        aggregates in Spark — no driver collect of base rows — whenever a
        one-row probe shows the rule only reads members of a single
        dimension (the dominant measures-rule shape; aggregated members
        are served by closure expansion) and no nested rule can fire on
        any readable slice cell.  Anything else falls back to the driver
        loop, which can re-enter the full cube.
        """
        if self.caching and idx_address in self._cache:
            self.counter_cache_hits += 1
            return self._cache[idx_address]
        self._flush()
        query_addr = list(idx_address)
        if rdef.feeder:
            for pos, midx in rdef.feeder_idx_pattern:
                query_addr[pos] = midx
        dist = self._base_rule_distributed(rdef, query_addr)
        if dist is not _FALLBACK:
            # _base_rule_distributed set _last_base_rule_path
            # ("compiled" | "executor")
            if self.caching:
                self._cache[idx_address] = dist
            return dist
        self._last_base_rule_path = "driver"
        v = self._base_rule_driver_loop(rdef, query_addr)
        if self.caching:
            self._cache[idx_address] = v
        return v

    def _aggregate_base_rule_many(
        self, rdef: RuleDef, idx_addresses: "list[tuple[int, ...]]"
    ) -> "Optional[dict[tuple[int, ...], Any]]":
        """Batched executor evaluation of MANY aggregated addresses sharing
        one BASE_LEVEL rule — ONE rule-evaluation pass + ONE rollup job,
        instead of one distributed job per address (the shape a view grid
        or a get_many batch over rule measures produces).

        Plan: the fact slice (dim p unfiltered) closure-fans-out the rest
        dims to every requested ancestor (`_joined_rollup` with the UNION
        of requested ids), groups per (rest-leaf, ancestor-combo) building
        the per-cell {p-member: value} map, one ``mapInPandas`` pass calls
        the rule, and a final hash aggregate sums weighted results per
        ancestor-combo.  Returns {address: value}, or ``None`` when the
        batch is ineligible (caller falls back to per-address paths).
        Eligibility mirrors `_base_rule_distributed`'s leaf fast path and
        is checked against EVERY address's rollup for the nested-rule
        guard.
        """
        pattern = rdef.trigger_idx_pattern or rdef.idx_pattern
        positions = {pos for pos, _ in pattern or []}
        if rdef.feeder_idx_pattern:
            positions |= {pos for pos, _ in rdef.feeder_idx_pattern}
        if len(positions) != 1:
            return None
        p = next(iter(positions))
        pdim = self.dimensions[p]
        trigger_midx = dict(pattern)[p]
        feeder_midx = (
            dict(rdef.feeder_idx_pattern)[p]
            if rdef.feeder_idx_pattern
            else trigger_midx
        )
        if (
            pdim._defs[trigger_midx].level != 0
            or pdim._defs[feeder_midx].level != 0
        ):
            return None  # aggregated feeder: per-address closure path
        self._flush()
        qaddrs = []
        for addr in idx_addresses:
            qa = list(addr)
            if rdef.feeder:
                for pos, midx in rdef.feeder_idx_pattern:
                    qa[pos] = midx
            qaddrs.append(qa)
        plan = arith.compile_rule_plan(self, rdef, p, trigger_midx)
        if plan is not None and any(
            pdim._defs[m].level != 0 for m in plan.reads
        ):
            plan = None  # aggregated reads: per-address closure path
        if plan is not None:
            read_midxs = set(plan.reads) | {trigger_midx, feeder_midx}
        if plan is None:
            # probe over the UNION of requested addresses: ONE rollup +
            # limit(1) job instead of up-to-N per-address probe jobs
            # (VERDICT r4 #2 / ADVICE r4: a batch of mostly-empty
            # aggregated rule addresses paid O(N) driver round-trips).
            # Any base row under any requested address is a valid probe
            # point — eligibility only depends on the rule's read set.
            requested_full = {
                c: sorted({int(qa[i]) for qa in qaddrs})
                for i, c in enumerate(self._cols)
            }
            sdf, _ = engine._joined_rollup(
                self._fact, self.spark, self._dims_spec(), requested_full
            )
            sample = sdf.select(*self._cols).limit(1).collect()
            if not sample:
                return {tuple(a): None for a in idx_addresses}
            trigger_idx = [sample[0][c] for c in self._cols]
            for pos, midx in pattern:
                trigger_idx[pos] = midx
            probed: list[tuple[int, int]] = []
            try:
                _ProbeCell(self, tuple(trigger_idx), probed).run(
                    rdef.function
                )
            except Exception:  # noqa: BLE001
                pass
            if not probed or {pos for pos, _ in probed} - {p}:
                return None  # cross-dim / opaque reads
            read_midxs = {m for _, m in probed} | {trigger_midx, feeder_midx}
            if any(pdim._defs[m].level != 0 for m in read_midxs):
                return None  # aggregated reads: per-address closure path
        # nested-rule guard over EVERY address's rollup
        for other in self.rules:
            if other is rdef:
                continue
            if other.scope not in (
                RuleScope.ALL_LEVELS,
                RuleScope.BASE_LEVEL,
                RuleScope.AGGREGATION_LEVEL,
            ):
                continue
            for qa in qaddrs:
                could_match = True
                for pos, midx in other.idx_pattern or []:
                    if pos == p:
                        if plan is not None and midx not in read_midxs:
                            # compiled read set is exact — see the
                            # single-address guard note
                            could_match = False
                            break
                        return None
                    odim = self.dimensions[pos]
                    if odim._defs[midx].level != 0:
                        could_match = False
                        break
                    # per-member ancestor walk, NOT closure_rows: for a
                    # large_dim dimension the closure scan would re-run
                    # the deferred driver walk (VERDICT r11 #1)
                    if not odim.is_under(midx, qa[pos]):
                        could_match = False
                        break
                if could_match:
                    return None
        p_col = self._cols[p]
        rest_cols = [c for c in self._cols if c != p_col]
        rest_pos = [i for i, c in enumerate(self._cols) if c != p_col]
        requested = {
            c: sorted({qa[i] for qa in qaddrs})
            for i, c in enumerate(self._cols)
            if c != p_col
        }
        df, _ = engine._joined_rollup(
            self._fact, self.spark, self._dims_spec(), requested
        )
        anc_cols = [f"__a_{c}" for c in rest_cols]
        # requested-combo prune (ADVICE r4): the per-dim UNION fans every
        # base row out to the full cross-product of requested ancestors —
        # N unrelated addresses over k dims could aggregate ~N^k combos
        # that are then discarded.  A broadcast semi-join on the ancestor
        # combo drops non-requested combos map-side, BEFORE the expensive
        # map-building aggregate, making the batch exact at any shape.
        combos = sorted({tuple(int(qa[i]) for i in rest_pos) for qa in qaddrs})
        n_product = 1
        for c in requested:
            n_product *= max(1, len(requested[c]))
        if n_product > len(combos):
            reqs = self.spark.createDataFrame(
                list(combos),
                schema=StructType(
                    [
                        StructField(a, IntegerType(), False)
                        for a in anc_cols
                    ]
                ),
            )
            df = df.join(F.broadcast(reqs), on=anc_cols, how="leftsemi")
        wprod = F.lit(1.0)
        for c in rest_cols:
            if f"__w_{c}" in df.columns:
                wprod = wprod * F.col(f"__w_{c}")
        if plan is not None:
            # Catalyst tier: conditional aggregates pivot the read members
            # into columns (codegen HashAggregate, map-side partial agg),
            # the verified expression evaluates as native SQL, one hash
            # aggregate re-weights per ancestor combo — the whole batch is
            # ONE fully-JVM job: no collect_list map, no Arrow, no Python.
            aggs = [
                F.max(
                    F.when(F.col(p_col) == int(m), F.col("value"))
                ).alias(f"__op_{int(m)}")
                for m in plan.reads
            ]
            aggs.append(
                F.max(
                    F.when(F.col(p_col) == int(feeder_midx), F.lit(1))
                ).alias("__has_f")
            )
            aggs.append(F.first(wprod).alias("__w"))
            cgrouped = df.groupBy(
                *[F.col(c) for c in rest_cols + anc_cols]
            ).agg(*aggs)
            vcol, ecol = arith.to_columns(
                plan, lambda m: F.col(f"__op_{int(m)}")
            )
            rows = (
                cgrouped.where(F.col("__has_f").isNotNull())
                .select(
                    *[F.col(c) for c in anc_cols],
                    vcol.alias("v"), ecol.alias("err"),
                    F.col("__w").alias("w"),
                )
                .groupBy(*[F.col(c) for c in anc_cols])
                .agg(
                    F.sum(F.col("v") * F.col("w")).alias("total"),
                    F.count(F.lit(1)).alias("n"),
                    F.min("err").alias("err"),
                )
                .collect()
            )
            self._last_base_rule_path = "compiled"
            return self._rule_rows_to_results(
                rows, anc_cols, idx_addresses, qaddrs, rest_pos
            )
        grouped = df.groupBy(
            *[F.col(c) for c in rest_cols + anc_cols]
        ).agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col(p_col), F.col("value")))
            ).alias("__vals"),
            F.first(wprod).alias("__w"),
        )
        p_leaves = frozenset(
            i for i, d in pdim._defs.items() if d.level == 0
        )
        dim_lookups = [
            ({k: v for k, v in dim._lookup.items()}, dim.name.lower())
            for dim in self.dimensions
        ]
        id_names = [
            {d.idx: d.name for d in dim._iter_defs()}
            for dim in self.dimensions
        ]
        fn = rdef.function
        n_dims = len(self._cols)

        def run(batches):
            import pandas as pd

            from tinyolap_spark.rules import CONTINUE as _CONT
            from tinyolap_spark.rules import map_rule_error as _map_err

            for pdf in batches:
                out = {c: [] for c in anc_cols}
                out_v, out_w, out_err = [], [], []
                for row in pdf.to_dict("records"):
                    vals = row["__vals"] or {}
                    rest = [row[c] for c in rest_cols]
                    cell = _SliceCell(
                        p, rest_cols, rest, trigger_midx, vals,
                        dim_lookups, id_names, n_dims, p_col, p_leaves,
                    )
                    err = None
                    v = None
                    try:
                        v = fn(cell)
                    except _NonLocalRead:
                        err = "__nonlocal__"
                    except Exception as exc:  # noqa: BLE001
                        err = _map_err(exc)
                    if err is None:
                        if v is _CONT:
                            v = vals.get(feeder_midx)
                        if isinstance(v, bool) or not isinstance(
                            v, (int, float)
                        ):
                            v = None
                    for c in anc_cols:
                        out[c].append(row[c])
                    out_v.append(float(v) if v is not None else None)
                    out_w.append(row["__w"])
                    out_err.append(err)
                out_pdf = pd.DataFrame(out)
                out_pdf["v"] = pd.Series(out_v, dtype="float64")
                out_pdf["w"] = pd.Series(out_w, dtype="float64")
                out_pdf["err"] = pd.Series(out_err, dtype="object")
                yield out_pdf

        evald = grouped.where(
            F.map_contains_key(F.col("__vals"), F.lit(int(feeder_midx)))
        )
        schema = (
            ", ".join(f"{c} int" for c in anc_cols)
            + ", v double, w double, err string"
        )
        try:
            rows = (
                evald.mapInPandas(run, schema=schema)
                .groupBy(*[F.col(c) for c in anc_cols])
                .agg(
                    F.sum(F.col("v") * F.col("w")).alias("total"),
                    F.count(F.lit(1)).alias("n"),
                    F.min("err").alias("err"),
                    F.max(
                        F.coalesce(
                            F.col("err") == F.lit("__nonlocal__"),
                            F.lit(False),
                        )
                    ).alias("nonloc"),
                )
                .collect()
            )
        except Exception:  # noqa: BLE001 — unpicklable rule etc.
            return None
        if any(r["nonloc"] for r in rows):
            return None  # runtime read escaped the slice: fall back
        self._last_base_rule_path = "executor"
        return self._rule_rows_to_results(
            rows, anc_cols, idx_addresses, qaddrs, rest_pos
        )

    @staticmethod
    def _rule_rows_to_results(
        rows, anc_cols, idx_addresses, qaddrs, rest_pos
    ) -> "dict[tuple[int, ...], Any]":
        """Map collected (ancestor-combo, total, n, err) rows back to the
        requested addresses (absent combo = empty cell = None)."""
        by_combo: dict[tuple[int, ...], Any] = {}
        for r in rows:
            combo = tuple(int(r[c]) for c in anc_cols)
            if r["err"] is not None:
                by_combo[combo] = r["err"]
            elif r["n"] == 0:
                by_combo[combo] = None
            else:
                by_combo[combo] = (
                    r["total"] if r["total"] is not None else 0.0
                )
        out: dict[tuple[int, ...], Any] = {}
        for addr, qa in zip(idx_addresses, qaddrs):
            combo = tuple(qa[i] for i in rest_pos)
            out[tuple(addr)] = by_combo.get(combo)
        return out

    #: Max feeder-slice rows the driver loop may collect.  The driver
    #: fallback exists for rules needing full cube re-entry; collecting an
    #: unbounded slice is the one way a rule read could OOM the driver at
    #: 100 TB (VERDICT r2 #3).  Raise it consciously per cube if a model
    #: genuinely needs a bigger driver-evaluated slice.
    base_rule_driver_budget: int = 250_000

    def _base_rule_driver_loop(
        self, rdef: RuleDef, query_addr: list[int]
    ) -> Any:
        """Driver-side evaluation: collects the feeder slice and calls the
        rule per row with a full cube-backed Cell (supports arbitrary
        cube re-entry, nested rules, multi-dimension reads).

        The collect is budgeted: ``limit(budget + 1)`` bounds driver
        memory up-front (no extra count job) and a slice above budget
        raises instead of silently materializing."""
        requested = {c: [query_addr[i]] for i, c in enumerate(self._cols)}
        df, _ = engine._joined_rollup(
            self._fact, self.spark, self._dims_spec(), requested
        )
        wprod = F.lit(1.0)
        for c in self._cols:
            if f"__w_{c}" in df.columns:
                wprod = wprod * F.col(f"__w_{c}")
        budget = int(self.base_rule_driver_budget)
        rows = df.select(
            *[F.col(c) for c in self._cols], wprod.alias("__w_total"),
            F.col("value"),
        ).limit(budget + 1).collect()
        if len(rows) > budget:
            raise TinyOlapError(
                f"BASE_LEVEL rule '{getattr(rdef.function, '__name__', rdef)}'"
                f" needs the driver fallback (cube re-entry / cross-dimension"
                f" reads) over a feeder slice larger than"
                f" base_rule_driver_budget={budget} rows. Restructure the"
                f" rule to single-dimension reads (executor-eligible) or"
                f" raise cube.base_rule_driver_budget explicitly."
            )
        if not rows:
            return None
        total = 0.0
        for row in rows:
            trigger_idx = [row[c] for c in self._cols]
            for pos, midx in rdef.trigger_idx_pattern or rdef.idx_pattern:
                trigger_idx[pos] = midx
            try:
                v = rdef.function(Cell(self, tuple(trigger_idx), bypass_rules=False))
            except Exception as exc:  # noqa: BLE001
                return map_rule_error(exc)
            if v is CONTINUE:
                v = row["value"]
            if isinstance(v, float):
                total += v * row["__w_total"]
        return total

    def _base_rule_distributed(
        self, rdef: RuleDef, query_addr: list[int]
    ) -> Any:
        """Executor-side feeder-rule aggregation, or ``_FALLBACK``.

        Plan: fact rows under the aggregate with the rule's single read
        dimension p left UNFILTERED → groupBy the leaf rest-address with a
        JVM-side ``map_from_entries(collect_list(...))`` building the
        per-cell {member_id: value} map → one ``mapInPandas`` pass calls
        the rule with a slice-local Cell → Spark sums the weighted results
        to a scalar.  One shuffle, no fact-sized driver collect.
        """
        pattern = rdef.trigger_idx_pattern or rdef.idx_pattern
        positions = {pos for pos, _ in pattern}
        if rdef.feeder_idx_pattern:
            positions |= {pos for pos, _ in rdef.feeder_idx_pattern}
        if len(positions) != 1:
            return _FALLBACK
        p = next(iter(positions))
        pdim = self.dimensions[p]
        trigger_midx = dict(pattern)[p]
        feeder_midx = (
            dict(rdef.feeder_idx_pattern)[p]
            if rdef.feeder_idx_pattern
            else trigger_midx
        )
        plan = arith.compile_rule_plan(self, rdef, p, trigger_midx)
        if plan is not None:
            # compiled tier: the traced read set is complete (no branching
            # on values is possible), so no sample-row probe job is needed;
            # an empty feeder slice falls out of the aggregate (n == 0).
            read_midxs = set(plan.reads) | {trigger_midx, feeder_midx}
        else:
            # probe: one base row under the query address tells us which
            # dimensions the rule actually touches
            requested_full = {
                c: [query_addr[i]] for i, c in enumerate(self._cols)
            }
            sample_df, _ = engine._joined_rollup(
                self._fact, self.spark, self._dims_spec(), requested_full
            )
            sample = sample_df.select(*self._cols).limit(1).collect()
            if not sample:
                # empty feeder slice (reference: empty cell) — resolved
                # HERE, so stamp the path: the caller trusts the callee to
                # set it and a stale "compiled"/"driver" from a previous
                # query would misattribute this result
                self._last_base_rule_path = "executor"
                return None
            trigger_idx = [sample[0][c] for c in self._cols]
            for pos, midx in pattern:
                trigger_idx[pos] = midx
            probed: list[tuple[int, int]] = []
            try:
                _ProbeCell(self, tuple(trigger_idx), probed).run(rdef.function)
            except Exception:  # noqa: BLE001 — probe errors still leave reads recorded
                pass
            read_pos = {pos for pos, _ in probed}
            if read_pos - {p}:
                return _FALLBACK  # reads cross dimensions — needs the cube
            read_midxs = {m for _, m in probed} | {trigger_midx, feeder_midx}
        # Nested rules that could fire on any readable cell -> driver path.
        # A rule patterned on p itself can always be hit (reads on p are
        # unconstrained at runtime).  A rule patterned on another dimension
        # q fires on a read cell only if EVERY (q, m) of its pattern names
        # a member a slice cell can carry: for q != p the slice's q-coord
        # is a LEAF under query_addr[q], so aggregated members or leaves
        # outside that rollup can never match (ADVICE r2 medium: a nested
        # rule on a *different* dimension was silently bypassed here).
        for other in self.rules:
            if other is rdef:
                continue
            if other.scope not in (
                RuleScope.ALL_LEVELS,
                RuleScope.BASE_LEVEL,
                RuleScope.AGGREGATION_LEVEL,
            ):
                continue
            could_match = True
            for pos, midx in other.idx_pattern or []:
                if pos == p:
                    if plan is not None and midx not in read_midxs:
                        # compiled plans have an EXACT read set (no
                        # data-dependent reads possible): a rule on dim p
                        # can only interfere if it triggers on a member
                        # this rule actually reads
                        could_match = False
                        break
                    return _FALLBACK
                odim = self.dimensions[pos]
                if odim._defs[midx].level != 0:
                    could_match = False  # slice cells sit on leaves of q
                    break
                # per-member ancestor walk, NOT closure_rows: a closure
                # scan re-opens the deferred large_dim driver walk
                # (VERDICT r11 #1)
                if not odim.is_under(midx, query_addr[pos]):
                    could_match = False  # leaf outside the queried rollup
                    break
            if could_match:
                return _FALLBACK
        p_col = self._cols[p]
        requested = {
            c: [query_addr[i]]
            for i, c in enumerate(self._cols)
            if c != p_col
        }
        df, _ = engine._joined_rollup(
            self._fact, self.spark, self._dims_spec(), requested
        )
        wprod = F.lit(1.0)
        for c in self._cols:
            if f"__w_{c}" in df.columns:
                wprod = wprod * F.col(f"__w_{c}")
        rest_cols = [c for c in self._cols if c != p_col]
        needs_closure = any(
            pdim._defs[m].level != 0 for m in read_midxs
        )
        if plan is not None:
            # Catalyst tier: conditional aggregates pivot the few read
            # members into columns (plain codegen HashAggregate with
            # map-side partial aggregation — no collect_list map, no
            # Arrow, no Python), the verified expression evaluates as
            # native SQL, and ONE final aggregate re-weights.
            if needs_closure:
                pcdf = engine.closure_df(self.spark, pdim).select(
                    F.col("member_id").alias("__m_p"),
                    F.col("ancestor_id").alias("__a_p"),
                    F.col("weight").alias("__w_p"),
                )
                src = df.join(
                    engine._closure_side(pcdf, pdim),
                    df[p_col] == F.col("__m_p"),
                    "inner",
                )
                op_col, op_val = F.col("__a_p"), (
                    F.col("value") * F.col("__w_p")
                )
                op_agg = F.sum  # rolled-up operand = weighted sum
            else:
                src, op_col, op_val = df, F.col(p_col), F.col("value")
                op_agg = F.max  # exactly one base row per member
            aggs = [
                op_agg(
                    F.when(op_col == int(m), op_val)
                ).alias(f"__op_{int(m)}")
                for m in plan.reads
            ]
            aggs.append(
                F.max(
                    F.when(op_col == int(feeder_midx), F.lit(1))
                ).alias("__has_f")
            )
            aggs.append(F.first(wprod).alias("__w"))
            grouped = src.groupBy(
                *[F.col(c) for c in rest_cols]
            ).agg(*aggs)
            evald = grouped.where(F.col("__has_f").isNotNull())
            vcol, ecol = arith.to_columns(
                plan, lambda m: F.col(f"__op_{int(m)}")
            )
            res = evald.select(
                vcol.alias("v"), ecol.alias("err"),
                F.col("__w").alias("w"),
            ).agg(
                F.sum(F.col("v") * F.col("w")).alias("total"),
                F.count(F.lit(1)).alias("n"),
                F.min("err").alias("err"),
            ).collect()[0]
            self._last_base_rule_path = "compiled"
            if res["err"] is not None:
                return res["err"]
            if res["n"] == 0:
                return None
            return res["total"] if res["total"] is not None else 0.0
        p_leaves = None
        if needs_closure:
            # Expand dim p through its closure (broadcast join) so the
            # per-cell value map carries AGGREGATED p-members too —
            # correct rolled-up values for aggregated triggers/feeders
            # and for data-dependent runtime reads the one-row probe
            # never saw (ADVICE r2 medium: these previously read None off
            # the leaf-only map).  Closure self-rows keep every base
            # member in the map.  Costs one extra shuffle, so taken only
            # when an aggregated member is actually in play.
            pcdf = engine.closure_df(self.spark, pdim).select(
                F.col("member_id").alias("__m_p"),
                F.col("ancestor_id").alias("__a_p"),
                F.col("weight").alias("__w_p"),
            )
            dfp = df.join(
                engine._closure_side(pcdf, pdim),
                df[p_col] == F.col("__m_p"),
                "inner",
            )
            rolled = dfp.groupBy(
                *[F.col(c) for c in rest_cols], F.col("__a_p")
            ).agg(
                F.sum(F.col("value") * F.col("__w_p")).alias("__pval"),
                F.first(wprod).alias("__w0"),
            )
            grouped = rolled.groupBy(*[F.col(c) for c in rest_cols]).agg(
                F.map_from_entries(
                    F.collect_list(
                        F.struct(F.col("__a_p"), F.col("__pval"))
                    )
                ).alias("__vals"),
                F.first(F.col("__w0")).alias("__w"),
            )
        else:
            # leaf-only fast path: ONE shuffle; a runtime read of an
            # aggregated member raises _NonLocalRead in _SliceCell via
            # p_leaves -> driver fallback (correct, never silent)
            p_leaves = frozenset(
                i for i, d in pdim._defs.items() if d.level == 0
            )
            grouped = df.groupBy(*[F.col(c) for c in rest_cols]).agg(
                F.map_from_entries(
                    F.collect_list(F.struct(F.col(p_col), F.col("value")))
                ).alias("__vals"),
                F.first(wprod).alias("__w"),
            )
        # context shipped to executors: per-dim name->idx resolution and
        # idx->name maps (small metadata), matching Cell._resolve_modifier
        dim_lookups = [
            ({k: v for k, v in dim._lookup.items()}, dim.name.lower())
            for dim in self.dimensions
        ]
        id_names = [
            {d.idx: d.name for d in dim._iter_defs()}
            for dim in self.dimensions
        ]
        fn = rdef.function
        n_dims = len(self._cols)

        def run(batches):
            import pandas as pd

            from tinyolap_spark.rules import CONTINUE as _CONT
            from tinyolap_spark.rules import map_rule_error as _map_err

            for pdf in batches:
                out_v, out_err = [], []
                for row in pdf.to_dict("records"):
                    vals = row["__vals"] or {}
                    rest = [row[c] for c in rest_cols]
                    cell = _SliceCell(
                        p, rest_cols, rest, trigger_midx, vals,
                        dim_lookups, id_names, n_dims, p_col, p_leaves,
                    )
                    err = None
                    try:
                        v = fn(cell)
                    except _NonLocalRead:
                        out_v.append(None)
                        out_err.append("__nonlocal__")
                        continue
                    except Exception as exc:  # noqa: BLE001
                        out_v.append(None)
                        out_err.append(_map_err(exc))
                        continue
                    if v is _CONT:
                        v = vals.get(feeder_midx)
                    if isinstance(v, bool) or not isinstance(v, (int, float)):
                        v = None
                    out_v.append(float(v) if v is not None else None)
                    out_err.append(err)
                yield pd.DataFrame(
                    {
                        "v": pd.Series(out_v, dtype="float64"),
                        "w": pd.Series(
                            [row["__w"] for row in pdf.to_dict("records")],
                            dtype="float64",
                        ),
                        "err": pd.Series(out_err, dtype="object"),
                    }
                )

        # only groups holding a feeder row are evaluation points
        evald = grouped.where(
            F.map_contains_key(F.col("__vals"), F.lit(int(feeder_midx)))
        )
        try:
            res = evald.mapInPandas(
                run, schema="v double, w double, err string"
            ).agg(
                F.sum(F.col("v") * F.col("w")).alias("total"),
                F.count(F.lit(1)).alias("n"),
                F.min("err").alias("err"),
                F.max(
                    F.coalesce(
                        F.col("err") == F.lit("__nonlocal__"), F.lit(False)
                    )
                ).alias("nonloc"),
            ).collect()[0]
        except Exception:  # noqa: BLE001 — unpicklable rule etc.
            return _FALLBACK
        if res["nonloc"]:
            return _FALLBACK
        self._last_base_rule_path = "executor"
        if res["err"] is not None:
            return res["err"]
        if res["n"] == 0:
            return None
        return res["total"] if res["total"] is not None else 0.0

    # --------------------------------------------------------------- rules
    def register_rule(
        self,
        function,
        trigger: "Sequence[str] | str | None" = None,
        scope: Optional[RuleScope] = None,
        feeder: "Sequence[str] | str | None" = None,
    ) -> None:
        """Register a rule function (decorated with ``@rule`` or raw)."""
        if hasattr(function, "_rule_def"):
            rdef: RuleDef = function._rule_def
        else:
            if trigger is None:
                raise ValueError("trigger required for undecorated rule")
            rdef = RuleDef(
                function=function,
                trigger=[trigger] if isinstance(trigger, str) else list(trigger),
                scope=scope or RuleScope.ALL_LEVELS,
                feeder=(
                    [feeder] if isinstance(feeder, str) else list(feeder)
                )
                if feeder is not None
                else None,
                name=getattr(function, "__name__", "rule"),
            )
        if scope is not None:
            rdef.scope = scope
        self.rules.register(self, rdef)
        self._invalidate()

    def register_expression_rule(
        self, trigger: str, expression: str, name: str = ""
    ) -> None:
        """Fast-tier rule: ``"[Profit] / [Sales]"`` over sibling members of
        the trigger's dimension.  Views evaluate these from the grid batch
        (no per-cell Spark jobs); point reads batch the operand fetch."""
        from .rules import compile_expression_rule

        rdef = compile_expression_rule(self, trigger, expression, name)
        self.rules._rules.append(rdef)
        self._invalidate()

    # reference-compat conveniences (cube.py public surface)
    def get_dimension_by_index(self, index: int) -> Dimension:
        return self.dimensions[index]

    def get_dimension(self, name: str) -> Dimension:
        return self.dimensions[self._dim_position(name)]

    def get_dimension_ordinal(self, name: str) -> int:
        """Position of the dimension in the cube, or -1 (reference)."""
        try:
            return self._dim_position(name)
        except (KeyError, InvalidAddressError):
            return -1

    def dimension_contained(self, name: str) -> bool:
        return self.get_dimension_ordinal(name) >= 0

    @property
    def dimension_names(self) -> list[str]:
        return [d.name for d in self.dimensions]

    @property
    def dimensions_count(self) -> int:
        return len(self.dimensions)

    def reset_counters(self) -> None:
        self.counter_cell_requests = 0
        self.counter_aggregations = 0
        self.counter_rule_requests = 0
        self.counter_local_cells = 0
        self.counter_local_builds = 0

    def validate_rules(self) -> tuple[bool, str]:
        """Call every function rule once with a sample cell matching its
        trigger (reference ``cube.py:849-870``); returns (ok, report)."""
        problems = []
        for rdef in self.rules:
            if rdef.expression is not None or rdef.scope == RuleScope.COMMAND:
                continue
            addr = [dim.leaf_members[0].index for dim in self.dimensions]
            for pos, midx in rdef.idx_pattern or []:
                addr[pos] = midx
            try:
                rdef.function(Cell(self, tuple(addr)))
            except Exception as exc:  # noqa: BLE001 — validation report
                problems.append(f"rule '{rdef.name}': {exc!r}")
        return (not problems, "; ".join(problems) or "ok")

    def to_json(self) -> str:
        import json as _json

        return _json.dumps(self.to_dict())

    # ---------------------------------------------------------------- area
    def area(self, *defs) -> "Area":
        return Area(self, defs)

    def cell(self, *address) -> "Cell":
        """A Cell cursor at an address (reference ``cube.cell(...)``)."""
        idx_address, _ = self._resolve_address(address)
        return Cell(self, idx_address)

    # ---------------------------------------------------------------- info
    @property
    def cells_count(self) -> int:
        return self.fact.count()

    def __len__(self) -> int:
        return self.cells_count

    def to_pandas(self):
        """Base rows as a pandas DataFrame with member names (reference
        ``tools/tinypandas.py:36-44``; collects — interactive use only,
        the distributed twin is ``TinyPandas.to_spark_df``)."""
        from .tinypandas import TinyPandas

        return TinyPandas.to_df(self)

    def to_dict(self) -> dict:
        out = {
            "name": self.name,
            "description": self.description,
            "dimensions": [d.name for d in self.dimensions],
            "columns": self._cols,
            "rules": self._rules_to_dicts(),
        }
        if len(self.comments):
            out["comments"] = self.comments.to_list()
        if self._summaries:
            # summary SPECS persist (frames are derived state — they
            # rebuild lazily on the first eligible query after open)
            out["summaries"] = [list(s["kept"]) for s in self._summaries]
        return out

    def _rules_to_dicts(self) -> list[dict]:
        """Rule source persistence (reference ``codemanager.py``:
        store the decorated function source; re-``exec`` on load)."""
        import inspect
        import textwrap

        out = []
        for rdef in self.rules:
            try:
                src = textwrap.dedent(inspect.getsource(rdef.function))
            except (OSError, TypeError):
                continue  # dynamically-defined rule; not persistable
            out.append(
                {
                    "name": rdef.name,
                    "source": src,
                    "trigger": rdef.trigger,
                    "scope": rdef.scope.name,
                    "feeder": rdef.feeder,
                }
            )
        return out

    def load_rules_from_dicts(self, rules: list[dict]) -> None:
        """Re-instantiate persisted rules (same trust model as the
        reference: rule code executes on load)."""
        for rd in rules:
            ns: dict = {}
            exec(rd["source"], {"rule": __import__("tinyolap_spark").rule,
                                "RuleScope": RuleScope,
                                "CONTINUE": CONTINUE}, ns)
            fn = ns.get(rd["name"])
            if fn is None:
                fns = [v for v in ns.values() if callable(v)]
                fn = fns[0] if fns else None
            if fn is None:
                continue
            self.register_rule(
                fn,
                trigger=rd["trigger"],
                scope=RuleScope[rd["scope"]],
                feeder=rd.get("feeder"),
            )


def _safe_col(name: str) -> str:
    out = "".join(ch if ch.isalnum() or ch == "_" else "_" for ch in name.strip())
    if not out or out[0].isdigit():
        out = "d_" + out
    return out.lower()


class AreaTransform:
    """Lazy scalar transform over an area (reference ``area.py:512-570``):
    ``cube.area("Plan") = cube.area("Actual") * 1.15``."""

    def __init__(self, area: "Area", fn_col):
        self.area = area
        self.fn_col = fn_col  # Column -> Column


class Area:
    """Subspace of a cube — mass operations (reference ``tinyolap/area.py``).

    Definitions: each arg pins one dimension to one or more members —
    ``"2023"`` (bare member, resolved to its dimension), ``"years:2023"``,
    ``("Jan", "Feb")`` (list within ONE dimension), or a ``Member``.
    OR within a dimension, AND across dimensions
    (reference ``facttable.py:350-373``).
    """

    def __init__(self, cube: Cube, defs: Sequence):
        self.cube = cube
        # dim position -> list of member idx (ancestors allowed)
        self.filters: dict[int, list[int]] = {}
        for d in defs:
            self._add_def(d)

    # reference-compat surface (area.py:194-222; to_dict/from_dict are
    # NotImplementedError in the reference and omitted here)
    def alter(self, *defs) -> "Area":
        """Replace the area definition in place (reference ``alter``)."""
        self.filters = {}
        for d in defs:
            self._add_def(d)
        return self

    def clone(self) -> "Area":
        out = Area(self.cube, ())
        out.filters = {pos: list(idxs) for pos, idxs in self.filters.items()}
        return out

    def refresh(self) -> "Area":
        """No-op for compatibility: rows are computed lazily from the fact
        DataFrame on every access (no cached row-id set to refresh)."""
        return self

    def enumerate(self, enumerate_data_space: bool = False):
        """Generator over area addresses (reference ``area.py:194-207``)."""
        yield from self.addresses(enumerate_data_space)

    def _add_def(self, d) -> None:
        cube = self.cube
        if isinstance(d, Member):
            pos = cube._dim_position(d.dimension)
            self.filters.setdefault(pos, []).append(d.index)
            return
        if isinstance(d, (list, tuple, set)):
            items = list(d)
            pos = None
            idxs = []
            for item in items:
                p, i = self._resolve_one(str(item))
                if pos is None:
                    pos = p
                elif pos != p:
                    raise InvalidAddressError(
                        "a member list in an area definition must address a "
                        "single dimension"
                    )
                idxs.append(i)
            if pos is not None:
                self.filters.setdefault(pos, []).extend(idxs)
            return
        pos, idx = self._resolve_one(str(d))
        self.filters.setdefault(pos, []).append(idx)

    def _resolve_one(self, s: str) -> tuple[int, int]:
        cube = self.cube
        if ":" in s:
            dpart, mname = s.split(":", 1)
            pos = cube._dim_position(dpart.strip())
            return pos, cube.dimensions[pos].member(mname.strip()).index
        for pos, dim in enumerate(cube.dimensions):
            if s in dim:
                return pos, dim.member(s).index
        raise InvalidAddressError(f"member '{s}' not found in any dimension")

    # ------------------------------------------------------------- reading
    def _filter_cols(self) -> dict[str, list[int]]:
        return {
            self.cube._cols[pos]: idxs for pos, idxs in self.filters.items()
        }

    def rows_df(self) -> DataFrame:
        """Fact rows inside the area (leaf-level, stored values)."""
        return engine.area_rows(
            self.cube.fact,
            self.cube.spark,
            self.cube._dims_spec(),
            self._filter_cols(),
        )

    def to_df(self, names: bool = True) -> DataFrame:
        """Area rows, optionally with member names instead of ids."""
        df = self.rows_df()
        if names:
            for col, dim in self.cube._dims_spec():
                mdf = engine.members_df(self.cube.spark, dim).select(
                    F.col("member_id").alias(f"__id_{col}"),
                    F.col("name").alias(f"__n_{col}"),
                )
                df = (
                    df.join(
                        engine._members_side(mdf, dim),
                        df[col] == F.col(f"__id_{col}"),
                    )
                    .drop(col, f"__id_{col}")
                    .withColumnRenamed(f"__n_{col}", col)
                )
            df = df.select(*self.cube._cols, "value", "value_str")
        return df

    def records(self) -> list[tuple]:
        """Collected (names..., value) tuples (reference ``Area.records``)."""
        out = []
        for row in self.to_df(names=True).collect():
            v = row["value"] if row["value"] is not None else row["value_str"]
            out.append(tuple(row[c] for c in self.cube._cols) + (v,))
        return out

    def addresses(self, enumerate_data_space: bool = False) -> list[tuple[str, ...]]:
        """Addresses in the area; with ``enumerate_data_space`` the dense
        cartesian product of leaf members (reference ``area.py:140-192``)."""
        if enumerate_data_space:
            per_dim: list[list[str]] = []
            for pos, dim in enumerate(self.cube.dimensions):
                if pos in self.filters:
                    leaves: list[str] = []
                    seen = set()
                    for idx in self.filters[pos]:
                        for leaf in Member(dim, idx).leaves:
                            if leaf.index not in seen:
                                seen.add(leaf.index)
                                leaves.append(leaf.name)
                    per_dim.append(leaves)
                else:
                    per_dim.append([m.name for m in dim.leaf_members])
            return list(itertools.product(*per_dim))
        return [r[:-1] for r in self.records()]

    # -------------------------------------------------------- aggregations
    def _agg(self, fn) -> Optional[float]:
        row = self.rows_df().agg(
            fn(F.col("value")).alias("v"), F.count(F.col("value")).alias("n")
        ).collect()[0]
        # empty area (or all-non-float) -> None (reference area.py:372-447)
        return row["v"] if row["n"] > 0 else None

    def sum(self) -> Optional[float]:
        return self._agg(F.sum)

    def min(self) -> Optional[float]:
        return self._agg(F.min)

    def max(self) -> Optional[float]:
        return self._agg(F.max)

    def avg(self) -> Optional[float]:
        return self._agg(F.avg)

    def percentile(
        self, q, approx: bool = False, accuracy: int = 10_000
    ) -> Optional[float]:
        """Percentile of stored values.  ``q`` may be a float or a
        sequence of floats (one pass either way).

        Default is EXACT (linear interpolation — same semantics as ANSI
        ``percentile_cont``/DuckDB ``quantile_cont``, bit-verified in
        tests): Spark's ``percentile`` buffers each group's values, the
        right call for driver-facing area aggregates (reference
        ``area.py:372-447`` min/max/avg/sum families).

        ``approx=True`` switches to ``approx_percentile`` (Greenwald-
        Khanna sketch, VERDICT r5 #9) — the 100 TB path: constant memory
        per partition, mergeable sketches, no per-group buffering.  Error
        bound: the returned value's RANK is within ``n/accuracy`` of the
        target rank (default 1e-4·n); the returned value is always an
        actual data value (no interpolation), so on smooth distributions
        the VALUE error tracks the local density times the rank bound —
        tolerance-tested against the exact path on the sf fixture."""
        qs = list(q) if isinstance(q, (list, tuple)) else None
        q_sql = (
            "array({})".format(", ".join(repr(float(x)) for x in qs))
            if qs is not None
            else repr(float(q))
        )
        expr = (
            F.expr(f"approx_percentile(value, {q_sql}, {int(accuracy)})")
            if approx
            else F.expr(f"percentile(value, {q_sql})")
        )
        row = self.rows_df().agg(
            expr.alias("v"), F.count(F.col("value")).alias("n")
        ).collect()[0]
        if row["n"] == 0:
            return None
        return list(row["v"]) if qs is not None else row["v"]

    def median(
        self, approx: bool = False, accuracy: int = 10_000
    ) -> Optional[float]:
        return self.percentile(0.5, approx=approx, accuracy=accuracy)

    def count(self) -> int:
        return self.rows_df().count()

    def __len__(self) -> int:
        return self.count()

    # --------------------------------------------------------------- writes
    def clear(self) -> None:
        """Remove all fact rows in the area (reference ``area.py:80-83``)."""
        cube = self.cube
        if cube._history is not None:
            cube._history.capture(cube)
        cube._flush()
        keep = engine.area_rows(
            cube._fact, cube.spark, cube._dims_spec(), self._filter_cols()
        )
        # anti-semantics: keep rows NOT in the area
        remaining = cube._fact.exceptAll(keep)
        cube._replace_fact(remaining)

    def multiply(self, factor: float) -> None:
        self.transform(lambda c: c * F.lit(float(factor)))

    def increment(self, delta: float) -> None:
        self.transform(lambda c: c + F.lit(float(delta)))

    def transform(self, fn_col) -> None:
        """Apply a Column->Column function to stored values in the area."""
        cube = self.cube
        if cube._history is not None:
            cube._history.capture(cube)
        cube._flush()
        inside = self.rows_df()
        outside = cube._fact.exceptAll(inside)
        changed = inside.withColumn("value", fn_col(F.col("value")))
        cube._replace_fact(outside.unionByName(changed))

    def set_value(self, value: Any, enumerate_data_space: bool = False) -> None:
        """Set cells in the area to ``value``.

        Reference parity (``area.py:315-336``): if the area holds stored
        rows, only those rows are updated; if the area is EMPTY (or
        ``enumerate_data_space=True``), the entire base-level data space of
        the area is enumerated and filled — this is how models are seeded.

        Callables are evaluated per cell executor-side: zero-arg callables
        match the reference contract (``area.py:322-326`` calls
        ``value()``); one-arg callables receive the address as a tuple of
        member names.  The dense grid is built as a distributed cross join
        of per-dimension leaf-member DataFrames (never materialized on the
        driver), so a huge data space parallelizes across executors.
        """
        if enumerate_data_space or self.count() == 0:
            self._dense_fill(value)
            return
        if callable(value):
            self._set_callable(value)
            return
        if isinstance(value, str):
            cube = self.cube
            if cube._history is not None:
                cube._history.capture(cube)
            cube._flush()
            inside = self.rows_df()
            outside = cube._fact.exceptAll(inside)
            changed = inside.withColumn(
                "value", F.lit(None).cast(DoubleType())
            ).withColumn("value_str", F.lit(value))
            cube._replace_fact(outside.unionByName(changed))
            return
        self.transform(lambda c: F.lit(float(value)))

    def _dense_grid_df(self) -> DataFrame:
        """Distributed dense base-level grid of the area: cross join of
        per-dimension leaf-id DataFrames (reference ``area.py:140-192``
        enumerates the same space with ``itertools.product`` on the
        driver — here the product is generated executor-side)."""
        cube = self.cube
        spark = cube.spark
        grid: Optional[DataFrame] = None
        n_cells = 1
        for pos, (col, dim) in enumerate(cube._dims_spec()):
            if pos in self.filters:
                ids: list[int] = []
                seen: set[int] = set()
                for idx in self.filters[pos]:
                    for leaf in Member(dim, idx).leaves:
                        if leaf.index not in seen:
                            seen.add(leaf.index)
                            ids.append(leaf.index)
            else:
                ids = [m.index for m in dim.leaf_members]
            n_cells *= max(len(ids), 1)
            # single partition per (tiny) member list + broadcast right
            # sides: a plain crossJoin multiplies partition counts
            # (4^ndims scheduler blowup for a few hundred rows)
            df = spark.createDataFrame(
                [(i,) for i in ids],
                StructType([StructField(col, IntegerType())]),
            ).coalesce(1)
            grid = df if grid is None else grid.crossJoin(F.broadcast(df))
        if n_cells > 100_000:
            # spread a genuinely large dense space across the cluster
            grid = grid.repartition(spark.sparkContext.defaultParallelism)
        return grid

    def _dense_fill(self, value: Any) -> None:
        """Overwrite the area's entire base-level space with ``value``."""
        cube = self.cube
        if cube._history is not None:
            cube._history.capture(cube)
        cube._flush()
        grid = self._dense_grid_df()
        schema = cube._schema
        used_callable = callable(value)
        if used_callable:
            try:
                nargs = len(inspect.signature(value).parameters)
            except (TypeError, ValueError):
                nargs = 0
            name_maps = [
                {d.idx: d.name for d in dim._iter_defs()}
                for dim in cube.dimensions
            ]
            cols = cube._cols
            fn = value

            def run(batches):
                for pdf in batches:
                    vals, strs = [], []
                    for row in pdf.to_dict("records"):
                        if nargs == 0:
                            v = fn()
                        else:
                            v = fn(
                                tuple(
                                    name_maps[i][row[c]]
                                    for i, c in enumerate(cols)
                                )
                            )
                        if isinstance(v, str):
                            vals.append(None)
                            strs.append(v)
                        elif v is None:
                            vals.append(None)
                            strs.append(None)
                        else:
                            vals.append(float(v))
                            strs.append(None)
                    pdf = pdf.copy()
                    pdf["value"] = vals
                    pdf["value_str"] = strs
                    yield pdf

            rows = grid.mapInPandas(run, schema=schema)
        elif isinstance(value, str):
            rows = grid.withColumn(
                "value", F.lit(None).cast(DoubleType())
            ).withColumn("value_str", F.lit(value))
        else:
            rows = grid.withColumn(
                "value", F.lit(float(value))
            ).withColumn("value_str", F.lit(None).cast(StringType()))
        inside = self.rows_df()
        remaining = cube._fact.exceptAll(inside)
        merged = remaining.unionByName(rows.select(*schema.fieldNames()))
        if used_callable:
            # snapshot: non-deterministic callables (random seeds) must not
            # re-evaluate on lineage recompute
            merged = merged.localCheckpoint(eager=True)
            cube._replace_fact(merged, persist=False)
        else:
            cube._replace_fact(merged)

    def _set_callable(self, fn) -> None:
        cube = self.cube
        if cube._history is not None:
            cube._history.capture(cube)
        cube._flush()
        inside = self.rows_df()
        outside = cube._fact.exceptAll(inside)
        # member id -> name maps per dim (small, shipped in the closure)
        name_maps = [
            {d.idx: d.name for d in dim._iter_defs()} for dim in cube.dimensions
        ]
        cols = cube._cols
        schema = inside.schema

        def run(batches):
            for pdf in batches:
                if len(pdf):
                    pdf = pdf.copy()
                    pdf["value"] = [
                        float(
                            fn(
                                tuple(
                                    name_maps[i][row[c]]
                                    for i, c in enumerate(cols)
                                )
                            )
                        )
                        for row in pdf.to_dict("records")
                    ]
                yield pdf

        changed = inside.mapInPandas(run, schema=schema)
        cube._replace_fact(outside.unionByName(changed))

    def __mul__(self, factor: float) -> AreaTransform:
        return AreaTransform(self, lambda c: c * F.lit(float(factor)))

    def __truediv__(self, factor: float) -> AreaTransform:
        return AreaTransform(self, lambda c: c / F.lit(float(factor)))

    def __add__(self, delta: float) -> AreaTransform:
        return AreaTransform(self, lambda c: c + F.lit(float(delta)))

    def __sub__(self, delta: float) -> AreaTransform:
        return AreaTransform(self, lambda c: c - F.lit(float(delta)))

    def assign_from(
        self, source: "Area | AreaTransform"
    ) -> None:
        """``cube.area("Plan","2023") = cube.area("Actual","2022") * 1.5``
        (reference ``area.py:72-78, 287-310, 693-743``).

        Source rows are re-pinned onto this area's single-member dimensions,
        the target area is cleared, and the transformed source is merged in.
        The source is materialized BEFORE the clear (reference
        ``_pinned_records``) so self-overlapping copies are safe.
        """
        if isinstance(source, AreaTransform):
            src_area, fn_col = source.area, source.fn_col
        else:
            src_area, fn_col = source, None
        cube = self.cube
        if src_area.cube is not cube:
            # cross-cube copy requires identical dimensionality
            if len(src_area.cube.dimensions) != len(cube.dimensions):
                raise InvalidAddressError(
                    "source and target area cubes are not compatible"
                )
        # compatibility: both areas must pin the same dim positions with one
        # member each where they differ (reference area.py:235-278)
        src_rows = src_area.rows_df()
        if fn_col is not None:
            src_rows = src_rows.withColumn("value", fn_col(F.col("value")))
        # re-pin: for every dim this area pins to a single member, overwrite
        for pos, idxs in self.filters.items():
            if len(idxs) != 1:
                raise InvalidAddressError(
                    "target area must pin dimensions to single members"
                )
            col = cube._cols[pos]
            src_rows = src_rows.withColumn(col, F.lit(int(idxs[0])))
        src_rows = src_rows.groupBy(*cube._cols).agg(
            F.sum("value").alias("value"),
            F.first("value_str").alias("value_str"),
        )
        # materialize source before clearing the target
        src_rows = src_rows.localCheckpoint(eager=True)
        if cube._history is not None:
            cube._history.capture(cube)
        cube._flush()
        inside = engine.area_rows(
            cube._fact, cube.spark, cube._dims_spec(), self._filter_cols()
        )
        remaining = cube._fact.exceptAll(inside)
        cube._replace_fact(remaining.unionByName(src_rows))
