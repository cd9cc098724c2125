"""Arithmetic-rule auto-compilation — the Catalyst expression tier.

The dominant real-world rule shapes (reference
``samples/enterprise_model/rules.py:1-36``, ``samples/tiny.py:137-144``)
are pure arithmetic over sibling members of ONE dimension, optionally
behind data-dependent guards::

    def sales_rule(c):                      # straight-line
        q, p = c["Quantity"], c["Price"]
        if q is not None and p is not None:
            return q * p

    def profit_pct(c):                      # truthiness-guarded branch
        sales, profit = c["Sales"], c["Profit"]
        if sales:
            return profit / sales
        return None

Neither needs Python at evaluation time.  This module:

1. **Traces** the rule driver-side with a symbolic cell whose reads
   return expression nodes and whose arithmetic operators build a tree.
   Data-dependent control flow — ``if x:`` (truthiness) and comparisons
   (``if x > 5:``) — is handled by CONCOLIC PATH ENUMERATION: each
   ``__bool__`` consults a path prescription, both outcomes are explored
   (bounded by ``_MAX_PATHS``/``_MAX_DECISIONS``), and the runs combine
   into a decision tree whose leaves are pure arithmetic expressions.
   Anything else (cube writes, attribute access, ``%``/``//``/``**``,
   ``float()``/``int()``/``hash()``) raises :class:`NotArithmetic` and
   the rule stays on the opaque ``mapInPandas`` tier.
2. **Verifies** the trace differentially: the Python body runs against a
   dict-backed cell over a sampled operand grid (two value profiles,
   large/negative profiles to flip comparisons, each operand ``None``,
   each operand ``0.0``, all-``None``, all-zero) and must agree — value
   AND spreadsheet error sentinel — with :func:`evaluate`, the numpy
   twin of the exact Catalyst columns that will be generated, under one
   of two null policies:

   - ``nullprop`` — guarded rules (``if q is not None``): any missing
     operand yields ``None``; with all operands present, division by
     zero yields ``#DIV/0!``;
   - ``nullerr`` — lazy-path rules: the taken path evaluates exactly as
     Python would — an operation or comparison on a missing operand
     raises ``TypeError`` → ``#ERR!`` (in evaluation order), truthiness
     of a missing operand is ``False`` (``bool(None)``), division by
     zero → ``#DIV/0!``; the untaken branch is never evaluated.

   Any disagreement rejects the compile; the opaque tier remains
   correct.  (The verifier also arbitrates which policy fits: bodies
   that read everything up front land on ``nullprop``; bodies whose
   branches read different members land on ``nullerr``.)
3. **Compiles** the verified decision tree to native Spark SQL columns
   (nested ``CASE WHEN`` over per-leaf expressions) over the per-cell
   ``{member_id: value}`` map the rule engine already builds — the whole
   rule batch then evaluates inside whole-stage codegen with no Python,
   no Arrow transfer, and no probe job.  A cube with a driver copy of
   its fact evaluates the same tree with :func:`evaluate` over operand
   columns taken from the copy.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Optional, Sequence

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

_ERR = "#ERR!"
_DIV0 = "#DIV/0!"

_BINOPS = ("add", "sub", "mul", "div")
_UNOPS = ("neg", "abs")
_CMPS = {"lt", "le", "gt", "ge", "eq", "ne"}

_MAX_PATHS = 64  # distinct control-flow paths explored per rule
_MAX_DECISIONS = 16  # bool calls per single run (guards while-loops)


class NotArithmetic(Exception):
    """The rule body is not a pure arithmetic expression over reads."""


class _VerifyEscape(Exception):
    """The body did something during verification a compiled plan cannot
    reproduce (cross-dimension read, write, attribute access)."""


# ---------------------------------------------------------------------------
# symbolic trace (concolic: bool outcomes prescribed per path)
# ---------------------------------------------------------------------------


class _TraceCtx:
    """One path's execution: prescribed outcomes for the first N bool
    calls, then default-``True``; every decision (node, outcome) is
    recorded so siblings can be enqueued."""

    __slots__ = ("prescription", "decisions")

    def __init__(self, prescription):
        self.prescription = list(prescription)
        self.decisions: list[tuple[tuple, bool]] = []

    def decide(self, bnode) -> bool:
        i = len(self.decisions)
        if i >= _MAX_DECISIONS:
            raise NotArithmetic("too many data-dependent branches")
        out = self.prescription[i] if i < len(self.prescription) else True
        self.decisions.append((bnode, out))
        return out


_active_ctx: list[_TraceCtx] = []  # tracer runs driver-side, not re-entrant


def _decide(bnode) -> bool:
    if not _active_ctx:
        raise NotArithmetic("bool() outside trace")
    return _active_ctx[-1].decide(bnode)


class _TraceBool:
    """Symbolic boolean (comparison result): forks the trace when the
    body branches on it."""

    __slots__ = ("node",)

    def __init__(self, node):
        self.node = node

    def __bool__(self):
        return _decide(self.node)

    def __hash__(self):
        raise NotArithmetic("hash() on comparison")


class _TraceVal:
    """Symbolic operand: arithmetic builds a tree, truthiness/comparisons
    fork the path, everything else raises."""

    __slots__ = ("node",)

    def __init__(self, node):
        self.node = node

    # -- supported arithmetic ------------------------------------------------
    def _bin(self, op, other, swap=False):
        if isinstance(other, _TraceVal):
            o = other.node
        elif isinstance(other, bool) or not isinstance(other, (int, float)):
            raise NotArithmetic(f"operand {type(other).__name__}")
        else:
            o = ("const", float(other))
        l, r = (o, self.node) if swap else (self.node, o)
        return _TraceVal((op, l, r))

    def __add__(self, other):
        return self._bin("add", other)

    def __radd__(self, other):
        return self._bin("add", other, swap=True)

    def __sub__(self, other):
        return self._bin("sub", other)

    def __rsub__(self, other):
        return self._bin("sub", other, swap=True)

    def __mul__(self, other):
        return self._bin("mul", other)

    def __rmul__(self, other):
        return self._bin("mul", other, swap=True)

    def __truediv__(self, other):
        return self._bin("div", other)

    def __rtruediv__(self, other):
        return self._bin("div", other, swap=True)

    def __neg__(self):
        return _TraceVal(("neg", self.node))

    def __pos__(self):
        return self

    def __abs__(self):
        return _TraceVal(("abs", self.node))

    # -- data-dependent control flow: fork the trace -------------------------
    def __bool__(self):
        return _decide(("truthy", self.node))

    def _cmp(self, op, other, swap=False):
        if isinstance(other, _TraceVal):
            o = other.node
        elif isinstance(other, bool) or not isinstance(other, (int, float)):
            raise NotArithmetic(f"comparison with {type(other).__name__}")
        else:
            o = ("const", float(other))
        l, r = (o, self.node) if swap else (self.node, o)
        return _TraceBool(("cmp", op, l, r))

    def __eq__(self, other):  # noqa: PLE0302
        return self._cmp("eq", other)

    def __ne__(self, other):
        return self._cmp("ne", other)

    def __lt__(self, other):
        return self._cmp("lt", other)

    def __le__(self, other):
        return self._cmp("le", other)

    def __gt__(self, other):
        return self._cmp("gt", other)

    def __ge__(self, other):
        return self._cmp("ge", other)

    # -- everything else is not compilable -----------------------------------
    def _na(self, what):
        raise NotArithmetic(what)

    def __float__(self):
        self._na("float()")

    def __int__(self):
        self._na("int()")

    def __mod__(self, other):
        self._na("%")

    def __rmod__(self, other):
        self._na("%")

    def __floordiv__(self, other):
        self._na("//")

    def __rfloordiv__(self, other):
        self._na("//")

    def __pow__(self, other):
        self._na("**")

    def __rpow__(self, other):
        self._na("**")

    def __hash__(self):
        self._na("hash()")


def _resolve_on_dim(cube, p, modifiers) -> int:
    """Mirror ``Cell._resolve_modifier`` / ``_SliceCell._resolve``: resolve
    each modifier; every one must land on dimension ``p`` (single-dimension
    eligibility); the LAST one wins.  Raises KeyError for unknown members
    and :class:`_VerifyEscape` for cross-dimension reads."""
    if isinstance(modifiers, str):
        modifiers = (modifiers,)
    midx: Optional[int] = None
    for mod in modifiers:
        mod = str(mod)
        pos = None
        if ":" in mod:
            dpart, mname = mod.split(":", 1)
            dpart, mname = dpart.strip(), mname.strip()
            if dpart.isdigit():
                pos = int(dpart)
                if pos >= len(cube.dimensions):
                    raise KeyError(f"dimension ordinal {pos} out of range")
            else:
                pos = cube._dim_position(dpart)
            m = cube.dimensions[pos].member(mname).index
        else:
            m = None
            for dpos, dim in enumerate(cube.dimensions):
                if mod in dim:
                    pos, m = dpos, dim.member(mod).index
                    break
            if m is None:
                raise KeyError(f"member '{mod}' not found in any dimension")
        if pos != p:
            raise _VerifyEscape(f"read on dimension {pos} != {p}")
        midx = m
    if midx is None:
        raise _VerifyEscape("empty modifier tuple")
    return midx


class _TraceCell:
    """Symbolic cursor handed to the rule during the trace."""

    __slots__ = ("_cube", "_p", "_trigger_midx", "_reads")

    def __init__(self, cube, p, trigger_midx, reads):
        object.__setattr__(self, "_cube", cube)
        object.__setattr__(self, "_p", p)
        object.__setattr__(self, "_trigger_midx", trigger_midx)
        object.__setattr__(self, "_reads", reads)

    def _read(self, midx) -> _TraceVal:
        self._reads.append(int(midx))
        return _TraceVal(("read", int(midx)))

    @property
    def value(self):
        return self._read(self._trigger_midx)

    def __getitem__(self, modifiers):
        try:
            midx = _resolve_on_dim(self._cube, self._p, modifiers)
        except _VerifyEscape as exc:
            raise NotArithmetic(str(exc)) from exc
        return self._read(midx)

    def __setitem__(self, modifiers, value):
        raise NotArithmetic("write from rule body")

    def __getattr__(self, name):
        raise NotArithmetic(f"attribute access .{name}")


class _DictCell:
    """Concrete cursor over a plain ``{member_id: value}`` dict — the
    verification twin of ``_SliceCell`` (cube.py), driver-side."""

    __slots__ = ("_cube", "_p", "_trigger_midx", "_vals")

    def __init__(self, cube, p, trigger_midx, vals):
        object.__setattr__(self, "_cube", cube)
        object.__setattr__(self, "_p", p)
        object.__setattr__(self, "_trigger_midx", trigger_midx)
        object.__setattr__(self, "_vals", vals)

    @property
    def value(self):
        return self._vals.get(self._trigger_midx)

    def __getitem__(self, modifiers):
        midx = _resolve_on_dim(self._cube, self._p, modifiers)
        return self._vals.get(midx)

    def __setitem__(self, modifiers, value):
        raise _VerifyEscape("write from rule body")

    def __getattr__(self, name):
        raise _VerifyEscape(f"attribute access .{name}")


def _tree_reads(node, acc: list) -> None:
    kind = node[0]
    if kind == "read":
        acc.append(node[1])
    elif kind == "if":
        for b in (node[1], node[2], node[3]):
            _tree_reads(b, acc)
    elif kind == "truthy":
        _tree_reads(node[1], acc)
    elif kind == "cmp":
        _tree_reads(node[2], acc)
        _tree_reads(node[3], acc)
    elif kind in _UNOPS:
        _tree_reads(node[1], acc)
    elif kind in _BINOPS:
        _tree_reads(node[1], acc)
        _tree_reads(node[2], acc)


# ---------------------------------------------------------------------------
# numpy evaluation of the generated columns
# ---------------------------------------------------------------------------
#
# Node for node the numpy twin of the Catalyst build below.  It is the
# oracle ``_verify`` checks the Python body against, and the evaluator of
# the cube's local rule tier.  Every node yields ``(value, null, err)``
# arrays: float64 values, a null mask and int8 codes into :data:`ERRORS`
# (0: no error).  Errors short-circuit in Python evaluation order, the
# ``coalesce`` order the Catalyst build emits, and an erring row's value
# is null.


@dataclass(frozen=True)
class ArithPlan:
    tree: tuple
    reads: tuple  # distinct member ids, in first-read order
    policy: str  # "nullprop" | "nullerr"


#: error code -> spreadsheet sentinel
ERRORS = (None, _DIV0, _ERR)
_DIV0_CODE, _ERR_CODE = 1, 2

_NP_CMP = {
    "lt": np.less, "le": np.less_equal, "gt": np.greater,
    "ge": np.greater_equal, "eq": np.equal, "ne": np.not_equal,
}


def _first_err(*errs) -> np.ndarray:
    """``coalesce`` of error-code arrays: the first non-zero code."""
    out = np.asarray(errs[-1], dtype=np.int8)
    for e in reversed(errs[:-1]):
        out = np.where(e != 0, e, out).astype(np.int8)
    return out


def _np_leaf(node, operand, n, nullerr):
    kind = node[0]
    if kind == "read":
        v, null = operand(node[1])
        return v, null, np.zeros(n, np.int8)
    if kind == "const":
        return np.full(n, float(node[1])), np.zeros(n, bool), np.zeros(n, np.int8)
    if kind == "none":
        return np.zeros(n), np.ones(n, bool), np.zeros(n, np.int8)
    if kind in _UNOPS:
        v, null, e = _np_leaf(node[1], operand, n, nullerr)
        if nullerr:
            e = _first_err(e, np.where(null, _ERR_CODE, 0))
        out = -v if kind == "neg" else np.abs(v)
        return out, null | (e != 0), e
    l, lnull, le = _np_leaf(node[1], operand, n, nullerr)
    r, rnull, re_ = _np_leaf(node[2], operand, n, nullerr)
    anynull = lnull | rnull
    zero = ~rnull & (r == 0)
    op = np.zeros(n, np.int8)
    if kind == "div":
        op = np.where(zero, _DIV0_CODE, op)
    if nullerr:
        op = np.where(anynull, _ERR_CODE, op)
    e = _first_err(le, re_, op)
    with np.errstate(all="ignore"):
        if kind == "add":
            out = l + r
        elif kind == "sub":
            out = l - r
        elif kind == "mul":
            out = l * r
        else:
            out = l / np.where(zero, 1.0, r)
    null = anynull | (e != 0)
    if kind == "div":
        null |= zero
    return out, null, e


def _np_cond(bnode, operand, n, nullerr):
    """Bool node -> ``(condition, err)``; a null operand is False."""
    if bnode[0] == "truthy":
        v, null, e = _np_leaf(bnode[1], operand, n, nullerr)
        # bool(None) is False, bool(0.0) is False, bool(nan) is True
        return ~null & (v != 0), e
    _, op, ln, rn = bnode
    l, lnull, le = _np_leaf(ln, operand, n, nullerr)
    r, rnull, re_ = _np_leaf(rn, operand, n, nullerr)
    anynull = lnull | rnull
    # Python: comparison with None raises TypeError -> #ERR! (nullprop
    # never gets here with a null: the any-null guard fired already)
    cmp_err = np.where(anynull & nullerr, _ERR_CODE, 0)
    with np.errstate(invalid="ignore"):
        # numpy compares NaN as Python does: False except !=
        raw = _NP_CMP[op](l, r)
    return raw & ~anynull, _first_err(le, re_, cmp_err)


def _np_tree(node, operand, n, nullerr):
    if node[0] != "if":
        return _np_leaf(node, operand, n, nullerr)
    cond, ce = _np_cond(node[1], operand, n, nullerr)
    tv, tnull, te = _np_tree(node[2], operand, n, nullerr)
    ev, enull, ee = _np_tree(node[3], operand, n, nullerr)
    e = _first_err(ce, np.where(cond, te, ee))
    return np.where(cond, tv, ev), np.where(cond, tnull, enull) | (e != 0), e


def evaluate(
    plan: ArithPlan, operand, n: int
) -> "tuple[np.ndarray, np.ndarray, np.ndarray]":
    """Evaluate ``plan`` at ``n`` points, as the columns of
    :func:`to_columns` evaluate row by row.  ``operand(m)`` returns
    ``(values, null)``, the float64 values and null mask of member ``m``
    at every point.  Returns ``(value, null, err)``: err codes index
    :data:`ERRORS`, and a point that errs is null."""
    v, null, e = _np_tree(plan.tree, operand, n, plan.policy == "nullerr")
    if plan.policy == "nullprop" and plan.reads:
        anynull = np.logical_or.reduce([operand(m)[1] for m in plan.reads])
        null = null | anynull
        e = np.where(anynull, 0, e).astype(np.int8)
    return v, null, e


def evaluate_dicts(
    plan: ArithPlan, points: "Sequence[dict]"
) -> "list[tuple[Optional[float], Optional[str]]]":
    """:func:`evaluate` over ``{member_id: value}`` dicts (a missing or
    non-numeric value is null); ``(value, err)`` per point, at most one
    of them non-None."""
    cols = {}
    for m in plan.reads:
        raw = [p.get(m) for p in points]
        null = np.array([not isinstance(x, (int, float)) for x in raw], bool)
        cols[m] = (
            np.array([0.0 if nl else float(x) for x, nl in zip(raw, null)]),
            null,
        )
    v, null, e = evaluate(plan, cols.__getitem__, len(points))
    return [
        (None if nl else x, ERRORS[c])
        for x, nl, c in zip(v.tolist(), null.tolist(), e.tolist())
    ]


# ---------------------------------------------------------------------------
# catalyst compilation
# ---------------------------------------------------------------------------


def _null_str() -> Column:
    return F.lit(None).cast("string")


def _build_leaf(node, read_col, policy) -> tuple[Column, Column]:
    """Leaf arithmetic → (value, err) Columns, error order = Python
    evaluation order via ``coalesce``."""
    kind = node[0]
    if kind == "read":
        return read_col(node[1]), _null_str()
    if kind == "const":
        return F.lit(float(node[1])), _null_str()
    if kind == "none":
        return F.lit(None).cast("double"), _null_str()
    nullerr = policy == "nullerr"
    if kind in _UNOPS:
        v, e = _build_leaf(node[1], read_col, policy)
        op_err = F.when(v.isNull(), F.lit(_ERR)) if nullerr else _null_str()
        err = F.coalesce(e, op_err)
        out = -v if kind == "neg" else F.abs(v)
        return F.when(err.isNull(), out), err
    l, le = _build_leaf(node[1], read_col, policy)
    r, re_ = _build_leaf(node[2], read_col, policy)
    if kind == "div":
        op_err = (
            F.when(l.isNull() | r.isNull(), F.lit(_ERR)).when(
                r == 0, F.lit(_DIV0)
            )
            if nullerr
            else F.when(r == 0, F.lit(_DIV0))
        )
    elif nullerr:
        op_err = F.when(l.isNull() | r.isNull(), F.lit(_ERR))
    else:
        op_err = _null_str()
    err = F.coalesce(le, re_, op_err)
    if kind == "add":
        out = l + r
    elif kind == "sub":
        out = l - r
    elif kind == "mul":
        out = l * r
    else:
        # mask zero denominator: err carries the sentinel, Spark double
        # division would otherwise yield Inf/NaN
        out = F.when(r != 0, l / r)
    return F.when(err.isNull(), out), err


def _build_cond(bnode, read_col, policy) -> tuple[Column, Column]:
    """Bool node → (condition, err) Columns."""
    if bnode[0] == "truthy":
        v, e = _build_leaf(bnode[1], read_col, policy)
        # bool(None) is False, bool(0.0) is False
        return v.isNotNull() & (v != 0), e
    _, op, ln, rn = bnode
    l, le = _build_leaf(ln, read_col, policy)
    r, re_ = _build_leaf(rn, read_col, policy)
    cmp_err = (
        F.when(l.isNull() | r.isNull(), F.lit(_ERR))
        if policy == "nullerr"
        else _null_str()
    )
    err = F.coalesce(le, re_, cmp_err)
    raw = {
        "lt": l < r,
        "le": l <= r,
        "gt": l > r,
        "ge": l >= r,
        "eq": l == r,
        "ne": l != r,
    }[op]
    # Spark orders NaN greatest and NaN = NaN true; Python IEEE
    # comparisons with NaN are always False except `!=` — pin the
    # Python semantics (isnan(NULL) is NULL, so the when falls through
    # for missing operands and the err column governs)
    col = F.when(
        F.isnan(l) | F.isnan(r), F.lit(op == "ne")
    ).otherwise(raw)
    # null comparisons yield NULL in SQL; coerce to False (the err
    # column carries the sentinel under nullerr; under nullprop the
    # any-null top guard already fired)
    return F.coalesce(col, F.lit(False)), err


def _build_tree_cols(node, read_col, policy) -> tuple[Column, Column]:
    if node[0] != "if":
        return _build_leaf(node, read_col, policy)
    cond, cerr = _build_cond(node[1], read_col, policy)
    tv, te = _build_tree_cols(node[2], read_col, policy)
    ev, ee = _build_tree_cols(node[3], read_col, policy)
    err = F.coalesce(cerr, F.when(cond, te).otherwise(ee))
    val = F.when(err.isNull(), F.when(cond, tv).otherwise(ev))
    return val, err


def to_columns(plan: ArithPlan, read_col) -> tuple[Column, Column]:
    """Compile the plan to ``(value, err)`` Columns.  ``read_col`` maps a
    member id to the Column carrying that operand's value for the current
    evaluation point (NULL = missing cell) — e.g. a conditional-aggregate
    column or ``element_at`` over a per-cell map.  Pure built-in
    functions — the rule batch stays inside whole-stage codegen."""
    value, err = _build_tree_cols(plan.tree, read_col, plan.policy)
    if plan.policy == "nullprop":
        anynull = (
            F.lit(False)
            if not plan.reads
            else F.array_contains(
                F.array(*[read_col(m).isNull() for m in plan.reads]), True
            )
        )
        err = F.when(~anynull, err)
        value = F.when(~anynull, value)
    return value.cast("double"), err


# ---------------------------------------------------------------------------
# trace + verify + cache
# ---------------------------------------------------------------------------

_SAMPLE_A = (3.0, 5.0, 7.0, 11.0, 13.0, 17.0, 19.0, 23.0, 29.0, 31.0)
_SAMPLE_B = (2.5, -4.0, 9.5, 0.5, -1.25, 6.0, 8.75, -3.5, 12.0, 0.25)
# large / negative profiles flip typical comparison guards
_SAMPLE_C = (1500.0, 2750.5, 990.0, 10400.0, 515.25, 8000.0, 1250.0,
             3333.5, 60000.0, 775.0)
_SAMPLE_D = (-0.5, -120.0, -7.25, -0.001, -55.5, -9000.0, -2.0, -0.75,
             -31.0, -610.5)


def _normalize_expected(cube, rdef, p, trigger_midx, vals):
    """Run the Python body over a dict-backed cell, normalized exactly as
    the opaque executor tier normalizes results (cube.py ``run``)."""
    from .rules import CONTINUE, map_rule_error

    try:
        v = rdef.function(_DictCell(cube, p, trigger_midx, vals))
    except _VerifyEscape:
        return "reject"
    except Exception as exc:  # noqa: BLE001 — sentinel mapping is the contract
        return None, map_rule_error(exc)
    if v is CONTINUE:
        return "reject"
    if isinstance(v, bool):
        return "reject"
    if v is None:
        return None, None
    if isinstance(v, (int, float)):
        return float(v), None
    return "reject"


def _values_agree(a: Optional[float], b: Optional[float]) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)


def _verify(cube, rdef, p, trigger_midx, plan: ArithPlan) -> bool:
    import itertools
    import random as _random

    reads = plan.reads

    def _profile(vals_tuple):
        # cycle: rules may read MORE operands than the profile length —
        # zip alone would silently drop them and base[m] lookups KeyError
        return {
            m: vals_tuple[i % len(vals_tuple)] for i, m in enumerate(reads)
        }

    samples: list[dict] = [
        _profile(_SAMPLE_A),
        _profile(_SAMPLE_B),
        _profile(_SAMPLE_C),
        _profile(_SAMPLE_D),
        # NaN profile: Python comparison semantics around NaN (always
        # False except !=) differ from Spark's NaN ordering; the
        # compiled columns carry an explicit isnan guard and this
        # profile keeps them honest
        {m: float("nan") for m in reads},
    ]
    base = samples[0]
    for m in reads:
        for repl in (None, 0.0):
            s = dict(base)
            s[m] = repl
            samples.append(s)
            s2 = dict(samples[2])  # large profile: other guards pass
            s2[m] = repl
            samples.append(s2)
    # MIXED degenerate combos: a falsy guard can dodge a missing read in
    # a branchy tree, so one-at-a-time substitution is not enough —
    # cover the full {value, 0.0, None} cartesian when small, else a
    # seeded random subset
    if reads:
        if 3 ** len(reads) <= 243:
            for combo in itertools.product((0, 1, 2), repeat=len(reads)):
                s = {
                    m: (base[m], 0.0, None)[c]
                    for m, c in zip(reads, combo)
                }
                samples.append(s)
        else:
            rng = _random.Random(0xA717)
            for _ in range(200):
                samples.append(
                    {
                        m: rng.choice((base[m], -base[m], 0.0, None))
                        for m in reads
                    }
                )
    samples.append({m: None for m in reads})
    samples.append({m: 0.0 for m in reads})
    for vals, got in zip(samples, evaluate_dicts(plan, samples)):
        expected = _normalize_expected(cube, rdef, p, trigger_midx, vals)
        if expected == "reject":
            return False
        if expected[1] != got[1] or not _values_agree(expected[0], got[0]):
            return False
    return True


def _leafify(out):
    """A path's return value → a leaf node, or None if not compilable."""
    if isinstance(out, _TraceVal):
        return out.node
    if out is None:
        return ("none",)
    if isinstance(out, (int, float)) and not isinstance(out, bool):
        return ("const", float(out))
    return None


def _trace_paths(cube, rdef, p, trigger_midx):
    """Concolic enumeration: run the body once per control-flow path.
    Returns ``[(decisions, leaf)]`` or None (not compilable)."""
    paths: list[tuple[list, tuple]] = []
    pending: list[tuple[bool, ...]] = [()]
    seen: set[tuple[bool, ...]] = set()
    while pending:
        pres = pending.pop()
        if pres in seen:
            continue
        seen.add(pres)
        if len(paths) >= _MAX_PATHS:
            return None  # too branchy: opaque tier
        ctx = _TraceCtx(pres)
        reads: list[int] = []
        _active_ctx.append(ctx)
        try:
            out = rdef.function(_TraceCell(cube, p, trigger_midx, reads))
        except Exception:  # noqa: BLE001 — NotArithmetic or body error
            return None
        finally:
            _active_ctx.pop()
        leaf = _leafify(out)
        if leaf is None:
            return None
        paths.append((ctx.decisions, leaf))
        # explore the sibling of every decision made past the prescription
        for i in range(len(pres), len(ctx.decisions)):
            flipped = tuple(o for _, o in ctx.decisions[:i]) + (
                not ctx.decisions[i][1],
            )
            pending.append(flipped)
    return paths


def _decision_tree(paths):
    """Merge per-path traces into one decision tree.  All paths sharing a
    prefix must branch on the SAME bool node at the same depth
    (deterministic bodies do); otherwise reject."""
    no_more = [leaf for decs, leaf in paths if not decs]
    if no_more:
        if len(paths) != 1:
            return None  # nondeterministic: some paths decided, one didn't
        return no_more[0]
    bnode = paths[0][0][0][0]
    t_paths, f_paths = [], []
    for decs, leaf in paths:
        if decs[0][0] != bnode:
            return None
        (t_paths if decs[0][1] else f_paths).append((decs[1:], leaf))
    if not t_paths or not f_paths:
        return None  # sibling unexplored (path cap) — be safe
    t = _decision_tree(t_paths)
    f = _decision_tree(f_paths)
    if t is None or f is None:
        return None
    return ("if", bnode, t, f)


def _try_compile(cube, rdef, p, trigger_midx) -> Optional[ArithPlan]:
    paths = _trace_paths(cube, rdef, p, trigger_midx)
    if not paths:
        return None
    tree = _decision_tree(paths)
    if tree is None:
        return None
    reads: list[int] = []
    _tree_reads(tree, reads)
    distinct = tuple(dict.fromkeys(reads))
    for policy in ("nullprop", "nullerr"):
        plan = ArithPlan(tree=tree, reads=distinct, policy=policy)
        if _verify(cube, rdef, p, trigger_midx, plan):
            return plan
    return None


def compile_rule_plan(cube, rdef, p, trigger_midx) -> Optional[ArithPlan]:
    """Cached entry point: trace + verify + compile a rule, or ``None``
    (opaque tier).  The cache key pins the cube, trigger position and the
    dimension version, so dimension edits recompile."""
    key = (
        id(cube),
        int(p),
        int(trigger_midx),
        cube.dimensions[p].version,
    )
    cached = getattr(rdef, "_arith_plan", None)
    if cached is not None and cached[0] == key:
        return cached[1]
    plan = _try_compile(cube, rdef, p, trigger_midx)
    rdef._arith_plan = (key, plan)
    return plan
