"""Driver-resident columnar copy of a small fact — the local read tier.

A Spark job costs tens of milliseconds before it reads a row, so a point
read or a batch of drilled reads over a fact of ~10^5 cells spends nearly
all its time in Spark's fixed cost.  For a fact of at most
:data:`CELL_LIMIT` cells the cube keeps one :class:`LocalFact`: the
fact collected once over Arrow into numpy columns, from which base and
aggregated cell reads are answered without a Spark job.

Layout (all arrays ordered by ``codes``):

- ``ids``: int32 member ids, shape ``(n_dims, n)`` — row ``i`` is the fact
  column of dimension ``i``;
- ``values``: float64 numeric values, ``0.0`` where the value is null, and
  ``null``: the null mask;
- ``strs``: address code -> ``value_str`` for the (few) string cells;
- ``codes``: sorted int64 mixed-radix address codes
  ``sum(ids[i] * strides[i])``, so a base lookup is one ``np.searchsorted``.

Aggregates roll up with per-dimension closure weights taken from
``Dimension.closure_rows`` and keep the engine's semantics: a cell with no
fact row under it is ``None``; one whose rows hold no number (string cells
only) is ``0.0``.

A copy mirrors exactly one fact DataFrame object (``fact``).  The cube
swaps its fact on every write; cell writes hand their rows to
:meth:`LocalFact.patched`, which returns a NEW copy (copy-on-write, one
O(cells) memcpy) for the new fact object, so a reader holding the old copy
never sees half a write.  Any other swap leaves the copy behind, and the
next read rebuilds it.
"""

from __future__ import annotations

from typing import Any, Optional, Sequence

import numpy as np
from pyspark.sql import DataFrame

from .metadata import Dimension

#: The cube copies a fact of at most this many cells to the driver: the
#: largest size in the crossover table of ``scripts/local_tier_crossover.py``
#: (ARCHITECTURE §5, "Read tiers"), where every request shape it times is
#: still >= 4x faster from the copy than from Spark and the build raises
#: the driver's peak RSS by ~0.6 GB (~200 B/cell).
CELL_LIMIT = 3_000_000

_MAX_CODE = 2**62  # address codes and rollup keys must stay inside int64


def eligible(dims: Sequence[Dimension]) -> bool:
    """Can a fact over ``dims`` be copied at all?  A ``large_dim``
    dimension's closure is too big for the driver walk, so its cubes keep
    reads on Spark."""
    return not any(getattr(d, "large_dim", False) for d in dims)


class _Closure:
    """One dimension version's closure rows grouped by ancestor."""

    __slots__ = ("anc", "members", "weights", "bounds")

    def __init__(self, dim: Dimension):
        rows = np.asarray(dim.closure_rows, dtype=np.float64).reshape(-1, 3)
        order = np.argsort(rows[:, 1], kind="stable")
        rows = rows[order]
        self.members = rows[:, 0].astype(np.int64)
        self.weights = rows[:, 2].copy()
        anc = rows[:, 1].astype(np.int64)
        self.anc, first = np.unique(anc, return_index=True)
        self.bounds = np.append(first, len(anc))

    def pairs(
        self, ancestors: Sequence[int], radix: int
    ) -> "tuple[np.ndarray, np.ndarray, np.ndarray]":
        """``(member, slot, weight)`` for every member under
        ``ancestors[slot]`` with an id below ``radix``, sorted by member."""
        ms, ss, ws = [], [], []
        for slot, a in enumerate(ancestors):
            k = int(np.searchsorted(self.anc, a))
            if k == len(self.anc) or self.anc[k] != a:
                continue
            lo, hi = self.bounds[k], self.bounds[k + 1]
            ms.append(self.members[lo:hi])
            ss.append(np.full(hi - lo, slot, dtype=np.int64))
            ws.append(self.weights[lo:hi])
        if not ms:
            empty = np.empty(0, dtype=np.int64)
            return empty, empty, np.empty(0)
        m, s, w = np.concatenate(ms), np.concatenate(ss), np.concatenate(ws)
        keep = m < radix
        order = np.argsort(m[keep], kind="stable")
        return m[keep][order], s[keep][order], w[keep][order]


class LocalFact:
    """See module docstring.  The arrays are never written after a build
    or patch; ``closures`` caches :class:`_Closure` tables by dimension
    version and is shared with the patched copies."""

    __slots__ = (
        "fact", "radix", "strides", "codes", "ids", "values", "null", "strs",
        "closures",
    )

    @classmethod
    def build(
        cls, fact: DataFrame, cols: Sequence[str], dims: Sequence[Dimension]
    ) -> "Optional[LocalFact]":
        """Collect ``fact`` (one Arrow job); ``None`` when it holds a null
        or negative member id, or its id space does not fit a 62-bit
        address code."""
        table = fact.select(*cols, "value", "value_str").toArrow()
        ids = []
        for c in cols:
            col = table.column(c)
            if col.null_count:
                return None
            ids.append(col.to_numpy().astype(np.int32, copy=False))
        value = table.column("value")
        null = value.is_null().to_numpy(zero_copy_only=False)
        values = value.fill_null(0.0).to_numpy()
        sval = table.column("value_str")
        str_rows = np.flatnonzero(
            sval.is_valid().to_numpy(zero_copy_only=False)
        )
        strings = sval.take(str_rows).to_pylist() if len(str_rows) else []
        del table
        radix = []
        for col, d in zip(ids, dims):
            if len(col) and int(col.min()) < 0:
                return None
            top = int(col.max()) + 1 if len(col) else 0
            radix.append(max(1, d._next_idx, top))
        strides, span = [], 1
        for r in reversed(radix):
            strides.append(span)
            span *= r
        if span >= _MAX_CODE:
            return None
        self = cls()
        self.fact = fact
        self.radix = np.asarray(radix, dtype=np.int64)
        self.strides = np.asarray(strides[::-1], dtype=np.int64)
        id_arr = np.vstack(ids)
        codes = self._encode(id_arr.T)
        order = np.argsort(codes, kind="stable")
        self.codes = codes[order]
        self.ids = np.ascontiguousarray(id_arr[:, order])
        self.values = values[order]
        self.null = null[order]
        self.strs = dict(zip(codes[str_rows].tolist(), strings))
        self.closures = {}
        return self

    # ----------------------------------------------------------- encoding
    def _encode(self, addrs: np.ndarray) -> np.ndarray:
        """int64 codes of an ``(k, n_dims)`` id array (ids in range)."""
        return (addrs.astype(np.int64) * self.strides).sum(axis=1)

    def _codes_of(
        self, addresses: "Sequence[Sequence[int]]"
    ) -> "tuple[np.ndarray, np.ndarray]":
        """``(codes, in_range)`` of request addresses; an address with an
        id outside the copy's radix cannot be stored, so it is a miss."""
        q = np.asarray(addresses, dtype=np.int64).reshape(
            len(addresses), len(self.radix)
        )
        ok = ((q >= 0) & (q < self.radix)).all(axis=1)
        return self._encode(np.where(ok[:, None], q, 0)), ok

    # --------------------------------------------------------------- reads
    def base(self, addresses: "dict[int, Sequence[int]]") -> "dict[int, Any]":
        """Exact base cells by request id: float, str or ``None`` — the
        results :func:`engine.base_lookup` returns."""
        if not addresses:
            return {}
        qc, ok = self._codes_of(list(addresses.values()))
        n = len(self.codes)
        pos = np.minimum(np.searchsorted(self.codes, qc), max(n - 1, 0))
        hit = ok & (self.codes[pos] == qc) if n else np.zeros(len(qc), bool)
        out: dict[int, Any] = {}
        for rid, h, p, c in zip(
            addresses, hit.tolist(), pos.tolist(), qc.tolist()
        ):
            if not h:
                out[rid] = None
            elif not self.null[p]:
                out[rid] = float(self.values[p])
            else:
                out[rid] = self.strs.get(c)
        return out

    def aggregate(
        self,
        dims: Sequence[Dimension],
        addresses: "dict[int, Sequence[int]]",
    ) -> "dict[int, Optional[float]]":
        """Aggregated cells by request id — the results
        :func:`engine.aggregate_cells` returns.  Requests are grouped by
        the dimensions they constrain (all-covering weight-1 tops
        constrain nothing); each group is one pass over the rows."""
        groups: dict[tuple[int, ...], dict[int, Sequence[int]]] = {}
        for rid, addr in addresses.items():
            sig = tuple(
                i for i, a in enumerate(addr)
                if int(a) not in dims[i]._trivial_tops
            )
            groups.setdefault(sig, {})[rid] = addr
        out: dict[int, Optional[float]] = {}
        for sig, reqs in groups.items():
            out.update(self._rollup(dims, sig, reqs))
        return out

    def _closure(self, dim: Dimension) -> _Closure:
        key = (dim.uid, dim.version)
        c = self.closures.get(key)
        if c is None:
            c = self.closures[key] = _Closure(dim)
        return c

    def _rollup(
        self,
        dims: Sequence[Dimension],
        sig: Sequence[int],
        reqs: "dict[int, Sequence[int]]",
    ) -> "dict[int, Optional[float]]":
        """Requests constraining exactly the dimensions ``sig``.  Every
        fact row fans out to each requested ancestor it sits under (one
        pair per (row, ancestor), weight multiplied in), keyed by the
        mixed-radix slot tuple of those ancestors; the keys are then
        matched against the requested keys and summed."""
        steps = []
        span = 1
        for i in sig:
            anc = sorted({int(a[i]) for a in reqs.values()})
            pairs = self._closure(dims[i]).pairs(anc, int(self.radix[i]))
            steps.append((i, anc, pairs))
            span *= len(anc)
        if span >= _MAX_CODE and len(reqs) > 1:
            out: dict[int, Optional[float]] = {}
            for rid, addr in reqs.items():
                out.update(self._rollup(dims, sig, {rid: addr}))
            return out
        # most selective dimension first: later steps see fewer rows
        steps.sort(key=lambda st: len(st[2][0]))
        rows = None  # fact row of each pair so far (None = every row)
        key = np.zeros(len(self.codes), dtype=np.int64)
        weight = None
        for i, anc, (m, slot, w) in steps:
            radix = int(self.radix[i])
            col = self.ids[i] if rows is None else self.ids[i][rows]
            deg = np.bincount(m, minlength=radix)
            if len(m) and deg.max() > 1:
                # a member under several requested ancestors: one pair
                # per (row, ancestor)
                cnt = deg[col]
                src = np.repeat(np.arange(len(col)), cnt)
                first = np.repeat(np.cumsum(cnt) - cnt, cnt)
                at = np.repeat((np.cumsum(deg) - deg)[col], cnt)
                at += np.arange(len(src)) - first
                slot_at, w_at = slot[at], w[at]
            else:
                slot_of = np.full(radix, -1, dtype=np.int64)
                slot_of[m] = slot
                w_of = np.zeros(radix)
                w_of[m] = w
                s_col = slot_of[col]
                src = np.flatnonzero(s_col >= 0)
                slot_at, w_at = s_col[src], w_of[col[src]]
            rows = src if rows is None else rows[src]
            key = key[src] * len(anc) + slot_at
            weight = w_at if weight is None else weight[src] * w_at
        vals = self.values if rows is None else self.values[rows]
        if weight is not None:
            vals = vals * weight
        req_keys = []
        for addr in reqs.values():
            k = 0
            for i, anc, _ in steps:
                k = k * len(anc) + anc.index(int(addr[i]))
            req_keys.append(k)
        uniq, which = np.unique(
            np.asarray(req_keys, dtype=np.int64), return_inverse=True
        )
        pos = np.minimum(np.searchsorted(uniq, key), len(uniq) - 1)
        hit = uniq[pos] == key
        sums = np.bincount(pos[hit], weights=vals[hit], minlength=len(uniq))
        counts = np.bincount(pos[hit], minlength=len(uniq))
        return {
            rid: float(sums[j]) if counts[j] else None
            for rid, j in zip(reqs, which.tolist())
        }

    # -------------------------------------------------------------- writes
    def patched(
        self, fact: DataFrame, rows: "Sequence[tuple]"
    ) -> "Optional[LocalFact]":
        """A new copy mirroring ``fact`` = this copy's fact with ``rows``
        merged in the way ``Cube._flush`` / ``write_rows`` merge them:
        every stored row at a written address is dropped, then each row
        ``(*ids, value, value_str)`` with a value or a string is inserted.
        ``None`` when a written id falls outside the copy's radix (a
        member added since the build): the next read rebuilds."""
        new = LocalFact()
        new.fact = fact
        new.radix, new.strides, new.closures = (
            self.radix, self.strides, self.closures
        )
        if not rows:
            new.codes, new.ids, new.values, new.null, new.strs = (
                self.codes, self.ids, self.values, self.null, self.strs
            )
            return new
        nd = len(self.radix)
        wc, ok = self._codes_of([r[:nd] for r in rows])
        if not ok.all():
            return None
        # drop every stored row at a written address
        edge = np.zeros(len(self.codes) + 1, dtype=np.int64)
        np.add.at(edge, np.searchsorted(self.codes, wc, "left"), 1)
        np.add.at(edge, np.searchsorted(self.codes, wc, "right"), -1)
        keep = np.cumsum(edge[:-1]) == 0
        # insert, in code order, the rows that hold a value or a string
        ins = sorted(
            (j for j, r in enumerate(rows)
             if r[nd] is not None or r[nd + 1] is not None),
            key=lambda j: wc[j],
        )
        ins_codes = wc[ins]
        kept_codes = self.codes[keep]
        at = np.searchsorted(kept_codes, ins_codes, "right")
        ins_ids = np.asarray(
            [rows[j][:nd] for j in ins], dtype=np.int32
        ).reshape(len(ins), nd).T
        ins_null = np.asarray([rows[j][nd] is None for j in ins], dtype=bool)
        ins_vals = np.asarray(
            [0.0 if rows[j][nd] is None else float(rows[j][nd]) for j in ins],
            dtype=np.float64,
        )
        new.codes = np.insert(kept_codes, at, ins_codes)
        new.ids = np.insert(self.ids[:, keep], at, ins_ids, axis=1)
        new.values = np.insert(self.values[keep], at, ins_vals)
        new.null = np.insert(self.null[keep], at, ins_null)
        written = set(wc.tolist())
        strs = {c: s for c, s in self.strs.items() if c not in written}
        for j, c in zip(ins, ins_codes.tolist()):
            if rows[j][nd + 1] is not None:
                strs[c] = rows[j][nd + 1]
        new.strs = strs
        return new
