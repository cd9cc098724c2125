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

Once built, the copy is the cube's store of record.  Cell writes
(``Cube._flush``, ``Cube.write_rows``) hand their rows to
:meth:`LocalFact.patched`, which returns a NEW copy (copy-on-write, one
O(cells) memcpy, no Spark job), so a reader holding the old copy never
sees half a write.  The Spark fact is then derived state: ``fact`` is the
DataFrame the copy was collected from, or ``None`` on a patched copy until
a Spark consumer asks and :meth:`LocalFact.frame` builds it (one Arrow
``createDataFrame``, no Spark job).  Any other fact swap (loads, area
ops, ``clear``) drops the copy, and the next read rebuilds it.
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


def _strides(radix: Sequence[int]) -> "Optional[np.ndarray]":
    """Mixed-radix strides of ``radix`` (last dimension fastest), or
    ``None`` when the id space does not fit a 62-bit address code."""
    strides, span = [], 1
    for r in reversed(radix):
        strides.append(span)
        span *= int(r)
    if span >= _MAX_CODE:
        return None
    return np.asarray(strides[::-1], dtype=np.int64)


def _fan_out(
    col: np.ndarray,
    pairs: "tuple[np.ndarray, np.ndarray, np.ndarray]",
    radix: int,
) -> "tuple[np.ndarray, np.ndarray, np.ndarray]":
    """``(row, slot, weight)``: one entry per (row, ancestor) for a column
    ``col`` of member ids and the ``(member, slot, weight)`` closure pairs
    of :meth:`_Closure.pairs`; rows under no ancestor drop out."""
    m, slot, w = pairs
    deg = np.bincount(m, minlength=radix)
    if len(m) and deg.max() > 1:
        # a member under several ancestors: one entry per (row, ancestor)
        cnt = deg[col]
        src = np.repeat(np.arange(len(col)), cnt)
        first = np.repeat(np.cumsum(cnt) - cnt, cnt)
        at = np.repeat((np.cumsum(deg) - deg)[col], cnt)
        at += np.arange(len(src)) - first
        return src, slot[at], w[at]
    slot_of = np.full(radix, -1, dtype=np.int64)
    slot_of[m] = slot
    w_of = np.zeros(radix)
    w_of[m] = w
    s_col = slot_of[col]
    src = np.flatnonzero(s_col >= 0)
    return src, s_col[src], w_of[col[src]]


class LocalFact:
    """See module docstring.  The arrays are never written after a build
    or patch; ``fact`` is set at most once on a patched copy, when the
    cube derives it; ``closures`` caches :class:`_Closure` tables by
    dimension version and is shared with the patched copies."""

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
        strides = _strides(radix)
        if strides is None:
            return None
        self = cls()
        self.fact = fact
        self.radix = np.asarray(radix, dtype=np.int64)
        self.strides = strides
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
        addresses: "dict[int, Sequence[Optional[int]]]",
        rows: "Optional[tuple[np.ndarray, np.ndarray]]" = None,
    ) -> "dict[int, Optional[float]]":
        """Aggregated cells by request id — the results
        :func:`engine.aggregate_cells` returns: ``None`` where no row lies
        under the address, else the weighted sum of the rows' values
        (``0.0`` when none holds a number).  Requests are grouped by the
        dimensions they constrain (all-covering weight-1 tops, and
        positions that are ``None``, constrain nothing); each group is
        one pass over the rows.  ``rows``: ``(ids, values)`` rolled up in
        place of the stored cells — an ``(n_dims, n)`` member id array
        and ``n`` float values."""
        ids, values = rows if rows is not None else (self.ids, self.values)
        groups: dict[tuple[int, ...], dict[int, Sequence[int]]] = {}
        for rid, addr in addresses.items():
            sig = tuple(
                i for i, a in enumerate(addr)
                if a is not None and int(a) not in dims[i]._trivial_tops
            )
            groups.setdefault(sig, {})[rid] = addr
        out: dict[int, Optional[float]] = {}
        for sig, reqs in groups.items():
            out.update(self._rollup(dims, sig, reqs, ids, values))
        return out

    def _under(
        self, dims: Sequence[Dimension], members: "dict[int, Sequence[int]]"
    ) -> np.ndarray:
        """Mask of the stored rows whose member on each dimension ``i`` of
        ``members`` lies under one of ``members[i]``."""
        mask = np.ones(len(self.codes), dtype=bool)
        for i, anc in members.items():
            if {int(a) for a in anc} <= dims[i]._trivial_tops:
                continue
            m, _, _ = self._closure(dims[i]).pairs(anc, int(self.radix[i]))
            inside = np.zeros(int(self.radix[i]), dtype=bool)
            inside[m] = True
            mask &= inside[self.ids[i]]
        return mask

    def first_under(
        self, dims: Sequence[Dimension], members: "dict[int, Sequence[int]]"
    ) -> "Optional[list[int]]":
        """Member ids of the first stored row whose member on each
        dimension ``i`` of ``members`` lies under one of ``members[i]``;
        ``None`` when there is none."""
        hit = np.flatnonzero(self._under(dims, members))
        return self.ids[:, hit[0]].tolist() if len(hit) else None

    def weighted_rows(
        self, dims: Sequence[Dimension], addr: Sequence[int]
    ) -> "list[tuple[list[int], float, Optional[float]]]":
        """``(ids, weight, value)`` of every stored row under the address
        ``addr``: its member ids, the product of its closure weights to
        ``addr`` and its number (``None`` for a string cell)."""
        rows = np.flatnonzero(
            self._under(dims, {i: [a] for i, a in enumerate(addr)})
        )
        weight = np.ones(len(rows))
        for i, a in enumerate(addr):
            if int(a) in dims[i]._trivial_tops:
                continue
            m, _, w = self._closure(dims[i]).pairs([a], int(self.radix[i]))
            of = np.zeros(int(self.radix[i]))
            of[m] = w
            weight *= of[self.ids[i][rows]]
        values = np.where(self.null[rows], None, self.values[rows])
        return list(zip(
            self.ids[:, rows].T.tolist(), weight.tolist(), values.tolist()
        ))

    def rule_slices(
        self,
        dims: Sequence[Dimension],
        p: int,
        rest: "dict[int, Sequence[int]]",
        feeder: int,
        members: "Optional[Sequence[int]]" = None,
    ) -> "tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]":
        """The stored rows under ``rest`` (member ids per dimension other
        than ``p``, as in :meth:`first_under`) grouped per rest-leaf (their
        address without dimension ``p``), keeping the groups that hold a
        row under the ``p``-member ``feeder``, and each group's slice
        along ``p`` as sparse entries.  Returns ``(gids, group, member,
        total, present)``: ``gids`` is the ``(n_dims, n_groups)`` member
        id array of the groups (row ``p`` holds one of the group's members
        of ``p``); entry ``k`` says group ``group[k]`` holds a row under
        the ``p``-member ``member[k]``, with the closure-weighted sum
        ``total[k]`` of the rows' numbers and ``present[k]`` whether any
        of them holds one.  ``members``: the ``p``-members to report
        (closure rollup, one pass over the rows), or ``None`` for the
        stored leaves (every row is its own entry)."""
        keep = np.flatnonzero(self._under(dims, rest))
        pid = self.ids[p][keep].astype(np.int64)
        _, first, group = np.unique(
            self.codes[keep] - pid * self.strides[p],
            return_index=True, return_inverse=True,
        )
        values, valued = self.values[keep], ~self.null[keep]
        if members is None:
            member, total, present = pid, values, valued
        else:
            members = np.asarray(members, dtype=np.int64)
            pairs = self._closure(dims[p]).pairs(members, int(self.radix[p]))
            src, slot, w = _fan_out(pid, pairs, int(self.radix[p]))
            key, at = np.unique(
                group[src] * len(members) + slot, return_inverse=True
            )
            group, member = key // len(members), members[key % len(members)]
            total = np.bincount(
                at, weights=values[src] * w, minlength=len(key)
            )
            present = np.bincount(
                at, weights=valued[src], minlength=len(key)
            ) > 0
        fed = np.unique(group[member == feeder])
        renum = np.full(len(first), -1, dtype=np.int64)
        renum[fed] = np.arange(len(fed))
        group = renum[group]
        e = group >= 0
        return (
            self.ids[:, keep[first[fed]]], group[e], member[e], total[e],
            present[e],
        )

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
        ids: np.ndarray,
        values: np.ndarray,
    ) -> "dict[int, Optional[float]]":
        """Requests constraining exactly the dimensions ``sig``.  Every
        row fans out to each requested ancestor it sits under (one
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
                out.update(self._rollup(dims, sig, {rid: addr}, ids, values))
            return out
        # most selective dimension first: later steps see fewer rows
        steps.sort(key=lambda st: len(st[2][0]))
        rows = None  # fact row of each pair so far (None = every row)
        key = np.zeros(ids.shape[1], dtype=np.int64)
        weight = None
        for i, anc, (m, slot, w) in steps:
            col = ids[i] if rows is None else ids[i][rows]
            src, slot_at, w_at = _fan_out(
                col, (m, slot, w), int(self.radix[i])
            )
            rows = src if rows is None else rows[src]
            key = key[src] * len(anc) + slot_at
            weight = w_at if weight is None else weight[src] * w_at
        vals = values if rows is None else values[rows]
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
        self, rows: "Sequence[tuple]", dims: Sequence[Dimension]
    ) -> "Optional[LocalFact]":
        """A new copy: this one with ``rows`` merged in the way
        ``Cube._merge`` merges them into a Spark fact — every stored row
        at a written address is dropped, then each row ``(*ids, value,
        value_str)`` with a value or a string is inserted.  Its ``fact``
        is ``None`` (see the module docstring).  A written id at or above
        the radix (a member added since the build) grows the radix to the
        dimensions' id space and re-encodes the codes, whose order does
        not change; ``None`` when the grown space no longer fits a 62-bit
        address code."""
        new = LocalFact()
        new.fact = None
        new.closures = self.closures
        new.radix, new.strides = self.radix, self.strides
        new.codes, new.ids, new.values, new.null, new.strs = (
            self.codes, self.ids, self.values, self.null, self.strs
        )
        if not rows:
            return new
        nd = len(self.radix)
        written = np.asarray(
            [r[:nd] for r in rows], dtype=np.int64
        ).reshape(len(rows), nd)
        top = written.max(axis=0) + 1
        if (top > self.radix).any():
            radix = np.maximum(
                np.maximum(self.radix, top), [d._next_idx for d in dims]
            )
            strides = _strides(radix.tolist())
            if strides is None:
                return None
            new.radix, new.strides = radix, strides
            new.codes = new._encode(self.ids.T)
            if self.strs:
                old = np.fromiter(self.strs, dtype=np.int64)
                recoded = (
                    (old[:, None] // self.strides) % self.radix
                ) @ strides
                new.strs = dict(zip(recoded.tolist(), self.strs.values()))
        wc = new._encode(written)
        # drop every stored row at a written address
        edge = np.zeros(len(new.codes) + 1, dtype=np.int64)
        np.add.at(edge, np.searchsorted(new.codes, wc, "left"), 1)
        np.add.at(edge, np.searchsorted(new.codes, wc, "right"), -1)
        keep = np.cumsum(edge[:-1]) == 0
        # insert, in code order, the rows that hold a value or a string
        ins = sorted(
            (j for j, r in enumerate(rows)
             if r[nd] is not None or r[nd + 1] is not None),
            key=lambda j: wc[j],
        )
        ins_codes = wc[ins]
        kept_codes = new.codes[keep]
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
        gone = set(wc.tolist())
        strs = {c: s for c, s in new.strs.items() if c not in gone}
        for j, c in zip(ins, ins_codes.tolist()):
            if rows[j][nd + 1] is not None:
                strs[c] = rows[j][nd + 1]
        new.strs = strs
        return new

    def frame(self, spark: Any, schema: Any) -> DataFrame:
        """This copy as a Spark DataFrame of the fact ``schema`` (one id
        column per dimension, ``value``, ``value_str``): one Arrow
        ``createDataFrame`` of the arrays, which runs no Spark job."""
        import pyarrow as pa

        strs: list = [None] * len(self.codes)
        if self.strs:
            at = np.searchsorted(self.codes, np.fromiter(self.strs, np.int64))
            for p, s in zip(at.tolist(), self.strs.values()):
                strs[p] = s
        cols = {
            f.name: pa.array(self.ids[i])
            for i, f in enumerate(schema.fields[: len(self.radix)])
        }
        cols["value"] = pa.array(self.values, mask=self.null)
        cols["value_str"] = pa.array(strs, type=pa.string())
        return spark.createDataFrame(pa.table(cols), schema=schema)
