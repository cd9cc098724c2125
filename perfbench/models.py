"""Seeded model generators and the independent numpy oracle.

Every value the benchmark stores is an integer-valued double, so sums are
exact in any order and the engine's aggregates must equal the oracle's
bit for bit.  Rule outputs (a product, a ratio, a logarithm) are compared
with a tight relative tolerance, because the engine may sum them in
another order.

Addresses are tuples of member ordinals: a leaf ordinal ``j >= 0`` or
``ALL`` (-1) for the dimension's top member.
"""

from __future__ import annotations

import math
from typing import Any, Optional, Sequence

import numpy as np

ALL = -1

# ---------------------------------------------------------------- huge model
# The reference's `huge` shape (8 dims x 100 leaves + All), at 100k records:
# the 1M-record original takes 12-20 s per load and ~10 s per 3-drill
# batch on 4 cores, which does not fit a run budget of well under a minute.
HUGE_DIMS = 8
HUGE_LEAVES = 100
HUGE_RECORDS = 100_000
HUGE_TOP = "All"


def huge_name(ordinal: int) -> str:
    return HUGE_TOP if ordinal == ALL else f"m{ordinal}"


def huge_names(addr: Sequence[int]) -> tuple[str, ...]:
    return tuple(huge_name(o) for o in addr)


def huge_records(seed: int, n: int = HUGE_RECORDS) -> tuple[np.ndarray, np.ndarray]:
    """``(keys (n, 8) leaf ordinals, values (n,))``; duplicate addresses
    occur and are summed by the additive load."""
    rng = np.random.default_rng(seed)
    keys = rng.integers(0, HUGE_LEAVES, size=(n, HUGE_DIMS), dtype=np.int64)
    values = rng.integers(1, 100, size=n).astype(np.float64)
    return keys, values


def _codes(keys: np.ndarray) -> np.ndarray:
    weights = HUGE_LEAVES ** np.arange(keys.shape[1], dtype=np.int64)
    return keys @ weights


class HugeOracle:
    """Base cells of the huge cube after an additive load."""

    def __init__(self, keys: np.ndarray, values: np.ndarray):
        codes, first, inverse = np.unique(
            _codes(keys), return_index=True, return_inverse=True
        )
        self.keys = keys[first]
        self.values = np.bincount(inverse, weights=values)
        self.row = {int(c): i for i, c in enumerate(codes)}

    def base(self, addr: Sequence[int]) -> Optional[float]:
        i = self.row.get(int(_codes(np.asarray([addr], dtype=np.int64))[0]))
        return None if i is None else float(self.values[i])

    def _mask(self, addr: Sequence[int]) -> np.ndarray:
        mask = np.ones(len(self.values), dtype=bool)
        for d, o in enumerate(addr):
            if o != ALL:
                mask &= self.keys[:, d] == o
        return mask

    def cell(self, addr: Sequence[int]) -> Optional[float]:
        """Any cell: the sum of its base cells, ``None`` when it has none."""
        if ALL not in addr:
            return self.base(addr)
        mask = self._mask(addr)
        return float(self.values[mask].sum()) if mask.any() else None

    def grid(
        self, addr: Sequence[int], row_dim: int, col_dim: int,
        rows: Sequence[int], cols: Sequence[int],
    ) -> dict[tuple[int, int], Optional[float]]:
        """Cells ``addr`` with ``row_dim``/``col_dim`` replaced by every
        (row, col) ordinal pair, from one bincount."""
        rest = list(addr)
        rest[row_dim] = rest[col_dim] = ALL
        mask = self._mask(rest)
        r, c, v = self.keys[mask, row_dim], self.keys[mask, col_dim], self.values[mask]
        n = HUGE_LEAVES + 1  # slot HUGE_LEAVES holds the All total
        sums = np.zeros((n, n))
        counts = np.zeros((n, n), dtype=np.int64)
        np.add.at(sums, (r, c), v)
        np.add.at(counts, (r, c), 1)
        for arr in (sums, counts):
            arr[HUGE_LEAVES, :] = arr[:HUGE_LEAVES, :].sum(axis=0)
            arr[:, HUGE_LEAVES] = arr[:, :HUGE_LEAVES].sum(axis=1)
        out = {}
        for ro in rows:
            for co in cols:
                ri = HUGE_LEAVES if ro == ALL else ro
                ci = HUGE_LEAVES if co == ALL else co
                out[(ro, co)] = float(sums[ri, ci]) if counts[ri, ci] else None
        return out


def build_huge(spark, keys: np.ndarray, values: np.ndarray, name: str = "huge"):
    """Fresh ``Database`` holding the huge cube, loaded with ``additive=True``."""
    import pandas as pd

    from tinyolap_spark import Database

    db = Database(name, spark=spark)
    dims = []
    for i in range(HUGE_DIMS):
        d = db.add_dimension(f"h{i}").edit()
        d.add_many(HUGE_TOP, [huge_name(j) for j in range(HUGE_LEAVES)])
        d.commit()
        dims.append(d)
    cube = db.add_cube("huge", dims)
    cols = {}
    for i, d in enumerate(dims):
        ids = np.array([d.member(huge_name(j)).index for j in range(HUGE_LEAVES)], dtype=np.int32)
        cols[cube.dim_cols[i]] = ids[keys[:, i]]
    cols["value"] = values
    cube.load_dataframe(spark.createDataFrame(pd.DataFrame(cols)), additive=True)
    return db, cube


# --------------------------------------------------------------- rules model
RULE_GROUPS = 30
RULE_LEAVES_PER_GROUP = 1000
RULE_TOP = "AllKeys"
STORED_MEASURES = ("Quantity", "Price", "Cost")
RULE_MEASURES = ("Sales", "Margin", "LogQ")


def rule_key(ordinal: int) -> str:
    """Key member name: ``k<i>`` for a leaf, ``g<j>`` for group ``-(j+2)``,
    the top for ``ALL``."""
    if ordinal == ALL:
        return RULE_TOP
    if ordinal < ALL:
        return f"g{-ordinal - 2}"
    return f"k{ordinal}"


def group_ordinal(g: int) -> int:
    return -g - 2


def rule_records(seed: int) -> dict[str, np.ndarray]:
    """Dense Quantity/Price/Cost per leaf key."""
    rng = np.random.default_rng(seed)
    n = RULE_GROUPS * RULE_LEAVES_PER_GROUP
    return {
        "Quantity": rng.integers(1, 20, n).astype(np.float64),
        "Price": rng.integers(1, 50, n).astype(np.float64),
        "Cost": rng.integers(1, 500, n).astype(np.float64),
    }


# Rules are module-level functions so Database.save can persist their
# source; the rule namespace on open has no imports, hence `import math`
# inside logq.
def sales(c):
    q = c["Quantity"]
    p = c["Price"]
    if q is not None and p is not None:
        return q * p


def margin(c):
    s = c["Sales"]
    k = c["Cost"]
    if s:
        return (s - (k or 0)) / s


def logq(c):
    import math

    q = c["Quantity"]
    if q is not None:
        return math.log1p(q)


class RuleOracle:
    """Stored measures per leaf key, updated by every write; rule cells
    are derived from them on each read."""

    def __init__(self, data: dict[str, np.ndarray]):
        self.stored = {m: data[m].copy() for m in STORED_MEASURES}

    def write(self, key: int, measure: str, value: float) -> None:
        self.stored[measure][key] = value

    def _slice(self, key: int) -> slice:
        if key == ALL:
            return slice(None)
        if key < ALL:
            g = -key - 2
            return slice(g * RULE_LEAVES_PER_GROUP, (g + 1) * RULE_LEAVES_PER_GROUP)
        return slice(key, key + 1)

    def cell(self, key: int, measure: str) -> float:
        sl = self._slice(key)
        q = self.stored["Quantity"][sl]
        if measure in self.stored:
            return float(self.stored[measure][sl].sum())
        if measure == "LogQ":
            return float(np.log1p(q).sum())
        sales = float((q * self.stored["Price"][sl]).sum())
        if measure == "Sales":
            return sales
        return (sales - float(self.stored["Cost"][sl].sum())) / sales  # Margin


def build_rules(spark, data: dict[str, np.ndarray], name: str = "rules"):
    import pandas as pd

    from tinyolap_spark import Database
    from tinyolap_spark.rules import RuleScope

    db = Database(name, spark=spark)
    keys = db.add_dimension("keys").edit()
    for g in range(RULE_GROUPS):
        base = g * RULE_LEAVES_PER_GROUP
        keys.add_many(
            rule_key(group_ordinal(g)),
            [rule_key(base + i) for i in range(RULE_LEAVES_PER_GROUP)],
        )
    keys.add_many(RULE_TOP, [rule_key(group_ordinal(g)) for g in range(RULE_GROUPS)])
    keys.commit()
    measures = db.add_dimension("measures").edit()
    measures.add_many(list(STORED_MEASURES + RULE_MEASURES))
    measures.commit()
    cube = db.add_cube("rules", [keys, measures])
    n = RULE_GROUPS * RULE_LEAVES_PER_GROUP
    kid = np.array([keys.member(rule_key(i)).index for i in range(n)], dtype=np.int32)
    kcol, mcol = cube.dim_cols
    pdf = pd.DataFrame({
        kcol: np.tile(kid, len(STORED_MEASURES)),
        mcol: np.repeat(
            np.array([measures.member(m).index for m in STORED_MEASURES], dtype=np.int32), n
        ),
        "value": np.concatenate([data[m] for m in STORED_MEASURES]),
    })
    cube.load_dataframe(spark.createDataFrame(pdf), assume_unique=True)
    cube.register_rule(sales, trigger=["measures:Sales"], scope=RuleScope.BASE_LEVEL,
                       feeder=["measures:Quantity"])
    cube.register_rule(margin, trigger=["measures:Margin"], scope=RuleScope.ALL_LEVELS)
    cube.register_rule(logq, trigger=["measures:LogQ"], scope=RuleScope.BASE_LEVEL)
    return db, cube


def same(got: Any, want: Optional[float], exact: bool = True) -> bool:
    """Engine value ``got`` equals oracle value ``want``."""
    if want is None or got is None:
        return got is None and want is None
    if not isinstance(got, (int, float)) or isinstance(got, bool):
        return False
    if exact:
        return float(got) == want
    return math.isclose(float(got), want, rel_tol=1e-9, abs_tol=1e-9)
