"""Randomized differential fuzz for the concolic rule compiler
(`arith.py`): generate random guarded-arithmetic rule bodies, compile
them, and compare the compiled evaluator against the REAL Python body on
operand grids far beyond the compiler's built-in verification samples.

Driver-only (no Spark): `evaluate` is the exact numpy twin of the
generated Catalyst columns (kept in lockstep by construction and by the
integration tests in `test_arith_compile.py`), so mirror-vs-body
agreement here transfers to the compiled plan."""

import random

from tinyolap_spark import arith
from tinyolap_spark.rules import CONTINUE, map_rule_error  # noqa: F401


class _FakeMember:
    def __init__(self, index):
        self.index = index


class _FakeDim:
    def __init__(self, name, members):
        self.name = name
        self._members = members
        self.version = 0

    def __contains__(self, name):
        return name in self._members

    def member(self, name):
        return _FakeMember(self._members[name])


class _FakeCube:
    def __init__(self):
        self.dimensions = [
            _FakeDim("keys", {"k1": 1}),
            _FakeDim(
                "measures",
                {"A": 10, "B": 11, "C": 12, "D": 13},
            ),
        ]

    def _dim_position(self, name):
        return {"keys": 0, "measures": 1}[name.lower()]


class _RD:
    def __init__(self, fn):
        self.function = fn


_MEMBERS = ["A", "B", "C"]  # D(13) is the trigger
_MIDS = {"A": 10, "B": 11, "C": 12}


def _gen_value(rng, depth=0):
    """Random arithmetic expression as a callable over the cell."""
    r = rng.random()
    if depth >= 3 or r < 0.35:
        if rng.random() < 0.75:
            m = rng.choice(_MEMBERS)
            return lambda c: c[m]
        k = rng.choice([0.0, 1.0, 2.5, -3.0, 10.0])
        return lambda c: k
    op = rng.choice(["add", "sub", "mul", "div", "neg", "abs"])
    a = _gen_value(rng, depth + 1)
    if op == "neg":
        return lambda c: -a(c)
    if op == "abs":
        return lambda c: abs(a(c))
    b = _gen_value(rng, depth + 1)
    if op == "add":
        return lambda c: a(c) + b(c)
    if op == "sub":
        return lambda c: a(c) - b(c)
    if op == "mul":
        return lambda c: a(c) * b(c)
    return lambda c: a(c) / b(c)


def _gen_body(rng):
    """Random rule body: plain, truthiness-guarded, comparison-guarded,
    `or`-default, or nested guard shapes."""
    v1 = _gen_value(rng)
    v2 = _gen_value(rng)
    v3 = _gen_value(rng)
    mode = rng.choice(
        ["plain", "truthy", "cmp", "or_default", "nested", "ternary"]
    )
    if mode == "plain":
        return lambda c: v1(c)
    if mode == "truthy":
        none_else = rng.random() < 0.5

        def body_t(c):
            g = v1(c)
            if g:
                return v2(c)
            return None if none_else else v3(c)

        return body_t
    if mode == "cmp":
        import operator

        cmp = rng.choice(["lt", "le", "gt", "ge"])
        thresh = rng.choice([0.0, 5.0, -2.0, 100.0])
        opf = {
            "lt": operator.lt,
            "le": operator.le,
            "gt": operator.gt,
            "ge": operator.ge,
        }[cmp]

        def body_c(c):
            if opf(v1(c), thresh):
                return v2(c)
            return v3(c)

        return body_c
    if mode == "or_default":
        d = rng.choice([0.0, 1.0])
        return lambda c: (v1(c) or d) + v2(c)
    if mode == "ternary":
        return lambda c: v1(c) if v2(c) else v3(c)

    def body_n(c):  # nested: guard inside a guarded branch
        g = v1(c)
        if g:
            h = v2(c)
            if h:
                return g + h
            return g
        return None

    return body_n


def _rand_vals(rng):
    vals = {}
    for m, mid in _MIDS.items():
        r = rng.random()
        if r < 0.18:
            continue  # missing
        if r < 0.33:
            vals[mid] = 0.0
        elif r < 0.5:
            vals[mid] = rng.choice([-7.5, -1.0, -0.25])
        elif r < 0.7:
            vals[mid] = rng.choice([1.0, 2.0, 3.5, 9.0])
        else:
            vals[mid] = rng.uniform(-1000, 1000)
    return vals


def test_fuzz_compiled_mirror_matches_python_body():
    rng = random.Random(20260814)
    cube = _FakeCube()
    compiled = tried = 0
    for _ in range(400):
        body = _gen_body(rng)
        tried += 1
        plan = arith._try_compile(cube, _RD(body), 1, 13)
        if plan is None:
            continue  # opaque tier — always correct
        compiled += 1
        for _k in range(60):
            vals = _rand_vals(rng)
            expected = arith._normalize_expected(cube, _RD(body), 1, 13, vals)
            assert expected != "reject"
            got = arith.evaluate_dicts(plan, [vals])[0]
            assert expected[1] == got[1], (
                f"err mismatch {expected} vs {got} vals={vals} "
                f"policy={plan.policy} tree={plan.tree}"
            )
            assert arith._values_agree(expected[0], got[0]), (
                f"value mismatch {expected} vs {got} vals={vals} "
                f"policy={plan.policy} tree={plan.tree}"
            )
    # the generator produces mostly compilable shapes — the test must
    # not pass vacuously
    assert compiled >= tried * 0.5, (compiled, tried)


def test_fuzz_catalyst_columns_match_mirror(spark):
    """Close the loop mirror->Catalyst: random compiled plans evaluated
    through to_columns() on a real DataFrame must agree with evaluate
    row-for-row (value AND sentinel), including mixed None/0 operands."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    rng = random.Random(77)
    cube = _FakeCube()
    plans = []
    while len(plans) < 12:
        body = _gen_body(rng)
        plan = arith._try_compile(cube, _RD(body), 1, 13)
        if plan is not None and plan.reads:
            plans.append(plan)

    schema = StructType(
        [StructField("row_id", LongType())]
        + [StructField(f"m{mid}", DoubleType()) for mid in _MIDS.values()]
    )
    grids = []
    for i in range(80):
        vals = _rand_vals(rng)
        grids.append(
            (i, *[vals.get(mid) for mid in _MIDS.values()])
        )
    df = spark.createDataFrame(grids, schema)

    for plan in plans:
        vcol, ecol = arith.to_columns(plan, lambda m: F.col(f"m{m}"))
        rows = (
            df.select("row_id", vcol.alias("v"), ecol.alias("e"))
            .orderBy("row_id")
            .collect()
        )
        for r, g in zip(rows, grids):
            vals = {
                mid: g[1 + j]
                for j, mid in enumerate(_MIDS.values())
                if g[1 + j] is not None
            }
            ev, ee = arith.evaluate_dicts(plan, [vals])[0]
            assert (r.e or None) == ee, (
                f"sentinel mismatch row={g} got={r.e} want={ee} "
                f"tree={plan.tree} policy={plan.policy}"
            )
            assert arith._values_agree(r.v, ev), (
                f"value mismatch row={g} got={r.v} want={ev} "
                f"tree={plan.tree} policy={plan.policy}"
            )
