"""Catalyst expression-tier rule compilation (VERDICT r4 #1/#2).

- arithmetic-only rule bodies (the bench / reference-samples shape,
  reference ``samples/tiny.py:137-144``) auto-compile to native Spark SQL
  columns: no mapInPandas, no probe jobs;
- the compiled path must produce values IDENTICAL to the opaque executor
  path — including None-operand and division-by-zero sentinel semantics;
- data-dependent bodies must NOT compile (fallback stays correct);
- a batch of mostly-empty aggregated rule addresses must probe with a
  BOUNDED number of Spark jobs (one union rollup), not one per address.
"""

import pytest

from tinyolap_spark import Database, RuleScope
from tinyolap_spark import arith

from conftest import each_read_tier


# ---------------------------------------------------------------------------
# driver-side unit tests (no Spark): trace + mirror semantics
# ---------------------------------------------------------------------------


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
            _FakeDim("measures", {"Quantity": 10, "Price": 11, "Sales": 12}),
        ]

    def _dim_position(self, name):
        return {"keys": 0, "measures": 1}[name.lower()]


class _RD:
    def __init__(self, fn):
        self.function = fn


def _plan(fn, p=1, trigger=12):
    return arith._try_compile(_FakeCube(), _RD(fn), p, trigger)


def test_trace_guarded_rule_compiles_nullprop():
    def guarded(c):
        q = c["Quantity"]
        p = c["Price"]
        if q is not None and p is not None:
            return q * p

    plan = _plan(guarded)
    assert plan is not None and plan.policy == "nullprop"
    assert set(plan.reads) == {10, 11}
    assert arith.evaluate_dicts(plan, [{10: 3.0, 11: 2.0}])[0] == (6.0, None)
    assert arith.evaluate_dicts(plan, [{10: 3.0}])[0] == (None, None)


def test_trace_unguarded_rule_compiles_nullerr():
    def unguarded(c):
        return c["Quantity"] * c["Price"]

    plan = _plan(unguarded)
    assert plan is not None and plan.policy == "nullerr"
    v, err = arith.evaluate_dicts(plan, [{10: 3.0}])[0]
    assert (v, err) == (None, "#ERR!")


def test_trace_division_sentinels():
    def ratio(c):
        return c["Quantity"] / c["Price"]

    plan = _plan(ratio)
    assert plan is not None
    assert arith.evaluate_dicts(plan, [{10: 6.0, 11: 2.0}])[0] == (3.0, None)
    v, err = arith.evaluate_dicts(plan, [{10: 6.0, 11: 0.0}])[0]
    assert (v, err) == (None, "#DIV/0!")


def test_concolic_comparison_branch_compiles():
    """`if q > 5` forks the trace; both paths compile into one CASE."""

    def branchy(c):
        q = c["Quantity"]
        if q > 5:
            return q
        return 0.0

    plan = _plan(branchy)
    assert plan is not None and plan.policy == "nullerr"
    assert arith.evaluate_dicts(plan, [{10: 9.0}])[0] == (9.0, None)
    assert arith.evaluate_dicts(plan, [{10: 3.0}])[0] == (0.0, None)
    # comparison with a missing operand raises TypeError in Python -> #ERR!
    assert arith.evaluate_dicts(plan, [{}])[0] == (None, "#ERR!")


def test_concolic_or_default_compiles():
    """`(q or 0.0) + 1` branches on truthiness; None/0.0 take the default."""

    def boolish(c):
        return (c["Quantity"] or 0.0) + 1.0

    plan = _plan(boolish)
    assert plan is not None
    assert arith.evaluate_dicts(plan, [{10: 4.0}])[0] == (5.0, None)
    assert arith.evaluate_dicts(plan, [{10: 0.0}])[0] == (1.0, None)
    assert arith.evaluate_dicts(plan, [{}])[0] == (1.0, None)


def test_concolic_profit_pct_shape():
    """The reference's other flagship rule (`samples/tiny.py:137-144`,
    enterprise `rules.py:23-30`): truthiness guard around a division."""

    def profit_pct(c):
        sales = c["Sales"]
        profit = c["Quantity"]  # stand-in sibling
        if sales:
            return profit / sales
        return None

    plan = _plan(profit_pct, trigger=11)
    assert plan is not None
    assert arith.evaluate_dicts(plan, [{12: 8.0, 10: 2.0}])[0] == (0.25, None)
    # sales 0 or missing -> guard False -> None, no sentinel
    assert arith.evaluate_dicts(plan, [{12: 0.0, 10: 2.0}])[0] == (None, None)
    assert arith.evaluate_dicts(plan, [{10: 2.0}])[0] == (None, None)


def test_trace_rejects_noncompilable_ops():
    def modmath(c):
        return c["Quantity"] % 3

    assert _plan(modmath) is None

    def floordiv(c):
        return c["Quantity"] // 2

    assert _plan(floordiv) is None

    def coerce(c):
        return float(c["Quantity"]) + 1

    assert _plan(coerce) is None


def test_trace_rejects_cross_dimension_reads():
    def xdim(c):
        return c["Quantity"] + c["keys:k1", "Quantity"]

    assert _plan(xdim) is None


# ---------------------------------------------------------------------------
# spark integration: compiled vs opaque equivalence
# ---------------------------------------------------------------------------


def _bench_shaped_cube(spark, name, with_gap=False, with_zero_price=False):
    """keys(3 groups x 4) x measures(Quantity, Price, Sales) — the bench's
    rule workload in miniature."""
    db = Database(name, spark=spark)
    keys = db.add_dimension("keys").edit()
    for g in range(3):
        keys.add_many(f"grp{g}", [f"k{g * 4 + i}" for i in range(4)])
    keys.add_many("AllKeys", ["grp0", "grp1", "grp2"])
    keys.commit()
    measures = db.add_dimension("measures").edit()
    for m in ["Quantity", "Price", "Sales"]:
        measures.add_many(m)
    measures.commit()
    cube = db.add_cube("rb", [keys, measures])
    rows = []
    for i in range(12):
        rows.append((f"k{i}", "Quantity", float(i + 1)))
        if with_gap and i == 5:
            continue  # k5 has no Price
        price = 0.0 if (with_zero_price and i == 7) else 2.0
        rows.append((f"k{i}", "Price", price))
    cube.write_rows(rows)
    return db, cube


def _compare_paths(spark, cube, rule_fn, addrs, monkeypatch):
    """Evaluate addrs through the compiled tier, then force the opaque
    tier and re-evaluate; results must be identical."""
    cube.register_rule(
        rule_fn, trigger=["measures:Sales"],
        scope=RuleScope.BASE_LEVEL, feeder=["measures:Quantity"],
    )
    cube._cache.clear()
    got_compiled = cube.get_many(addrs)
    assert cube._last_base_rule_path == "compiled"

    with monkeypatch.context() as mp:
        mp.setattr(arith, "_try_compile", lambda *a, **k: None)
        for rdef in cube.rules:
            if hasattr(rdef, "_arith_plan"):
                del rdef._arith_plan
        cube._cache.clear()
        got_opaque = cube.get_many(addrs)
        assert cube._last_base_rule_path == "executor"
    for ac, ao, addr in zip(got_compiled, got_opaque, addrs):
        if isinstance(ao, float):
            assert ac == pytest.approx(ao), addr
        else:
            assert ac == ao, addr
    return got_compiled


def test_compiled_matches_opaque_on_bench_rule(spark, monkeypatch):
    """The bench's guarded Sales = Quantity x Price rule: compiled and
    opaque tiers agree on aggregated, base and top addresses."""
    for tier in each_read_tier(monkeypatch):
        db, cube = _bench_shaped_cube(spark, f"arith_bench_{tier}")

        def sales_rule(c):
            q = c["Quantity"]
            p = c["Price"]
            if q is not None and p is not None:
                return q * p

        addrs = (
            [(f"grp{g}", "Sales") for g in range(3)]
            + [("AllKeys", "Sales")]
        )
        got = _compare_paths(spark, cube, sales_rule, addrs, monkeypatch)
        assert got[0] == pytest.approx(sum(2.0 * (i + 1) for i in range(4)))
        assert got[3] == pytest.approx(sum(2.0 * (i + 1) for i in range(12)))
        assert (cube._local is not None) == (tier == "copy")


def test_compiled_matches_opaque_with_missing_operand(spark, monkeypatch):
    """Guarded rule + a key with no Price row: both tiers must skip that
    evaluation point (None, not 0-coerced, not an error)."""
    for tier in each_read_tier(monkeypatch):
        db, cube = _bench_shaped_cube(spark, f"arith_gap_{tier}", with_gap=True)

        def sales_rule(c):
            q = c["Quantity"]
            p = c["Price"]
            if q is not None and p is not None:
                return q * p

        addrs = [("grp1", "Sales"), ("AllKeys", "Sales"), ("grp0", "Sales")]
        got = _compare_paths(spark, cube, sales_rule, addrs, monkeypatch)
        # grp1 covers k4..k7; k5 contributes nothing
        assert got[0] == pytest.approx(sum(2.0 * (i + 1) for i in (4, 6, 7)))
        assert (cube._local is not None) == (tier == "copy")


def test_compiled_matches_opaque_error_sentinel(spark, monkeypatch):
    """Unguarded rule + a missing operand: both tiers surface #ERR!."""
    for tier in each_read_tier(monkeypatch):
        db, cube = _bench_shaped_cube(spark, f"arith_err_{tier}", with_gap=True)

        def sales_rule(c):
            return c["Quantity"] * c["Price"]

        addrs = [("grp1", "Sales"), ("grp0", "Sales")]
        got = _compare_paths(spark, cube, sales_rule, addrs, monkeypatch)
        assert got[0] == "#ERR!"
        assert got[1] == pytest.approx(sum(2.0 * (i + 1) for i in range(4)))
        assert (cube._local is not None) == (tier == "copy")


def test_compiled_matches_opaque_truthiness_guard(spark, monkeypatch):
    """The reference `Profit in %` shape (`samples/tiny.py:137-144`):
    `if denom:` guard around a division — zero AND missing denominators
    both take the None branch on both tiers; no sentinel leaks."""
    for tier in each_read_tier(monkeypatch):
        db, cube = _bench_shaped_cube(
            spark, f"arith_truthy_{tier}", with_gap=True, with_zero_price=True
        )

        def pct_rule(c):
            p = c["Price"]
            q = c["Quantity"]
            if p:
                return q / p
            return None

        addrs = [
            ("grp0", "Sales"),
            ("grp1", "Sales"),  # k5 has no Price (guard False)
            ("AllKeys", "Sales"),  # k7 has Price 0.0 (guard False)
        ]
        got = _compare_paths(spark, cube, pct_rule, addrs, monkeypatch)
        assert got[0] == pytest.approx(sum((i + 1) / 2.0 for i in range(4)))
        # grp1: k5 (no Price) AND k7 (Price 0.0) skipped by the guard
        assert got[1] == pytest.approx(sum((i + 1) / 2.0 for i in (4, 6)))
        assert (cube._local is not None) == (tier == "copy")


def test_compiled_matches_opaque_comparison_branch(spark, monkeypatch):
    """Comparison fork on the executor tier: a floor on the computed
    value evaluates identically compiled and opaque."""
    for tier in each_read_tier(monkeypatch):
        db, cube = _bench_shaped_cube(spark, f"arith_cmp_{tier}")

        def floored(c):
            q = c["Quantity"]
            p = c["Price"]
            if q is None or p is None:
                return None
            v = q * p
            if v > 10.0:
                return v
            return 10.0

        addrs = [("grp0", "Sales"), ("grp2", "Sales")]
        got = _compare_paths(spark, cube, floored, addrs, monkeypatch)
        assert got[0] == pytest.approx(
            sum(max(2.0 * (i + 1), 10.0) for i in range(4))
        )
        assert got[1] == pytest.approx(
            sum(max(2.0 * (i + 1), 10.0) for i in range(8, 12))
        )
        assert (cube._local is not None) == (tier == "copy")


def test_compiled_matches_opaque_div_zero(spark, monkeypatch):
    """Division rule + a zero denominator: both tiers surface #DIV/0!."""
    for tier in each_read_tier(monkeypatch):
        db, cube = _bench_shaped_cube(
            spark, f"arith_div0_{tier}", with_zero_price=True
        )

        def ratio_rule(c):
            return c["Quantity"] / c["Price"]

        addrs = [("grp1", "Sales"), ("grp0", "Sales")]
        got = _compare_paths(spark, cube, ratio_rule, addrs, monkeypatch)
        assert got[0] == "#DIV/0!"  # k7 divides by zero
        assert got[1] == pytest.approx(sum((i + 1) / 2.0 for i in range(4)))
        assert (cube._local is not None) == (tier == "copy")


def test_capped_branch_rule_compiles_correctly(spark, monkeypatch):
    """A conditional-expression body (`v if v < 10 else 10`) forks on a
    comparison and compiles; values match the Python semantics."""
    for tier in each_read_tier(monkeypatch):
        db, cube = _bench_shaped_cube(spark, f"arith_branchy_{tier}")

        def capped(c):
            q = c["Quantity"]
            p = c["Price"]
            if q is None or p is None:
                return None
            v = q * p
            return v if v < 10.0 else 10.0

        cube.register_rule(
            capped, trigger=["measures:Sales"],
            scope=RuleScope.BASE_LEVEL, feeder=["measures:Quantity"],
        )
        got = cube["grp0", "Sales"]
        assert cube._last_base_rule_path == "compiled"
        assert got == pytest.approx(sum(min(2.0 * (i + 1), 10.0) for i in range(4)))
        assert (cube._local is not None) == (tier == "copy")


def test_noncompilable_rule_still_correct(spark, monkeypatch):
    """A body using non-arithmetic operations stays on the opaque tiers
    and is correct."""
    for tier in each_read_tier(monkeypatch):
        import math as _math

        db, cube = _bench_shaped_cube(spark, f"arith_opaque_{tier}")

        def rooty(c):
            q = c["Quantity"]
            p = c["Price"]
            if q is None or p is None:
                return None
            return _math.sqrt(q * p)

        cube.register_rule(
            rooty, trigger=["measures:Sales"],
            scope=RuleScope.BASE_LEVEL, feeder=["measures:Quantity"],
        )
        got = cube["grp0", "Sales"]
        assert cube._last_base_rule_path != "compiled"
        assert got == pytest.approx(
            sum(_math.sqrt(2.0 * (i + 1)) for i in range(4))
        )
        assert (cube._local is not None) == (tier == "copy")


def test_compiled_tier_survives_sibling_rules_on_same_dimension(spark, monkeypatch):
    """A model with several rules on the measures dimension (the common
    enterprise shape) must still compile: a sibling rule interferes only
    when it triggers on a member the compiled rule actually READS."""
    for tier in each_read_tier(monkeypatch):
        db, cube = _bench_shaped_cube(spark, f"arith_sibling_{tier}")

        def sales(c):
            q, p = c["Quantity"], c["Price"]
            if q is not None and p is not None:
                return q * p

        def double_q(c):
            q = c["Quantity"]
            return (q or 0.0) * 2.0  # opaque on purpose

        cube.register_rule(
            sales, trigger=["measures:Sales"],
            scope=RuleScope.BASE_LEVEL, feeder=["measures:Quantity"],
        )
        # sibling rule on the SAME dimension but a member `sales` never reads
        cube.register_rule(
            double_q, trigger=["measures:Price"], scope=RuleScope.BASE_LEVEL,
        )
        # `sales` READS Price, which double_q redefines -> must NOT compile
        got = cube["grp0", "Sales"]
        assert cube._last_base_rule_path == "driver"
        # driver path applies double_q to Price reads: price = q*2
        assert got == pytest.approx(sum((i + 1) * (i + 1) * 2.0 for i in range(4)))

        # now a sibling on a member nobody reads: compiled tier must survive
        db2, cube2 = _bench_shaped_cube(spark, f"arith_sibling2_{tier}")
        measures = cube2.dimensions[1]
        med = measures.edit()
        med.add_many("Other")
        med.commit()

        def other_rule(c):
            return 1.0

        cube2.register_rule(
            sales, trigger=["measures:Sales"],
            scope=RuleScope.BASE_LEVEL, feeder=["measures:Quantity"],
        )
        cube2.register_rule(
            other_rule, trigger=["measures:Other"],
            scope=RuleScope.BASE_LEVEL,
        )
        got2 = cube2["grp0", "Sales"]
        assert cube2._last_base_rule_path == "compiled"
        assert got2 == pytest.approx(sum(2.0 * (i + 1) for i in range(4)))
        assert (cube._local is not None) == (tier == "copy")


def test_batched_probe_is_one_job_for_empty_addresses(spark, monkeypatch):
    """VERDICT r4 #2: a get_many batch of mostly-EMPTY aggregated rule
    addresses must not run one probe job per address.  With an opaque
    (non-compilable) rule, the batch runs ONE union-rollup probe; job
    count is asserted via a collect counter on the probe's DataFrame
    method."""
    from pyspark.sql import DataFrame

    db = Database("arith_probe_batch", spark=spark)
    keys = db.add_dimension("keys").edit()
    for g in range(50):
        keys.add_many(f"grp{g}", [f"k{g}"])
    keys.commit()
    measures = db.add_dimension("measures").edit()
    for m in ["Quantity", "Price", "Sales"]:
        measures.add_many(m)
    measures.commit()
    cube = db.add_cube("rb", [keys, measures])
    # only grp49 has data: 49 of the 50 addresses are empty
    cube.write_rows([("k49", "Quantity", 3.0), ("k49", "Price", 2.0)])

    def opaque_rule(c):
        q = c["Quantity"]
        p = c["Price"]
        return (q or 0.0) * (p or 0.0)  # `or` -> not compilable

    cube.register_rule(
        opaque_rule, trigger=["measures:Sales"],
        scope=RuleScope.BASE_LEVEL, feeder=["measures:Quantity"],
    )
    calls = {"n": 0}
    orig_collect = DataFrame.collect

    def counting(self):
        calls["n"] += 1
        return orig_collect(self)

    monkeypatch.setattr(DataFrame, "collect", counting)
    cube._cache.clear()
    got = cube.get_many([(f"grp{g}", "Sales") for g in range(50)])
    # one probe + one batched evaluation (+ nothing per-address):
    # far fewer collects than addresses
    assert calls["n"] <= 6, calls["n"]
    assert got[49] == pytest.approx(6.0)
    assert all(v is None for v in got[:49])


def test_many_operand_rule_compiles():
    """Rules reading more operands than the sample-profile length must
    not crash the verifier (regression: base[m] KeyError at 11+ reads)."""

    class _WideDim(_FakeDim):
        pass

    members = {f"M{i}": 20 + i for i in range(14)}
    members["T"] = 50
    cube = _FakeCube()
    cube.dimensions[1] = _FakeDim("measures", members)

    def wide(c):
        total = c["M0"]
        for i in range(1, 14):
            total = total + c[f"M{i}"]
        return total

    plan = arith._try_compile(cube, _RD(wide), 1, 50)
    assert plan is not None and len(plan.reads) == 14
    vals = {20 + i: float(i) for i in range(14)}
    assert arith.evaluate_dicts(plan, [vals])[0] == (
        sum(range(14)),
        None,
    )


def test_nan_comparison_matches_python_semantics(spark):
    """Compiled comparisons must follow Python IEEE NaN rules (always
    False except !=), not Spark's NaN-is-greatest ordering."""
    import math

    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, StructField, StructType

    def guarded_ratio(c):
        s = c["Price"]
        q = c["Quantity"]
        if s is None or q is None:
            return None
        if s > 0.0:
            return q / s
        return None

    plan = _plan(guarded_ratio)
    assert plan is not None
    nan = float("nan")
    # mirror: NaN > 0 is False in Python -> the None branch
    assert arith.evaluate_dicts(plan, [{11: nan, 10: 2.0}])[0] == (None, None)
    # Catalyst columns agree
    df = spark.createDataFrame(
        [(nan, 2.0)],
        StructType(
            [StructField("m11", DoubleType()), StructField("m10", DoubleType())]
        ),
    )
    vcol, ecol = arith.to_columns(plan, lambda m: F.col(f"m{m}"))
    r = df.select(vcol.alias("v"), ecol.alias("e")).first()
    assert r.v is None and r.e is None
    del math
