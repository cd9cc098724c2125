"""Regression tests for the two ADVICE r2 medium rule-engine bugs plus the
executor-tier widening to aggregated feeder members (VERDICT r3 #5/#8).

- a nested rule patterned on a DIFFERENT dimension than the one the
  BASE_LEVEL rule reads must force the driver path (it can redefine the
  base values the executor path would read raw);
- a nested rule on another dimension that CANNOT overlap the queried
  slice must NOT cost the executor path;
- aggregated trigger/feeder members of the read dimension evaluate
  executor-side via closure expansion;
- data-dependent runtime reads of aggregated members (which the one-row
  probe never saw) return correct rolled-up values, not None.
"""

import pytest

from tinyolap_spark import Database, RuleScope


def _regions_measures(spark, name):
    db = Database(name, spark=spark)
    regions = db.add_dimension("regions").edit()
    regions.add_many("NS", ["North", "South"])
    regions.add_many("Total", ["NS", "West"])
    regions.commit()
    measures = db.add_dimension("measures").edit()
    measures.add_many("S1")
    measures.add_many("S2")
    measures.add_many("SalesTotal", ["S1", "S2"])
    measures.add_many("Derived")
    measures.commit()
    cube = db.add_cube("c", [regions, measures])
    cube.write_rows([
        ("North", "S1", 10.0),
        ("North", "S2", 5.0),
        ("South", "S1", 20.0),
        ("South", "S2", 1.0),
        ("West", "S1", 100.0),
    ])
    return db, cube


def test_nested_rule_on_other_dimension_forces_driver(spark):
    """ADVICE r2 medium (cube.py:995): an ALL_LEVELS rule patterned on the
    regions dimension redefines the base cells the Derived rule reads; the
    executor path would read raw stored values and silently disagree."""
    db, cube = _regions_measures(spark, "nested_xdim")

    def north_fixed(c):
        return 42.0

    def derived(c):
        return c["S1"] * 2.0

    cube.register_rule(
        north_fixed, trigger=["regions:North"], scope=RuleScope.ALL_LEVELS
    )
    cube.register_rule(
        derived, trigger=["measures:Derived"], scope=RuleScope.BASE_LEVEL,
        feeder=["measures:S1"],
    )
    # driver loop: North cell reads c["S1"] -> cube["North","S1"] -> the
    # nested rule fires -> 42; South reads stored 20.
    # NS Derived = 42*2 + 20*2 = 124 (executor path would say 60)
    assert cube["NS", "Derived"] == pytest.approx(124.0)
    assert cube._last_base_rule_path == "driver"


def test_nested_rule_outside_slice_keeps_executor(spark):
    """A nested rule on a leaf NOT under the queried rollup can never fire
    for the evaluated slice — the executor path must survive."""
    db, cube = _regions_measures(spark, "nested_outside")

    def west_fixed(c):
        return 9999.0

    def derived(c):
        return c["S1"] * 2.0

    cube.register_rule(
        west_fixed, trigger=["regions:West"], scope=RuleScope.ALL_LEVELS
    )
    cube.register_rule(
        derived, trigger=["measures:Derived"], scope=RuleScope.BASE_LEVEL,
        feeder=["measures:S1"],
    )
    # West is not under NS: slice = {North, South} only
    assert cube["NS", "Derived"] == pytest.approx(10.0 * 2 + 20.0 * 2)
    assert cube._last_base_rule_path == "compiled"


def test_aggregated_feeder_executor_path(spark):
    """VERDICT r3 #8: an aggregated feeder/read member of the rule's
    dimension evaluates executor-side — the closure expansion puts the
    rolled-up value in the slice map."""
    db, cube = _regions_measures(spark, "agg_feeder")

    def derived(c):
        return c["SalesTotal"] * 0.1

    cube.register_rule(
        derived, trigger=["measures:Derived"], scope=RuleScope.BASE_LEVEL,
        feeder=["measures:SalesTotal"],
    )
    # North SalesTotal=15, South=21 -> 1.5 + 2.1
    assert cube["NS", "Derived"] == pytest.approx(3.6)
    assert cube._last_base_rule_path == "compiled"


def test_data_dependent_aggregated_read_is_correct(spark):
    """ADVICE r2 medium (cube.py:387): a runtime read of an aggregated
    member the probe didn't sample must return the rolled-up value (was:
    None off the leaf-only map -> silently wrong aggregate)."""
    db, cube = _regions_measures(spark, "datadep_read")

    def derived(c):
        v = c["S1"]
        if v is not None and v > 15.0:
            return c["SalesTotal"]
        return v if v is not None else 0.0

    cube.register_rule(
        derived, trigger=["measures:Derived"], scope=RuleScope.BASE_LEVEL,
        feeder=["measures:S1"],
    )
    # North: S1=10 -> 10; South: S1=20>15 -> SalesTotal=21
    assert cube["NS", "Derived"] == pytest.approx(31.0)


def test_driver_fallback_budget_raises(spark):
    """VERDICT r3 #6: a cube-re-entering rule over a feeder slice above
    the driver budget raises a descriptive error instead of collecting."""
    from tinyolap_spark.metadata import TinyOlapError

    db, cube = _regions_measures(spark, "budget_guard")

    def xdim(c):
        # cross-dimension read -> ineligible for the executor path
        return c["S1"] + c["regions:West", "S1"]

    cube.register_rule(
        xdim, trigger=["measures:Derived"], scope=RuleScope.BASE_LEVEL,
        feeder=["measures:S1"],
    )
    cube.base_rule_driver_budget = 1  # slice has 2 feeder rows under NS
    with pytest.raises(TinyOlapError, match="base_rule_driver_budget"):
        cube["NS", "Derived"]
    cube.base_rule_driver_budget = 250_000
    cube._cache.clear()
    assert cube["NS", "Derived"] == pytest.approx(
        (10.0 + 100.0) + (20.0 + 100.0)
    )
    assert cube._last_base_rule_path == "driver"


def test_driver_and_executor_paths_agree_on_plain_rule(spark):
    """Cross-check: the closure-expanded executor path and the driver loop
    compute the same number for a rule both can run."""
    db, cube = _regions_measures(spark, "paths_agree")

    def derived(c):
        return c["S1"] + 0.5 * c["S2"]

    cube.register_rule(
        derived, trigger=["measures:Derived"], scope=RuleScope.BASE_LEVEL,
        feeder=["measures:S1"],
    )
    got_exec = cube["NS", "Derived"]
    assert cube._last_base_rule_path == "compiled"
    cube._cache.clear()
    from tinyolap_spark.rules import RuleDef  # noqa: F401
    rdef = next(iter(cube.rules))
    query_addr = [
        cube.dimensions[0].member("NS").index,
        cube.dimensions[1].member("S1").index,
    ]
    got_driver = cube._base_rule_driver_loop(rdef, query_addr)
    assert got_exec == pytest.approx(got_driver)


def test_get_many_rule_cells_batched_reads(spark, monkeypatch, read_tier):
    """Rule-read prefetch: N base-level rule cells in one get_many must
    warm the cache with O(1) base_lookup batches, not O(N x reads) point
    jobs, and still produce correct values."""
    from tinyolap_spark import engine

    db, cube = _regions_measures(spark, "prefetch_rules")

    def derived(c):
        s1 = c["S1"]
        s2 = c["S2"]
        return (s1 or 0.0) + 10.0 * (s2 or 0.0)

    cube.register_rule(
        derived, trigger=["measures:Derived"], scope=RuleScope.BASE_LEVEL,
        feeder=["measures:S1"],
    )
    calls = {"n": 0}
    orig = engine.base_lookup

    def counting(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    monkeypatch.setattr(engine, "base_lookup", counting)
    cube._cache.clear()
    got = cube.get_many(
        [("North", "Derived"), ("South", "Derived"), ("West", "Derived")]
    )
    assert got == [
        pytest.approx(10.0 + 10.0 * 5.0),
        pytest.approx(20.0 + 10.0 * 1.0),
        pytest.approx(100.0),
    ]
    # probe (<= 2 reads for the first cell) + one batched prefetch —
    # NOT two point reads per cell
    assert calls["n"] <= 3, calls["n"]
    assert (cube._local is not None) == (read_tier == "copy")


def test_get_many_aggregated_rule_cells_one_pass(spark, monkeypatch):
    """N aggregated addresses dispatched to the same BASE_LEVEL rule must
    evaluate in ONE batched distributed pass (cache-served afterwards),
    not one _base_rule_distributed job per address — and values must match
    the per-address path."""
    db, cube = _regions_measures(spark, "batch_agg_rules")

    def derived(c):
        return c["S1"] + 0.5 * c["S2"]

    cube.register_rule(
        derived, trigger=["measures:Derived"], scope=RuleScope.BASE_LEVEL,
        feeder=["measures:S1"],
    )
    targets = [("NS", "Derived"), ("Total", "Derived"), ("West", "Derived")]
    # per-address ground truth first (through the single-address path)
    expected = []
    for t in targets:
        cube._cache.clear()
        expected.append(cube[t])

    calls = {"n": 0}
    orig = cube._base_rule_distributed

    def counting(rdef, query_addr):
        calls["n"] += 1
        return orig(rdef, query_addr)

    monkeypatch.setattr(cube, "_base_rule_distributed", counting)
    cube._cache.clear()
    got = cube.get_many(targets)
    assert got == [pytest.approx(e) for e in expected]
    assert calls["n"] == 0, "batch must not fall back to per-address jobs"


def test_get_many_scattered_addresses_prune_combos(spark):
    """ADVICE r4: N unrelated aggregated rule addresses over k dims must
    not aggregate the full cross-product of the per-dim ancestor unions —
    the requested-combo semi-join prunes to exactly the asked combos, and
    values must still match the per-address path."""
    db = Database("combo_prune", spark=spark)
    regions = db.add_dimension("regions").edit()
    regions.add_many("NS", ["North", "South"])
    regions.add_many("Total", ["NS", "West"])
    regions.commit()
    products = db.add_dimension("products").edit()
    products.add_many("AllP", ["P1", "P2", "P3"])
    products.commit()
    measures = db.add_dimension("measures").edit()
    measures.add_many("S1")
    measures.add_many("S2")
    measures.add_many("Derived")
    measures.commit()
    cube = db.add_cube("c", [regions, products, measures])
    rows = []
    for r in ("North", "South", "West"):
        for p in ("P1", "P2", "P3"):
            rows.append((r, p, "S1", 10.0 * (len(r) + len(p))))
            rows.append((r, p, "S2", 2.0))
    cube.write_rows(rows)

    def derived(c):
        return c["S1"] + 0.5 * c["S2"]

    cube.register_rule(
        derived, trigger=["measures:Derived"], scope=RuleScope.BASE_LEVEL,
        feeder=["measures:S1"],
    )
    # scattered: per-dim union is {NS,Total,West} x {P1,P2,AllP} = 9 combos
    # for only 3 requested addresses — the prune keeps exactly these 3
    targets = [
        ("NS", "P1", "Derived"),
        ("Total", "P2", "Derived"),
        ("West", "AllP", "Derived"),
    ]
    expected = []
    for t in targets:
        cube._cache.clear()
        expected.append(cube[t])
    cube._cache.clear()
    got = cube.get_many(targets)
    assert got == [pytest.approx(e) for e in expected]
