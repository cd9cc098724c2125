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

import time

import pytest

from tinyolap_spark import Database, RuleScope

from conftest import each_read_tier


def _regions_measures(spark, name, extra_measures=()):
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
    for m in extra_measures:
        measures.add_many(m)
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


def test_nested_rule_on_other_dimension_forces_driver(spark, monkeypatch):
    """ADVICE r2 medium (cube.py:995): an ALL_LEVELS rule patterned on the
    regions dimension redefines the base cells the Derived rule reads; the
    executor path would read raw stored values and silently disagree."""
    for tier in each_read_tier(monkeypatch):
        db, cube = _regions_measures(spark, f"nested_xdim_{tier}")

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
        assert (cube._local is not None) == (tier == "copy")


def test_nested_rule_outside_slice_keeps_executor(spark, monkeypatch):
    """A nested rule on a leaf NOT under the queried rollup can never fire
    for the evaluated slice — the executor path must survive."""
    for tier in each_read_tier(monkeypatch):
        db, cube = _regions_measures(spark, f"nested_outside_{tier}")

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
        assert (cube._local is not None) == (tier == "copy")


def test_aggregated_feeder_executor_path(spark, monkeypatch):
    """VERDICT r3 #8: an aggregated feeder/read member of the rule's
    dimension evaluates executor-side — the closure expansion puts the
    rolled-up value in the slice map."""
    for tier in each_read_tier(monkeypatch):
        db, cube = _regions_measures(spark, f"agg_feeder_{tier}")

        def derived(c):
            return c["SalesTotal"] * 0.1

        cube.register_rule(
            derived, trigger=["measures:Derived"], scope=RuleScope.BASE_LEVEL,
            feeder=["measures:SalesTotal"],
        )
        # North SalesTotal=15, South=21 -> 1.5 + 2.1
        assert cube["NS", "Derived"] == pytest.approx(3.6)
        assert cube._last_base_rule_path == "compiled"
        assert (cube._local is not None) == (tier == "copy")


def test_data_dependent_aggregated_read_is_correct(spark, monkeypatch):
    """ADVICE r2 medium (cube.py:387): a runtime read of an aggregated
    member the probe didn't sample must return the rolled-up value (was:
    None off the leaf-only map -> silently wrong aggregate)."""
    for tier in each_read_tier(monkeypatch):
        db, cube = _regions_measures(spark, f"datadep_read_{tier}")

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
        assert (cube._local is not None) == (tier == "copy")


def test_driver_fallback_budget_raises(spark, monkeypatch):
    """VERDICT r3 #6: a cube-re-entering rule over a feeder slice above
    the driver budget raises a descriptive error instead of collecting."""
    for tier in each_read_tier(monkeypatch):
        from tinyolap_spark.metadata import TinyOlapError

        db, cube = _regions_measures(spark, f"budget_guard_{tier}")

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
        assert (cube._local is not None) == (tier == "copy")


def test_driver_and_executor_paths_agree_on_plain_rule(spark, monkeypatch):
    """Cross-check: the closure-expanded executor path and the driver loop
    compute the same number for a rule both can run."""
    for tier in each_read_tier(monkeypatch):
        db, cube = _regions_measures(spark, f"paths_agree_{tier}")

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
        assert (cube._local is not None) == (tier == "copy")


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
    evaluate in ONE batched distributed pass (cache-served afterwards):
    one `_aggregate_base_rule_many` call, no driver loop — and values must
    match the per-address path."""
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

    calls = {"many": 0, "driver": 0}
    orig_many = cube._aggregate_base_rule_many
    orig_driver = cube._base_rule_driver_loop

    def counting_many(rdef, idx_addresses):
        calls["many"] += 1
        return orig_many(rdef, idx_addresses)

    def counting_driver(rdef, query_addr):
        calls["driver"] += 1
        return orig_driver(rdef, query_addr)

    monkeypatch.setattr(cube, "_aggregate_base_rule_many", counting_many)
    monkeypatch.setattr(cube, "_base_rule_driver_loop", counting_driver)
    cube._cache.clear()
    got = cube.get_many(targets)
    assert got == [pytest.approx(e) for e in expected]
    assert calls == {"many": 1, "driver": 0}, calls


def _count_jobs(spark, group, fn):
    """``(fn(), number of Spark jobs fn ran)``, counted by job group.  The
    status tracker is fed asynchronously, so a one-task barrier job in a
    second group is awaited first: once it has finished, every event of
    ``fn`` is in."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    barrier = f"{group}-barrier"
    sc.setJobGroup(group, group)
    try:
        out = fn()
        sc.setJobGroup(barrier, barrier)
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30.0
    while True:
        infos = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(barrier)]
        if infos and all(i is not None and i.status == "SUCCEEDED" for i in infos):
            break
        assert time.monotonic() < deadline, "status tracker did not catch up"
        time.sleep(0.01)
    return out, len(tracker.getJobIdsForGroup(group))


def test_get_many_aggregated_feeder_rule_one_job(spark, monkeypatch):
    """A get_many over several aggregated addresses of an aggregated-feeder
    rule (closure-expanded read dimension) runs ONE rule evaluation: no
    more Spark jobs than a single address costs, not one evaluation per
    address.  From the driver copy, neither runs a Spark job."""
    for tier in each_read_tier(monkeypatch):
        db = Database(f"agg_feeder_batch_{tier}", spark=spark)
        regions = db.add_dimension("regions").edit()
        regions.add_many("NS", ["North", "South"])
        regions.add_many("WE", ["West", "East"])
        regions.add_many("Total", ["NS", "WE"])
        regions.commit()
        measures = db.add_dimension("measures").edit()
        measures.add_many("S1")
        measures.add_many("S2")
        measures.add_many("SalesTotal", ["S1", "S2"])
        measures.add_many("Derived")
        measures.commit()
        cube = db.add_cube("c", [regions, measures])
        cube.write_rows([
            ("North", "S1", 10.0), ("North", "S2", 5.0),
            ("South", "S1", 20.0), ("South", "S2", 1.0),
            ("West", "S1", 100.0), ("East", "S2", 7.0),
        ])

        def derived(c):
            return c["SalesTotal"] * 0.1

        cube.register_rule(
            derived, trigger=["measures:Derived"], scope=RuleScope.BASE_LEVEL,
            feeder=["measures:SalesTotal"],
        )
        assert cube["North", "S1"] == 10.0  # the cell copy is built outside the count
        targets = [("NS", "Derived"), ("WE", "Derived"), ("Total", "Derived")]
        cube._cache.clear()
        one, single_jobs = _count_jobs(
            spark, f"rule-single-{tier}", lambda: cube["NS", "Derived"]
        )
        assert one == pytest.approx(3.6)
        cube._cache.clear()
        got, batch_jobs = _count_jobs(
            spark, f"rule-batch-{tier}", lambda: cube.get_many(targets)
        )
        assert got == [pytest.approx(3.6), pytest.approx(10.7), pytest.approx(14.3)]
        assert cube._last_base_rule_path == "compiled"
        if tier == "copy":
            assert (batch_jobs, single_jobs) == (0, 0)
        else:
            assert 0 < batch_jobs <= single_jobs, (batch_jobs, single_jobs)


def test_empty_batch_sets_rule_path(spark, monkeypatch):
    """A batch whose slices hold no base rows is answered by the
    distributed tier, so it must say so: a stale "driver" from an earlier
    read would misattribute the result."""
    for tier in each_read_tier(monkeypatch):
        import math

        db, cube = _regions_measures(
            spark, f"empty_batch_path_{tier}", extra_measures=["S3", "LogD"]
        )

        def xdim(c):
            return c["S1"] + c["regions:West", "S1"]

        def logd(c):
            return math.log1p(c["S1"] or 0.0)  # opaque to the arith compiler

        cube.register_rule(
            xdim, trigger=["measures:Derived"], scope=RuleScope.BASE_LEVEL,
            feeder=["measures:S1"],
        )
        cube.register_rule(
            logd, trigger=["measures:LogD"], scope=RuleScope.BASE_LEVEL,
            feeder=["measures:S3"],
        )
        assert cube["NS", "Derived"] == pytest.approx(230.0)
        assert cube._last_base_rule_path == "driver"
        # S3 holds no rows: both feeder slices are empty
        assert cube.get_many([("NS", "LogD"), ("Total", "LogD")]) == [None, None]
        assert cube._last_base_rule_path == "executor"
        assert (cube._local is not None) == (tier == "copy")


def test_get_many_scattered_addresses_prune_combos(spark, monkeypatch):
    """ADVICE r4: N unrelated aggregated rule addresses over k dims must
    not aggregate the full cross-product of the per-dim ancestor unions —
    the requested-combo semi-join prunes to exactly the asked combos, and
    values must still match the per-address path."""
    for tier in each_read_tier(monkeypatch):
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
        assert (cube._local is not None) == (tier == "copy")


def test_copy_backed_rules_and_view_run_no_spark_job(spark):
    """On a cube with a driver copy of its fact, leaf, group and top cells
    of a compiled and of an opaque BASE_LEVEL rule, and a view over
    stored and rule measures, are all answered without a Spark job.  The
    opaque rule shares its dimension with the compiled one, so the driver
    loop answers it; alone on its dimension (a second cube) the copy runs
    its slice function."""
    import math

    from tinyolap_spark import View

    db = Database("rules_no_jobs", spark=spark)
    keys = db.add_dimension("keys").edit()
    keys.add_many("g0", ["k0", "k1", "k2"])
    keys.add_many("g1", ["k3", "k4", "k5"])
    keys.add_many("All", ["g0", "g1"])
    keys.commit()
    measures = db.add_dimension("measures").edit()
    measures.add_many(["Quantity", "Price", "Cost", "Sales", "LogQ"])
    measures.commit()
    cube = db.add_cube("c", [keys, measures])
    stored = {
        f"k{i}": {"Quantity": float(i + 1), "Price": 2.0 + i, "Cost": 10.0}
        for i in range(6)
    }
    cube.write_rows([
        (k, m, v) for k, row in stored.items() for m, v in row.items()
    ])

    def sales(c):
        q = c["Quantity"]
        p = c["Price"]
        if q is not None and p is not None:
            return q * p

    def logq(c):
        q = c["Quantity"]
        if q is not None:
            return math.log1p(q)

    cube.register_rule(sales, trigger=["measures:Sales"],
                       scope=RuleScope.BASE_LEVEL, feeder=["measures:Quantity"])
    cube.register_rule(logq, trigger=["measures:LogQ"],
                       scope=RuleScope.BASE_LEVEL, feeder=["measures:Quantity"])
    assert cube["k0", "Quantity"] == 1.0  # builds the copy
    cube["k4", "Quantity"] = 7.0  # a write patches the copy
    stored["k4"]["Quantity"] = 7.0
    cube._flush()

    def want(keys_, m):
        rows = [stored[k] for k in keys_]
        if m == "Sales":
            return sum(r["Quantity"] * r["Price"] for r in rows)
        if m == "LogQ":
            return sum(math.log1p(r["Quantity"]) for r in rows)
        return sum(r[m] for r in rows)

    under = {"k4": ["k4"], "g1": ["k3", "k4", "k5"], "All": list(stored)}
    targets = [(k, m) for m in ("Sales", "LogQ") for k in ("k4", "g1", "All")]
    before = cube.counter_local_cells
    got, jobs = _count_jobs(
        spark, "copy-rules", lambda: cube.get_many(targets)
    )
    assert got == [pytest.approx(want(under[k], m)) for k, m in targets]
    assert jobs == 0
    assert cube.counter_local_cells - before >= 4  # the 4 aggregated rule cells
    view_measures = ["Quantity", "Price", "Cost", "Sales"]
    cube._invalidate()
    v, view_jobs = _count_jobs(
        spark, "copy-view",
        lambda: View(cube, rows=[("keys", ["g0", "g1", "All"])],
                     columns=[("measures", view_measures)]).refresh(),
    )
    assert view_jobs == 0
    groups = {"g0": ["k0", "k1", "k2"], "g1": under["g1"], "All": list(stored)}
    for g, ks in groups.items():
        for m in view_measures:
            assert v.cell_by_names([g], [m]) == pytest.approx(want(ks, m))
    assert v.stats["executed_as"] == "local"

    alone = db.add_cube("c_logq", [keys, measures])
    alone.write_rows([
        (k, m, v) for k, row in stored.items() for m, v in row.items()
    ])
    alone.register_rule(logq, trigger=["measures:LogQ"],
                        scope=RuleScope.BASE_LEVEL,
                        feeder=["measures:Quantity"])
    assert alone["k0", "Quantity"] == 1.0  # builds the copy
    logq_targets = [(k, "LogQ") for k in ("k4", "g1", "All")]
    got, jobs = _count_jobs(
        spark, "copy-opaque", lambda: alone.get_many(logq_targets)
    )
    assert got == [pytest.approx(want(under[k], "LogQ")) for k, _ in logq_targets]
    assert jobs == 0
    assert alone._last_base_rule_path == "executor"
