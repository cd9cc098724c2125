"""Randomized differential tests: random weighted multi-parent DAGs +
random sparse facts, every cell compared against the dict oracle
(SURVEY.md §5 / FIXTURES.md §C strategy)."""

import random

import pytest

pytestmark = pytest.mark.slow  # composition/fuzz stress: deselected by default (VERDICT r13 #2)

from tinyolap_spark import Database

from conftest import DictOracle


def random_dag_dimension(db, name, rng, n_leaves=8, n_mid=4, n_top=2,
                         weighted=True):
    """Random 3-layer DAG: leaves -> mid (random multi-parent, random
    weights) -> top; guaranteed acyclic by layering."""
    d = db.add_dimension(name).edit()
    leaves = [f"{name}_l{i}" for i in range(n_leaves)]
    mids = [f"{name}_m{i}" for i in range(n_mid)]
    tops = [f"{name}_t{i}" for i in range(n_top)]
    for m in mids:
        k = rng.randint(1, n_leaves)
        children = rng.sample(leaves, k)
        weights = [
            rng.choice([1.0, 1.0, 1.0, -1.0, 0.5, 1 / 3]) if weighted else 1.0
            for _ in children
        ]
        d.add_many(m, children, weights)
    for t in tops:
        k = rng.randint(1, n_mid)
        children = rng.sample(mids, k)
        weights = [
            rng.choice([1.0, 1.0, -1.0, 2.0]) if weighted else 1.0
            for _ in children
        ]
        d.add_many(t, children, weights)
    # orphan leaves may exist — ensure all leaves are members
    for leaf in leaves:
        if leaf not in d:
            d.add_many(leaf)
    d.commit()
    return d, leaves


@pytest.mark.parametrize("seed", [1, 7, 13, 99])
def test_random_cube_matches_dict_oracle(spark, seed):
    rng = random.Random(seed)
    db = Database(f"prop{seed}", spark=spark)
    d1, leaves1 = random_dag_dimension(db, "da", rng)
    d2, leaves2 = random_dag_dimension(db, "db", rng, n_leaves=5, n_mid=3)
    cube = db.add_cube("c", [d1, d2])

    rows = []
    seen = set()
    for _ in range(40):
        addr = (rng.choice(leaves1), rng.choice(leaves2))
        if addr in seen:
            continue
        seen.add(addr)
        rows.append((*addr, float(rng.randint(-50, 100))))
    cube.write_rows(rows)

    oracle = DictOracle(cube.dimensions, rows)
    queries = [
        (m1.name, m2.name)
        for m1 in d1.members
        for m2 in d2.members
    ]
    got = cube.get_many(queries)
    mismatches = []
    for q, g in zip(queries, got):
        want = oracle.get(q)
        if want is None:
            ok = g is None
        else:
            ok = g is not None and abs(g - want) < 1e-9 * max(1, abs(want))
        if not ok:
            mismatches.append((q, g, want))
    assert not mismatches, f"{len(mismatches)} cell mismatches: {mismatches[:5]}"


@pytest.mark.parametrize("seed", [3, 42])
def test_random_diamond_heavy(spark, seed):
    """Dense diamonds: every mid shares leaves; weight-merge must match the
    oracle's last-DFS-path-wins closure exactly."""
    rng = random.Random(seed)
    db = Database(f"dia{seed}", spark=spark)
    d = db.add_dimension("d").edit()
    leaves = [f"l{i}" for i in range(4)]
    for i in range(3):
        d.add_many(f"m{i}", leaves, [rng.choice([1.0, 2.0, -1.0]) for _ in leaves])
    d.add_many("top", [f"m{i}" for i in range(3)], [1.0, 0.5, 2.0])
    d.commit()
    cube = db.add_cube("c", [d])
    rows = [(leaf, float(rng.randint(1, 9))) for leaf in leaves]
    cube.write_rows(rows)
    oracle = DictOracle(cube.dimensions, rows)
    for m in d.members:
        got = cube[m.name]
        want = oracle.get((m.name,))
        assert got == pytest.approx(want), m.name


def test_big_cube_total_count(spark):
    """FIXTURES A4 golden: d dims x 100 members, 100 random writes at 1.0;
    ('Total',)*d == number of distinct addresses (duplicates overwrite)."""
    rng = random.Random(42)
    for ndims in (3, 5):
        db = Database(f"big{ndims}", spark=spark)
        dims = []
        for i in range(ndims):
            d = db.add_dimension(f"d{i}").edit()
            d.add_many("Total", [f"member_{j}" for j in range(100)])
            d.commit()
            dims.append(d)
        cube = db.add_cube("c", dims)
        addrs = set()
        rows = []
        for _ in range(100):
            a = tuple(f"member_{rng.randrange(100)}" for _ in range(ndims))
            addrs.add(a)
            rows.append((*a, 1.0))
        cube.write_rows(rows)
        assert cube[("Total",) * ndims] == pytest.approx(len(addrs))


@pytest.mark.parametrize("seed", [5, 21])
def test_random_small_batches_hit_fast_paths(spark, seed, read_tier):
    """Batches small enough for the grouping-sets / conditional-agg fast
    paths (engine.aggregate_cells) must match the dict oracle exactly —
    including weighted ancestors, leaf drills and missing cells — and so
    must the driver copy that answers them when the fact is small."""
    rng = random.Random(seed)
    db = Database(f"fast{seed}", spark=spark)
    d1, leaves1 = random_dag_dimension(db, "da", rng)
    d2, leaves2 = random_dag_dimension(db, "db", rng, n_leaves=5, n_mid=3)
    cube = db.add_cube("c", [d1, d2])
    rows = []
    seen = set()
    for _ in range(30):
        addr = (rng.choice(leaves1), rng.choice(leaves2))
        if addr not in seen:
            seen.add(addr)
            rows.append((*addr, float(rng.randint(-50, 100))))
    cube.write_rows(rows)
    oracle = DictOracle(cube.dimensions, rows)
    all1 = [m.name for m in d1.members]
    all2 = [m.name for m in d2.members]
    # several SMALL batches with fresh cache each time
    for batch_no in range(4):
        cube._invalidate()
        if batch_no % 2 == 0:
            # leaf-drill flavored (grouping-sets eligible shapes)
            queries = [
                (rng.choice(leaves1), rng.choice(all2)) for _ in range(20)
            ]
        else:
            queries = [
                (rng.choice(all1), rng.choice(all2)) for _ in range(20)
            ]
        got = cube.get_many(queries)
        for q, g in zip(queries, got):
            want = oracle.get(q)
            if want is None:
                assert g is None, (q, g)
            else:
                assert g is not None and abs(g - want) < 1e-9 * max(
                    1, abs(want)
                ), (q, g, want)
    assert (cube._local is not None) == (read_tier == "copy")


@pytest.mark.parametrize("opaque", [False, True])
@pytest.mark.parametrize("seed", [3, 21, 55])
def test_random_rules_executor_driver_agree(spark, monkeypatch, seed, opaque):
    """Randomized differential check of the two BASE_LEVEL rule tiers:
    random measures DAG + random single-dimension rule bodies (leaf and
    aggregated reads) must produce identical aggregates from the
    batched tier — per address and as one get_many batch — and the
    driver loop; and the driver copy's answers must equal forced
    Spark's, tier for tier."""
    from tinyolap_spark import RuleScope, local

    rng = random.Random(seed)
    db = Database(f"rulprop{seed}", spark=spark)
    dg, gleaves = random_dag_dimension(db, "geo", rng, n_leaves=6, n_mid=3)
    dm = db.add_dimension("measures").edit()
    base_measures = [f"m{i}" for i in range(4)]
    for m in base_measures:
        dm.add_many(m)
    dm.add_many("mtot", base_measures[:3],
                [rng.choice([1.0, 1.0, -1.0]) for _ in range(3)])
    dm.add_many("derived")
    dm.commit()
    cube = db.add_cube("c", [dg, dm])

    rows = []
    for leaf in gleaves:
        for m in base_measures:
            if rng.random() < 0.8:
                rows.append((leaf, m, float(rng.randrange(-20, 100))))
    cube.write_rows(rows)

    read_a, read_b = rng.sample(base_measures, 2)
    agg_read = rng.random() < 0.5

    def rule_fn(c, _a=read_a, _b=read_b, _agg=agg_read, _opaque=opaque):
        va = c[_a]
        vb = c["mtot"] if _agg else c[_b]
        if _opaque:
            va = float(va or 0.0)  # float() is opaque to the arith compiler
        return (va or 0.0) + 2.0 * (vb or 0.0)

    cube.register_rule(
        rule_fn, trigger=["measures:derived"], scope=RuleScope.BASE_LEVEL,
        feeder=[f"measures:{read_a}"],
    )
    rdef = next(iter(cube.rules))
    targets = [m for m in dg.members if not m.is_leaf][:4]
    for member in targets:
        cube._cache.clear()
        got = cube[member.name, "derived"]
        path = cube._last_base_rule_path
        cube._cache.clear()
        want = cube._base_rule_driver_loop(
            rdef, [member.index, dm.member(read_a).index]
        )
        if got is None or want is None:
            assert got == want, (member.name, path)
        else:
            assert got == pytest.approx(want), (member.name, path)
    # the same targets as ONE batch: one distributed pass over every
    # requested ancestor (aggregated reads of mtot included)
    def batch_and_loop():
        cube._cache.clear()
        batch = cube.get_many([(m.name, "derived") for m in targets])
        path = cube._last_base_rule_path
        loop = []
        for member in targets:
            cube._cache.clear()
            loop.append(cube._base_rule_driver_loop(
                rdef, [member.index, dm.member(read_a).index]
            ))
        return batch, path, loop

    def agree(got, want, label):
        if got is None or want is None:
            assert got == want, label
        else:
            assert got == pytest.approx(want), label

    # the same targets as ONE batch: one pass over every requested
    # ancestor (aggregated reads of mtot included)
    got_all, path, loop = batch_and_loop()
    assert cube._local is not None
    assert path == ("executor" if opaque else "compiled")
    for member, got, want in zip(targets, got_all, loop):
        agree(got, want, (member.name, path))
    with monkeypatch.context() as m:
        m.setattr(local, "CELL_LIMIT", 0)
        cube._local = None
        spark_all, spark_path, spark_loop = batch_and_loop()
        assert cube._local is None
    assert spark_path == path
    for member, a, b, c, d in zip(targets, got_all, spark_all, loop, spark_loop):
        agree(a, b, (member.name, "batch", path))
        agree(c, d, (member.name, "driver loop"))
