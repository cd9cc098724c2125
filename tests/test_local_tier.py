"""The local read tier: a driver-resident copy of a small fact
(``tinyolap_spark.local``) answers base and aggregated cell reads.

- differential: every read the copy answers equals the Spark engine's
  answer for the same cube (Spark forced by ``CELL_LIMIT = 0``);
- coherence: read-your-write through the copy after every kind of fact
  swap, a failed flush leaves reads on the old values, and single-cell
  writes patch the copy instead of rebuilding it;
- undo/redo stale-mark summary frames (every fact swap goes through
  ``Cube._replace_fact``).
"""

import math
import random

import pytest

from tinyolap_spark import Database, local
from tinyolap_spark.cube import Cube


def _same(got, want) -> bool:
    if got is None or want is None or isinstance(want, str):
        return got == want
    if math.isnan(want):
        return math.isnan(got)
    # the copy sums in another order than Spark: doubles may differ in
    # the last digits on weighted (non-integer) rollups
    return got == pytest.approx(want, rel=1e-9, abs=1e-9)


def _copy_vs_spark(cube, addresses, monkeypatch):
    """get_many(addresses) answered by the copy, then by Spark."""
    cube._local = None
    cube._invalidate()
    got = cube.get_many(addresses)
    assert cube._local is not None and cube._local.fact is cube._fact
    with monkeypatch.context() as m:
        m.setattr(local, "CELL_LIMIT", 0)
        cube._local = None
        cube._invalidate()
        want = cube.get_many(addresses)
        assert cube._local is None
    cube._invalidate()
    bad = [
        (a, g, w) for a, g, w in zip(addresses, got, want) if not _same(g, w)
    ]
    assert not bad, bad[:10]
    return got


def _dim(db, name, parents):
    d = db.add_dimension(name).edit()
    for parent, children in parents:
        d.add_many(parent, children)
    d.commit()
    return d


# ------------------------------------------------------------ differential
def test_copy_matches_spark_on_tiny(tiny, monkeypatch):
    """Weighted Profit, multi-parent products, every member level."""
    _db, cube, _rows = tiny
    rng = random.Random(3)
    names = [[m.name for m in d.members] for d in cube.dimensions]
    leaves = [[m.name for m in d.leaf_members] for d in cube.dimensions]
    anywhere = [tuple(rng.choice(n) for n in names) for _ in range(150)]
    # one or two dims drilled to leaves, the rest at aggregated members
    drills = []
    for _ in range(60):
        pick = set(rng.sample(range(len(names)), rng.choice([1, 2])))
        drills.append(tuple(
            rng.choice(leaves[i]) if i in pick else rng.choice(names[i])
            for i in range(len(names))
        ))
    got = _copy_vs_spark(cube, anywhere + drills, monkeypatch)
    assert sum(g is not None for g in got) > 100


@pytest.mark.parametrize("seed", [2, 17])
def test_copy_matches_spark_on_random_dags(spark, monkeypatch, seed):
    """Random multi-parent DAG dimensions with weights (the shapes
    ``test_property`` fuzzes), every member pair."""
    from test_property import random_dag_dimension

    rng = random.Random(seed)
    db = Database(f"local_dag{seed}", spark=spark)
    d1, leaves1 = random_dag_dimension(db, "da", rng)
    d2, leaves2 = random_dag_dimension(db, "db", rng, n_leaves=5, n_mid=3)
    cube = db.add_cube("c", [d1, d2])
    rows = {}
    for _ in range(25):
        rows[(rng.choice(leaves1), rng.choice(leaves2))] = float(
            rng.randint(-50, 100)
        )
    cube.write_rows([(*a, v) for a, v in rows.items()])
    addrs = [(a.name, b.name) for a in d1.members for b in d2.members]
    _copy_vs_spark(cube, addrs, monkeypatch)


def test_copy_matches_spark_on_strings_deletes_and_misses(spark, monkeypatch):
    """String cells, deleted cells, never-written addresses, the same
    address twice in one batch, and an aggregate over string-only cells
    (a row exists but its sum is null: 0.0, not None)."""
    db = Database("local_strings", spark=spark)
    d1 = _dim(db, "d1", [("All", ["a", "b", "c"])])
    d2 = _dim(db, "d2", [("Nums", ["x", "y"]), ("Text", ["s", "t"]),
                         ("Total", ["Nums", "Text"])])
    cube = db.add_cube("c", [d1, d2])
    cube.write_rows([
        ("a", "x", 1.0), ("a", "y", 2.5), ("b", "x", -4.0), ("c", "y", 8.0),
        ("a", "s", "hello"), ("b", "t", "world"), ("c", "s", 3.0),
    ])
    cube["c", "y"] = None  # deleted through a flush
    del cube["b", "x"]
    cube.write_rows([("c", "s", None), ("c", "t", "late")])  # bulk delete
    addrs = [(a, b) for a in ("All", "a", "b", "c")
             for b in ("x", "y", "s", "t", "Nums", "Text", "Total")]
    addrs += [("a", "x"), ("a", "x"), ("b", "Text"), ("b", "x")]
    got = dict(zip(addrs, _copy_vs_spark(cube, addrs, monkeypatch)))
    assert got[("a", "s")] == "hello" and got[("c", "t")] == "late"
    assert got[("b", "x")] is None and got[("c", "y")] is None
    assert got[("b", "Text")] == 0.0  # string-only aggregate
    assert got[("c", "Nums")] is None  # every number under it deleted
    assert got[("All", "x")] == 1.0


def test_copy_matches_spark_on_one_dimension(spark, monkeypatch):
    db = Database("local_one", spark=spark)
    d = _dim(db, "only", [("Half", ["p", "q"]), ("All", ["Half", "r", "s"])])
    cube = db.add_cube("c", [d])
    cube.write_rows([("p", 1.0), ("r", 4.0), ("s", "txt")])
    names = ["p", "q", "r", "s", "Half", "All"]
    got = _copy_vs_spark(cube, [(n,) for n in names], monkeypatch)
    assert got == [1.0, None, 4.0, "txt", 1.0, 5.0]


# --------------------------------------------------------------- coherence
def _coherence_cube(spark, name):
    db = Database(name, spark=spark)
    d1 = _dim(db, "d1", [("All", ["a", "b", "c"])])
    d2 = _dim(db, "d2", [("Total", ["x", "y"])])
    cube = db.add_cube("c", [d1, d2])
    cube.write_rows([("a", "x", 1.0), ("b", "y", 2.0), ("c", "x", 3.0)])
    return db, cube


ADDRS = [(a, b) for a in ("All", "a", "b", "c") for b in ("Total", "x", "y")]


def _expect(cube, base):
    """Assert every cell against a dict of base values (weights are 1)."""
    got = cube.get_many(ADDRS)
    assert cube._local is not None and cube._local.fact is cube._fact
    for (a, b), g in zip(ADDRS, got):
        under = [
            v for (x, y), v in base.items()
            if a in ("All", x) and b in ("Total", y)
        ]
        want = sum(under) if under else None
        assert g == want, ((a, b), g, want)
    # point reads take the single-address paths
    assert cube["a", "x"] == base.get(("a", "x"))
    assert cube["All", "Total"] == (sum(base.values()) if base else None)


def test_read_your_write_through_the_copy(spark, tmp_path):
    db, cube = _coherence_cube(spark, "local_ryw")
    base = {("a", "x"): 1.0, ("b", "y"): 2.0, ("c", "x"): 3.0}
    _expect(cube, base)
    cube["a", "x"] = 5.0
    base[("a", "x")] = 5.0
    _expect(cube, base)
    del cube["b", "y"]
    del base[("b", "y")]
    _expect(cube, base)
    cube.write_rows([("b", "x", 7.0), ("c", "x", 4.0)])
    base.update({("b", "x"): 7.0, ("c", "x"): 4.0})
    _expect(cube, base)
    assert cube.counter_local_builds == 1  # cell writes patched the copy
    cube.area("c").set_value(9.0)
    base[("c", "x")] = 9.0
    _expect(cube, base)
    cube.area("b").clear()
    del base[("b", "x")]
    _expect(cube, base)
    pdf = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 6.0), ("a", "y", 1.0)],
        ["d1", "d2", "value"],
    )
    cube.load_dataframe(pdf, by_name=True, additive=True)
    base.update({("a", "x"): 6.0, ("a", "y"): 7.0})
    _expect(cube, base)
    before_clear = dict(base)
    cube.clear()
    _expect(cube, {})
    db.history.undo()
    _expect(cube, before_clear)
    db.history.redo()
    _expect(cube, {})
    db.history.undo()
    path = str(tmp_path / "db")
    db.save(path)
    _expect(cube, before_clear)
    cube2 = Database.open(path, spark=spark).cube("c")
    _expect(cube2, before_clear)


def test_failed_flush_leaves_reads_on_old_values(spark, monkeypatch):
    _db, cube = _coherence_cube(spark, "local_failed_flush")
    base = {("a", "x"): 1.0, ("b", "y"): 2.0, ("c", "x"): 3.0}
    _expect(cube, base)
    copy = cube._local

    def boom(self, *a, **k):
        raise RuntimeError("merge failed")

    with monkeypatch.context() as m:
        m.setattr(type(cube._fact), "localCheckpoint", boom)
        cube["a", "x"] = 100.0
        with pytest.raises(RuntimeError, match="merge failed"):
            cube["All", "Total"]  # the read flushes the pending write
    assert cube._local is copy  # not patched by the failed merge
    _expect(cube, base)
    assert cube.counter_local_builds == 1


def test_single_cell_writes_build_the_copy_once(spark):
    _db, cube = _coherence_cube(spark, "local_forty")
    cube.reset_counters()
    total = 6.0
    for i in range(40):
        cube["b", "x"] = float(i)
        expected = total + i
        assert cube["All", "Total"] == expected
        assert cube["b", "x"] == float(i)
    assert cube.counter_local_builds == 1
    assert cube.counter_local_cells >= 40


def test_fact_over_the_limit_is_never_collected(spark, monkeypatch):
    _db, cube = _coherence_cube(spark, "local_over")
    monkeypatch.setattr(local, "CELL_LIMIT", 2)  # the fact holds 3
    calls = []
    DataFrame = type(cube._fact)
    orig = DataFrame.toArrow

    def counting(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(DataFrame, "toArrow", counting)
    assert cube["All", "Total"] == 6.0
    cube.write_rows([("a", "y", 1.0)])
    assert cube["All", "Total"] == 7.0
    assert calls == [] and cube._local is None
    assert cube.counter_local_builds == 0


def test_local_reads_log_request_signatures(spark):
    """suggest_summaries mines the same workload whichever tier answers."""
    _db, cube = _coherence_cube(spark, "local_sigs")
    cube.get_many([("a", "Total"), ("b", "Total")])
    assert cube._local is not None
    assert cube._request_sigs[frozenset({cube.dim_cols[0]})] == 1


# ------------------------------------------------------------ undo/redo
def test_undo_redo_stale_mark_summaries(spark):
    """History.undo/redo used to assign ``cube._fact`` directly, leaving
    the summary frames built from the undone fact in place."""
    db = Database("local_undo_summary", spark=spark)
    d1 = _dim(db, "d1", [("All", ["a", "b"])])
    d2 = _dim(db, "d2", [("Total", ["x", "y"])])
    cube = db.add_cube("c", [d1, d2])
    cube.add_summary(["d2"])
    cube["a", "x"] = 1.0
    assert cube.get_many([("All", "x")]) == [1.0]
    cube["a", "x"] = 10.0
    assert cube.get_many([("All", "x")]) == [10.0]
    db.history.undo()
    assert cube["a", "x"] == 1.0
    assert cube.get_many([("All", "x")]) == [1.0]
    db.history.redo()
    assert cube.get_many([("All", "x")]) == [10.0]


def test_every_fact_swap_goes_through_replace_fact(spark, monkeypatch):
    db, cube = _coherence_cube(spark, "local_swaps")
    swaps = []
    orig = Cube._replace_fact

    def spy(self, df, *a, **k):
        swaps.append(df)
        return orig(self, df, *a, **k)

    monkeypatch.setattr(Cube, "_replace_fact", spy)
    cube["a", "x"] = 2.0
    cube._flush()
    db.history.undo()
    db.history.redo()
    assert len(swaps) == 3 and swaps[-1] is cube._fact
