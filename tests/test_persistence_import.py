"""Persistence round-trip (Parquet + JSON metadata), CSV/tutor import,
dimension edit lifecycle with fact cleanup."""

import os

import pytest

from tinyolap_spark import Database


def test_database_save_open_roundtrip(spark, tmp_path):
    from conftest import build_tiny

    db, cube, rows = build_tiny(spark, seed=21)
    path = str(tmp_path / "tinydb")
    want_cell = cube["2021", "Q1", "Total", "Total", "Profit"]
    want_count = cube.cells_count
    db.save(path)

    db2 = Database.open(path, spark=spark)
    cube2 = db2.cube("sales")
    assert cube2.cells_count == want_count
    assert cube2["2021", "Q1", "Total", "Total", "Profit"] == pytest.approx(
        want_cell
    )
    # hierarchy survived: weighted member + multi-parent + subset + attribute
    measures = db2.dimension("measures")
    assert measures.member("Profit").level == 1
    assert db2.dimension("products").member("sports").parents[0].name in (
        "cars", "best sellers",
    )
    assert [m.name for m in db2.dimension("months").subset("summer").members] == [
        "Jun", "Jul", "Aug", "Sep",
    ]
    assert db2.dimension("regions").get_attribute("manager", "North") == "Peter Parker"
    # formats survived
    assert measures.member("Profit").format == "{:+,.0f}"


def test_export_clone(spark, tmp_path):
    from conftest import build_tiny

    db, cube, rows = build_tiny(spark, seed=22)
    p1 = str(tmp_path / "exported")
    db.export(p1)
    db3 = Database.open(p1, spark=spark)
    assert db3.cube("sales").cells_count == cube.cells_count


def test_history_persists_through_save_open(spark, tmp_path):
    """VERDICT r3 #10: undo depth survives save/open (reference
    HistoryMode.PERSIST) — a pre-save write can be undone after reopen."""
    db = Database("hist_db", spark=spark)
    d = db.add_dimension("d").edit()
    d.add_many("All", ["a", "b"])
    d.commit()
    cube = db.add_cube("c", [d])
    cube["a"] = 1.0
    cube["b"] = 2.0
    cube["a"] = 10.0  # the write to undo after reopen
    assert cube["All"] == pytest.approx(12.0)
    p = str(tmp_path / "hist_saved")
    db.save(p)
    # in-session undo still correct after save-to-path (entries were
    # re-pointed at the written version files)
    assert db.history.can_undo

    db2 = Database.open(p, spark=spark)
    cube2 = db2.cube("c")
    assert cube2["All"] == pytest.approx(12.0)
    assert db2.history.can_undo
    db2.history.undo()
    assert cube2["a"] == pytest.approx(1.0)
    assert cube2["All"] == pytest.approx(3.0)
    db2.history.undo()
    assert cube2["All"] == pytest.approx(1.0)
    # redo returns to the saved state
    db2.history.redo(2)
    assert cube2["All"] == pytest.approx(12.0)


def test_tutor_level_file_import(spark, tmp_path):
    """FIXTURES A5: unbalanced hierarchy from C/N marker rows incl.
    non-ASCII member names."""
    from tinyolap_spark.sources.csvimport import (
        dimension_from_level_file,
        facts_from_csv,
    )

    lines = [
        ("C", "Deutschland"),
        ("N", "Bayern"),
        ("N", "Baden-Württemberg"),
        ("C", "Österreich"),
        ("N", "Wien"),
        ("N", "Kärnten"),
    ]
    regionen = dimension_from_level_file("regionen", lines)
    assert regionen.member("Deutschland").level == 1
    assert [m.name for m in regionen.member("Österreich").children] == [
        "Wien", "Kärnten",
    ]

    jahre = regionen.__class__("jahre")
    jahre.edit()
    jahre.add_many("Alle Jahre", ["2022", "2023"])
    jahre.commit()

    db = Database("tutor", spark=spark)
    db.dimensions["regionen"] = regionen
    db.dimensions["jahre"] = jahre
    cube = db.add_cube("umsatz", [regionen, jahre])

    csv_path = str(tmp_path / "facts.csv")
    with open(csv_path, "w", encoding="utf-8") as f:
        f.write("region,jahr,betrag\n")
        f.write("Bayern,2022,100.5\n")
        f.write("Wien,2022,50.25\n")
        f.write("Kärnten,2023,10.0\n")
        f.write("Baden-Württemberg,2023,39.75\n")
    facts_from_csv(
        spark, cube, csv_path,
        dim_columns={"region": "regionen", "jahr": "jahre"},
        value_column="betrag",
    )
    assert cube["Deutschland", "Alle Jahre"] == pytest.approx(140.25)
    assert cube["Österreich", "2022"] == pytest.approx(50.25)
    assert cube["Österreich", "Alle Jahre"] == pytest.approx(60.25)


def test_dimension_edit_purges_orphan_facts(spark):
    """Reference database.py:634-645: committing a dimension edit that
    removes members must purge orphaned fact rows."""
    db = Database("edit_db", spark=spark)
    d = db.add_dimension("d").edit()
    d.add_many("Total", ["A", "B", "C"])
    d.commit()
    cube = db.add_cube("c", [d])
    cube.write_rows([("A", 1.0), ("B", 2.0), ("C", 4.0)])
    assert cube["Total"] == pytest.approx(7.0)

    removed_idx = d.member("C").index
    d.edit()
    d.remove_member("C")
    d.commit()
    db.purge_orphans(d)
    assert cube["Total"] == pytest.approx(3.0)
    assert cube.cells_count == 2
    # removed member unknown now
    with pytest.raises(Exception):
        cube["C"]


def test_dimension_rollback(spark):
    db = Database("rb_db", spark=spark)
    d = db.add_dimension("d").edit()
    d.add_many("Total", ["A", "B"])
    d.commit()
    d.edit()
    d.add_many("Total", ["X"])
    d.rollback()
    assert "X" not in d
    assert len(d) == 3


def test_history_undo_redo_cell_writes(spark):
    """S7 parity (reference history.py:329-417): one undo step per cell
    write; undo reverts, redo re-applies, a new write clears redo."""
    from tinyolap_spark import Database

    db = Database("hist", spark=spark)
    d = db.add_dimension("d").edit()
    d.add_many("All", ["a", "b"])
    d.commit()
    cube = db.add_cube("c", [d])
    cube[("a",)] = 1.0
    cube[("b",)] = 2.0
    cube[("a",)] = 5.0
    assert cube[("All",)] == 7.0
    assert db.history.can_undo
    db.history.undo()                      # revert a=5 -> a=1
    assert cube[("a",)] == 1.0 and cube[("All",)] == 3.0
    db.history.undo(2)                     # revert both writes
    assert cube[("a",)] is None and cube[("All",)] is None
    assert db.history.redo(3) == 3         # replay all
    assert cube[("a",)] == 5.0 and cube[("All",)] == 7.0
    db.history.undo()
    cube[("b",)] = 9.0                     # new write clears redo
    assert not db.history.can_redo
    assert cube[("All",)] == 10.0


def test_history_bulk_and_area_ops(spark):
    from tinyolap_spark import Database

    db = Database("hist2", spark=spark)
    d = db.add_dimension("d").edit()
    d.add_many("All", ["a", "b"])
    d.commit()
    m = db.add_dimension("m").edit()
    m.add_many("x")
    m.add_many("y")
    m.commit()
    cube = db.add_cube("c", [d, m])
    cube.write_rows([("a", "x", 1.0), ("b", "x", 2.0)])
    cube.area("All", ("x",)).set_value(10.0)   # area transform
    assert cube[("All", "x")] == 20.0
    db.history.undo()                          # undo area fill
    assert cube[("All", "x")] == 3.0
    db.history.undo()                          # undo bulk write
    assert cube[("All", "x")] is None
    assert db.history.redo() == 1
    assert cube[("All", "x")] == 3.0


def test_history_disabled(spark):
    from tinyolap_spark import Database

    db = Database("hist3", spark=spark)
    d = db.add_dimension("d").edit()
    d.add_many("All", ["a"])
    d.commit()
    cube = db.add_cube("c", [d])
    db.history.enabled = False
    cube[("a",)] = 1.0
    assert not db.history.can_undo


def test_encrypted_save_open_roundtrip(spark, tmp_path):
    """S9 (reference encryption.py): values AES-GCM-encrypted on disk,
    decrypted on open with the password; wrong password raises; the
    parquet files hold no plaintext value column."""
    from tinyolap_spark import Database, TinyOlapError

    path = str(tmp_path / "enc")
    db = Database("encdb", spark=spark)
    d = db.add_dimension("d").edit()
    d.add_many("All", ["a", "b"])
    d.commit()
    cube = db.add_cube("c", [d])
    cube.write_rows([("a", 1.5), ("b", "note")])  # numeric + string cell
    db.save(path, password="s3cret")

    raw = spark.read.parquet(f"{path}/cubes/c.parquet")
    assert "value" not in raw.columns and "value_enc" in raw.columns
    assert dict(raw.dtypes)["value_enc"] == "binary"

    db2 = Database.open(path, spark=spark, password="s3cret")
    assert db2.cube("c")[("a",)] == 1.5
    assert db2.cube("c")[("b",)] == "note"
    assert db2.cube("c")[("All",)] == 1.5  # strings do not aggregate

    import pytest as _pytest

    with _pytest.raises(TinyOlapError, match="password"):
        Database.open(path, spark=spark)
    with _pytest.raises(TinyOlapError, match="password"):
        Database.open(path, spark=spark, password="wrong")


def test_history_cross_cube_order_and_redo_persist(spark, tmp_path):
    """ADVICE r4: History is one global LIFO — save/open must preserve
    cross-cube interleaving (undo after reopen reverts the SAME cube the
    in-session undo would have) and must not drop the redo stack."""
    db = Database("hist4", spark=spark)
    d = db.add_dimension("d").edit()
    d.add_many("All", ["a", "b"])
    d.commit()
    c1 = db.add_cube("c1", [d])
    c2 = db.add_cube("c2", [d])
    # interleaved writes: c1, c2, c1 — the last mutation is on c1
    c1[("a",)] = 1.0
    c2[("a",)] = 5.0
    c1[("b",)] = 2.0
    # one undo pre-save puts an entry on the redo stack
    db.history.undo()
    assert c1[("All",)] == pytest.approx(1.0)
    assert db.history.can_redo
    p = str(tmp_path / "hist_order")
    db.save(p)

    db2 = Database.open(p, spark=spark)
    k1, k2 = db2.cube("c1"), db2.cube("c2")
    assert k1[("All",)] == pytest.approx(1.0)
    assert k2[("All",)] == pytest.approx(5.0)
    # redo survived the round trip and re-applies the c1 write
    assert db2.history.can_redo
    db2.history.redo()
    assert k1[("All",)] == pytest.approx(3.0)
    # now undo twice: first reverts the c1 'b' write, THEN the c2 write —
    # the interleaved global order, not per-cube grouping
    db2.history.undo()
    assert k1[("All",)] == pytest.approx(1.0)
    assert k2[("All",)] == pytest.approx(5.0)
    db2.history.undo()
    assert k2[("All",)] == pytest.approx(0.0) or k2[("All",)] is None
    assert k1[("All",)] == pytest.approx(1.0)


def test_gc_history_fails_closed(spark, tmp_path):
    """ADVICE r4 (medium): if live history entries cannot be enumerated,
    _gc_history must delete NOTHING — a referenced version file must
    survive so a later undo() can still read it."""
    db = Database("hist5", spark=spark)
    d = db.add_dimension("d").edit()
    d.add_many("All", ["a"])
    d.commit()
    cube = db.add_cube("c", [d])
    cube[("a",)] = 1.0
    cube[("a",)] = 2.0
    p = str(tmp_path / "hist_gc")
    db.save(p)
    hist_root = os.path.join(p, "history", "c")
    before = set(os.listdir(hist_root))
    assert before  # versions were written

    class _Boom:
        def inputFiles(self):
            raise RuntimeError("plan walk failed")

    # simulate an entry whose plan cannot be enumerated
    db.history._undo.append((cube, _Boom(), {}))
    db._gc_history(p, {})  # empty meta: everything is a delete candidate
    assert set(os.listdir(hist_root)) == before  # fail closed: kept all
    db.history._undo.pop()


def test_history_pending_value_validated_at_save(spark, tmp_path):
    """ADVICE r4: a non-JSON-serializable pending cell value fails loudly
    at save() instead of being silently stringified."""
    from tinyolap_spark import TinyOlapError

    db = Database("hist6", spark=spark)
    d = db.add_dimension("d").edit()
    d.add_many("All", ["a"])
    d.commit()
    cube = db.add_cube("c", [d])
    cube[("a",)] = 1.0
    cube[("a",)] = 2.0  # capture makes the pending snapshot persistable
    # poison the captured pending snapshot with a non-serializable value
    c, fact, pending = db.history._undo[-1]
    db.history._undo[-1] = (c, fact, {(0,): object()})
    with pytest.raises(TinyOlapError, match="non-persistable"):
        db.save(str(tmp_path / "hist_bad"))


# ------------------------------------------------ history round trips
_LEAVES = [(a, b) for a in ("a", "b", "c") for b in ("x", "y")]
_CELLS = [(a, b) for a in ("All", "a", "b", "c") for b in ("Total", "x", "y")]


def _oracle_cell(base, addr):
    """A cell of a cube whose stored cells are ``base`` (weights 1)."""
    a, b = addr
    if a != "All" and b != "Total":
        return base.get(addr)
    under = [
        v for (x, y), v in base.items()
        if a in ("All", x) and b in ("Total", y)
    ]
    if not under:
        return None
    return sum(v for v in under if not isinstance(v, str))


def _check(cubes, state, label):
    for cube, base in zip(cubes, state):
        cube._invalidate()
        got = cube.get_many(_CELLS)
        want = [_oracle_cell(base, c) for c in _CELLS]
        assert got == want, (label, cube.name, got, want)


def _history_files(path):
    root = os.path.join(path, "history")
    if not os.path.isdir(root):
        return []
    return [
        os.path.join(c, v) for c in os.listdir(root)
        for v in os.listdir(os.path.join(root, c)) if v.endswith(".parquet")
    ]


def test_history_round_trips_against_a_dict_oracle(spark, tmp_path):
    """Interleaved set / write_rows / load_dataframe / area ops on two
    cubes: every undo and redo, before and after save/open, lands on the
    state a dict oracle recorded.  Cell writes on a copy-backed cube are
    cell entries (JSON before-images); only whole-fact ops and writes to
    a cube without a copy write a fact-version parquet file."""
    db = Database("hist_rt", spark=spark)
    d1 = db.add_dimension("d1").edit()
    d1.add_many("All", ["a", "b", "c"])
    d1.commit()
    d2 = db.add_dimension("d2").edit()
    d2.add_many("Total", ["x", "y"])
    d2.commit()
    c1, c2 = db.add_cube("c1", [d1, d2]), db.add_cube("c2", [d1, d2])
    cubes = (c1, c2)
    state = ({}, {})
    states = [state]

    def step(cube_i, fn, change):
        nonlocal state
        fn()
        base = dict(state[cube_i])
        for addr, v in change.items():
            if v is None:
                base.pop(addr, None)
            else:
                base[addr] = v
        state = tuple(base if i == cube_i else s for i, s in enumerate(state))
        states.append(state)
        _check(cubes, state, f"step {len(states) - 1}")  # builds the copies

    # cell entries only: c1 and c2 start empty, their copies are built by
    # the first check, so every write below is captured as before-images
    _check(cubes, state, "empty")
    step(0, lambda: c1.write_rows([("a", "x", 1.0), ("b", "y", 2.0)]),
         {("a", "x"): 1.0, ("b", "y"): 2.0})
    step(1, lambda: c2.__setitem__(("c", "x"), 3.0), {("c", "x"): 3.0})
    step(0, lambda: c1.__setitem__(("a", "x"), 5.0), {("a", "x"): 5.0})
    step(1, lambda: c2.write_rows([("a", "y", "note"), ("c", "x", None)]),
         {("a", "y"): "note", ("c", "x"): None})
    cell_only = str(tmp_path / "cells")
    db.save(cell_only)
    assert _history_files(cell_only) == []
    assert len(db.history) == 4

    # whole-fact ops: snapshot entries, one parquet version each
    pdf = spark.createDataFrame(
        [("b", "x", 4.0), ("c", "y", 6.0)], ["d1", "d2", "value"]
    )
    step(0, lambda: c1.load_dataframe(pdf, by_name=True),
         {("b", "x"): 4.0, ("c", "y"): 6.0})
    step(1, lambda: c2.__setitem__(("b", "x"), 7.0), {("b", "x"): 7.0})
    step(0, lambda: c1.area("c").set_value(9.0), {("c", "y"): 9.0})
    step(0, lambda: c1.__delitem__(("b", "y")), {("b", "y"): None})
    step(1, lambda: c2.area("a").clear(), {("a", "y"): None})

    # undo everything, one step at a time, then redo half of it
    for k in range(len(states) - 1, 0, -1):
        assert db.history.undo() == 1
        _check(cubes, states[k - 1], f"undo to {k - 1}")
    assert not db.history.can_undo
    assert db.history.redo(5) == 5
    _check(cubes, states[5], "redo to 5")

    path = str(tmp_path / "mixed")
    db.save(path)
    # undo entries 1-5 (c1's load is the only whole-fact op among them)
    # and redo entries 6-9 (the two area ops); c1's first write_rows ran
    # on a cube with a copy, so it too is a cell entry
    assert len(_history_files(path)) == 3

    db2 = Database.open(path, spark=spark)
    k1, k2 = db2.cube("c1"), db2.cube("c2")
    cubes = (k1, k2)
    _check(cubes, states[5], "reopened")
    for k in range(5, 0, -1):
        assert db2.history.undo() == 1
        _check(cubes, states[k - 1], f"reopened undo to {k - 1}")
    assert db2.history.redo(9) == 9
    _check(cubes, states[9], "reopened redo to 9")


def test_encrypted_save_keeps_history_images_secret(spark, tmp_path):
    """A cell entry's before-images reach database.json only encrypted
    when a password is given, and decrypt again on open."""
    db = Database("hist_enc", spark=spark)
    d = db.add_dimension("d").edit()
    d.add_many("All", ["a", "b"])
    d.commit()
    cube = db.add_cube("c", [d])
    cube.write_rows([("a", 27182.5), ("b", "secret note")])
    assert cube[("All",)] == 27182.5  # builds the copy: cell entries next
    cube[("a",)] = 1.0
    cube[("b",)] = 2.0
    path = str(tmp_path / "enc_hist")
    db.save(path, password="pw")
    with open(os.path.join(path, "database.json")) as f:
        text = f.read()
    assert "27182" not in text and "secret note" not in text
    db2 = Database.open(path, spark=spark, password="pw")
    c2 = db2.cube("c")
    assert c2[("All",)] == 3.0
    assert db2.history.undo(2) == 2
    assert c2[("a",)] == 27182.5 and c2[("b",)] == "secret note"
