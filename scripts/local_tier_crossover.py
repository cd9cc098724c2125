#!/usr/bin/env python
"""Crossover of the two cell-read tiers: the driver copy of the fact
(``tinyolap_spark.local``) against the Spark engine
(``engine.base_lookup`` / ``engine.aggregate_cells``).

On the ``huge`` shape of ``perfbench`` (8 dims x 100 leaves + All,
random records loaded additively) at several record counts, it times the
perfbench request shapes through both tiers on the same fact:

- ``base``: 1,000 base cells (half from loaded records);
- ``drill1``: 100 cells, one dimension at a leaf, the rest at All;
- ``drill3``: 25 cells, three dimensions at leaves;
- ``point``: one cell drilled on one dimension;

plus the copy's one-time build (``fact.count()`` + one Arrow collect), the
bytes its arrays hold, how far the build raised this Python process's peak
RSS (VmHWM, reset before the build), and one single-cell write patch
(``LocalFact.patched``, the copy-on-write every cell write pays).  Each
record count runs in a fresh process.  Both tiers' answers are checked
against each other.

With ``--rules`` it times the BASE_LEVEL rule tiers and a view grid
instead, copy (``Cube._base_rule_local``) against forced Spark
(``Cube._base_rule_spark``, ``engine.aggregate_grid``), on a rules model
shaped like perfbench's ``planning``: ``keys`` (100 groups of leaves
under ``AllKeys``) x ``regions`` (30 leaves under ``AllRegions``) x
``measures`` (Quantity, Price, Cost stored; each of the ``keys`` x
``regions`` leaves holds all three), with the number of key leaves set
by the cell count:

- ``opaque``: an opaque ``LogQ = log1p(Quantity)`` (alone on
  ``measures``, so the batched tier runs it) at 10 groups and the top;
- ``compiled``: an ``arith``-compiled ``Sales = Quantity * Price`` at the
  same 11 addresses;
- ``grid``: the ``planning`` view, 10 groups x (Quantity, Price, Cost,
  Sales), through ``Cube._read_grid`` with the cell cache cleared.

Each shape runs once untimed first (Spark's closure frames, the copy's
closure tables); both tiers' answers and rule paths are checked against
each other.

With ``--writes`` it times the write path on the same rules model, the
copy as the store of record (``LocalFact.patched``) against forced Spark
(``Cube._merge``: anti-join, union, checkpoint):

- ``ryw``: ``cube[leaf, region, "Quantity"] = v``, then a ``get_many`` of
  the written leaf, its group and the top (read-your-write);
- ``bulk``: one ``write_rows`` of 1,000 random stored cells, then a read
  of the top (the write is flushed).

Every readback is checked against a numpy oracle of the stored cells.

Usage (from the repository root, ~5 min on 4 cores for cell reads)::

    python scripts/local_tier_crossover.py                 # 100k 300k 1M 3M
    python scripts/local_tier_crossover.py 100000 300000   # chosen sizes
    python scripts/local_tier_crossover.py --rules         # rule tiers
    python scripts/local_tier_crossover.py --writes        # write path

Prints one markdown table row per size; ``local.CELL_LIMIT`` is set from
these tables (ARCHITECTURE §5, "Read tiers").
"""

from __future__ import annotations

import gc
import json
import os
import random
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIZES = (100_000, 300_000, 1_000_000, 3_000_000)
COPY_REPS = 5
SPARK_REPS = 2


def _median_ms(fn, reps: int):
    runs, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        runs.append((time.perf_counter() - t0) * 1000)
    return statistics.median(runs), out


def _status_mb(field: str) -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    return float("nan")


def _session():
    from pyspark.sql import SparkSession

    n = len(os.sched_getaffinity(0))
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", "3g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.executorEnv.PYTHONPATH", ROOT)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def measure(records: int) -> dict:
    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
    from models import HUGE_DIMS, build_huge, huge_names, huge_records
    from tinyolap_spark import engine, local
    from workloads import _HugeAddresses

    spark = _session()
    try:
        keys, values = huge_records(7, records)
        _db, cube = build_huge(spark, keys, values, name=f"cross{records}")
        fact = cube.fact
        cells = fact.count()
        gen = _HugeAddresses(random.Random(11), keys)

        def ids(addrs):
            return {
                i: cube._resolve_address(huge_names(a))[0]
                for i, a in enumerate(addrs)
            }

        shapes = {
            "base": ids([gen.leaf() for _ in range(1000)]),
            "drill1": ids([gen.drilled(1) for _ in range(100)]),
            "drill3": ids([gen.drilled(3) for _ in range(25)]),
            "point": ids([gen.drilled(1, range(2, HUGE_DIMS))]),
        }
        del keys, values
        gc.collect()
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")  # reset VmHWM to the current RSS
        rss0 = _status_mb("VmRSS")
        # the build the cube runs on a first read, without its size limit
        t0 = time.perf_counter()
        fact.count()
        lf = local.LocalFact.build(fact, cube._cols, cube.dimensions)
        build_s = time.perf_counter() - t0
        build_peak_mb = _status_mb("VmHWM") - rss0
        write = [tuple(shapes["base"][0]) + (1.0, None)]
        patch_ms, _ = _median_ms(
            lambda: lf.patched(write, cube.dimensions), COPY_REPS
        )
        row = {
            "records": records,
            "cells": cells,
            "build_s": round(build_s, 2),
            "copy_mb": round(
                sum(a.nbytes for a in (lf.codes, lf.ids, lf.values, lf.null))
                / 2**20, 1,
            ),
            "build_peak_mb": round(build_peak_mb),
            "patch_ms": round(patch_ms, 1),
        }
        dims, spec = cube.dimensions, cube._dims_spec()
        for name, req in shapes.items():
            if name == "base":
                copy_ms, got = _median_ms(lambda: lf.base(req), COPY_REPS)
                spark_ms, want = _median_ms(
                    lambda: engine.base_lookup(fact, spark, cube._cols, req),
                    SPARK_REPS,
                )
            else:
                copy_ms, got = _median_ms(
                    lambda: lf.aggregate(dims, req), COPY_REPS
                )
                spark_ms, want = _median_ms(
                    lambda: engine.aggregate_cells(fact, spark, spec, req),
                    SPARK_REPS,
                )
            assert got == want, f"{name}: tiers disagree"
            row[f"{name}_copy_ms"] = round(copy_ms, 1)
            row[f"{name}_spark_ms"] = round(spark_ms)
        return row
    finally:
        spark.stop()


RULE_GROUPS = 100
RULE_REGIONS = 30
RULE_STORED = ("Quantity", "Price", "Cost")
RULE_REPS = 3


def _sales(c):
    q = c["Quantity"]
    p = c["Price"]
    if q is not None and p is not None:
        return q * p


def _logq(c):
    import math

    q = c["Quantity"]
    if q is not None:
        return math.log1p(q)


def _rules_model(spark, cells: int):
    """The rules model at about ``cells`` stored cells: ``(cube,
    per_group, values)``, ``values`` the loaded numbers shaped (key leaf,
    region, stored measure)."""
    import numpy as np
    import pandas as pd

    from tinyolap_spark import Database

    per_group = max(1, cells // (RULE_GROUPS * RULE_REGIONS * 3))
    db = Database(f"rulecross{cells}", spark=spark)
    keys = db.add_dimension("keys").edit()
    for g in range(RULE_GROUPS):
        keys.add_many(f"g{g}", [f"k{g}_{i}" for i in range(per_group)])
    keys.add_many("AllKeys", [f"g{g}" for g in range(RULE_GROUPS)])
    keys.commit()
    regions = db.add_dimension("regions").edit()
    regions.add_many("AllRegions", [f"r{i}" for i in range(RULE_REGIONS)])
    regions.commit()
    measures = db.add_dimension("measures").edit()
    measures.add_many(list(RULE_STORED) + ["Sales", "LogQ"])
    measures.commit()
    cube = db.add_cube("rules", [keys, regions, measures])
    kid = np.array([
        keys.member(f"k{g}_{i}").index
        for g in range(RULE_GROUPS) for i in range(per_group)
    ], dtype=np.int32)
    rid = np.array([
        regions.member(f"r{i}").index for i in range(RULE_REGIONS)
    ], dtype=np.int32)
    mid = np.array([
        measures.member(m).index for m in RULE_STORED
    ], dtype=np.int32)
    k_col = np.repeat(kid, len(rid) * len(mid))
    r_col = np.tile(np.repeat(rid, len(mid)), len(kid))
    m_col = np.tile(mid, len(kid) * len(rid))
    values = np.random.default_rng(7).integers(1, 50, len(k_col)).astype(
        np.float64
    )
    kc, rc, mc = cube.dim_cols
    cube.load_dataframe(spark.createDataFrame(pd.DataFrame({
        kc: k_col, rc: r_col, mc: m_col, "value": values,
    })), assume_unique=True)
    return cube, per_group, values.reshape(len(kid), len(rid), len(mid))


def measure_rules(cells: int) -> dict:
    sys.path[:0] = [ROOT]
    from tinyolap_spark import local
    from tinyolap_spark.rules import RuleScope

    spark = _session()
    try:
        cube, _per_group, _values = _rules_model(spark, cells)
        keys, regions, measures = cube.dimensions
        fact_cells = cube.fact.count()
        groups = [keys.member(f"g{g}").index for g in range(10)]
        top = [keys.member("AllKeys").index]
        all_r = regions.member("AllRegions").index

        def at(measure):
            m = measures.member(measure).index
            return [(k, all_r, m) for k in groups + top]

        def rule_of(measure):
            m = measures.member(measure).index
            return next(r for r in cube.rules if r.idx_pattern[0][1] == m)

        def agg(measure):
            def run():
                cube._cache.clear()
                out = cube._aggregate_base_rule_many(
                    rule_of(measure), at(measure)
                )
                return out, cube._last_base_rule_path
            return run

        grid_members = [
            groups, [all_r],
            [measures.member(m).index for m in RULE_STORED + ("Sales",)],
        ]

        def grid():
            cube._cache.clear()
            return cube._read_grid(grid_members)

        def tiers(fn, name, row):
            limit = local.CELL_LIMIT
            assert cube._local_copy() is not None
            fn()
            copy_ms, got = _median_ms(fn, RULE_REPS)
            local.CELL_LIMIT = 0
            cube._local = cube._local_over = None
            try:
                fn()
                spark_ms, want = _median_ms(fn, SPARK_REPS)
            finally:
                local.CELL_LIMIT = limit
                cube._local = cube._local_over = None
            if name == "grid":
                assert (got[1], want[1]) == ("local", "spark")
                got, want = got[0], want[0]
            else:
                assert got[1] == want[1] != "driver", f"{name}: paths"
                got, want = got[0], want[0]
            for a, w in want.items():
                g = got[a]
                assert (g is None) == (w is None) and (
                    w is None or abs(g - w) <= 1e-9 * max(1.0, abs(w))
                ), f"{name}: tiers disagree at {a}: {g} != {w}"
            row[f"{name}_copy_ms"] = round(copy_ms, 1)
            row[f"{name}_spark_ms"] = round(spark_ms)

        row = {"cells": fact_cells, "key_leaves": RULE_GROUPS * per_group}
        # LogQ first and alone: with Sales on `measures` too, the nested-
        # rule check sends an opaque rule to the driver loop
        cube.register_rule(_logq, trigger=["measures:LogQ"],
                           scope=RuleScope.BASE_LEVEL,
                           feeder=["measures:Quantity"])
        tiers(agg("LogQ"), "opaque", row)
        cube.register_rule(_sales, trigger=["measures:Sales"],
                           scope=RuleScope.BASE_LEVEL,
                           feeder=["measures:Quantity"])
        tiers(agg("Sales"), "compiled", row)
        tiers(grid, "grid", row)
        return row
    finally:
        spark.stop()


WRITE_ROWS = 1000


def measure_writes(cells: int) -> dict:
    sys.path[:0] = [ROOT]
    from tinyolap_spark import local

    spark = _session()
    try:
        cube, per_group, values = _rules_model(spark, cells)
        quantity = values[:, :, 0].copy()  # the oracle of Quantity
        rng = random.Random(5)

        def leaf():
            g, i = rng.randrange(RULE_GROUPS), rng.randrange(per_group)
            return g, i, rng.randrange(RULE_REGIONS)

        def ryw():
            g, i, r = leaf()
            v = float(rng.randrange(1, 50))
            cube[f"k{g}_{i}", f"r{r}", "Quantity"] = v
            quantity[g * per_group + i, r] = v
            got = cube.get_many([
                (f"k{g}_{i}", f"r{r}", "Quantity"),
                (f"g{g}", "AllRegions", "Quantity"),
                ("AllKeys", "AllRegions", "Quantity"),
            ])
            group = quantity[g * per_group:(g + 1) * per_group].sum()
            assert got == [v, group, quantity.sum()], "ryw: wrong readback"

        def bulk():
            rows = []
            for _ in range(WRITE_ROWS):
                g, i, r = leaf()
                m = rng.randrange(len(RULE_STORED))
                v = float(rng.randrange(1, 50))
                rows.append((f"k{g}_{i}", f"r{r}", RULE_STORED[m], v))
                if m == 0:
                    quantity[g * per_group + i, r] = v
            cube.write_rows(rows)
            got = cube["AllKeys", "AllRegions", "Quantity"]
            assert got == quantity.sum(), "bulk: wrong readback"

        row = {"cells": cube.cells_count}
        limit = local.CELL_LIMIT
        for tier, reps in (("copy", COPY_REPS), ("spark", SPARK_REPS)):
            if tier == "spark":
                local.CELL_LIMIT = 0
                cube._drop_copy()
            else:
                assert cube._local_copy() is not None
            try:
                for name, fn in (("ryw", ryw), ("bulk", bulk)):
                    fn()  # untimed first
                    row[f"{name}_{tier}_ms"], _ = _median_ms(fn, reps)
            finally:
                local.CELL_LIMIT = limit
            assert (cube._local is None) == (tier == "spark")
        for k, v in row.items():
            if k.endswith("_ms"):
                row[k] = round(v, 1) if k.endswith("copy_ms") else round(v)
        return row
    finally:
        spark.stop()


def main(argv) -> None:
    modes = {"--rules": measure_rules, "--writes": measure_writes}
    mode = argv[0] if argv[:1] and argv[0] in modes else None
    if mode:
        argv = argv[1:]
    if argv[:1] == ["--one"]:
        fn = modes.get(argv[2] if argv[2:] else None, measure)
        print(json.dumps(fn(int(argv[1]))))
        return
    sizes = [int(a) for a in argv] or list(SIZES)
    shapes, cols = {
        "--rules": (("opaque", "compiled", "grid"), ["cells", "key_leaves"]),
        "--writes": (("ryw", "bulk"), ["cells"]),
        None: (
            ("base", "drill1", "drill3", "point"),
            ["records", "cells", "build_s", "copy_mb", "build_peak_mb",
             "patch_ms"],
        ),
    }[mode]
    cols = cols + [f"{s}_{t}_ms" for s in shapes for t in ("copy", "spark")]
    print("| " + " | ".join(cols) + " |")
    print("|" + "---|" * len(cols))
    for size in sizes:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--one", str(size)]
            + ([mode] if mode else []),
            capture_output=True, text=True, check=True,
            env=dict(os.environ, PYTHONPATH=ROOT),
        ).stdout.strip().splitlines()[-1]
        row = json.loads(out)
        print("| " + " | ".join(str(row[c]) for c in cols) + " |", flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
