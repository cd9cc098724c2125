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

Usage (from the repository root, ~5 min on 4 cores)::

    python scripts/local_tier_crossover.py                 # 100k 300k 1M 3M
    python scripts/local_tier_crossover.py 100000 300000   # chosen sizes

Prints one markdown table row per size; ``local.CELL_LIMIT`` is set from
this table (ARCHITECTURE §5, "Read tiers").
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


def measure(records: int) -> dict:
    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
    from pyspark.sql import SparkSession

    from models import HUGE_DIMS, build_huge, huge_names, huge_records
    from tinyolap_spark import engine, local
    from workloads import _HugeAddresses

    n = len(os.sched_getaffinity(0))
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", "3g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
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
        patch_ms, _ = _median_ms(lambda: lf.patched(fact, write), COPY_REPS)
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


def main(argv) -> None:
    if argv[:1] == ["--one"]:
        print(json.dumps(measure(int(argv[1]))))
        return
    sizes = [int(a) for a in argv] or list(SIZES)
    cols = ["records", "cells", "build_s", "copy_mb", "build_peak_mb",
            "patch_ms"] + [
        f"{s}_{t}_ms" for s in ("base", "drill1", "drill3", "point")
        for t in ("copy", "spark")
    ]
    print("| " + " | ".join(cols) + " |")
    print("|" + "---|" * len(cols))
    for size in sizes:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--one", str(size)],
            capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()[-1]
        row = json.loads(out)
        print("| " + " | ".join(str(row[c]) for c in cols) + " |", flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
