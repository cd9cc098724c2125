#!/usr/bin/env python3
"""OLAP session benchmark for tinyolap_spark.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 22 --trace 0

Run from the repository root.  One closed-loop client (this thread) drives
the public API on Spark ``local[nproc]``.  ``--trace 0`` measures the
end-to-end metrics over about ``--seconds`` of work; ``--trace 1`` runs one
block of ops twice, op by op, on two identical cubes (one untraced, one
traced) and reports the per-layer metrics.  The last line of stdout is one JSON object; the exit
code is 1 when any returned value disagrees with the oracle.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")

TRACE_BLOCKS = 1        # schedule blocks a traced run executes
WARMUP_SEED = 1_000_003  # warm-up ops come from a schedule of another seed
DRIVER_MEMORY = "2g"    # heap cap of the driver JVM; the models need far less

# the end-to-end metrics BENCHMARK.json gates; they exist in every workload
E2E = ("setup_s", "cells_per_s", "view_ms", "batch_read_ms", "agg_read_ms",
       "point_read_ms", "cached_read_ms", "peak_rss_mb")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(workdir: str):
    from pyspark.sql import SparkSession

    n = len(os.sched_getaffinity(0))
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # temp files of the gateway launch and of Python workers stay in the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.local.dir", os.path.join(workdir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        # the serial collector grows the heap by occupancy, not by pause-time
        # heuristics, so peak RSS follows the data the engine keeps live; no
        # hsperfdata file under /tmp: the run writes only inside its checkout
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:+UseSerialGC -XX:-UsePerfData")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort, then wait again
            proc.kill()
            proc.wait(timeout=30)


def setup(spark, wl, inputs, copies: int):
    """Warm up on a copy of its own, then build ``copies`` measured copies.

    The warm-up copy runs one op of each type from a block of another
    seed's schedule and is released; the measured copies are only primed
    (:meth:`Session.prime`), so they start with an empty cell cache.
    Returns the measured sessions and the seconds of each stage."""
    t0 = time.perf_counter()
    warm = wl.build(spark, inputs, tag="warm")
    warm.cube.cells_count  # materialize the loaded fact
    t1 = time.perf_counter()
    done = set()
    for op in next(wl.blocks(WARMUP_SEED, inputs)):
        if op.type not in done:
            done.add(op.type)
            warm.run(op)
    warm.release()
    t2 = time.perf_counter()
    sessions = []
    for i in range(copies):
        s = wl.build(spark, inputs, tag=f"m{i}")
        s.cube.cells_count
        s.prime()
        sessions.append(s)
    t3 = time.perf_counter()
    return sessions, {
        "cold_build_s": (t1 - t0, "s"),
        "warmup_s": (t2 - t1, "s"),
        "build_s": ((t3 - t2) / copies, "s"),
    }


class Tally:
    """Latency samples and failure counts of one measured pass."""

    def __init__(self):
        self.lat: dict[tuple[str, str], list[float]] = defaultdict(list)  # (kind, type)
        self.log: list[tuple[str, str, float]] = []  # (kind, type, seconds) per op
        self.cells = 0
        self.busy_s = 0.0
        self.attempted = 0
        self.failed = 0

    def run(self, session, op):
        self.attempted += 1
        try:
            out = session.run(op)
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        if out.mismatches:
            self.failed += 1
            print(f"WRONG {op.type}: {out.mismatches[:3]}", file=sys.stderr)
        for key, dt in [((op.kind, op.type), out.seconds), *out.also.items()]:
            self.lat[key].append(dt)
        self.cells += out.cells
        self.busy_s += out.seconds
        self.log.append((op.kind, op.type, out.seconds))
        return out

    def check(self, label, mismatches):
        self.attempted += 1
        if mismatches:
            self.failed += 1
            print(f"WRONG {label}: {mismatches[:3]}", file=sys.stderr)


def latency_metrics(lat: dict[tuple[str, str], list[float]]) -> dict[str, tuple[float, str]]:
    """Per op type its median, sample count and tail; per kind ``<kind>_ms``,
    the sum of the medians of its types: one request of each type."""
    from stats import percentile, tail_percentile

    out = {}
    kinds: dict[str, float] = defaultdict(float)
    for (kind, typ), xs in sorted(lat.items()):
        ms = [x * 1000.0 for x in xs]
        p50 = percentile(ms, 50.0)
        kinds[kind] += p50
        out[f"{typ}_p50_ms"] = (p50, "ms")
        out[f"{typ}_n"] = (len(ms), "count")
        p = tail_percentile(len(ms))
        if p is not None:
            out[f"{typ}_tail_ms"] = (percentile(ms, p), "ms")
            out[f"{typ}_tail_pct"] = (p, "pct")
    out.update({f"{kind}_ms": (v, "ms") for kind, v in kinds.items()})
    return out


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def measure(spark, wl, inputs, args, session_start_s: float):
    """Untraced run: the number of whole blocks that take about
    ``--seconds`` on a 4-core host (``seconds / BLOCK_S``), so every run of
    a workload measures the same ops and a faster program simply finishes
    them sooner.  ``setup_s`` is everything before the first measured op:
    Spark start, the warm-up copy's build, load and warm-up, and the
    measured copy's build, load and priming."""
    from probes import peak_rss_mb

    (session,), stages = setup(spark, wl, inputs, copies=1)
    setup_s = session_start_s + sum(v for v, _ in stages.values())
    # the oracle's large structures would otherwise be traversed by every
    # full collection during the measured ops
    gc.collect()
    gc.freeze()
    tally = Tally()
    blocks = wl.blocks(args.seed, inputs)
    t_start = time.perf_counter()
    for _ in range(max(1, round(args.seconds / wl.BLOCK_S))):
        for op in next(blocks):
            tally.run(session, op)
    window_s = time.perf_counter() - t_start
    metrics = {
        "setup_s": (setup_s, "s"),
        "cells_per_s": (tally.cells / tally.busy_s, "1/s"),
        "peak_rss_mb": (peak_rss_mb(), "MB"),
    }
    metrics.update(latency_metrics(tally.lat))
    extra = {
        "window_s": (window_s, "s"),
        "failed_ratio": (tally.failed / tally.attempted, "ratio"),
        **stages,
    }
    return tally, metrics, extra


def traced(spark, wl, inputs, args, workdir):
    """Traced run: a fixed op sequence on an untraced and a traced cube,
    interleaved op by op (alternating which goes first), so the overhead
    ratio compares like with like and job counts repeat exactly."""
    from probes import JobAccounting
    from spans import Tracer

    import tinyolap_spark.arith as arith
    import tinyolap_spark.engine as engine
    from tinyolap_spark import Cube, Database, View
    from tinyolap_spark.history import History
    from tinyolap_spark.metadata import Dimension
    from tinyolap_spark.sqlq import Query

    (plain, session), _ = setup(spark, wl, inputs, copies=2)
    cube = session.cube
    tracer = Tracer()
    for owner, attr, name in [
        (engine, "aggregate_cells", "engine.aggregate_cells"),
        (engine, "base_lookup", "engine.base_lookup"),
        (engine, "aggregate_grid", "engine.aggregate_grid"),
        (arith, "compile_rule_plan", "arith.compile_rule_plan"),
        (Cube, "get_many", "cube.get_many"),
        (Cube, "__getitem__", "cube.getitem"),
        (Cube, "__setitem__", "cube.setitem"),
        (Cube, "write_rows", "cube.write_rows"),
        (View, "refresh", "view.refresh"),
        (Query, "execute", "sqlq.execute"),
        (Database, "save", "database.save"),
        (Database, "open", "database.open"),
        (Dimension, "member", "metadata.member"),
        (History, "capture", "history.capture"),
    ]:
        tracer.wrap(owner, attr, name)
    acct = JobAccounting(spark.sparkContext)
    acct.idle()
    plain_tally, traced_tally = Tally(), Tally()
    jobs = tasks = failed_tasks = 0
    view_cells = 0
    repeats = repeats_cached = 0  # cached_read ops; those that ran no Spark job
    counters0 = (cube.counter_cache_hits, cube.counter_cell_requests, cube.counter_aggregations,
                 cube.counter_rule_requests)
    blocks = wl.blocks(args.seed, inputs)
    ops = [op for _ in range(TRACE_BLOCKS) for op in next(blocks)]
    try:
        for i, op in enumerate(ops):
            op_id = f"op{i}"

            def run_traced():
                nonlocal jobs, tasks, failed_tasks, view_cells, repeats, repeats_cached
                tracer.op_id = op_id
                acct.begin(op_id)
                with tracer.span(f"op.{op.kind}"):
                    out = traced_tally.run(session, op)
                tracer.op_id = None
                j, t, f = acct.end(op_id)
                jobs, tasks, failed_tasks = jobs + j, tasks + t, failed_tasks + f
                if out is not None and op.kind == "view":
                    view_cells += out.cells
                if op.kind == "cached_read":
                    repeats += 1
                    repeats_cached += j == 0

            if i % 2 == 0:
                plain_tally.run(plain, op)
                run_traced()
            else:
                run_traced()
                plain_tally.run(plain, op)
        tracer.op_id = "save"
        _, _, bad = session.save_check(os.path.join(workdir, "db"))
        tracer.op_id = None
    finally:
        tracer.unwrap_all()
    traced_tally.check("save/open", bad)
    bytes_per_cell = dir_bytes(os.path.join(workdir, "db")) / cube.cells_count
    hits, requests, aggs, rule_reqs = (
        now - before for now, before in zip(
            (cube.counter_cache_hits, cube.counter_cell_requests, cube.counter_aggregations,
             cube.counter_rule_requests), counters0)
    )
    st = tracer.self_times()

    def calls(name):
        return st.get(name, (0, 0.0))[0]

    def self_ms(name):
        return st.get(name, (0, 0.0))[1] * 1000.0

    def span_s(name):
        return sum(sp[2] - sp[1] for sp in tracer.spans if sp[0] == name)

    n = len(ops)
    compiles = calls("arith.compile_rule_plan")
    metrics = {
        "spark.jobs_per_op": (jobs / n, "jobs/op"),
        "spark.tasks_per_op": (tasks / n, "tasks/op"),
        "spark.failed_tasks": (failed_tasks, "count"),
        "engine.aggregate_cells.calls": (calls("engine.aggregate_cells"), "count"),
        "engine.base_lookup.calls": (calls("engine.base_lookup"), "count"),
        "engine.base_lookup.self_ms": (self_ms("engine.base_lookup"), "ms"),
        "engine.aggregate_grid.calls": (calls("engine.aggregate_grid"), "count"),
        "engine.aggregate_grid.self_ms": (self_ms("engine.aggregate_grid"), "ms"),
        "view.refresh.calls": (calls("view.refresh"), "count"),
        "view.refresh.self_ms": (self_ms("view.refresh"), "ms"),
        "view.cells_per_refresh": (
            view_cells / calls("view.refresh") if calls("view.refresh") else 0.0, "cells"),
        "cube.get_many.calls": (calls("cube.get_many"), "count"),
        "cube.get_many.self_ms": (self_ms("cube.get_many"), "ms"),
        "cube.cache_hit_ratio": (hits / requests if requests else 0.0, "ratio"),
        "cube.repeat_cache_ratio": (repeats_cached / repeats if repeats else 0.0, "ratio"),
        "cube.aggregations": (aggs, "count"),
        "history.capture.calls": (calls("history.capture"), "count"),
        "metadata.member.calls": (calls("metadata.member"), "count"),
        "metadata.member.self_ms": (self_ms("metadata.member"), "ms"),
        "rules.rule_requests": (rule_reqs, "count"),
        "arith.compile_rule_plan.calls": (compiles, "count"),
        "arith.compile_ok_ratio": (
            tracer.ok_results["arith.compile_rule_plan"] / compiles if compiles else 0.0,
            "ratio"),
        "database.save_s": (span_s("database.save"), "s"),
        "database.open_s": (span_s("database.open"), "s"),
        "database.bytes_per_cell": (bytes_per_cell, "B/cell"),
        "tracing.overhead_ratio": (traced_tally.busy_s / plain_tally.busy_s, "ratio"),
    }
    # self times of layers one workload never calls (0.0 on every run of
    # it): printed and written out, not part of the gated per-layer set
    extra = {
        name + ".self_ms": (self_ms(name), "ms")
        for name in ("engine.aggregate_cells", "sqlq.execute", "cube.write_rows",
                     "arith.compile_rule_plan")
    }
    extra.update({"ops": (n, "count"), "cells_requested": (requests, "count")})
    tracer.dump(os.path.join(OUT, f"{wl.name}-seed{args.seed}-spans.json"))
    tally = Tally()
    tally.attempted = plain_tally.attempted + traced_tally.attempted
    tally.failed = plain_tally.failed + traced_tally.failed
    return tally, metrics, extra


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "tinyolap_spark")):
        print(f"perfbench: no tinyolap_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # executor-side Python workers (rule evaluation) import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from workloads import WORKLOADS

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workdir = os.path.join(OUT, f"{wl.name}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    inputs = wl.inputs(args.seed)
    t0 = time.perf_counter()
    spark = start_spark(workdir)
    session_start_s = time.perf_counter() - t0
    try:
        if args.trace:
            tally, metrics, extra = traced(spark, wl, inputs, args, workdir)
        else:
            tally, metrics, extra = measure(spark, wl, inputs, args, session_start_s)
    finally:
        stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    extra["session_start_s"] = (session_start_s, "s")
    report = {**metrics, **extra}
    with open(os.path.join(OUT, f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
            "ops": tally.log,
        }, f, indent=1)
    for k, (v, u) in report.items():
        print(f"{k:34s} {v:14.4f} {u}")
    if args.trace:
        keep = metrics
    else:
        keep = {k: metrics[k] for k in E2E}
    correct = tally.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in keep.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
