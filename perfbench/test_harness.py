"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench/test_harness.py -q

The last test starts Spark (``local[2]``) and takes about a minute.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from models import ALL, HugeOracle, RuleOracle, group_ordinal, huge_records, rule_records, same  # noqa: E402
from run import latency_metrics  # noqa: E402
from spans import Tracer, merged_length, self_times  # noqa: E402
from stats import LADDER, MIN_BEYOND, percentile, tail_percentile  # noqa: E402
from workloads import Dashboard, HugeSession, Op, Planning  # noqa: E402


# ------------------------------------------------------------ percentiles
@pytest.mark.parametrize("n, want", [
    (0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_from_sample_count(n, want):
    assert tail_percentile(n) == want


def test_tail_percentile_is_highest_rung_with_enough_beyond():
    for n in range(1, 5000):
        p = tail_percentile(n)
        beyond = {q: n * (1000 - round(q * 10)) / 1000 for q in LADDER}
        higher = [q for q in LADDER if p is None or q > p]
        assert all(beyond[q] < MIN_BEYOND for q in higher)
        if p is not None:
            assert beyond[p] >= MIN_BEYOND


def test_kind_figure_sums_the_medians_of_its_types():
    lat = {
        ("agg_read", "drill1_batch"): [1.0, 3.0, 2.0],
        ("agg_read", "drill3_batch"): [10.0, 30.0, 20.0],
        ("view", "view"): [0.5, 0.7],
    }
    m = latency_metrics(lat)
    assert m["drill1_batch_p50_ms"] == (2000.0, "ms")
    assert m["drill3_batch_n"] == (3, "count")
    assert m["agg_read_ms"] == (pytest.approx(22000.0), "ms")
    assert m["view_ms"] == (pytest.approx(600.0), "ms")
    # a type twice as slow moves its kind's figure by its own share
    slow = {**lat, ("agg_read", "drill1_batch"): [2.0, 6.0, 4.0]}
    assert latency_metrics(slow)["agg_read_ms"][0] == pytest.approx(24000.0)


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0]
    for p in (0, 10, 50, 75, 90, 100):
        assert percentile(xs, p) == pytest.approx(np.percentile(xs, p))


# -------------------------------------------------------------- self time
def test_merged_length_unions_and_clips():
    assert merged_length([(1, 4), (3, 6), (8, 12)], 0, 10) == 7
    assert merged_length([], 0, 10) == 0


def test_self_time_of_nested_spans():
    # root [0,10] with children A [1,4] and B [5,6]; A has child C [2,3]
    spans = [
        ["root", 0.0, 10.0, -1, "op0"],
        ["A", 1.0, 4.0, 0, "op0"],
        ["C", 2.0, 3.0, 1, "op0"],
        ["B", 5.0, 6.0, 0, "op0"],
        ["A", 7.0, 9.0, 0, "op0"],
    ]
    st = self_times(spans)
    assert st["root"] == (1, pytest.approx(10 - 3 - 1 - 2))
    assert st["A"] == (2, pytest.approx((3 - 1) + 2))
    assert st["B"] == (1, pytest.approx(1))
    assert st["C"] == (1, pytest.approx(1))


class _Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        self.t += 1.0
        return self.t


class _Layer:
    def __init__(self, inner=None):
        self.inner = inner

    def call(self):
        return self.inner.call() if self.inner else None

    @classmethod
    def make(cls):
        return cls()


class _Inner(_Layer):
    def call(self):
        return None


def test_tracer_records_wrapped_calls_inside_ops_only():
    tracer = Tracer(clock=_Clock())
    outer, inner = _Layer, _Inner
    tracer.wrap(outer, "call", "outer")
    tracer.wrap(inner, "call", "inner")
    tracer.wrap(outer, "make", "make")
    try:
        obj = outer(inner())
        obj.call()  # no op open: not recorded
        assert tracer.spans == []
        tracer.op_id = "op0"
        with tracer.span("op"):
            obj.call()
            assert isinstance(outer.make(), outer)
        tracer.op_id = None
    finally:
        tracer.unwrap_all()
    assert "call" in _Layer.__dict__ and not hasattr(_Layer.call, "__wrapped__")
    assert isinstance(_Layer.__dict__["make"], classmethod)
    names = [s[0] for s in tracer.spans]
    assert names == ["op", "outer", "inner", "make"]
    assert [s[3] for s in tracer.spans] == [-1, 0, 1, 0]
    st = tracer.self_times()
    # every clock read advances by 1: inner [3,4], outer [2,5], make [6,7], op [1,8]
    assert st["inner"] == (1, 1.0)
    assert st["outer"] == (1, 2.0)
    assert st["op"] == (1, 7.0 - 3.0 - 1.0)
    assert tracer.ok_results["make"] == 1 and tracer.ok_results["outer"] == 0


# ----------------------------------------------------------------- oracle
class _FakeHugeCube:
    """Answers from the oracle, except that one planted cell is off by one."""

    def __init__(self, oracle, planted):
        self.oracle, self.planted = oracle, planted

    def _value(self, names):
        addr = tuple(-1 if n == "All" else int(n[1:]) for n in names)
        v = self.oracle.cell(addr)
        return v + 1.0 if addr == self.planted else v

    def get_many(self, addresses):
        return [self._value(a) for a in addresses]

    def __getitem__(self, names):
        return self._value(names)


def test_oracle_catches_a_planted_wrong_value():
    keys, values = huge_records(seed=3, n=2000)
    oracle = HugeOracle(keys, values)
    record = tuple(int(o) for o in keys[0])
    near_top = (record[0],) + (ALL,) * 7
    addrs = [record, near_top, (ALL,) * 8]
    honest = HugeSession(None, _FakeHugeCube(oracle, planted=None), oracle)
    batch = Op("batch_read", "base_batch", "batch", addrs)
    assert honest.run(batch).mismatches == []
    for planted in addrs:
        lying = HugeSession(None, _FakeHugeCube(oracle, planted=planted), oracle)
        assert len(lying.run(batch).mismatches) == 1
        assert lying.run(Op("point_read", "point", "point", planted)).mismatches


def test_huge_oracle_sums_duplicates_and_reports_empty_cells():
    keys = np.array([[1] * 8, [1] * 8, [2] * 8])
    oracle = HugeOracle(keys, np.array([3.0, 4.0, 5.0]))
    assert oracle.base((1,) * 8) == 7.0
    assert oracle.base((0,) * 8) is None
    assert oracle.cell((ALL,) * 8) == 12.0
    assert oracle.cell((2,) + (ALL,) * 7) == 5.0
    assert oracle.cell((3,) + (ALL,) * 7) is None
    grid = oracle.grid((ALL,) * 8, 0, 1, [ALL, 1, 3], [ALL, 2])
    assert grid == {(ALL, ALL): 12.0, (ALL, 2): 5.0, (1, ALL): 7.0, (1, 2): None,
                    (3, ALL): None, (3, 2): None}


def test_rule_oracle_tracks_writes_and_derives_rules():
    data = rule_records(seed=4)
    oracle = RuleOracle(data)
    g0 = group_ordinal(0)
    q, p, c = data["Quantity"][:1000], data["Price"][:1000], data["Cost"][:1000]
    assert oracle.cell(g0, "Sales") == float((q * p).sum())
    assert oracle.cell(5, "LogQ") == pytest.approx(np.log1p(data["Quantity"][5]))
    oracle.write(0, "Price", 1000.0)
    sales = float((q * p).sum() - q[0] * p[0] + q[0] * 1000.0)
    assert oracle.cell(g0, "Sales") == sales
    assert oracle.cell(g0, "Margin") == pytest.approx((sales - c.sum()) / sales)
    assert data["Price"][0] != 1000.0  # the generator's arrays stay untouched


def test_same_is_exact_for_stored_and_tolerant_for_rules():
    assert same(3.0, 3.0) and not same(3.0, 3.0000001)
    assert same(None, None) and not same(0.0, None) and not same(None, 0.0)
    assert not same("3", 3.0) and not same(True, 1.0)
    assert same(1.0 + 1e-12, 1.0, exact=False) and not same(1.001, 1.0, exact=False)


def test_schedules_repeat_for_a_seed_and_differ_across_seeds():
    for wl in (Dashboard(), Planning()):
        inputs = wl.inputs(5)

        def first(seed):
            it = wl.blocks(seed, inputs)
            return [[(o.kind, o.type, repr(o.data)) for o in next(it)] for _ in range(2)]

        assert first(1) == first(1)
        assert first(1) != first(2)
        types = [sorted(o[1] for o in b) for b in first(1)]
        assert types[0] == types[1]  # every block has the same mix


def test_repeats_follow_the_read_they_repeat():
    for wl in (Dashboard(), Planning()):
        for seed in range(20):
            it = wl.blocks(seed, wl.inputs(5))
            earlier = []
            for _ in range(3):
                for op in next(it):
                    if op.kind == "cached_read":
                        reads = [o.data[1] if o.method == "write_visible" else o.data
                                 for o in earlier]
                        assert op.data in reads
                    earlier.append(op)


# ------------------------------------------------- Spark job accounting
def test_job_counts_repeat_exactly_for_a_fixed_seed(tmp_path):
    root = os.path.dirname(HERE)
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    from pyspark.sql import SparkSession

    from models import build_huge
    from probes import JobAccounting, peak_rss_mb

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(tmp_path))
        .getOrCreate()
    )
    try:
        keys, values = huge_records(seed=9, n=3000)
        wl = Dashboard()
        ops = next(wl.blocks(9, (keys, values)))
        counts = []
        for rep in range(2):
            db, cube = build_huge(spark, keys, values, name=f"jobs{rep}")
            session = HugeSession(db, cube, HugeOracle(keys, values))
            acct = JobAccounting(spark.sparkContext)
            per_op = []
            for i, op in enumerate(ops):
                acct.begin(f"r{rep}-op{i}")
                assert session.run(op).mismatches == []
                per_op.append(acct.end(f"r{rep}-op{i}"))
            counts.append(per_op)
        assert counts[0] == counts[1]
        assert sum(j for j, _, _ in counts[0]) > 0
        assert all(f == 0 for _, _, f in counts[0])
        assert peak_rss_mb() > 0
    finally:
        spark.stop()
