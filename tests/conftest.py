import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the tutor web-demo tests read the reference's TXT dimension files; the
# library no longer bakes a machine path in (ADVICE r9), so point the
# resolver at the local reference checkout when present (tests skip when
# neither env var resolves to a directory)
if "TINYOLAP_REFERENCE_ROOT" not in os.environ and os.path.isdir(
    "/root/reference/samples/tutor_model"
):
    os.environ["TINYOLAP_REFERENCE_ROOT"] = "/root/reference"

from pyspark.sql import SparkSession  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[*]")
        .appName("tinyolap-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", "6g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # defense-in-depth vs deep-plan explainString blowups (AQE
        # regenerates the plan string on every stage update; an
        # unbounded one OOMed the driver in the r9 endurance test)
        .config("spark.sql.maxPlanStringLength", "5000000")
        .getOrCreate()
    )
    yield s
    s.stop()


def build_tiny(spark, seed: int = 42):
    """The canonical 5-dim `tiny` model (FIXTURES.md A1, reference
    samples/tiny.py:22-146): years, months, regions, products (multi-parent),
    measures with weighted Profit = Sales - Cost."""
    import random

    from tinyolap_spark import Database

    db = Database("tiny", spark=spark)

    years = db.add_dimension("years").edit()
    years.add_many("All years", ["2021", "2022", "2023"])
    years.commit()

    months = db.add_dimension("months").edit()
    months.add_many("Q1", ["Jan", "Feb", "Mar"])
    months.add_many("Q2", ["Apr", "May", "Jun"])
    months.add_many("Q3", ["Jul", "Aug", "Sep"])
    months.add_many("Q4", ["Oct", "Nov", "Dec"])
    months.add_many("Year", ["Q1", "Q2", "Q3", "Q4"])
    months.commit()
    months.add_static_subset("summer", ["Jun", "Jul", "Aug", "Sep"])

    regions = db.add_dimension("regions").edit()
    regions.add_many("Total", ["North", "South", "West", "East"])
    regions.commit()
    mgr = regions.add_attribute("manager", str)
    for r, m in [
        ("North", "Peter Parker"),
        ("South", "Peter Pan"),
        ("West", "Pietro Pecorino"),
        ("East", "Peter Lustig"),
    ]:
        mgr.set(r, m)

    products = db.add_dimension("products").edit()
    products.add_many("Total", ["cars", "trucks", "motorcycles"])
    products.add_many("cars", ["coupe", "sedan", "sports", "van"])
    products.add_many("best sellers", ["sports", "motorcycles"])
    products.commit()

    measures = db.add_dimension("measures").edit()
    measures.add_many("Sales")
    measures.add_many("Cost")
    measures.add_many("Profit", ["Sales", "Cost"], [1.0, -1.0])
    measures.commit()
    measures.set_format("Profit", "{:+,.0f}")

    cube = db.add_cube("sales", [years, months, regions, products, measures])

    rng = random.Random(seed)
    leaf_products = ["coupe", "sedan", "sports", "van", "trucks", "motorcycles"]
    rows = []
    for y in ["2021", "2022", "2023"]:
        for mth in [
            "Jan", "Feb", "Mar", "Apr", "May", "Jun",
            "Jul", "Aug", "Sep", "Oct", "Nov", "Dec",
        ]:
            for r in ["North", "South", "West", "East"]:
                for p in leaf_products:
                    for msr in ["Sales", "Cost"]:
                        rows.append((y, mth, r, p, msr, float(rng.randrange(5, 100))))
    cube.write_rows(rows)
    return db, cube, rows


@pytest.fixture(params=["copy", "spark"])
def read_tier(request, monkeypatch):
    """Run a Cube-API test twice: cell reads answered by the driver copy
    of the fact (``tinyolap_spark.local``), and forced onto the Spark
    engine tiers (grouping sets, conditional aggregation, request join)."""
    if request.param == "spark":
        from tinyolap_spark import local

        monkeypatch.setattr(local, "CELL_LIMIT", 0)
    return request.param


@pytest.fixture(scope="session")
def tiny(spark):
    return build_tiny(spark)


class DictOracle:
    """~50-line dict-based rollup oracle (SURVEY.md §5) replicating the
    reference's aggregation semantics: set-dedup of leaves per ancestor,
    last-DFS-path-wins weight merge, weighted sum over base rows."""

    def __init__(self, dims, rows):
        # dims: list of tinyolap_spark Dimension; rows: (names..., value)
        self.dims = dims
        self.rows = [
            (tuple(d.member(n).index for d, n in zip(dims, r[:-1])), r[-1])
            for r in rows
        ]
        # per dim: ancestor idx -> {leaf idx -> weight}
        self.maps = []
        for d in dims:
            m = {}
            for leaf, anc, w in d.closure_rows:
                m.setdefault(anc, {})[leaf] = w
            self.maps.append(m)

    def get(self, names):
        addr = [d.member(n).index for d, n in zip(self.dims, names)]
        total, found = 0.0, False
        for leaf_addr, value in self.rows:
            w = 1.0
            ok = True
            for i, anc in enumerate(addr):
                lw = self.maps[i].get(anc, {}).get(leaf_addr[i])
                if lw is None:
                    ok = False
                    break
                w *= lw
            if ok:
                found = True
                if isinstance(value, float):
                    total += value * w
        return total if found else None


# ---------------------------------------------------------------------------
# default deselection of slow/endurance tests (VERDICT r13 #2)
# ---------------------------------------------------------------------------
# The full 742-test suite outgrew the driver's verify window (killed at
# 67% in r13).  By default the heavyweight tests (markers `slow` and
# `endurance`) are DESELECTED so `python -m pytest tests/ -x -q` runs
# the fast set: the DuckDB oracle-parity sweep (active + retired rows),
# the operator differentials, and the registry-wide plan lint.
#
# - run EVERYTHING:        SPARK_GRAFT_RUN_SLOW=1 python -m pytest tests/
# - run only the slow set: python -m pytest tests/ -m "slow or endurance"
# - an explicit -m expression always overrides the default deselection.


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_RUN_SLOW") == "1":
        return
    if config.getoption("-m"):
        return
    deselected = [
        it
        for it in items
        if "slow" in it.keywords or "endurance" in it.keywords
    ]
    if not deselected:
        return
    config.hook.pytest_deselected(items=deselected)
    items[:] = [
        it
        for it in items
        if "slow" not in it.keywords and "endurance" not in it.keywords
    ]
