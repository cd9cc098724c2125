"""Regression tests for the round-7 ADVICE findings and VERDICT r7 items:

1. ``Cube._rollup_fact`` flushes pending interactive writes before
   routing to a summary (ADVICE r7 high — ``Query.execute`` /
   ``View.to_df`` used to silently miss ``cube.set()`` writes when a
   fresh summary was registered);
2. additive summary folds materialize BEFORE the fact swap (ADVICE r7
   medium — counting after ``_replace_fact`` recomputed the old summary
   from full lineage every batch);
3. ``duplicate_clusters_star`` keeps its one-row-per-doc contract when
   ``max_iter`` is exhausted pre-fixpoint (ADVICE r7 low);
4. ``Database.snapshots`` follows the storage anchor after ``save()`` to
   a new path (ADVICE r7 low);
5. ``Cube.compact_summaries`` / ``CorpusDedupIndex.compact`` flatten
   per-fold union lineage with identical contents (VERDICT r7 #5).
"""

import pytest

from tinyolap_spark import View


# --------------------------------------------- 1. _rollup_fact flushes
def test_summary_routed_view_sees_pending_writes(spark):
    """cube.set() buffers; a summary-routed View.to_df / grid must flush
    first — the plain cube and the summary cube must agree AFTER a
    write, reaching the grid without touching the flushing ``fact``
    property."""
    from conftest import build_tiny

    _, plain, _ = build_tiny(spark, seed=7)
    _, summ, _ = build_tiny(spark, seed=7)
    try:
        summ.add_summary(["years", "months", "measures"])

        def grid(cube):
            v = View(
                cube,
                filters=[("regions", "Total"), ("products", "Total")],
                rows=[("months", ["Year"])],
                columns=[("measures", ["Sales"])],
            )
            df = v.to_df()
            return [r.asDict() for r in df.collect()]

        before = grid(plain)
        assert grid(summ) == before  # warm: summary frame is built
        assert summ._summaries[0]["df"] is not None
        for cube in (plain, summ):
            cube["2021", "Jan", "North", "coupe", "Sales"] = 123_456.0
            cube._cache.clear()
        # straight to the grid — no cube.fact access in between
        got, want = grid(summ), grid(plain)
        assert want != before, "the write must change the grid"
        assert got == want
    finally:
        summ.drop_summaries()
        plain._fact.unpersist()
        summ._fact.unpersist()


def test_summary_routed_sql_sees_pending_writes(spark):
    """Same hole through the mini-SQL path (Query.execute routes via
    _rollup_fact without the flushing ``fact`` property)."""
    from conftest import build_tiny

    from tinyolap_spark.sqlq import Query

    db_p, plain, _ = build_tiny(spark, seed=9)
    db_s, summ, _ = build_tiny(spark, seed=9)
    try:
        summ.add_summary(["years", "months", "measures"])
        sql = (
            "SELECT months, value FROM sales WHERE years=2022, "
            "months=(Jan, Feb, Mar), regions=Total, products=Total, "
            "measures=Sales"
        )

        def run(db):
            recs = Query(db, sql).execute().records
            return {r[0]: r[1] for r in recs}

        before = run(db_p)
        assert run(db_s) == pytest.approx(before)  # warm the summary
        assert summ._summaries[0]["df"] is not None
        for cube in (plain, summ):
            cube["2022", "Feb", "South", "sedan", "Sales"] = 77_000.0
            cube._cache.clear()
        got, want = run(db_s), run(db_p)
        assert want["Feb"] != pytest.approx(before["Feb"])
        assert got == pytest.approx(want)
    finally:
        summ.drop_summaries()
        plain._fact.unpersist()
        summ._fact.unpersist()


# ----------------------------------- 2. fold materializes before swap
def test_additive_fold_counts_before_fact_swap(spark, monkeypatch):
    """The folded summary frame must be persisted + counted while the
    OLD summary blocks are still cached — i.e. every fold count happens
    before _replace_fact runs (which unpersists them)."""
    from conftest import build_tiny

    _, cube, _ = build_tiny(spark, seed=13)
    try:
        cube.add_summary(["years", "months", "measures"])
        addr = ("All years", "Year", "Total", "Total", "Sales")
        warm = cube.get_many([addr])[0]
        assert cube._summaries[0]["df"] is not None

        events = []
        orig_replace = cube._replace_fact
        # pyspark 4: the session returns pyspark.sql.classic DataFrames —
        # patch the concrete class, not the dispatching base
        df_cls = type(cube._fact)
        orig_count = df_cls.count

        def spy_replace(df, persist=True):
            events.append("swap")
            return orig_replace(df, persist=persist)

        def spy_count(self):
            events.append("count")
            return orig_count(self)

        monkeypatch.setattr(cube, "_replace_fact", spy_replace)
        monkeypatch.setattr(df_cls, "count", spy_count)

        cols = cube._cols
        idx = [
            cube.dimensions[0].member("2022").index,
            cube.dimensions[1].member("Mar").index,
            cube.dimensions[2].member("West").index,
            cube.dimensions[3].member("coupe").index,
            cube.dimensions[4].member("Sales").index,
        ]
        batch = spark.createDataFrame(
            [tuple(idx) + (9_000.0,)],
            schema=", ".join(f"{c} int" for c in cols) + ", value double",
        )
        cube.load_dataframe(batch, additive=True)
        monkeypatch.setattr(df_cls, "count", orig_count)

        assert "swap" in events and "count" in events
        assert events.index("count") < events.index("swap"), (
            "summary fold must materialize before _replace_fact "
            f"unpersists the old frames (events: {events})"
        )
        cube._cache.clear()
        assert cube.get_many([addr])[0] == pytest.approx(warm + 9_000.0)
    finally:
        cube.drop_summaries()
        cube._fact.unpersist()


# ------------------------------- 3. star CC max_iter exhaustion guard
def test_duplicate_clusters_star_one_row_per_doc_on_max_iter(spark):
    from tinyolap_spark.pipeline.dedup import duplicate_clusters_star

    # a 12-node chain: far from converged after a single round
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "doc_a long, doc_b long"
    )
    with pytest.warns(RuntimeWarning, match="no fixpoint"):
        out = duplicate_clusters_star(pairs, max_iter=1).collect()
    docs = [r["doc"] for r in out]
    assert sorted(docs) == list(range(12)), "exactly one row per doc"
    # and when allowed to converge, the labels are the component min
    full = duplicate_clusters_star(pairs, max_iter=50).collect()
    assert sorted(r["doc"] for r in full) == list(range(12))
    assert {r["cluster"] for r in full} == {0}


# ----------------------------------- 4. snapshots follow the save path
def test_snapshots_follow_storage_anchor(spark, tmp_path):
    from conftest import build_tiny

    db, cube, _ = build_tiny(spark, seed=5)
    try:
        p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
        db.save(p1)
        m1 = db.snapshots
        assert m1.folder == p1
        db.save(p2)
        m2 = db.snapshots
        assert m2.folder == p2, "snapshot manager kept the old anchor"
        assert m2 is not m1
        # same path -> cached manager is reused
        assert db.snapshots is m2
    finally:
        cube._fact.unpersist()


# --------------------------------------------- 5a. compact_summaries
def test_compact_summaries_flattens_fold_lineage(spark):
    from conftest import build_tiny

    _, cube, _ = build_tiny(spark, seed=21)
    try:
        cube.add_summary(["years", "months", "measures"])
        addr = ("All years", "Year", "Total", "Total", "Sales")
        base = cube.get_many([addr])[0]
        cols = cube._cols
        idx = [
            cube.dimensions[0].member("2021").index,
            cube.dimensions[1].member("Apr").index,
            cube.dimensions[2].member("East").index,
            cube.dimensions[3].member("sedan").index,
            cube.dimensions[4].member("Sales").index,
        ]
        batch = spark.createDataFrame(
            [tuple(idx) + (10.0,)],
            schema=", ".join(f"{c} int" for c in cols) + ", value double",
        )
        n_folds = 8
        for _ in range(n_folds):
            cube.load_dataframe(batch, additive=True)
        s = cube._summaries[0]
        before = sorted(map(tuple, s["df"].collect()))
        # since r9 every fold checkpoints eagerly (nested persisted
        # aggregate frames double the printed plan under AQE), so the
        # summary plan is ALREADY flat after any number of folds...
        plan = s["df"]._jdf.queryExecution().optimizedPlan().toString()
        assert "Union" not in plan, "folds must stay flat (r9)"
        # ...and explicit compaction remains a content-preserving no-op
        cube.compact_summaries()
        plan2 = s["df"]._jdf.queryExecution().optimizedPlan().toString()
        assert "Union" not in plan2, "compaction must flatten the lineage"
        assert sorted(map(tuple, s["df"].collect())) == before
        cube._cache.clear()
        got = cube.get_many([addr])[0]
        assert got == pytest.approx(base + n_folds * 10.0)
    finally:
        cube.drop_summaries()
        cube._fact.unpersist()


# ------------------------------------------ 5b. CorpusDedupIndex.compact
@pytest.mark.slow
def test_corpus_dedup_index_compact(spark, tmp_path):
    from tinyolap_spark.pipeline.dedup import CorpusDedupIndex

    corpus = spark.createDataFrame(
        [(i, f"the quick brown fox jumps over lazy dog number {i}")
         for i in range(20)],
        "doc_id long, text string",
    )
    idx = CorpusDedupIndex(corpus, num_hashes=16, bands=4, shingle_n=3)
    try:
        for b in range(6):
            batch = spark.createDataFrame(
                [(100 + b, f"an entirely different document body {b}")],
                "doc_id long, text string",
            )
            idx.update(batch)
        before_sh = idx.shingles.count()
        before_bd = sorted(
            map(tuple, idx.banded.select("doc", "band", "bucket").collect())
        )
        plan = idx.banded._jdf.queryExecution().optimizedPlan().toString()
        assert "Union" in plan

        # in-memory compaction
        idx.compact()
        plan2 = idx.banded._jdf.queryExecution().optimizedPlan().toString()
        assert "Union" not in plan2
        assert idx.shingles.count() == before_sh
        assert sorted(
            map(tuple, idx.banded.select("doc", "band", "bucket").collect())
        ) == before_bd

        # another fold, then parquet-round-trip compaction
        idx.update(
            spark.createDataFrame(
                [(200, "yet another unrelated body of text")],
                "doc_id long, text string",
            )
        )
        n = idx.shingles.count()
        idx.compact(str(tmp_path / "idx"))
        assert idx.shingles.count() == n
        assert "Union" not in (
            idx.banded._jdf.queryExecution().optimizedPlan().toString()
        )
    finally:
        idx.release()


# ------------------------------------------- 5c. auto-compaction bounds
def _union_count(df):
    return df._jdf.queryExecution().optimizedPlan().toString().count("Union")


def test_summary_fold_auto_compacts(spark):
    """Additive folds flatten the summary lineage on EVERY fold — an
    unattended streaming ingest has a bounded plan depth without anyone
    calling compact_summaries()."""
    from conftest import build_tiny

    _, cube, _ = build_tiny(spark, seed=23)
    try:
        cube.add_summary(["years", "months", "measures"])
        addr = ("All years", "Year", "Total", "Total", "Sales")
        base = cube.get_many([addr])[0]
        cols = cube._cols
        idx = [
            cube.dimensions[0].member("2023").index,
            cube.dimensions[1].member("May").index,
            cube.dimensions[2].member("North").index,
            cube.dimensions[3].member("sedan").index,
            cube.dimensions[4].member("Sales").index,
        ]
        batch = spark.createDataFrame(
            [tuple(idx) + (3.0,)],
            schema=", ".join(f"{c} int" for c in cols) + ", value double",
        )
        depths = []
        for _ in range(10):
            cube.load_dataframe(batch, additive=True)
            depths.append(_union_count(cube._summaries[0]["df"]))
        # every fold leaves a flat summary: zero unions after each of
        # the 10 folds, i.e. plan depth is BOUNDED over any number of
        # folds
        assert depths == [0] * 10, depths
        cube._cache.clear()
        assert cube.get_many([addr])[0] == pytest.approx(base + 30.0)
    finally:
        cube.drop_summaries()
        cube._fact.unpersist()


def test_corpus_index_update_auto_compacts(spark):
    from tinyolap_spark.pipeline.dedup import CorpusDedupIndex

    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i}") for i in range(10)],
        "doc_id long, text string",
    )
    idx = CorpusDedupIndex(corpus, num_hashes=16, bands=4, shingle_n=3)
    try:
        idx.auto_compact_every = 3
        depths = []
        for b in range(8):
            idx.update(
                spark.createDataFrame(
                    [(100 + b, f"totally new content {b}")],
                    "doc_id long, text string",
                )
            )
            depths.append(_union_count(idx.banded))
        assert max(depths) < 3, depths
        assert 0 in depths, depths
        assert idx.shingles.count() == 18  # 10 corpus + 8 folded
    finally:
        idx.release()


# ------------------------------------------------ timekeys equivalence
def test_timekeys_flavor_equivalence(spark):
    """epoch_micros/epoch_seconds/seconds_double agree across the two
    timestamp flavors for the same instant — incl. sub-second fractions,
    pre-1970 values, and DST-season datetimes — under a non-UTC session
    (the whole point of the module)."""
    from tinyolap_spark.pipeline.timekeys import (
        epoch_micros,
        epoch_seconds,
        seconds_double,
    )

    prior = spark.conf.get("spark.sql.session.timeZone")
    samples = [
        "1969-12-31 23:59:59.5",
        "1970-01-01 00:00:00",
        # wall times INSIDE the session tz's spring-forward gap are
        # the regression case: timestampdiff(NTZ) normalizes them +1h
        # through the session zone (measured), which the calendar-field
        # assembly in timekeys avoids
        "2024-03-10 02:30:00.000001",
        "2024-11-03 01:30:00.5",       # inside a US DST overlap
        "2024-06-01 12:34:56.789654",
    ]
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        for wall in samples:
            df = spark.sql(
                f"SELECT TIMESTAMP_NTZ'{wall}' AS nt, "
                f"TIMESTAMP'{wall} UTC' AS lt"
            )
            r = df.select(
                epoch_micros("nt", "timestamp_ntz").alias("a"),
                epoch_micros("lt", "timestamp").alias("b"),
                epoch_seconds("nt", "timestamp_ntz").alias("c"),
                epoch_seconds("lt", "timestamp").alias("d"),
                seconds_double("nt", "timestamp_ntz").alias("e"),
                seconds_double("lt", "timestamp").alias("f"),
            ).collect()[0]
            assert r["a"] == r["b"], wall
            assert r["c"] == r["d"], wall
            assert r["e"] == pytest.approx(r["f"], abs=1e-6), wall
        # numeric passthrough for the bucketers
        num = spark.createDataFrame([(7200.5,)], "x double")
        got = num.select(seconds_double("x", "double").alias("v")).collect()
        assert got[0]["v"] == 7200.5
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)
