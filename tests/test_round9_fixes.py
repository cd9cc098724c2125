"""Regression tests for the round-8 ADVICE findings and VERDICT r8 items:

1. ``CorpusDedupIndex.compact(path)`` is safe when ``path`` is the SAME
   directory the index was loaded from (ADVICE r8: the overwrite used to
   truncate the parquet files still backing the live frames' lineage);
2. ``timekeys.epoch_seconds`` floors exactly over the FULL long-micros
   range (ADVICE r8: double division is exact only below 2^53 micros,
   ~year 2255);
3. oversized dimensions fail LOUDLY at commit/load with the bound in the
   message (VERDICT r8 #2 — no silent driver-stall → broadcast-OOM path);
4. long-run endurance: ~100 folds keep the summary flat after every
   fold, the fact's plan depth bounded (resetting at each compaction
   boundary) and per-fold wall time flat (VERDICT r8 #9) — the tests
   that found the AQE InMemoryRelation plan-string doubling and the
   union partition stacking (see ARCHITECTURE.md §2);
5. the streaming fold_survivors surface stays flat across compaction
   boundaries and catches cross-batch near-dups;
6. the cold-cache batch-bucket-restricted capping path is exactly
   equivalent to the prewarmed corpus-wide capped frame.
"""

import datetime as dt
import time

import pytest

from pyspark.sql import functions as F


# ---------------------------------- 1. compact() onto the load path
def test_corpus_index_compact_onto_load_path(spark, tmp_path):
    """save → load → update → compact(SAME path): the overwrite must not
    corrupt the live frames (their lineage pointed at the files being
    truncated before the r9 fix pinned contents first)."""
    from tinyolap_spark.pipeline.dedup import CorpusDedupIndex

    corpus = spark.createDataFrame(
        [(i, f"the quick brown fox jumps over the lazy dog {i}")
         for i in range(20)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    build = CorpusDedupIndex(corpus, num_hashes=16, bands=4, shingle_n=3)
    build.save(path)
    build.release()

    idx = CorpusDedupIndex.load(spark, path)
    try:
        expected_sh = idx.shingles.count()
        for b in range(3):
            idx.update(
                spark.createDataFrame(
                    [(100 + b, f"an entirely different document body {b}")],
                    "doc_id long, text string",
                )
            )
            expected_sh += 1
        banded_before = sorted(
            map(tuple, idx.banded.select("doc", "band", "bucket").collect())
        )
        # compact back onto the directory the index was LOADED from
        idx.compact(path)
        assert idx.shingles.count() == expected_sh
        assert sorted(
            map(tuple, idx.banded.select("doc", "band", "bucket").collect())
        ) == banded_before
        # the files on disk are coherent: a fresh load sees everything
        reread = CorpusDedupIndex.load(spark, path)
        try:
            assert reread.shingles.count() == expected_sh
            assert sorted(
                map(
                    tuple,
                    reread.banded.select("doc", "band", "bucket").collect(),
                )
            ) == banded_before
        finally:
            reread.release()
    finally:
        idx.release()


# -------------------------------- 2. epoch_seconds far-range exactness
def test_epoch_seconds_exact_beyond_double_mantissa(spark):
    """NTZ epoch-seconds must floor EXACTLY even past 2^53 micros
    (~year 2255), where double division starts rounding."""
    import calendar

    from tinyolap_spark.pipeline.timekeys import epoch_seconds

    samples = [
        dt.datetime(2255, 6, 7, 0, 0, 0, 500000),      # ≈ 2^53 micros
        dt.datetime(2262, 1, 1, 0, 0, 1, 999999),
        dt.datetime(9999, 12, 31, 23, 59, 59, 999999),
        dt.datetime(1, 1, 1, 0, 0, 0, 1),              # far negative
        dt.datetime(1969, 12, 31, 23, 59, 59, 500000),  # pre-1970 floor
    ]
    df = spark.createDataFrame([(s,) for s in samples], "ts timestamp_ntz")
    got = [
        r[0]
        for r in df.select(
            epoch_seconds("ts", "timestamp_ntz").alias("s")
        ).collect()
    ]
    expected = [
        (calendar.timegm(s.timetuple()) * 1_000_000 + s.microsecond)
        // 1_000_000
        for s in samples
    ]
    assert got == expected


# ------------------------------- 3. loud dimension-envelope enforcement
def test_oversized_dimension_fails_loudly():
    """100k+1 members must raise DimensionScaleError at commit, with the
    bound in the message — never reach the engine's broadcast path."""
    from tinyolap_spark.metadata import Dimension, DimensionScaleError

    d = Dimension("user_ids").edit()
    top = "all users"
    kids = [f"u{i}" for i in range(Dimension.MAX_BROADCAST_MEMBERS)]
    d.add_many(top, kids)  # top + 100_000 children = 100_001 members
    with pytest.raises(DimensionScaleError) as exc:
        d.commit()
    msg = str(exc.value)
    assert f"{Dimension.MAX_BROADCAST_MEMBERS:,}" in msg
    assert "broadcast" in msg.lower()


def test_oversized_closure_fails_loudly(monkeypatch):
    """The closure-row bound triggers independently (deep hierarchies
    multiply rows even under the member bound)."""
    from tinyolap_spark.metadata import Dimension, DimensionScaleError

    monkeypatch.setattr(Dimension, "MAX_BROADCAST_CLOSURE_ROWS", 40)
    d = Dimension("deep").edit()
    # 3 levels × 16 leaves → identity 21 + level rows 16*2 + top 16 = 69
    d.add_many("g0", [f"m{i}" for i in range(16)])
    d.add_many("g1", ["g0"])
    d.add_many("top", ["g1"])
    with pytest.raises(DimensionScaleError) as exc:
        d.commit()
    assert "closure" in str(exc.value).lower()
    assert "40" in str(exc.value)


def test_max_size_dimension_still_commits():
    """Exactly AT the member bound commits fine (the bound is the first
    invalid size, not the last valid one)."""
    from tinyolap_spark.metadata import Dimension

    d = Dimension("at_bound").edit()
    kids = [f"u{i}" for i in range(Dimension.MAX_BROADCAST_MEMBERS - 1)]
    d.add_many("all", kids)
    d.commit()
    assert len(d) == Dimension.MAX_BROADCAST_MEMBERS


# ---------------------- 4. endurance: default auto-compaction, ~100 folds
def _union_count(df):
    return df._jdf.queryExecution().optimizedPlan().toString().count("Union")


@pytest.mark.endurance
def test_summary_auto_compact_endurance_100_folds(spark):
    """100 additive folds: the summary plan is flat after EVERY fold, the
    fact's plan depth resets at each compaction boundary, and per-fold
    wall time stays flat (late folds no slower than early ones beyond
    noise)."""
    from conftest import build_tiny

    _, cube, _ = build_tiny(spark, seed=31)
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
            [tuple(idx) + (2.0,)],
            schema=", ".join(f"{c} int" for c in cols) + ", value double",
        )
        fact_every = cube.FACT_AUTO_COMPACT_EVERY
        depths, fact_depths, walls = [], [], []
        for _ in range(100):
            t0 = time.time()
            cube.load_dataframe(batch, additive=True)
            walls.append(time.time() - t0)
            depths.append(_union_count(cube._summaries[0]["df"]))
            fact_depths.append(_union_count(cube._fact))
        # every fold flattens the summary eagerly: zero unions after
        # each of the 100 folds
        assert depths == [0] * 100, depths
        # the FACT lineage is bounded too (the r9 endurance finding:
        # unbounded union+aggregate chains OOMed plan analysis).  The
        # printed union count DOUBLES per un-compacted fold (nested
        # AQE InMemoryRelations print their subtree twice), so the
        # bound is 2^cadence — the checkpoint must fire every
        # fact_every folds (alignment depends on merges before the
        # loop, so assert the cycle, not a fixed offset).
        zeros = [i for i, d in enumerate(fact_depths) if d == 0]
        assert zeros, fact_depths[:20]
        assert all(
            b - a == fact_every for a, b in zip(zeros, zeros[1:])
        ), zeros
        assert zeros[0] < fact_every, zeros
        assert max(fact_depths) < 2 ** fact_every, max(fact_depths)
        # flat wall time: median of the last 30 folds within 3x of the
        # median of folds 10-40 (generous: absorbs GC/scheduler noise,
        # catches the linear blow-up an unbounded lineage would show)
        med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
        assert med(walls[70:]) <= 3.0 * med(walls[10:40]) + 0.05, (
            med(walls[10:40]),
            med(walls[70:]),
        )
        cube._cache.clear()
        assert cube.get_many([addr])[0] == pytest.approx(base + 200.0)
    finally:
        cube.drop_summaries()
        cube._fact.unpersist()


@pytest.mark.endurance
def test_corpus_index_auto_compact_endurance(spark):
    """100 one-doc folds against the DEFAULT ``auto_compact_every``
    (16 — lowered from 128 after this test measured per-fold wall time
    growing superlinearly with nested-persisted-frame depth): depth
    resets at every boundary, stays bounded, wall time stays flat."""
    from tinyolap_spark.pipeline.dedup import CorpusDedupIndex

    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta {i}")
         for i in range(10)],
        "doc_id long, text string",
    )
    idx = CorpusDedupIndex(corpus, num_hashes=8, bands=2, shingle_n=3)
    try:
        every = idx.auto_compact_every
        assert every == 16  # the default under test
        n_folds = 100
        batches = [
            spark.createDataFrame(
                [(1000 + b, f"totally new content body {b}")],
                "doc_id long, text string",
            )
            for b in range(n_folds)
        ]
        base_parts = idx.banded.rdd.getNumPartitions()
        depths, walls, parts = [], [], []
        for b in batches:
            t0 = time.time()
            idx.update(b)
            walls.append(time.time() - t0)
            depths.append(_union_count(idx.banded))
            parts.append(idx.banded.rdd.getNumPartitions())
        # resets at EVERY boundary across the run, depth bounded between
        for b in range(1, n_folds // every + 1):
            assert depths[b * every - 1] == 0, (b, depths)
        assert max(depths) < every, max(depths)
        # partition width (= stage task count for the index jobs) stays
        # flat across every 16-fold window: one partition per micro-batch
        # fold, reset at each compaction (VERDICT r9 #6 — the pre-r10
        # fold added defaultParallelism partitions per batch and stage
        # task counts climbed 256->544 between boundaries)
        assert max(parts) <= base_parts + every, (base_parts, max(parts))
        med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
        assert med(walls[-20:]) <= 3.0 * med(walls[10:40]) + 0.05, (
            med(walls[10:40]),
            med(walls[-20:]),
        )
        assert idx.shingles.count() == 10 + n_folds
    finally:
        idx.release()


@pytest.mark.endurance
def test_near_dedup_stream_fold_survivors_endurance(spark, tmp_path):
    """30 micro-batches through ``near_dedup_stream(fold_survivors=True)``
    — the unattended-ingestion surface the fold/compaction work exists
    for: per-batch drain time stays flat, the index auto-compacts
    (bounded union depth), and cross-batch near-dups are still caught at
    the end of the run."""
    from tinyolap_spark.pipeline.dedup import CorpusDedupIndex
    from tinyolap_spark.streaming.ingest import near_dedup_stream

    corpus = spark.createDataFrame(
        [(i, f"base corpus document number {i} with stable words")
         for i in range(20)],
        "doc_id long, text string",
    )
    # default LSH params: the stream's per-batch path validates the
    # index was built with the parameters it queries with
    idx = CorpusDedupIndex(corpus)
    # non-default cadence so 14 batches cross TWO compaction boundaries
    # (the default cadence is endurance-covered by the 100-fold test
    # above; folding batches through the full stream costs ~10s each)
    idx.auto_compact_every = 6
    src = str(tmp_path / "src")
    n_batches = 14
    for b in range(n_batches):
        rows = [(1000 + b, f"fresh unique content body variant {b} "
                           f"never seen before {b * 7}")]
        if b == n_batches - 1:
            # near-copy of batch 5's doc: neither is in the original
            # corpus, so only the fold path can catch it
            rows.append((9999, "fresh unique content body variant 5 "
                               "never seen before 35 "))
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)

    import time as _t

    seen: list[tuple[int, int, float]] = []

    def sink(kept, bid):
        seen.append((bid, kept.count(), _t.time()))

    q = near_dedup_stream(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        idx,
        str(tmp_path / "ck"),
        sink,
        threshold=0.8,
        fold_survivors=True,
    )
    try:
        assert q.awaitTermination(600)
    finally:
        q.stop()
        idx.release()
    assert len(seen) == n_batches
    # the batch-5 near-copy was dropped by the FOLD path (arrived in the
    # last batch; its twin was never in the base corpus)
    kept_by_batch = {bid: k for bid, k, _ in seen}
    assert kept_by_batch[n_batches - 1] == 1, kept_by_batch
    assert sum(kept_by_batch.values()) == n_batches  # all others kept
    # index stayed bounded: union depth under the compact cadence
    assert _union_count(idx.banded) < idx.auto_compact_every
    # flat per-batch wall: median inter-batch gap of the last 5 within
    # 3x of batches 3-9 (generous; catches the superlinear growth an
    # unbounded fold chain shows)
    gaps = [b - a for (_, _, a), (_, _, b) in zip(seen, seen[1:])]
    med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
    assert med(gaps[-5:]) <= 3.0 * med(gaps[2:9]) + 0.05, (
        med(gaps[2:9]),
        med(gaps[-5:]),
    )


def test_banded_for_batch_matches_prewarmed_path(spark):
    """The cold-cache batch-bucket-restricted capping must produce the
    IDENTICAL pair set and cap decisions as the prewarmed corpus-wide
    capped frame — including under a cap tight enough to actually drop
    buckets (untouched buckets cannot pair; restricted per-bucket counts
    are full corpus counts)."""
    from tinyolap_spark.pipeline.dedup import (
        CorpusDedupIndex,
        near_duplicates_against,
    )

    corpus = spark.createDataFrame(
        [(i, f"common shared boilerplate prefix words doc {i % 7}")
         for i in range(40)]
        + [(100 + i, f"distinct body {i} with its own unique tokens {i*13}")
           for i in range(10)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(1000, "common shared boilerplate prefix words doc 3"),
         (1001, "distinct body 4 with its own unique tokens 52"),
         (1002, "completely fresh text never seen anywhere")],
        "doc_id long, text string",
    )
    for cap in (200, 3):
        cold_idx = CorpusDedupIndex(corpus, num_hashes=16, bands=4,
                                    shingle_n=3)
        s_cold: dict = {}
        cold = sorted(map(tuple, near_duplicates_against(
            batch, cold_idx, threshold=0.5, num_hashes=16, bands=4,
            shingle_n=3, max_bucket=cap, capped_stats=s_cold,
        ).select("doc_a", "doc_b").collect()))
        assert not cold_idx._capped_cache  # cold path: nothing cached
        warm_idx = CorpusDedupIndex(corpus, num_hashes=16, bands=4,
                                    shingle_n=3)
        warm_idx.banded_capped(cap)  # prewarm → cached path
        s_warm: dict = {}
        warm = sorted(map(tuple, near_duplicates_against(
            batch, warm_idx, threshold=0.5, num_hashes=16, bands=4,
            shingle_n=3, max_bucket=cap, capped_stats=s_warm,
        ).select("doc_a", "doc_b").collect()))
        assert cold == warm, (cap, cold, warm)
        assert s_cold == s_warm, (cap, s_cold, s_warm)
        cold_idx.release()
        warm_idx.release()
    # the tight cap actually exercised capping
    assert s_cold["capped_buckets"] > 0
