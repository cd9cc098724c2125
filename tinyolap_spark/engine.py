"""Spark plan builders — the distributed execution core.

Replaces the reference's per-cell interpreter (``cube.py:334-497``: bolt →
inverted-index row-set intersection → Python float loop) with declarative
DataFrame plans that Catalyst/Tungsten compile to broadcast-hash-join +
partial-aggregate pipelines:

- :func:`aggregate_grid` — ONE job computes a whole view grid (the reference
  runs O(rows x cols) point aggregations per view refresh, ``view.py:769-911``).
- :func:`aggregate_cells` — ONE job answers any batch of aggregated point
  reads (never N jobs for N cells).
- :func:`base_lookup` — ONE job answers a batch of exact base-cell reads.

Scale design (100 TB story):

- dimension closure tables are tiny → `F.broadcast` by default; the bound
  is ENFORCED loudly at dimension commit/load (`metadata.Dimension.
  MAX_BROADCAST_MEMBERS` / `MAX_BROADCAST_CLOSURE_ROWS` raise
  `DimensionScaleError`), so no silent driver-stall/broadcast-OOM path
  exists for oversized dimensions.  A `Dimension(..., large_dim=True)`
  opts out of the envelope: its closure joins via shuffle-hash instead
  (`_closure_side`) — facts shuffle on the member key, nothing is
  broadcast;
  the fact side never shuffles for the join itself, only for the final
  aggregate (map-side partial aggregation applies because the plan is a
  plain hash aggregate over a join — whole-stage codegen, no Python in the
  hot path).
- the per-dimension closure join is a *fan-out* join: one fact row emits one
  output row per matching requested ancestor.  Fan-out is bounded by the
  number of requested ancestors per dim (axis sizes), not hierarchy depth.
- requested-member filters are applied to the closure BEFORE the join, so
  the broadcast side stays minimal and unmatched fact rows are dropped by
  the join itself (semi-join effect; Catalyst can push nothing useful into
  the fact scan beyond partition pruning, which the storage layer enables by
  partitioning facts on a chosen dimension column).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from .metadata import Dimension, DimensionScaleError, InvalidAddressError

# ---------------------------------------------------------------------------
# closure / members DataFrames (cached per dimension version)
# ---------------------------------------------------------------------------

_CLOSURE_SCHEMA = StructType(
    [
        StructField("member_id", IntegerType(), False),
        StructField("ancestor_id", IntegerType(), False),
        StructField("weight", DoubleType(), False),
    ]
)

_closure_cache: dict[tuple[int, int, int], DataFrame] = {}
_members_cache: dict[tuple[int, int, int], DataFrame] = {}


def _ckpt_rdd(df: DataFrame):
    """The JVM RDD whose storage blocks back a ``localCheckpoint``-ed
    DataFrame (``LogicalRDD`` plan), or None for any other plan shape.
    Needed because checkpoint blocks are otherwise only reclaimable via
    ContextCleaner-after-driver-GC: ``DataFrame.unpersist()`` has no
    CacheManager entry to drop for them."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        return plan.rdd()
    return None


def _distributed_closure_df(spark: SparkSession, dim: Dimension) -> DataFrame:
    """Closure table for a ``large_dim`` dimension, built IN SPARK.

    VERDICT r10 #1: for an over-envelope dimension the driver-side
    closure walk (O(leaves x ancestors) Python rows) is the bottleneck
    the broadcast envelope used to guard — ``commit()`` skips it, and
    this builds the same ``(member_id, ancestor_id, weight)`` table from
    the O(edges) parent/child graph by iterative self-join:

    - paths of length k from any member down to a leaf are extended one
      edge upward per round (exactly ``max height - 1`` rounds — known
      driver-side from the O(V+E) level recompute, so no per-round
      count() jobs and no unbounded loop on cyclic input);
    - the reference's LAST-DFS-PATH-WINS weight-merge semantics
      (reference ``dimension.py:815-827``, the ``{**acc, **recurse}``
      form) are reproduced exactly: each path carries a key of
      fixed-width child positions (top-down); the winning path per
      (leaf, ancestor) is ``max_by(weight, key)`` — later siblings
      overwrite earlier ones at the first divergence, recursively,
      which is precisely lexicographic-max on that key.  Weight
      products multiply leaf-up (``path_weight * edge_weight``), the
      driver walk's exact association order, so the two paths agree
      bit-for-bit (pinned by tests/test_round11_fixes.py).

    The result is ``localCheckpoint``-ed by :func:`closure_df`: every
    rollup joins it, and the join-cascade build lineage must not leak
    into downstream query plans (the no-broadcast plan contract for
    ``large_dim`` is asserted on those plans; the build's own internal
    joins are free to broadcast the tiny edge frame when AQE sees fit).
    Checkpoint blocks are freed deterministically via the tracked JVM
    RDD (``unpersist()`` is a no-op for them — see
    :func:`_ckpt_rdd`) on ``clear_caches`` / version bump.
    """
    parents: list[int] = []
    children: list[int] = []
    weights: list[float] = []
    positions: list[int] = []
    child_leaf: list[bool] = []
    for i, d in dim._defs.items():
        for pos, c in enumerate(d.children):
            parents.append(i)
            children.append(c)
            weights.append(float(dim._defs[c].parents[i]))
            positions.append(pos)
            child_leaf.append(not dim._defs[c].children)
    ids = list(dim._defs.keys())
    if not ids:
        return spark.createDataFrame([], _CLOSURE_SCHEMA)
    max_height = max(d.level for d in dim._defs.values())
    if max_height > 64:
        # the flag targets WIDE dimensions (member cardinality), not
        # pathologically deep ones: join rounds scale with height, and a
        # ~1000-deep chain would build an unanalyzable plan.  Depth this
        # extreme means few members per level — the O(V x depth) driver
        # walk is the right tool there.  LOUD (VERDICT r11 #4): a deep
        # AND wide dimension would silently driver-walk here otherwise.
        import warnings

        warnings.warn(
            f"large_dim dimension '{dim.name}' has height {max_height} "
            f"> 64: the distributed closure build is capped at 64 join "
            f"rounds, so this closure falls back to the driver-side "
            f"walk. Depth this extreme usually means few members per "
            f"level (where the walk is cheap), but a deep AND wide "
            f"dimension will be slow and memory-heavy on the driver — "
            f"flatten the hierarchy if this is unexpected.",
            RuntimeWarning,
            stacklevel=2,
        )
        rows = dim.closure_rows
        return spark.createDataFrame(
            [(int(m), int(a), float(w)) for (m, a, w) in rows],
            schema=_CLOSURE_SCHEMA,
        )
    try:
        # Arrow path, ~10x faster than row pickling at 10^6 edges; same
        # try/except seam as the sibling closure_df/members_df paths
        # (ADVICE r11: without pandas a large_dim commit succeeded but
        # the first query crashed on this hard import)
        import pandas as pd

        identity_src = spark.createDataFrame(
            pd.DataFrame({"member_id": pd.array(ids, dtype="int32")})
        )
        edges_src = (
            spark.createDataFrame(
                pd.DataFrame(
                    {
                        "parent": pd.array(parents, dtype="int32"),
                        "child": pd.array(children, dtype="int32"),
                        "w_edge": pd.array(weights, dtype="float64"),
                        "pos": pd.array(positions, dtype="int64"),
                        "child_is_leaf": child_leaf,
                    }
                )
            )
            if parents
            else None
        )
    except Exception:  # noqa: BLE001 — arrow/pandas unavailable
        identity_src = spark.createDataFrame(
            [(int(i),) for i in ids], schema="member_id int"
        )
        edges_src = (
            spark.createDataFrame(
                [
                    (int(p), int(c), float(w), int(pos), bool(lf))
                    for p, c, w, pos, lf in zip(
                        parents, children, weights, positions, child_leaf
                    )
                ],
                schema=(
                    "parent int, child int, w_edge double, pos long, "
                    "child_is_leaf boolean"
                ),
            )
            if parents
            else None
        )
    identity = identity_src.select(
        F.col("member_id").cast(IntegerType()),
        F.col("member_id").cast(IntegerType()).alias("ancestor_id"),
        F.lit(1.0).cast(DoubleType()).alias("weight"),
    )
    if edges_src is None:
        return identity
    edges = edges_src.withColumn(
        "key_edge", F.format_string("%08x", F.col("pos"))
    )
    # length-1 paths: parent -> leaf child
    cur = edges.where(F.col("child_is_leaf")).select(
        F.col("parent").alias("top"),
        F.col("child").alias("leaf"),
        F.col("w_edge").alias("w_path"),
        F.col("key_edge").alias("key_path"),
    )
    inner = edges.where(~F.col("child_is_leaf")).select(
        "parent", "child", "w_edge", "key_edge"
    )
    segments = [cur]
    for _ in range(max(0, max_height - 1)):
        cur = inner.join(cur, F.col("child") == F.col("top")).select(
            F.col("parent").alias("top"),
            F.col("leaf"),
            # leaf-up product, path weight FIRST — the driver walk's
            # ``hit[leaf] = lw * w`` association order, bit-for-bit
            (F.col("w_path") * F.col("w_edge")).alias("w_path"),
            F.concat(F.col("key_edge"), F.col("key_path")).alias("key_path"),
        )
        # per-round dominance reduction (ADVICE r11 medium): without it
        # the live path count grows multiplicatively with fan-in — a
        # dense multi-parent DAG well under the depth guard can hold
        # exponentially many paths.  Within one round every key_path has
        # equal length (8 hex chars per edge), and extension PREPENDS
        # the upper edge's key, so for a fixed (top, leaf) the lex-max
        # suffix stays lex-max under any shared upper prefix — keeping
        # only the per-(top, leaf) winner preserves the final
        # last-DFS-path-wins result exactly while bounding every round
        # by closure size (pinned by the dense-DAG differential in
        # tests/test_round12_fixes.py).
        cur = cur.groupBy("top", "leaf").agg(
            F.max_by(F.col("w_path"), F.col("key_path")).alias("w_path"),
            F.max(F.col("key_path")).alias("key_path"),
        )
        segments.append(cur)
    all_paths = segments[0]
    for seg in segments[1:]:
        all_paths = all_paths.unionByName(seg)
    rollup_rows = all_paths.groupBy("leaf", "top").agg(
        F.max_by(F.col("w_path"), F.col("key_path")).alias("weight")
    ).select(
        F.col("leaf").cast(IntegerType()).alias("member_id"),
        F.col("top").cast(IntegerType()).alias("ancestor_id"),
        F.col("weight").cast(DoubleType()),
    )
    return identity.unionByName(rollup_rows)


#: from_dataframe leaf frames (member_id, name, parent_id, weight),
#: checkpointed eager — members/closure frames both derive from one
_leaf_cache: dict[tuple[int, int, int], DataFrame] = {}
_ckpt_leaves: dict[tuple[int, int, int], object] = {}


def _from_df_leaf_frame(spark: SparkSession, dim: Dimension) -> DataFrame:
    """Leaf frame for a ``Dimension.from_dataframe`` dimension (VERDICT
    r11 #3): dense int member ids assigned SPARK-SIDE — the driver never
    materializes a leaf.

    Id assignment is the classic two-pass dense-rank: hash-bucket the
    (case-folded) leaf key into a fixed partition count, collect the
    O(partitions) bucket sizes, then ``row_number`` within each bucket
    plus the bucket's cumulative offset.  Deterministic (hash + name
    order, no RNG), fully JVM-side (no rdd/zipWithIndex pickling), and
    two jobs regardless of leaf count.  The same aggregate that counts
    buckets also detects leaf names clashing with upper-hierarchy
    names, so the build fails loudly at construction, not first query.

    Case-insensitive like driver dimensions: leaves duplicated up to
    case collapse to one member (lexicographically-max spelling wins,
    as does its (parent, weight) struct).
    """
    key = (id(spark), dim.uid, dim.version)
    df = _leaf_cache.get(key)
    if df is not None:
        return df
    src = dim._src
    if (
        src.get("df") is None
        and src.get("leaf_file")
        and src.get("multi_parent")
    ):
        # persisted multi_parent dimension: the parquet holds EDGE rows
        # (several per member) — the leaf frame collapses them to one
        # canonical row each (names are identical per member, fixed at
        # build; the representative parent is the max id = the last
        # group in sorted order, matching the single-parent last-wins
        # flavor).  Derived from the checkpointed edge frame, so plans
        # stay LogicalRDD-rooted — no extra checkpoint job.
        edges = _from_df_edge_frame(spark, dim)
        df = edges.groupBy("member_id").agg(
            F.max("name").alias("name"),
            F.max("parent_id").alias("parent_id"),
            F.max_by("weight", "parent_id").alias("weight"),
        ).select(
            F.col("member_id").cast(IntegerType()).alias("member_id"),
            F.col("name").cast(StringType()).alias("name"),
            F.col("parent_id").cast(IntegerType()).alias("parent_id"),
            F.col("weight").cast(DoubleType()).alias("weight"),
        )
        for old in [
            k
            for k in _leaf_cache
            if k[0] == key[0] and k[1] == key[1] and k[2] != key[2]
        ]:
            _leaf_cache.pop(old)
        _leaf_cache[key] = df
        if dim._n_leaves is None:
            dim._n_leaves = df.count()
        return df
    if src.get("df") is None and src.get("leaf_file"):
        # persisted dimension (Database.open): member ids are BAKED
        # into the parquet Database.save() wrote, so facts saved
        # against them stay correct across sessions — no id
        # reassignment, no by-name re-anchoring, no validation re-run
        # (the construction-time clash/null/unknown-parent checks
        # already passed).  Eager checkpoint so downstream plans see a
        # LogicalRDD (the no-broadcast plan contract) and so save()
        # back to the SAME path never overwrites parquet a live plan
        # is scanning.
        df = (
            spark.read.parquet(src["leaf_file"])
            .select(
                F.col("member_id").cast(IntegerType()).alias("member_id"),
                F.col("name").cast(StringType()).alias("name"),
                F.col("parent_id").cast(IntegerType()).alias("parent_id"),
                F.col("weight").cast(DoubleType()).alias("weight"),
            )
            .localCheckpoint(eager=True)
        )
        rdd = _ckpt_rdd(df)
        if rdd is not None:
            _ckpt_leaves[key] = rdd
        for old in [
            k
            for k in _leaf_cache
            if k[0] == key[0] and k[1] == key[1] and k[2] != key[2]
        ]:
            _leaf_cache.pop(old)
            r = _ckpt_leaves.pop(old, None)
            if r is not None:
                try:
                    r.unpersist(False)
                except Exception:  # noqa: BLE001
                    pass
        _leaf_cache[key] = df
        if dim._n_leaves is None:
            dim._n_leaves = df.count()
        return df
    leaf_col, parent_col = src["leaf_col"], src["parent_col"]
    weight_col, base = src["weight_col"], dim._next_idx
    w = (
        F.col(weight_col).cast(DoubleType())
        if weight_col
        else F.lit(1.0).cast(DoubleType())
    )
    pname = (
        F.col(parent_col).cast(StringType())
        if parent_col
        else F.lit(src["top"])
    )
    rows = (
        src["df"]
        .select(
            # trim to match the driver's Dimension._key (strip().lower())
            # — an untrimmed ' EUROPE ' parent would otherwise miss the
            # stripped driver group in the join below and silently float
            # the leaf out of every rollup (ADVICE r12), and an
            # untrimmed ' All ' leaf would escape the upper-name clash
            # guard.  Stored leaf NAMES are trimmed too, mirroring the
            # driver's _add_or_get (name.strip()) so by-name fact joins
            # behave identically on both construction paths.
            F.trim(F.col(leaf_col).cast(StringType())).alias("name"),
            F.trim(pname).alias("__pname"),
            w.alias("weight"),
        )
        .groupBy(F.lower(F.col("name")).alias("__key"))
        .agg(
            F.max(
                F.struct(F.col("name"), F.col("__pname"), F.col("weight"))
            ).alias("s")
        )
        .select(
            "__key",
            F.col("s.name").alias("name"),
            F.col("s.__pname").alias("__pname"),
            F.col("s.weight").alias("weight"),
        )
    )
    # bucket count PINNED at construction (Dimension.from_dataframe
    # stores it in _src): leaf ids depend on it, so re-reading the conf
    # on a clear_caches() rebuild under a changed
    # spark.sql.shuffle.partitions would silently reassign every leaf id
    # while fact frames loaded against the old ids keep them (ADVICE
    # r12).  The conf fallback only serves hand-built test fixtures.
    nparts = src.get("nparts")
    if not nparts:
        try:
            nparts = int(
                spark.conf.get("spark.sql.shuffle.partitions", "200")
            )
        except (ValueError, TypeError):
            nparts = 200
    rows = rows.withColumn(
        "__pid", F.pmod(F.xxhash64("__key"), F.lit(nparts)).cast("int")
    )
    upper_keys = list(dim._lookup)
    per = (
        rows.groupBy("__pid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                # coalesce: isin(NULL) is NULL, and a bucket of only
                # null keys would sum to NULL instead of 0
                F.coalesce(
                    F.col("__key").isin(upper_keys).cast("long"),
                    F.lit(0),
                )
            ).alias("clash"),
            # NULL leaf names would mint a null member; NULL parents
            # would silently float leaves out of every rollup (the
            # left join below can't resolve them).  Count both in the
            # same aggregate — the checks are free — and fail loudly.
            F.sum(F.col("__key").isNull().cast("long")).alias(
                "null_leaf"
            ),
            F.sum(
                (
                    F.col("__key").isNotNull()
                    & F.col("__pname").isNull()
                ).cast("long")
            ).alias("null_parent"),
            # a non-null parent that resolves to NO upper member would
            # leave parent_id NULL after the left join below — the same
            # silent-drop failure mode as a NULL parent (ADVICE r12).
            # By construction from_dataframe adds every distinct parent
            # value as a group, so this only fires when the source frame
            # is non-deterministic between the groups collect and this
            # build — exactly the drift worth failing loudly on.
            F.sum(
                (
                    F.col("__key").isNotNull()
                    & F.col("__pname").isNotNull()
                    & ~F.lower(F.col("__pname")).isin(upper_keys)
                ).cast("long")
            ).alias("unknown_parent"),
        )
        .collect()
    )
    if sum(r["clash"] for r in per) > 0:
        raise InvalidAddressError(
            f"from_dataframe dimension '{dim.name}': leaf names collide "
            f"with upper-hierarchy member names (group/top) — rename "
            f"the top/groups or the leaf key column"
        )
    n_null_leaf = sum(r["null_leaf"] for r in per)
    n_null_parent = sum(r["null_parent"] for r in per)
    if n_null_leaf or n_null_parent:
        raise InvalidAddressError(
            f"from_dataframe dimension '{dim.name}': source has "
            f"{n_null_leaf} NULL leaf name(s) and {n_null_parent} leaf "
            f"name(s) with a NULL parent — a NULL leaf would mint a "
            f"null member and a NULL parent would silently drop the "
            f"leaf from every rollup; filter or fillna the source "
            f"columns first"
        )
    n_unknown = sum(r["unknown_parent"] for r in per)
    if n_unknown:
        raise InvalidAddressError(
            f"from_dataframe dimension '{dim.name}': {n_unknown} leaf "
            f"row(s) name a parent that is not in the upper hierarchy — "
            f"the source DataFrame changed between group collection and "
            f"the leaf build (non-deterministic source?); checkpoint or "
            f"cache the source frame and rebuild"
        )
    offsets, acc = [], 0
    for r in sorted(per, key=lambda r: r["__pid"]):
        offsets.append((int(r["__pid"]), acc))
        acc += int(r["n"])
    n_leaves = acc
    if base + n_leaves > 2**31 - 1:
        raise DimensionScaleError(
            f"from_dataframe dimension '{dim.name}' has {n_leaves:,} "
            f"leaves — member ids are 32-bit ints; shard the dimension "
            f"or model the key as a fact column"
        )
    off_df = spark.createDataFrame(
        offsets, schema="__pid int, __off long"
    )
    upper_df = spark.createDataFrame(
        [(k, int(i)) for k, i in dim._lookup.items()],
        schema="__pkey string, parent_id int",
    )
    win = Window.partitionBy("__pid").orderBy("__key")
    leaves = (
        rows.withColumn("__rn", F.row_number().over(win))
        .join(F.broadcast(off_df), on="__pid")
        .join(
            F.broadcast(upper_df),
            F.lower(F.col("__pname")) == F.col("__pkey"),
            "left",
        )
        .select(
            (F.col("__off") + F.col("__rn") - 1 + F.lit(base))
            .cast(IntegerType())
            .alias("member_id"),
            "name",
            "parent_id",
            F.col("weight").cast(DoubleType()).alias("weight"),
        )
    )
    df = leaves.localCheckpoint(eager=True)
    rdd = _ckpt_rdd(df)
    if rdd is not None:
        _ckpt_leaves[key] = rdd
    # drop (and free) stale older-version entries
    for old in [
        k
        for k in _leaf_cache
        if k[0] == key[0] and k[1] == key[1] and k[2] != key[2]
    ]:
        _leaf_cache.pop(old)
        r = _ckpt_leaves.pop(old, None)
        if r is not None:
            try:
                r.unpersist(False)
            except Exception:  # noqa: BLE001
                pass
    _leaf_cache[key] = df
    dim._n_leaves = n_leaves
    return df


#: multi_parent from_dataframe EDGE frames (member_id, name, parent_id,
#: weight — several rows per member), checkpointed eager like the leaf
#: frames; this is also the frame Database.save persists for them
_edge_cache: dict[tuple[int, int, int], DataFrame] = {}
_ckpt_edges: dict[tuple[int, int, int], object] = {}


def _from_df_edge_frame(spark: SparkSession, dim: Dimension) -> DataFrame:
    """Edge frame for a ``multi_parent`` from_dataframe dimension
    (VERDICT r12 #4): one row per DISTINCT (leaf, parent) pair —
    duplicate source rows for the same edge dedupe to their MAX weight
    (deterministic; the driver analogue of repeated
    ``add_member(parent, [leaf], [w])`` where the last write wins has
    no stable order over a distributed frame).  Leaf ids and canonical
    names come from the leaf frame, which already ran the
    null/clash/unknown-parent validation over the same source."""
    key = (id(spark), dim.uid, dim.version)
    df = _edge_cache.get(key)
    if df is not None:
        return df
    src = dim._src
    if src.get("df") is None and src.get("leaf_file"):
        # persisted (Database.open): the parquet IS the edge frame for
        # multi_parent dimensions — ids baked, validation already ran
        df = spark.read.parquet(src["leaf_file"]).select(
            F.col("member_id").cast(IntegerType()).alias("member_id"),
            F.col("name").cast(StringType()).alias("name"),
            F.col("parent_id").cast(IntegerType()).alias("parent_id"),
            F.col("weight").cast(DoubleType()).alias("weight"),
        )
    else:
        leaves = _from_df_leaf_frame(spark, dim)
        leaf_col, parent_col = src["leaf_col"], src["parent_col"]
        weight_col = src["weight_col"]
        w = (
            F.col(weight_col).cast(DoubleType())
            if weight_col
            else F.lit(1.0).cast(DoubleType())
        )
        rows = src["df"].select(
            F.lower(
                F.trim(F.col(leaf_col).cast(StringType()))
            ).alias("__key"),
            F.lower(
                F.trim(F.col(parent_col).cast(StringType()))
            ).alias("__pkey"),
            w.alias("weight"),
        )
        edges = rows.groupBy("__key", "__pkey").agg(
            F.max("weight").alias("weight")
        )
        ids = leaves.select(
            F.lower(F.col("name")).alias("__key"), "member_id", "name"
        )
        upper_df = spark.createDataFrame(
            [(k, int(i)) for k, i in dim._lookup.items()],
            schema="__pkey string, parent_id int",
        )
        df = (
            edges.join(ids, "__key")
            .join(F.broadcast(upper_df), "__pkey")
            .select(
                "member_id",
                "name",
                "parent_id",
                F.col("weight").cast(DoubleType()).alias("weight"),
            )
        )
    df = df.localCheckpoint(eager=True)
    rdd = _ckpt_rdd(df)
    if rdd is not None:
        _ckpt_edges[key] = rdd
    for old in [
        k
        for k in _edge_cache
        if k[0] == key[0] and k[1] == key[1] and k[2] != key[2]
    ]:
        _edge_cache.pop(old)
        r = _ckpt_edges.pop(old, None)
        if r is not None:
            try:
                r.unpersist(False)
            except Exception:  # noqa: BLE001
                pass
    _edge_cache[key] = df
    return df


def _from_df_closure_frame(spark: SparkSession, dim: Dimension) -> DataFrame:
    """Closure frame for a from_dataframe dimension: upper closure rows
    (O(groups), driver walk) ∪ leaf identities ∪ leaf->ancestor rows
    (leaf edges joined to the broadcast upper closure — a leaf inherits
    every ancestor of its parent, weights multiplying leaf-up).

    ``multi_parent`` dimensions contribute one row per DISTINCT
    (leaf, ancestor) pair: for a direct parent the edge weight; toward
    a shared ancestor the competing paths merge with the driver walk's
    last-DFS-path-wins rule — ``max_by`` over the ancestor-down
    child-position path key (lex-MAX = last in DFS order, the exact
    :func:`_distributed_closure_df` key rule; equal-length keys per
    group because from_dataframe's groups all sit at the same depth)."""
    leaves = _from_df_leaf_frame(spark, dim)
    upper = spark.createDataFrame(
        [(int(m), int(a), float(w)) for m, a, w in dim._upper_closure_rows()],
        schema=_CLOSURE_SCHEMA,
    )
    if dim._src.get("multi_parent"):
        edges = _from_df_edge_frame(spark, dim)
        anc_k = spark.createDataFrame(
            [
                (int(m), int(a), float(w), k)
                for m, a, w, k in dim._upper_closure_rows_keyed()
            ],
            schema="__p int, ancestor_id int, __wu double, __k string",
        )
        leaf_up = (
            edges.join(
                F.broadcast(anc_k), edges["parent_id"] == F.col("__p")
            )
            .groupBy("member_id", "ancestor_id")
            .agg(
                F.max_by(
                    F.col("weight") * F.col("__wu"), F.col("__k")
                ).alias("weight")
            )
            .select(
                F.col("member_id"),
                F.col("ancestor_id"),
                F.col("weight").cast(DoubleType()).alias("weight"),
            )
        )
    else:
        anc = upper.select(
            F.col("member_id").alias("__p"),
            F.col("ancestor_id"),
            F.col("weight").alias("__wu"),
        )
        leaf_up = leaves.join(
            F.broadcast(anc), leaves["parent_id"] == F.col("__p")
        ).select(
            F.col("member_id"),
            F.col("ancestor_id"),
            (F.col("weight") * F.col("__wu"))
            .cast(DoubleType())
            .alias("weight"),
        )
    leaf_id = leaves.select(
        F.col("member_id"),
        F.col("member_id").alias("ancestor_id"),
        F.lit(1.0).cast(DoubleType()).alias("weight"),
    )
    return upper.unionByName(leaf_id).unionByName(leaf_up)


def _from_df_members_frame(spark: SparkSession, dim: Dimension) -> DataFrame:
    """Members frame for a from_dataframe dimension: driver upper rows ∪
    Spark-side leaves (level 0, ordinal = member id, attrs NULL)."""
    leaves = _from_df_leaf_frame(spark, dim)
    fields = [
        StructField("member_id", IntegerType(), False),
        StructField("name", StringType(), False),
        StructField("level", IntegerType(), False),
        StructField("ordinal", IntegerType(), False),
        StructField("format", StringType(), True),
    ]
    for a in dim.attributes:
        fields.append(StructField(f"attr_{a}", StringType(), True))
    upper = spark.createDataFrame(
        [
            tuple(
                [r["member_id"], r["name"], r["level"], r["ordinal"],
                 r["format"]]
                + [None for _ in dim.attributes]
            )
            for r in dim.member_rows()
        ],
        schema=StructType(fields),
    )
    leaf_members = leaves.select(
        F.col("member_id"),
        F.col("name"),
        F.lit(0).cast(IntegerType()).alias("level"),
        F.col("member_id").alias("ordinal"),
        F.lit(None).cast(StringType()).alias("format"),
        *[
            F.lit(None).cast(StringType()).alias(f"attr_{a}")
            for a in dim.attributes
        ],
    )
    return upper.unionByName(leaf_members)


#: closure-cache key -> backing JVM RDD for checkpointed large_dim
#: builds — blocks freed deterministically on clear_caches / version
#: replacement (DataFrame.unpersist is a no-op for checkpoint blocks)
_ckpt_closures: dict[tuple[int, int, int], object] = {}

#: closure-cache key -> exact row count of the checkpointed large_dim
#: closure, recorded ONCE at build (a narrow cached-scan job, ~0.35s
#: per 8M int-triple rows) so every later join-side decision is
#: zero-job (VERDICT r12 #3)
_closure_counts: dict[tuple[int, int, int], int] = {}

#: per-partition build-rows budget for CLOSURE-shaped build sides (int
#: triples: two int ids + a double weight ≈ 20 bytes a row, far
#: narrower than the ~100+-byte string-gram rows the dedup budget of
#: 250k was measured on).  Measured on this host (16 GiB driver,
#: local[32]): a 10M-leaf from_dataframe closure — 30M rows / 32
#: shuffle partitions ≈ 940k build rows per partition — shuffle-hash
#: builds and probes fine (BENCH_NOTES_r12 walls).  1M/partition keeps
#: the pin just inside measured territory; past it the strategy flips
#: to spillable sort-merge, the honest under-partitioned answer.  On a
#: real cluster with thousands of shuffle partitions the same closure
#: divides far below the budget, so the cheap hash path re-engages
#: exactly where it is safe.
CLOSURE_BUILD_ROWS_PER_PARTITION = 1_000_000


def _free_ckpt_closure(key: tuple[int, int, int]) -> None:
    _closure_counts.pop(key, None)
    rdd = _ckpt_closures.pop(key, None)
    if rdd is not None:
        try:
            rdd.unpersist(False)
        except Exception:  # noqa: BLE001 — session torn down
            pass


def closure_df(spark: SparkSession, dim: Dimension) -> DataFrame:
    """Broadcastable closure table ``(member_id, ancestor_id, weight)``.

    Includes the identity row ``(m, m, 1.0)`` for every member, so a leaf
    address and an aggregated address run the same plan.  ``large_dim``
    dimensions build distributed (:func:`_distributed_closure_df`).
    """
    key = (id(spark), dim.uid, dim.version)
    df = _closure_cache.get(key)
    if df is None:
        if getattr(dim, "large_dim", False):
            # drop (and free) any stale older-version entry first
            for old in [
                k
                for k in _closure_cache
                if k[0] == key[0] and k[1] == key[1] and k[2] != key[2]
            ]:
                _closure_cache.pop(old)
                _free_ckpt_closure(old)
            built = (
                _from_df_closure_frame(spark, dim)
                if getattr(dim, "_from_dataframe", False)
                else _distributed_closure_df(spark, dim)
            )
            df = built.localCheckpoint(eager=True)
            rdd = _ckpt_rdd(df)
            if rdd is not None:
                _ckpt_closures[key] = rdd
            # exact size, once per dim version, over the blocks the
            # eager checkpoint just materialized — every later
            # _closure_side decision reads the dict (zero jobs)
            _closure_counts[key] = df.count()
            _closure_cache[key] = df
            return df
        rows = dim.closure_rows
        try:
            # Arrow path: a large dimension's closure (100k+ members x
            # depth) converts ~10x faster than the row-pickling path
            import numpy as np
            import pandas as pd

            pdf = pd.DataFrame(
                {
                    "member_id": np.fromiter(
                        (m for m, _a, _w in rows), dtype="int32",
                        count=len(rows),
                    ),
                    "ancestor_id": np.fromiter(
                        (a for _m, a, _w in rows), dtype="int32",
                        count=len(rows),
                    ),
                    "weight": np.fromiter(
                        (w for _m, _a, w in rows), dtype="float64",
                        count=len(rows),
                    ),
                }
            )
            df = spark.createDataFrame(pdf, schema=_CLOSURE_SCHEMA)
        except Exception:  # noqa: BLE001 — arrow/pandas unavailable
            df = spark.createDataFrame(
                [(int(m), int(a), float(w)) for (m, a, w) in rows],
                schema=_CLOSURE_SCHEMA,
            )
        _closure_cache[key] = df
    return df


def members_df(spark: SparkSession, dim: Dimension) -> DataFrame:
    """Members DataFrame per FIXTURES.md (member_id, name, level, ordinal,
    format, attr_*)."""
    key = (id(spark), dim.uid, dim.version)
    df = _members_cache.get(key)
    if df is None and getattr(dim, "_from_dataframe", False):
        df = _from_df_members_frame(spark, dim)
        _members_cache[key] = df
        return df
    if df is None:
        rows = dim.member_rows()
        fields = [
            StructField("member_id", IntegerType(), False),
            StructField("name", StringType(), False),
            StructField("level", IntegerType(), False),
            StructField("ordinal", IntegerType(), False),
            StructField("format", StringType(), True),
        ]
        for a in dim.attributes:
            fields.append(StructField(f"attr_{a}", StringType(), True))
        schema = StructType(fields)
        try:
            # Arrow path (mirrors closure_df): a large_dim members frame
            # (10^6+ rows) converts ~10x faster than row pickling — the
            # label join over a 1M-member dimension otherwise pays tens
            # of seconds of driver serialization before the first task
            import numpy as np
            import pandas as pd

            cols: dict = {
                "member_id": np.fromiter(
                    (r["member_id"] for r in rows), dtype="int32",
                    count=len(rows),
                ),
                "name": pd.array([r["name"] for r in rows], dtype=object),
                "level": np.fromiter(
                    (r["level"] for r in rows), dtype="int32",
                    count=len(rows),
                ),
                "ordinal": np.fromiter(
                    (r["ordinal"] for r in rows), dtype="int32",
                    count=len(rows),
                ),
                "format": pd.array(
                    [r["format"] for r in rows], dtype=object
                ),
            }
            for a in dim.attributes:
                cols[f"attr_{a}"] = pd.array(
                    [
                        None
                        if r.get(f"attr_{a}") is None
                        else str(r.get(f"attr_{a}"))
                        for r in rows
                    ],
                    dtype=object,
                )
            df = spark.createDataFrame(pd.DataFrame(cols), schema=schema)
        except Exception:  # noqa: BLE001 — arrow/pandas unavailable
            data = [
                tuple(
                    [
                        r["member_id"],
                        r["name"],
                        r["level"],
                        r["ordinal"],
                        r["format"],
                    ]
                    + [
                        None
                        if r.get(f"attr_{a}") is None
                        else str(r.get(f"attr_{a}"))
                        for a in dim.attributes
                    ]
                )
                for r in rows
            ]
            df = spark.createDataFrame(data, schema=schema)
        _members_cache[key] = df
    return df


def clear_caches() -> None:
    for key in list(_ckpt_closures):
        _free_ckpt_closure(key)
    for store in (_ckpt_leaves, _ckpt_edges):
        for key in list(store):
            rdd = store.pop(key, None)
            if rdd is not None:
                try:
                    rdd.unpersist(False)
                except Exception:  # noqa: BLE001 — session torn down
                    pass
    _closure_cache.clear()
    _closure_counts.clear()
    _members_cache.clear()
    _leaf_cache.clear()
    _edge_cache.clear()


# ---------------------------------------------------------------------------
# rollup plans
# ---------------------------------------------------------------------------


def _closure_side(cdf: DataFrame, dim: Dimension) -> DataFrame:
    """Join-side strategy for a dimension closure: inside the broadcast
    envelope the closure ships to every executor (broadcast-hash join, no
    fact shuffle).  A ``Dimension(..., large_dim=True)`` dimension opted
    out of the envelope (VERDICT r9 #8) — its closure joins distributed:
    the fact shuffles on the member key (the honest cost of a dimension
    too big to broadcast), and the closure side hash-builds while its
    per-partition share fits the non-spillable hash budget, flipping to
    spillable sort-merge beyond it (VERDICT r12 #3 — the same size-aware
    criterion every corpus-growing pipeline join uses, sized from the
    exact count :func:`closure_df` recorded at build, zero extra jobs).
    Callers always derive ``cdf`` from :func:`closure_df`; a frame whose
    build count is unknown takes the spillable path — the safe side."""
    if getattr(dim, "large_dim", False):
        from .pipeline.dedup import gram_join_strategy

        spark = cdf.sparkSession
        n = _closure_counts.get((id(spark), dim.uid, dim.version))
        hint = (
            gram_join_strategy(
                n,
                spark,
                rows_per_partition=CLOSURE_BUILD_ROWS_PER_PARTITION,
            )
            if n is not None
            else "merge"
        )
        return cdf.hint(hint)
    return F.broadcast(cdf)


def _members_side(mdf: DataFrame, dim: Dimension) -> DataFrame:
    """Join-side strategy for a dimension's MEMBERS frame (name labels,
    by-name id resolution).  Same envelope logic as :func:`_closure_side`
    (VERDICT r10 #2): a ``large_dim`` members frame is exactly as
    over-envelope as its closure — a View or labeled result over it must
    not re-open the broadcast the flag was built to avoid.  Sized with
    zero jobs from driver-tracked counts (``len(_defs)`` for add_many
    dimensions, ``+ _n_leaves`` for from_dataframe ones) against the
    STRING-row budget: members rows carry a name (and attrs), the same
    weight class as the gram rows the 250k/partition budget was
    measured on."""
    if getattr(dim, "large_dim", False):
        from .pipeline.dedup import gram_join_strategy

        n = len(dim._defs) + (getattr(dim, "_n_leaves", None) or 0)
        return mdf.hint(gram_join_strategy(n, mdf.sparkSession))
    return F.broadcast(mdf)


def _joined_rollup(
    fact: DataFrame,
    spark: SparkSession,
    dims: Sequence[tuple[str, Dimension]],
    requested: dict[str, Sequence[int]],
    value_col: str = "value",
) -> tuple[DataFrame, Column]:
    """fact joined with per-dim filtered broadcast closures.

    Returns (joined_df, weighted_value_column).  ``requested`` maps fact
    column name -> list of requested ancestor member ids for that dim; dims
    absent from ``requested`` are not joined (they aggregate over all rows —
    callers that need full-address semantics always request every dim).
    """
    df = fact
    weighted: Column = F.col(value_col)
    for col, dim in dims:
        if col not in requested:
            continue
        ids = [int(i) for i in requested[col]]
        if len(ids) == 1 and ids[0] in dim._trivial_tops:
            # join elimination: a single requested ancestor that covers all
            # leaves with weight 1.0 constrains nothing — emit it as a
            # constant ancestor column instead of a broadcast join
            df = df.withColumn(f"__a_{col}", F.lit(ids[0]))
            continue
        leaf_ids = [i for i in ids if dim._defs[i].level == 0]
        trivial_ids = [i for i in ids if i in dim._trivial_tops]
        if len(leaf_ids) + len(trivial_ids) == len(ids):
            # joinless fan-out: every requested member is either a leaf
            # (identity row, weight 1) or an all-covering weight-1 top —
            # the ancestor column is a pure projection + explode, no
            # broadcast, no join.  (Rows matching nothing emit an empty
            # array and are dropped — inner-join semantics.)
            branches = []
            if leaf_ids:
                cond = (
                    df[col] == leaf_ids[0]
                    if len(leaf_ids) == 1
                    else df[col].isin(leaf_ids)
                )
                branches.append(F.when(cond, df[col]))
            for t in trivial_ids:
                branches.append(F.lit(int(t)))
            df = df.withColumn(
                f"__a_{col}",
                F.explode(F.array_compact(F.array(*branches))),
            )
            continue
        cdf = closure_df(spark, dim)
        if len(ids) == 1:
            cdf = cdf.where(F.col("ancestor_id") == ids[0])
        else:
            cdf = cdf.where(F.col("ancestor_id").isin(ids))
        cdf = cdf.select(
            F.col("member_id").alias(f"__m_{col}"),
            F.col("ancestor_id").alias(f"__a_{col}"),
            F.col("weight").alias(f"__w_{col}"),
        )
        df = df.join(
            _closure_side(cdf, dim), df[col] == F.col(f"__m_{col}"), "inner"
        )
        weighted = weighted * F.col(f"__w_{col}")
    return df, weighted


def aggregate_grid(
    fact: DataFrame,
    spark: SparkSession,
    dims: Sequence[tuple[str, Dimension]],
    axes: dict[str, Sequence[int]],
    group_cols: Sequence[str],
    value_col: str = "value",
) -> DataFrame:
    """One weighted rollup over requested ancestor sets.

    ``axes``: fact column -> requested ancestor ids (every cube dim must be
    present — full-address semantics).  ``group_cols``: the subset of axis
    columns that appear in the output (row/col axes); the rest are filter
    dims (pinned, usually a single member).

    Output: one row per present combination ``(col..., value, __cnt)``.
    Empty combinations are absent (caller densifies if needed — reference
    semantics: missing cell reads as None, ``facttable.py:166-170``).

    The plan is: broadcast-join per dim (fan-out to requested ancestors) →
    single hash aggregate.  `.explain()` shows BroadcastHashJoin chains
    inside one WholeStageCodegen span followed by partial+final HashAggregate.
    """
    df, weighted = _joined_rollup(fact, spark, dims, axes, value_col)
    keys = [F.col(f"__a_{c}").alias(c) for c in group_cols]
    out = df.groupBy(*keys).agg(
        F.sum(weighted).alias("value"),
        F.count(F.lit(1)).alias("__cnt"),
    )
    # rows matched but all values non-float (null) -> 0.0 (reference
    # cube.py:468: the float loop starts at 0.0 and skips non-floats);
    # no rows matched -> row absent -> None.
    return out.withColumn("value", F.coalesce(F.col("value"), F.lit(0.0)))


_COND_AGG_MAX_REQUESTS = 128
_COND_AGG_MAX_LEAVES = 512
_COND_AGG_LITERAL_BUDGET = 2_000

_GSETS_MAX_SIGNATURES = 16
_GSETS_MAX_ROWS = 50_000


def _grouping_sets_cells(
    fact: DataFrame,
    dims: Sequence[tuple[str, Dimension]],
    addresses: dict[int, Sequence[int]],
    value_col: str = "value",
) -> Optional[dict[int, Optional[float]]]:
    """GROUPING SETS fast path for batches of LEAF-drill reads (the
    dominant interactive pattern: a few dims drilled to leaf members, the
    rest at all-covering tops).  All requests sharing a drill signature
    (the set of non-trivial dim positions) are answered by one grouping
    set; the whole batch is ONE scan + ONE partial-aggregated shuffle,
    independent of the number of requests.

    Ineligible (non-leaf ancestors, too many signatures, an estimated
    marginal-grid size above the collect budget) -> None, callers fall
    through to the conditional-agg / grid / request-join plans.
    """
    cols = [c for c, _ in dims]
    sigs: dict[tuple[int, ...], list[int]] = {}
    for rid, addr in addresses.items():
        sig = []
        for i, (_c, dim) in enumerate(dims):
            a = int(addr[i])
            if a in dim._trivial_tops:
                continue
            if dim._defs[a].level != 0:
                return None
            sig.append(i)
        sigs.setdefault(tuple(sig), []).append(rid)
    if len(sigs) > _GSETS_MAX_SIGNATURES:
        return None
    est = 0
    for sig in sigs:
        p = 1
        for i in sig:
            dim = dims[i][1]
            p *= max(
                1, sum(1 for d in dim._iter_defs() if not d.children)
            )
        est += p
        if est > _GSETS_MAX_ROWS:
            return None
    involved = sorted({i for sig in sigs for i in sig})
    inv_cols = [cols[i] for i in involved]
    if not involved:
        # every request is the grand total
        row = fact.agg(
            F.sum(F.col(value_col)).alias("__v"),
            F.count(F.lit(1)).alias("__c"),
        ).collect()[0]
        v = (
            (row["__v"] if row["__v"] is not None else 0.0)
            if row["__c"] > 0
            else None
        )
        return {rid: v for rid in addresses}
    gsets = [[F.col(cols[i]) for i in sig] for sig in sigs]
    rows = (
        fact.groupingSets(gsets, *[F.col(c) for c in inv_cols])
        .agg(
            F.sum(F.col(value_col)).alias("__v"),
            F.count(F.lit(1)).alias("__c"),
            F.grouping_id().alias("__gid"),
        )
        .collect()
    )
    # grouping_id bit j (MSB-first over inv_cols) = 1 when that col is
    # AGGREGATED (not part of the set)
    def gid_of(sig: tuple[int, ...]) -> int:
        gid = 0
        for j, i in enumerate(involved):
            gid = (gid << 1) | (0 if i in sig else 1)
        return gid

    grids: dict[int, dict[tuple, tuple]] = {}
    for r in rows:
        grids.setdefault(r["__gid"], {})[
            tuple(r[c] for c in inv_cols)
        ] = (r["__v"], r["__c"])
    out: dict[int, Optional[float]] = {}
    for sig, rids in sigs.items():
        grid = grids.get(gid_of(sig), {})
        sig_set = set(sig)
        for rid in rids:
            addr = addresses[rid]
            key = tuple(
                int(addr[i]) if i in sig_set else None for i in involved
            )
            hit = grid.get(key)
            if hit is None or hit[1] == 0:
                out[rid] = None
            else:
                out[rid] = hit[0] if hit[0] is not None else 0.0
    return out


def _cond_agg_cells(
    fact: DataFrame,
    dims: Sequence[tuple[str, Dimension]],
    addresses: dict[int, Sequence[int]],
    value_col: str = "value",
) -> Optional[dict[int, Optional[float]]]:
    """Conditional-aggregation fast path for SMALL batches of aggregated
    point reads: each request becomes a pair of aggregate expressions
    ``sum(when(cond, value * w))`` / ``count(when(cond, 1))`` over ONE
    fact scan — no closure join, no ancestor fan-out, no shuffle beyond
    the single global reduce.  (The grid/request-join paths explode each
    fact row once per matching ancestor; for a handful of interactive
    reads over a big fact that fan-out dominates the runtime.)

    Per-dim condition: trivial tops constrain nothing; leaves are an
    equality; uniform-weight ancestors inline their leaf set as ``isin``;
    weighted ancestors inline a literal id->weight map.  Returns None when
    a request is not cheaply representable (huge leaf sets, literal budget
    exceeded) — callers fall back to the join-based plans.
    """
    # cheap eligibility pre-pass: count literals BEFORE building any
    # Column objects, so the ineligible case costs ~nothing
    closure_maps: dict[int, dict[int, dict[int, float]]] = {}
    literals = 0
    for addr in addresses.values():
        for i, (c, dim) in enumerate(dims):
            a = int(addr[i])
            if a in dim._trivial_tops:
                continue
            if dim._defs[a].level == 0:
                literals += 1
                continue
            if getattr(dim, "large_dim", False):
                # VERDICT r11 #1: an aggregated member of a large_dim
                # dimension must NOT be served here — the leaf-set map
                # below reads ``dim.closure_rows``, whose large_dim
                # implementation lazily runs the multiplicative driver
                # walk commit() deliberately deferred.  The join-based
                # plans serve it via the distributed DataFrame closure.
                return None
            cm = closure_maps.setdefault(i, {})
            if a not in cm:
                cm[a] = {
                    leaf: w
                    for leaf, anc, w in dim.closure_rows
                    if anc == a and dim._defs[leaf].level == 0
                }
            n = len(cm[a])
            if n == 0 or n > _COND_AGG_MAX_LEAVES:
                return None
            literals += n
        if literals > _COND_AGG_LITERAL_BUDGET:
            return None

    exprs = []
    for rid, addr in addresses.items():
        conds = []
        wfactors = []
        for i, (c, dim) in enumerate(dims):
            a = int(addr[i])
            if a in dim._trivial_tops:
                continue
            d = dim._defs[a]
            if d.level == 0:
                conds.append(F.col(c) == F.lit(a))
                continue
            leaves = closure_maps[i][a]
            if all(w == 1.0 for w in leaves.values()):
                conds.append(F.col(c).isin([int(x) for x in leaves]))
            else:
                entries = []
                for leaf, w in leaves.items():
                    entries.append(F.lit(int(leaf)))
                    entries.append(F.lit(float(w)))
                wfactors.append(
                    F.try_element_at(F.create_map(*entries), F.col(c))
                )
        val = F.col(value_col)
        cond = None
        for x in conds:
            cond = x if cond is None else (cond & x)
        for wf in wfactors:
            val = val * wf
            nn = wf.isNotNull()
            cond = nn if cond is None else (cond & nn)
        if cond is None:
            exprs.append(F.sum(val).alias(f"__v_{rid}"))
            exprs.append(F.count(F.lit(1)).alias(f"__c_{rid}"))
        else:
            exprs.append(F.sum(F.when(cond, val)).alias(f"__v_{rid}"))
            exprs.append(F.count(F.when(cond, F.lit(1))).alias(f"__c_{rid}"))
    row = fact.agg(*exprs).collect()[0]
    out: dict[int, Optional[float]] = {}
    for rid in addresses:
        if row[f"__c_{rid}"] > 0:
            v = row[f"__v_{rid}"]
            out[rid] = v if v is not None else 0.0
        else:
            out[rid] = None
    return out


def aggregate_cells(
    fact: DataFrame,
    spark: SparkSession,
    dims: Sequence[tuple[str, Dimension]],
    addresses: dict[int, Sequence[int]],
    value_col: str = "value",
) -> dict[int, Optional[float]]:
    """Batch of aggregated point reads in ONE job.

    ``addresses``: request_id -> tuple of member ids (one per cube dim, in
    fact-column order).  Returns request_id -> value (None where no fact
    rows matched).

    Strategy (micro-benchmarked at sf0.1): ONE plan — per-dim closure joins
    filtered to the union of requested ancestors, grouped by the full
    ancestor tuple; requested cells are picked out of the collected grid on
    the driver.  When the requested cross-product far exceeds the request
    count (pathological scattered batches), fall back to a broadcast
    request-join so the collect stays bounded by the request count.
    """
    if not addresses:
        return {}
    got = _grouping_sets_cells(fact, dims, addresses, value_col)
    if got is not None:
        return got
    if len(addresses) <= _COND_AGG_MAX_REQUESTS:
        got = _cond_agg_cells(fact, dims, addresses, value_col)
        if got is not None:
            return got
    cols = [c for c, _ in dims]
    requested = {
        c: sorted({int(addr[i]) for addr in addresses.values()})
        for i, c in enumerate(cols)
    }
    product = 1
    for c in cols:
        product *= max(1, len(requested[c]))
    df, weighted = _joined_rollup(fact, spark, dims, requested, value_col)

    if product <= max(50_000, 10 * len(addresses)):
        # grid plan: collect present combos, match driver-side
        keys = [F.col(f"__a_{c}").alias(c) for c in cols]
        rows = (
            df.groupBy(*keys)
            .agg(F.sum(weighted).alias("value"), F.count(F.lit(1)).alias("__cnt"))
            .collect()
        )
        got = {
            tuple(r[c] for c in cols): (
                r["value"] if r["value"] is not None else 0.0
            )
            for r in rows
        }
        return {
            rid: got.get(tuple(int(m) for m in addr))
            for rid, addr in addresses.items()
        }

    # fallback: broadcast request-join keyed by request id
    req_schema = StructType(
        [StructField("__req_id", LongType(), False)]
        + [StructField(f"__r_{c}", IntegerType(), False) for c in cols]
    )
    req_rows = [
        tuple([int(rid)] + [int(m) for m in addr]) for rid, addr in addresses.items()
    ]
    reqs = spark.createDataFrame(req_rows, schema=req_schema)
    cond = None
    for c in cols:
        this = F.col(f"__a_{c}") == F.col(f"__r_{c}")
        cond = this if cond is None else (cond & this)
    agg = (
        df.join(F.broadcast(reqs), cond, "inner")
        .groupBy("__req_id")
        .agg(F.sum(weighted).alias("value"), F.count(F.lit(1)).alias("__cnt"))
        .collect()
    )
    out: dict[int, Optional[float]] = {rid: None for rid in addresses}
    for row in agg:
        out[row["__req_id"]] = row["value"] if row["value"] is not None else 0.0
    return out


def base_lookup(
    fact: DataFrame,
    spark: SparkSession,
    dim_cols: Sequence[str],
    addresses: dict[int, Sequence[int]],
    value_col: str = "value",
    value_str_col: str = "value_str",
) -> dict[int, object]:
    """Batch of exact base-cell reads in ONE job (reference
    ``facttable.py:166-170`` dict lookup, batched).

    Returns request_id -> float | str | None.
    """
    if not addresses:
        return {}
    req_schema = StructType(
        [StructField("__req_id", LongType(), False)]
        + [StructField(f"__r_{c}", IntegerType(), False) for c in dim_cols]
    )
    # ship the request batch over Arrow (one columnar block) instead of
    # the py4j pickle path — at 10k addresses x 9 ints the row-by-row
    # serialization is a measurable driver-side tax on a sub-second read
    try:
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "__req_id": [int(rid) for rid in addresses],
                **{
                    f"__r_{c}": [int(addr[i]) for addr in addresses.values()]
                    for i, c in enumerate(dim_cols)
                },
            }
        )
        reqs = spark.createDataFrame(pdf, schema=req_schema)
    except Exception:
        req_rows = [
            tuple([int(rid)] + [int(m) for m in addr])
            for rid, addr in addresses.items()
        ]
        reqs = spark.createDataFrame(req_rows, schema=req_schema)
    cond = None
    for c in dim_cols:
        this = F.col(c) == F.col(f"__r_{c}")
        cond = this if cond is None else (cond & this)
    has_str = value_str_col in fact.columns
    sel = [F.col("__req_id"), F.col(value_col)]
    if has_str:
        sel.append(F.col(value_str_col))
    rows = fact.join(F.broadcast(reqs), cond, "inner").select(*sel).collect()
    out: dict[int, object] = {rid: None for rid in addresses}
    for row in rows:
        v = row[value_col]
        if v is None and has_str and row[value_str_col] is not None:
            v = row[value_str_col]
        out[row["__req_id"]] = v
    return out


def area_rows(
    fact: DataFrame,
    spark: SparkSession,
    dims: Sequence[tuple[str, Dimension]],
    filters: dict[str, Sequence[int]],
) -> DataFrame:
    """Fact rows inside an area: OR within a dim, AND across dims
    (reference ``facttable.py:350-373``).

    Unlike the rollup join this is a pure SEMI-join — each fact row appears
    at most once regardless of how many requested ancestors it rolls into,
    and no weights apply (reference Area aggregates sum *stored* values,
    ``area.py:372-447``).
    """
    df = fact
    for col, dim in dims:
        if col not in filters or not filters[col]:
            continue
        ids = [int(i) for i in filters[col]]
        if any(i in dim._trivial_tops for i in ids):
            continue  # an all-covering ancestor in an OR-list filters nothing
        cdf = (
            closure_df(spark, dim)
            .where(F.col("ancestor_id").isin(ids))
            .select(F.col("member_id").alias(f"__m_{col}"))
            .distinct()
        )
        df = df.join(
            _closure_side(cdf, dim), df[col] == F.col(f"__m_{col}"), "leftsemi"
        )
    return df
