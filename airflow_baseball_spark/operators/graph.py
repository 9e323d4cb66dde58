"""Shared graph primitives: degree-ordered edge orientation, triangle
enumeration, and a session-scoped materialized edge list.

Degree-ordered orientation is the standard hub-skew fix for
wedge-based graph algorithms (Chiba–Nishizeki / Latapy): orient every
undirected edge from its lower-(degree, id) endpoint to the higher
one. The oriented out-degree of ANY vertex is then bounded by
O(sqrt(|E|)) — for a vertex of degree d, at most min(d, sqrt(2|E|))
out-neighbors — so the wedge self-join on the source vertex cannot
fan out quadratically at a power-law hub. On a 1000-executor cluster
this is the difference between one straggler task holding the stage
and uniformly-sized join partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def orient_edges_by_degree(
    edges: DataFrame,
    deg: DataFrame | None = None,
    a: str = "brand_a",
    b: str = "brand_b",
) -> DataFrame:
    """Orient undirected edges (a, b) low-(degree, id) → high.

    Returns columns (src, dst, dst_d) where dst_d is dst's degree —
    carried so wedge enumeration can order out-neighbor pairs without
    a second degree join. ``deg`` (columns v, d) is computed from the
    edge list when not supplied; it is vertex-sized, so it broadcasts.
    """
    if deg is None:
        deg = (
            edges.select(F.col(a).alias("v"))
            .unionAll(edges.select(F.col(b).alias("v")))
            .groupBy("v")
            .agg(F.count("*").alias("d"))
        )
    da = deg.select(F.col("v").alias("_va"), F.col("d").alias("_da"))
    db = deg.select(F.col("v").alias("_vb"), F.col("d").alias("_db"))
    e = edges.join(F.broadcast(da), F.col(a) == F.col("_va")).join(
        F.broadcast(db), F.col(b) == F.col("_vb")
    )
    a_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col(a) < F.col(b))
    )
    return e.select(
        F.when(a_first, F.col(a)).otherwise(F.col(b)).alias("src"),
        F.when(a_first, F.col(b)).otherwise(F.col(a)).alias("dst"),
        F.when(a_first, F.col("_db")).otherwise(F.col("_da")).alias("dst_d"),
    )


def enumerate_triangles(
    edges: DataFrame,
    deg: DataFrame | None = None,
    a: str = "brand_a",
    b: str = "brand_b",
) -> DataFrame:
    """Every triangle exactly once as (va, vb, vc), found at its
    minimum-(degree, id) corner va.

    Wedges form by self-joining the degree-oriented edge list on the
    source vertex — per-source fanout is the oriented out-degree,
    O(sqrt(|E|)) — ordered (vb before vc) in the same (degree, id)
    order as the orientation, so closing probes the oriented edge set
    directly (vb → vc is the only orientation the closing edge can
    carry). The oriented list is referenced three times (both wedge
    sides + the closing probe), so it is localCheckpoint'ed — without
    it each reference re-derives the edge subtree (measured 3× plan
    blowup on the co-purchase graph)."""
    o = orient_edges_by_degree(edges, deg, a=a, b=b).localCheckpoint()
    left = o.select(
        F.col("src").alias("va"),
        F.col("dst").alias("vb"),
        F.col("dst_d").alias("_d1"),
    )
    right = o.select(
        F.col("src").alias("_src2"),
        F.col("dst").alias("vc"),
        F.col("dst_d").alias("_d2"),
    )
    wedges = left.join(right, F.col("va") == F.col("_src2")).filter(
        (F.col("_d1") < F.col("_d2"))
        | ((F.col("_d1") == F.col("_d2")) & (F.col("vb") < F.col("vc")))
    )
    probe = o.select(F.col("src").alias("_pa"), F.col("dst").alias("_pb"))
    return wedges.join(
        probe, (F.col("vb") == F.col("_pa")) & (F.col("vc") == F.col("_pb"))
    ).select("va", "vb", "vc")


def count_triangles_oriented(
    edges: DataFrame,
    deg: DataFrame | None = None,
    a: str = "brand_a",
    b: str = "brand_b",
) -> DataFrame:
    """Triangle rows (va, vb, vc), one per triangle — callers agg or
    explode the corners as needed."""
    return enumerate_triangles(edges, deg, a=a, b=b)


# ---------------------------------------------------------------------------
# Session-scoped materialized edge list
# ---------------------------------------------------------------------------

_EDGE_CACHE: dict[tuple[str, int, str, str], DataFrame] = {}
# (session, sf_dir, key) entries before eviction. r8: raised 16 → 64 so
# the worst realistic live-key count (15 distinct call-site keys × a
# few sf_dirs in one long pytest session) fits without churn; eviction
# is now GC-deferred (below), so the cap bounds dict size, not blocks.
_EDGE_CACHE_MAX = 64


def _session_token(spark: SparkSession) -> tuple[str, int]:
    """Stable identity for the live Spark application. r7 fix (r6
    ADVICE): the previous key, id(._jsc), is a CPython object address
    that can be REUSED after the old JVM wrapper is garbage-collected,
    so a restarted session could collide with a stale entry and
    reference dropped localCheckpoint blocks — the exact failure the
    cache key exists to prevent. (applicationId, startTime) can never
    collide across restarts."""
    sc = spark.sparkContext
    return (sc.applicationId, sc.startTime)


def materialize_edge_list(
    spark: SparkSession,
    sf_dir: str,
    key: str,
    build,  # Callable[[SparkSession, str], DataFrame]
) -> DataFrame:
    """Build-once, reuse-everywhere edge list.

    Several graph queries (golden_record, degree_distribution,
    triangle_count, the CC family) share one expensive subtree — the
    basket-edge derivation off the fact table. Run standalone (bench
    mode) each query re-derives it; in production the pipeline calls
    this helper so the subtree is computed ONCE per (session, sf_dir,
    key), localCheckpoint'ed (lineage truncated, blocks on local
    executors), and every consumer references the materialized plan.

    ``build(spark, sf_dir)`` produces the edge DataFrame on a cache
    miss. The cache key is (applicationId, startTime, sf_dir, key) —
    see :func:`_session_token` — so a restarted session never serves
    dropped checkpoint blocks. Entries from DEAD sessions are evicted
    on every call (their checkpoint blocks died with the executors),
    and the cache is capped at _EDGE_CACHE_MAX entries (oldest-first
    eviction; the ContextCleaner reclaims the evicted blocks) so
    long-lived sessions do not pin checkpoint blocks forever (r6
    ADVICE).

    The build output is checkpointed as-is: a seam whose row count
    grows with the corpus pins a corpus-sized block set."""
    app, start = _session_token(spark)
    # evict entries whose session is gone
    for k in [k for k in _EDGE_CACHE if (k[0], k[1]) != (app, start)]:
        _EDGE_CACHE.pop(k, None)
    cache_key = (app, start, sf_dir, key)
    df = _EDGE_CACHE.get(cache_key)
    if df is None:
        while len(_EDGE_CACHE) >= _EDGE_CACHE_MAX:
            # r8 (r7 ADVICE): cap eviction drops the dict entry but
            # does NOT unpersist — the evicted entry belongs to the
            # LIVE session (dead-session entries were already purged
            # above), so an explicit unpersist would yank checkpoint
            # blocks out from under any not-yet-executed plan that
            # still references the DataFrame (reachable when one
            # session touches > _EDGE_CACHE_MAX (sf_dir, key) pairs,
            # e.g. a pytest session mixing sf0.001 and sf0.01).
            # Spark's ContextCleaner reclaims the blocks once the
            # evicted DataFrame is garbage-collected, which is the
            # safe point by construction.
            _EDGE_CACHE.pop(next(iter(_EDGE_CACHE)))
        df = build(spark, sf_dir).localCheckpoint()
        _EDGE_CACHE[cache_key] = df
    return df


def clear_edge_cache() -> None:
    for df in _EDGE_CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass
    _EDGE_CACHE.clear()


def sssp_bounded(
    edges_w: DataFrame,
    sources: DataFrame,
    max_hops: int = 6,
    a: str = "brand_a",
    b: str = "brand_b",
    w: str = "w",
) -> DataFrame:
    """Bounded-hop single-source cheapest paths (Bellman-Ford relax
    rounds) over an undirected weighted edge list: (node, cost) for
    every node reachable from ``sources`` in ≤ ``max_hops`` edges,
    cost = minimum total weight among such paths.

    The hop bound makes the answer well-defined without a convergence
    test (and lets an exact SQL oracle unroll the same K rounds).
    Each round is one join of the current dist table against the
    symmetrized edges plus a min-regroup — both hash-partitioned on
    the node id, so the exchanges line up round over round; the dist
    table is localCheckpoint'ed per round (the lineage-truncation
    pattern of operators/bfs.py — each round's plan must not replay
    every earlier round)."""
    sym = edges_w.select(
        F.col(a).alias("s"), F.col(b).alias("t"), F.col(w).alias("w")
    ).unionAll(
        edges_w.select(
            F.col(b).alias("s"), F.col(a).alias("t"), F.col(w).alias("w")
        )
    )
    dist = (
        sources.select(F.col("node"))
        .distinct()
        .withColumn("cost", F.lit(0).cast("long"))
        .localCheckpoint()
    )
    for _ in range(max_hops):
        cand = dist.join(sym, dist["node"] == sym["s"]).select(
            F.col("t").alias("node"),
            (F.col("cost") + F.col("w")).alias("cost"),
        )
        dist = (
            dist.unionByName(cand)
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
            .localCheckpoint()
        )
    return dist
