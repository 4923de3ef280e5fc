"""Distributed graph operators (engine extension; the reference has no
graph surface). Currently: exact triangle census via degree-ordered
edge orientation — the MapReduce-era discipline that bounds wedge-join
work at O(E^1.5) under power-law degree skew, because every triangle is
emitted by exactly one node (its orientation-smallest), never by a hub.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.materialize import memo, pinned
from ..session import session_conf

# The Pregel loops below run fixed-shape plans over pinned inputs, where
# AQE's runtime re-planning only adds stage-barrier jobs.
_AQE_OFF = {"spark.sql.adaptive.enabled": "false"}


def symmetric_adjacency(e: DataFrame, key: tuple | None = None) -> DataFrame:
    """Symmetric adjacency (node, other) of an undirected (u, v) edge
    list, HASH-PARTITIONED on ``node`` and optionally memoized.

    The per-round Pregel operators (k-core, BFS) probe this frame every
    round through broadcast semi-joins and then aggregate by ``node`` —
    rebuilding the two-scan union per round re-evaluates the edge source
    twice per round, and the groupBy pays its exchange each time. A
    pinned copy partitioned on the aggregate key is scanned from cache
    and satisfies the groupBy's required distribution outright (guide
    §2.4 — operations keyed the same way share one exchange; broadcast
    semi-joins preserve the layout).
    ``key`` (the caller's memo key for the edge source, see
    ``plans.materialize.memo``) memoizes the frame per session;
    ``key=None`` keeps the inline shape for one-shot callers."""
    sym = e.select(F.col("u").alias("node"), F.col("v").alias("other")).unionAll(
        e.select(F.col("v").alias("node"), F.col("u").alias("other"))
    )
    if key is None:
        return sym
    spark = e.sparkSession
    return memo(
        spark,
        (*key, "symmetric_adjacency"),
        lambda: sym.repartition(spark.sparkContext.defaultParallelism, "node"),
    )


def triangle_census(e: DataFrame, pool: str = "tri_edges") -> DataFrame:
    """Exact triangle census of an undirected simple graph.

    ``e`` must hold one row per undirected edge as (u, v) with u < v,
    no duplicates, no self-loops. Returns one row: n_nodes, n_edges,
    n_wedges (sum over nodes of C(deg, 2)), n_triangles, and the global
    transitivity 3T/W (rounded 6dp).

    Plan: degree table → orient each edge from its (degree, id)-smaller
    endpoint → self-join oriented edges on src with an orientation-order
    guard (counts each out-out wedge once) → closure check against the
    undirected edge set. The edge frame is pinned (pooled persist)
    because degree, orientation, and closure all consume it.

    The degree table is O(V) rows — NOT broadcast-hinted: at graph scale
    a node-cardinality broadcast would overwhelm driver and executors,
    so the degree joins are left to AQE (which broadcasts them only when
    the measured size is actually under the threshold).

    An ``e`` the caller already persisted (the memoized per-corpus
    co-purchase edge list shared by the whole graph family) is
    used as is: ``pinned`` skips persisted frames."""
    e = pinned(e, pool)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du, dv = deg.alias("du"), deg.alias("dv")
    ed = e.join(du, F.col("u") == F.col("du.node")).join(
        dv, F.col("v") == F.col("dv.node")
    )
    u_first = (F.col("du.d") < F.col("dv.d")) | (
        (F.col("du.d") == F.col("dv.d")) & (F.col("u") < F.col("v"))
    )
    o = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("dv.d")).otherwise(F.col("du.d")).alias("ddst"),
    )
    o1, o2 = o.alias("o1"), o.alias("o2")
    lt = (F.col("o1.ddst") < F.col("o2.ddst")) | (
        (F.col("o1.ddst") == F.col("o2.ddst"))
        & (F.col("o1.dst") < F.col("o2.dst"))
    )
    cand = o1.join(o2, (F.col("o1.src") == F.col("o2.src")) & lt).select(
        F.least(F.col("o1.dst"), F.col("o2.dst")).alias("u"),
        F.greatest(F.col("o1.dst"), F.col("o2.dst")).alias("v"),
    )
    tri = cand.join(e, ["u", "v"]).agg(F.count(F.lit(1)).alias("n_triangles"))
    aggd = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges"),
    )
    ecnt = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        aggd.crossJoin(F.broadcast(ecnt))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("transitivity"),
        )
    )


def pagerank(
    e: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    key: tuple | None = None,
) -> DataFrame:
    """PageRank by synchronous power iteration over an undirected simple
    graph ((u, v) rows, u < v; treated as one directed edge each way, so
    every node has out- and in-degree ≥ 1 — no dangling-mass handling
    needed). rank_{t+1}(v) = (1−d)/N + d·Σ_{u→v} rank_t(u)/outdeg(u),
    from the uniform vector, for a FIXED iteration count — fixed-count
    iteration (not a convergence test) is what makes the computation
    deterministic and oracle-replayable; 10 iterations reach ~1e-3
    relative stability on graphs with spectral gap typical of
    co-occurrence data.

    Pregel shape, one shuffle pair per iteration: contributions =
    edge ⋈ rank on src (both sides hash-partitioned on the join key),
    new ranks = groupBy(dst) sum. The degree-annotated edge list is
    pinned once (reused every iteration); each iteration's rank frame
    is ``localCheckpoint``-ed — the ONE place the engine prefers it to
    the pooled persist: persist keeps the full logical plan, so by
    iteration 10 Catalyst re-analyzes a 10-join-deep tree per step
    (measured 7.5x slower end-to-end than truncating); the checkpointed
    frames are O(nodes)·2-column and are freed by the JVM when the loop's
    references drop, so the block-accumulation concern that motivated
    ``pinned`` (large repeated index builds) doesn't apply. At true
    scale use ``checkpoint`` (reliable storage) for the same truncation
    with executor-failure tolerance.

    The loop costs the driver one action, not one per iteration:

    - ``localCheckpoint(eager=False)`` materializes each rank frame (and
      truncates its lineage) inside the first job that reads it, so the
      whole fixed-count loop drains in the caller's single action.
    - The loop runs with AQE off (``session_conf``): every iteration is
      the same fixed-shape join+aggregate over a pinned, size-known
      input, so runtime re-optimization only adds stage-barrier jobs
      (the shuffle width stays the session's configured partitions).
      A lazy checkpoint plans when it is called, so the whole loop stays
      inside the block. Probe at sf0.1: eager/AQE-on 7.4-62 s, lazy/
      AQE-off 6.2-7.3 s, identical top-20 rows.

    ``key`` (the memo key of an immutable edge list) memoizes the
    degree table, the degree-annotated edges and the node count, so a
    repeated call skips their rebuild jobs.
    """
    spark = e.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    # Pin the degree-annotated edge list HASH-PARTITIONED ON src: every
    # iteration's contributions join keys on src, so the cached layout
    # already matches and the per-iteration plan never re-exchanges the
    # E-sized side (guide §2.4 — two operations keyed the same way share
    # one exchange). Locally the rank side broadcasts and this is
    # neutral; at cluster scale (ranks too big to broadcast) it removes
    # 10 full edge shuffles. One extra exchange at build time, amortized
    # over the fixed iteration count.
    tag = ("pagerank",) if key is None else (*key, "pagerank")

    def build() -> tuple[DataFrame, DataFrame, int]:
        edges = e.select(
            F.col("u").alias("src"), F.col("v").alias("dst")
        ).unionAll(e.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        degp = pinned(deg, (*tag, "deg"))
        edeg = pinned(
            edges.join(degp, "src").repartition(n_parts, "src"), (*tag, "edeg")
        )
        return degp, edeg, degp.count()

    degp, edeg, n = build() if key is None else memo(spark, tag, build)
    with session_conf(spark, _AQE_OFF):
        ranks = degp.select(
            F.col("src").alias("node"), F.lit(1.0 / n).alias("rank")
        )
        base = (1.0 - damping) / n
        for _ in range(iterations):
            contrib = (
                edeg.join(ranks, edeg["src"] == ranks["node"])
                .select("dst", (F.col("rank") / F.col("outdeg")).alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("s"))
            )
            ranks = contrib.select(
                F.col("dst").alias("node"),
                (F.lit(base) + F.lit(damping) * F.col("s")).alias("rank"),
            ).localCheckpoint(eager=False)
    return ranks


def kcore_peel_trace(
    e: DataFrame,
    k: int,
    rounds: int,
    key: tuple | None = None,
) -> list[tuple[int, int, int]]:
    """Synchronous k-core peeling over an undirected simple graph
    ((u, v) rows, u < v): each round removes every node whose degree
    among still-alive nodes is < k; returns the per-round trace
    [(round, n_alive_nodes, n_alive_edges)] for rounds 0..rounds.

    FIXED round count (not a convergence test) keeps the computation
    deterministic and oracle-replayable (the trace is the check, like
    ``pagerank``'s unrolled iterations); once the peel converges the
    remaining rounds are no-ops that re-emit the same counts.

    Pregel shape, ONE degree aggregate (two semi-joins + groupBy) per
    round. The degree frame is ``localCheckpoint``-ed per round
    (O(nodes), 2 columns — same lineage-truncation rationale as
    pagerank; at cluster scale use ``checkpoint``). Each round costs
    the driver ONE action, a fused scalar census over that round's
    degree frame — (row count, Σdeg, #(deg ≥ k)) — which relies on:

    - ``n_alive(r) = #(deg_{r-1} ≥ k)``, exactly: a node absent from
      ``deg_{r-1}`` has zero alive neighbors, and 0 < k (asserted), so
      the filter and the count agree row-for-row;
    - ``n_edges(r) = Σdeg_r / 2``, exactly: each edge with both
      endpoints alive contributes one row per direction to the
      symmetric adjacency, so the next round's degree table (which the
      peel needs anyway) is also this round's edge census;
    - round 0's counts come from the census over ``deg_0`` (every node
      of ``sym`` has ≥1 neighbor alive at round 0, so
      ``count(deg_0) = n_nodes`` and ``Σdeg_0/2 = |E|``);
    - ``alive`` is a one-op filter over the checkpointed degree frame,
      so it needs no checkpoint of its own, and the degree checkpoint is
      lazy, so the census job is the one that materializes it.

    The adjacency is built (and memoized under ``key``, see
    ``symmetric_adjacency``) before AQE is switched off; only the
    fixed-shape peel loop runs without AQE, where per-round runtime
    re-optimization is pure driver latency. Probe at sf0.1 (6 rounds):
    2.9 s eager/AQE-on, 1.7 s lazy/AQE-off, traces bit-identical.
    """
    if k < 1:
        raise ValueError("kcore_peel_trace requires k >= 1")
    # pin ``e`` itself, not its projection: a projection of a persisted
    # frame is not persisted, so checking it would re-pin the caller's
    # memoized edge list and add a count job
    edges = pinned(e, "kcore_edges").select("u", "v")
    sym = symmetric_adjacency(edges, key)

    def alive_degrees(alive_df: DataFrame) -> DataFrame:
        return (
            sym.join(alive_df, "node", "leftsemi")
            .join(
                alive_df.select(F.col("node").alias("other")),
                "other",
                "leftsemi",
            )
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
            .localCheckpoint(eager=False)
        )

    def census(deg_df: DataFrame) -> tuple[int, int, int]:
        row = deg_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("deg"), F.lit(0)).cast("long").alias("s"),
            F.coalesce(
                F.sum((F.col("deg") >= k).cast("long")), F.lit(0)
            ).cast("long").alias("ge"),
        ).collect()[0]
        return int(row["n"]), int(row["s"]) // 2, int(row["ge"])

    with session_conf(e.sparkSession, _AQE_OFF):
        alive = sym.select("node").distinct().localCheckpoint()
        deg = alive_degrees(alive)  # degrees feeding the round-1 peel
        n0, e0, ge = census(deg)
        trace = [(0, n0, e0)]
        for r in range(1, rounds + 1):
            alive = deg.filter(F.col("deg") >= k).select("node")
            deg = alive_degrees(alive)
            n_alive = ge  # #(deg_{r-1} >= k), carried from the last census
            _, n_edges, ge = census(deg)
            trace.append((r, n_alive, n_edges))
    return trace


def bfs_hop_counts(
    e: DataFrame, seeds: DataFrame, hops: int, key: tuple | None = None
) -> list[tuple[int, int]]:
    """Multi-source BFS over an undirected simple graph ((u, v) rows,
    u < v) from a ``seeds`` frame of (node) rows: returns the per-hop
    trace [(hop, n_newly_reached)] for hops 0..hops (hop 0 = the seeds
    themselves; seeds not present in the graph still count at hop 0 —
    they simply have no neighbors).

    FIXED hop count keeps the trace deterministic and oracle-replayable
    (like ``kcore_peel_trace``); once the reachable set is exhausted the
    remaining hops emit 0. Per hop: one leftsemi join to expand the
    frontier through the symmetric edge list, a distinct, and one
    left_anti against the visited set — all hash-partitioned on the node
    key. Frontier and visited frames are ``localCheckpoint``-truncated
    (O(nodes), 1 column) and lazy: the per-hop ``frontier.count()`` is
    the hop's one driver action and materializes the frontier, and the
    visited union materializes inside the next hop's anti-join.

    As in ``kcore_peel_trace``, the adjacency (memoized under ``key``)
    is built first and only the fixed-shape hop loop runs without AQE.
    """
    sym = symmetric_adjacency(e.select("u", "v"), key)
    with session_conf(e.sparkSession, _AQE_OFF):
        frontier = seeds.select("node").distinct().localCheckpoint()
        visited = frontier
        trace = [(0, frontier.count())]
        for h in range(1, hops + 1):
            frontier = (
                sym.join(frontier, "node", "leftsemi")
                .select(F.col("other").alias("node"))
                .distinct()
                .join(visited, "node", "left_anti")
                .localCheckpoint(eager=False)
            )
            visited = visited.unionAll(frontier).localCheckpoint(eager=False)
            trace.append((h, frontier.count()))
    return trace
