"""Pregel-style iterative traversal operators.

Reference semantics (SURVEY.md §2.8): Dijkstra shortest path (uniform
cost — src/algorithms/shortest_path.rs:53-174), variable-length
expansion with min/max/cycle/max_paths caps (src/algorithms/vle.rs:85-153),
k-hop neighborhoods (vle.rs:196-251).

Spark-first redesign: the frontier is a DataFrame; one BFS level = one
equi-join against the edge set; multiplicity and path identity live in
ARRAY<LONG> columns. Scale levers, applied every iteration:
- each level is pinned (``pregel.pin``: an eager ``localCheckpoint``)
  to truncate lineage (an N-hop loop would otherwise build an N-deep
  plan and re-execute level 1 at level N), and the same job observes
  the level's size or target hit, so no halting test costs a job;
- the frontier is the only growing state; visited sets stay columnar;
- per-level ``limit`` implements the reference's ``max_paths`` cap
  *inside* the loop, before the blow-up, not after.

On a cluster, edges should be pre-partitioned (bucketed) by ``src`` so
every level's join is shuffle-free on the edge side; the frontier is
usually small enough for AQE to broadcast it.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rust_graph_db_spark.operators.pregel import pin


def _edges(e: DataFrame, direction: str, *carry) -> DataFrame:
    """Normalize to (a, b, *carry) hop pairs for the requested direction;
    ``carry`` columns (an edge weight, an edge id) ride along unchanged.

    Null endpoints are dropped here: they carry no traversal semantics,
    and the driver-side BFS/Dijkstra paths collect edges via Arrow —
    a null in a long column coerces the whole pandas column to float64,
    which then fails the LongType re-ingest (observed, not hypothetical).
    """
    if direction not in ("out", "in", "both"):
        raise ValueError(f"bad direction {direction!r}")
    e = e.where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    out = e.select(F.col("src").alias("a"), F.col("dst").alias("b"), *carry)
    inn = e.select(F.col("dst").alias("a"), F.col("src").alias("b"), *carry)
    if direction == "out":
        return out
    return inn if direction == "in" else out.unionAll(inn)


def _start_frame(edges_or_df, start) -> DataFrame:
    if isinstance(start, DataFrame):
        return start.select(F.col(start.columns[0]).cast("long").alias("id"))
    if not isinstance(start, (list, tuple, set, frozenset)):
        start = [start]                     # bare vertex id
    spark = edges_or_df.sparkSession
    return spark.createDataFrame([(int(s),) for s in start], "id LONG")


def bfs_distances(
    edges: DataFrame,
    start,
    max_hops: int = 30,
    direction: str = "out",
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """Unweighted single/multi-source shortest distances.

    Returns ``(start_id, id, dist)`` for every vertex reachable within
    ``max_hops``. Equivalent of the reference's uniform-cost Dijkstra
    (shortest_path.rs:77-141) — BFS levels are exact for unit weights.

    Size-adaptive (the connected_components discipline): at or below
    ``driver_threshold`` edges the adjacency fits trivially on the
    driver and a single collect + dict BFS replaces per-level
    distributed rounds — per-level job overhead (~1 s of scheduling on
    sparse frontiers) otherwise dominates small graphs outright. Above
    the threshold, frontier-join rounds, two levels per
    materialization.
    """
    # Materialize the hop list once — the loop joins it every level, and
    # without pinning, each level re-runs the full upstream derivation
    # (parquet scan + any builder joins). On a cluster this is the
    # persist() of the Pregel edge RDD. Its size rides in the same job.
    hop, (n_hop,) = pin(_edges(edges, direction), n=F.count(F.lit(1)))
    src = _start_frame(edges, start)
    # Budget = edges × sources: the driver BFS below runs once per
    # source, so 10 sources over 1M edges costs like 10M — keep the
    # whole driver-side workload under the threshold, not just the
    # edge count (measured: Arrow transfer + dict BFS beats per-level
    # distributed rounds up to ~2M edge-traversals). Gate on COUNTS
    # before collecting any ids: a multi-million-source start frame
    # must never be materialized on the driver just to be rejected.
    n_starts = src.count()
    starts = []
    if n_starts and n_hop * n_starts <= driver_threshold:
        starts = [r["id"] for r in src.collect()]
    if starts:
        from collections import deque

        # Arrow transfer + list iteration: ~10× cheaper than collect()'s
        # per-Row pickling at the threshold edge count.
        pdf = hop.toPandas()
        adj: dict = {}
        for u, v in zip(pdf["a"].tolist(), pdf["b"].tolist()):
            adj.setdefault(u, []).append(v)
        out = []
        for s in starts:
            dist = {s: 0}
            q = deque([s])
            while q:
                u = q.popleft()
                du = dist[u]
                if du >= max_hops:
                    continue
                for v in adj.get(u, ()):
                    if v not in dist:
                        dist[v] = du + 1
                        q.append(v)
            out.extend((s, v, d) for v, d in dist.items())
        return edges.sparkSession.createDataFrame(
            out or [], "start_id LONG, id LONG, dist INT")
    visited = src.select(F.col("id").alias("start_id"), F.col("id"), F.lit(0).alias("dist"))
    frontier = visited

    # Two BFS levels per materialization: the per-iteration driver
    # barrier (job submit + checkpoint) dominates sparse frontiers, so
    # unrolling halves the barrier count without changing the dataflow
    # (min-dist dedup keeps level-1 distances when a vertex shows up in
    # both unrolled hops; expanding not-yet-filtered hop-1 vertices is
    # bounded wasted work that the anti-join discards).
    level = 1
    while level <= max_hops:
        n1 = (
            frontier.join(hop, frontier["id"] == hop["a"])
            .select("start_id", F.col("b").alias("id"), F.lit(level).alias("dist"))
        )
        if level + 1 <= max_hops:
            f1 = n1.dropDuplicates(["start_id", "id"])
            n2 = (f1.join(hop, f1["id"] == hop["a"])
                  .select("start_id", F.col("b").alias("id"),
                          F.lit(level + 1).alias("dist")))
            cand = n1.unionAll(n2)
        else:
            cand = n1
        new, (n_new,) = pin(
            cand.groupBy("start_id", "id").agg(F.min("dist").alias("dist"))
            .join(visited, ["start_id", "id"], "left_anti"),
            n=F.count(F.lit(1)))
        if n_new == 0:
            break
        visited = visited.unionAll(new)
        # vertices first seen at the shallow unrolled level were already
        # expanded inside this round; only the deepest level continues
        deepest = min(level + 1, max_hops)
        frontier = new.where(F.col("dist") == deepest)
        level += 2
    return visited


def shortest_path(
    edges: DataFrame,
    start: int,
    end: int,
    max_hops: int = 30,
    direction: str = "out",
) -> Optional[dict]:
    """Single-pair shortest path with full path reconstruction
    (reference G1: returns vertex path + cost; None if unreachable).

    Path arrays ride along the frontier; ties broken by lexicographic
    path order for determinism (min over STRUCT<dist, path>). Each
    level's pin observes its size and the target's (dist, path), so no
    level pays a probe job of its own. ``visited_ids`` is re-pinned per
    level: the anti-join against a lazy union of the pinned levels ran
    about twice as slow per level as against one pinned frame.
    """
    if int(start) == int(end):
        return {"path": [int(start)], "cost": 0, "hops": 0}
    hop = _edges(edges, direction).localCheckpoint(eager=True)
    spark = edges.sparkSession
    frontier = spark.createDataFrame([(int(start), 0)], "id LONG, dist INT").select(
        "id", "dist", F.array(F.col("id")).alias("path")
    )
    visited_ids = frontier.select("id")
    probe = {"n": F.count(F.lit(1)),
             "hit": F.min(F.when(F.col("id") == int(end),
                                 F.struct("dist", "path")))}
    n, hit = 1, None
    for level in range(max_hops):
        if hit is not None or n == 0:
            break
        if level:
            visited_ids, _ = pin(visited_ids.unionAll(frontier.select("id")))
        frontier, (n, hit) = pin(
            frontier.join(hop, frontier["id"] == hop["a"])
            .select(
                F.col("b").alias("id"),
                (F.col("dist") + 1).alias("dist"),
                F.array_append("path", F.col("b")).alias("path"),
            )
            .join(visited_ids, "id", "left_anti")
            .groupBy("id")
            .agg(F.min(F.struct("dist", "path")).alias("s"))
            .select("id", F.col("s.dist").alias("dist"), F.col("s.path").alias("path")),
            **probe)
    if hit is None:
        return None
    return {"path": list(hit["path"]), "cost": hit["dist"],
            "hops": hit["dist"]}


def weighted_shortest_distances(
    edges: DataFrame,
    start,
    weight_col: str = "weight",
    max_iter: int = 50,
    direction: str = "out",
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """Weighted SSSP by iterative relaxation (distributed Bellman-Ford;
    the cluster analog of the reference's driver-side Dijkstra heap).

    Returns ``(id, dist)``. Converges when an iteration improves nothing.
    The distributed path raises ``RuntimeError`` when its ``max_iter``
    relaxation sweeps run out while the last round still improved a
    distance: the distances so far are not shortest, and with a negative
    cycle reachable from a start there are none.

    Size-adaptive (the bfs_distances discipline): at or below
    ``driver_threshold`` edges with non-negative weights, ONE Arrow
    transfer plus a heap Dijkstra (literally the reference's
    algorithm, shortest_path.rs:77-141, multi-source-seeded so the
    cost is independent of source count) replaces the relaxation
    rounds — each distributed sweep costs ~1 s of job scheduling
    that dominates small graphs (measured at 600k edges: 2.6 s
    driver vs 7.7 s distributed cold). The threshold counts edges
    AFTER direction filtering, so a corpus-scale graph always takes
    the distributed path; negative weights always do (Dijkstra
    would be wrong).
    """
    # pinned: joined every round; its size (the driver gate) rides in
    # the same job
    hop, (n_hop,) = pin(
        _edges(edges, direction, F.col(weight_col).cast("double").alias("w")),
        n=F.count(F.lit(1)))
    if n_hop <= driver_threshold:
        import heapq
        import math

        pdf = hop.toPandas()          # Arrow, not per-Row pickling
        if (pdf["w"] >= 0).all():
            adj: dict = {}
            for a, b, w in zip(pdf["a"].tolist(), pdf["b"].tolist(),
                               pdf["w"].tolist()):
                adj.setdefault(a, []).append((b, w))
            starts = [r["id"] for r in _start_frame(edges, start).collect()]
            best: dict = {s: 0.0 for s in starts}
            pq = [(0.0, s) for s in starts]
            heapq.heapify(pq)
            while pq:
                du, u = heapq.heappop(pq)
                if du > best.get(u, math.inf):
                    continue
                for v, w in adj.get(u, ()):
                    nd = du + w
                    if nd < best.get(v, math.inf):
                        best[v] = nd
                        heapq.heappush(pq, (nd, v))
            return edges.sparkSession.createDataFrame(
                sorted(best.items()) or [], "id LONG, dist DOUBLE")
    dist = _start_frame(edges, start).select("id", F.lit(0.0).alias("dist"))
    # Relax only from vertices improved last round (delta optimization).
    frontier = dist
    def relax(src: DataFrame) -> DataFrame:
        return (src.join(hop, src["id"] == hop["a"])
                .select(F.col("b").alias("id"),
                        (F.col("dist") + F.col("w")).alias("dist"))
                .groupBy("id").agg(F.min("dist").alias("dist")))

    for _ in range((max_iter + 1) // 2):
        # Two relaxation sweeps per materialization (Bellman-Ford is
        # order-insensitive: every candidate is a valid path length, so
        # relaxing from not-yet-merged candidates can only produce
        # discardable over-estimates, never wrong minima). Halves the
        # driver-barrier count for the same convergence bound.
        c1 = relax(frontier)
        cand = (c1.unionAll(relax(c1))
                .groupBy("id").agg(F.min("dist").alias("dist")))
        # One full-outer merge carries both outputs of the round — the
        # new distance table AND the improved-this-round flag, whose
        # count rides in the pinning job — so each round is one Spark
        # job; the improved-frontier filter below reads the checkpoint.
        merged, (n_imp,) = pin(
            dist.alias("d").join(cand.alias("c"), "id", "full")
            .select(
                "id",
                F.least("d.dist", "c.dist").alias("dist"),
                (F.col("d.dist").isNull()
                 | (F.col("c.dist") < F.col("d.dist"))).alias("_imp"),
            ),
            n=F.count_if(F.col("_imp")))
        dist = merged.select("id", "dist")
        if not n_imp:
            return dist
        frontier = merged.where("_imp").select("id", "dist")
    raise RuntimeError(
        f"weighted_shortest_distances: not converged within "
        f"max_iter={max_iter} (a distance still improved; too few sweeps, "
        f"or a negative cycle is reachable)")


def expand_paths(
    edges: DataFrame,
    start=None,
    min_hops: int = 1,
    max_hops: int = 3,
    allow_cycles: bool = False,
    max_paths: Optional[int] = None,
    direction: str = "out",
) -> DataFrame:
    """Variable-length expansion (reference G3, vle.rs:85-153).

    One row per path: ``(a, b, hops, vpath ARRAY<LONG>, epath
    ARRAY<LONG>)``. ``epath`` carries the traversed EDGE ids (the
    reference GraphPath's edge list, path.rs:23-40) when the input has
    an ``id`` column — Cypher named paths read ``relationships(p)``
    from it; for bare (src, dst) frames it is NULL. ``start`` is an id
    list or a one-column DataFrame of start ids (the Cypher compiler
    passes the left end's ids when an inline property filter anchors
    the path so far); ``None`` expands from every vertex.
    Cycle-freedom = no repeated vertex (reference default), enforced
    with ``array_contains`` on the riding path column. ``max_paths`` caps enumeration *per level* inside the
    loop (vle.rs:124-127).

    The frontier starts from the seed, never from the whole edge set:
    level 1 is the edge scan left-semi-joined to the start ids, so a
    duplicated start id cannot duplicate paths, and for a DataFrame
    seed AQE picks broadcast or shuffle by the seed's size. The edge
    input is not pinned (it is a scan, re-read per level); each
    intermediate level is pinned once, its pin observing whether it is
    empty, and the last level stays lazy — nothing reads it before the final union —
    unless ``max_paths`` caps it: a capped level is always pinned, so
    every action on the result sees the same capped subset.
    """
    has_eid = "id" in edges.columns
    hop = _edges(edges, direction, (F.col("id") if has_eid
                                    else F.lit(None).cast("long")).alias("eid"))
    epath0 = (F.array("eid") if has_eid
              else F.lit(None).cast("array<long>")).alias("epath")

    def settle(df, lvl):
        """Cap a level, pin it unless it is an uncapped last level, and
        return it with its observed size (-1: lazy, unmeasured)."""
        if max_paths is not None:
            df = df.limit(max_paths)
        if lvl < max_hops or max_paths is not None:
            df, (n,) = pin(df, n=F.count(F.lit(1)))
            return df, n
        return df, -1

    first = hop
    if start is not None:
        sf = _start_frame(edges, start).select(F.col("id").alias("a"))
        if not isinstance(start, DataFrame):
            sf = F.broadcast(sf)        # an in-memory id list is tiny
        first = first.join(sf, "a", "left_semi")
    paths = first.select(
        F.col("a"), F.col("b"), F.lit(1).alias("hops"),
        F.array("a", "b").alias("vpath"), epath0,
    )
    if not allow_cycles:
        paths = paths.where(F.col("a") != F.col("b"))
    cur, n = settle(paths, 1)
    out = [cur] if min_hops <= 1 else []
    level = 1
    while n and level < max_hops:
        level += 1
        ext = cur.join(
            hop.select(F.col("a").alias("_ja"), F.col("b").alias("_jb"),
                       F.col("eid").alias("_je")),
            cur["b"] == F.col("_ja"),
        )
        if not allow_cycles:
            ext = ext.where(~F.array_contains(F.col("vpath"), F.col("_jb")))
        cur, n = settle(ext.select(
            F.col("a"), F.col("_jb").alias("b"), F.lit(level).alias("hops"),
            F.array_append("vpath", F.col("_jb")).alias("vpath"),
            (F.array_append("epath", F.col("_je")) if has_eid
             else F.lit(None).cast("array<long>")).alias("epath"),
        ), level)
        if level >= min_hops:
            out.append(cur)

    if not out:
        schema = ("a LONG, b LONG, hops INT, vpath ARRAY<LONG>, "
                  "epath ARRAY<LONG>")
        return edges.sparkSession.createDataFrame([], schema)
    res = out[0]
    for p in out[1:]:
        res = res.unionAll(p)
    return res


def paths_between(
    edges: DataFrame, start: int, end: int,
    min_hops: int = 1, max_hops: int = 3,
    allow_cycles: bool = False, max_paths: Optional[int] = None,
    direction: str = "out",
) -> DataFrame:
    """Reference G4: VLE then filter on the target endpoint."""
    return expand_paths(edges, [start], min_hops, max_hops, allow_cycles,
                        max_paths, direction).where(F.col("b") == int(end))


def k_hop_neighbors(edges: DataFrame, start, k: int, direction: str = "out") -> DataFrame:
    """Reference G5: distinct endpoints of length-k simple paths;
    k = 0 → the start set itself."""
    sf = _start_frame(edges, start)
    if k == 0:
        return sf.select(F.col("id").alias("b")).distinct()
    return (
        expand_paths(edges, sf, min_hops=k, max_hops=k, direction=direction)
        .select("b").distinct()
    )


def neighbors_within_k_hops(edges: DataFrame, start, k: int, direction: str = "out") -> DataFrame:
    """Reference G6: distinct vertices reachable in 1..k hops.

    Uses BFS distances (visited-set pruning), NOT path enumeration —
    at 100 TB the simple-path count is exponential but the reachable
    set is linear, and for a distinct-endpoint question BFS is the
    correct physical plan. Matches vle.rs:231-251 semantics exactly:
    a vertex on some simple path of length ≤ k is reachable in ≤ k BFS
    levels and vice versa.
    """
    sf = _start_frame(edges, start)
    d = bfs_distances(edges, sf, max_hops=k, direction=direction)
    return d.where(F.col("dist") > 0).select(F.col("id").alias("b")).distinct()
