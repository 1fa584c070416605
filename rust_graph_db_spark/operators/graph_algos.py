"""Whole-graph iterative algorithms: connected components, PageRank,
triangle counting, degree statistics.

These extend the reference's traversal set (SURVEY.md §2.8 — the
reference only ships source-rooted Dijkstra/VLE, src/algorithms/) with
the whole-graph analytics a training-data pipeline needs:

- ``connected_components`` powers near-duplicate CLUSTERING: the pair
  output of minhash_lsh_pairs / cosine_pairs is an edge list, and the
  duplicate groups are its components (keep min doc_id per component).
- ``pagerank`` / ``degrees`` / ``triangle_count`` are the standard
  Pregel-style workloads (GraphX parity) re-expressed as DataFrame
  loops.

Scale notes: components uses the large-star/small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14) — O(log² n) rounds, each round two self-joins + a min-agg, no
driver-side state beyond the convergence probe. PageRank keeps ranks
and links as two DataFrames hash-partitioned once on vertex id, so the
per-iteration join is shuffle-free on the link side.

Loops on the ``pregel`` kernel (one pin per superstep group, with the
halting count observed inside the pinning job):
- ``pregel.supersteps``: PageRank (plain, weighted, personalized),
  label propagation, k-core, k-truss, the components star rounds and
  the SCC forward colour propagation;
- ``pregel.pin`` in a loop of its own: the HyperBall sweep behind
  the neighborhood function and harmonic/closeness centrality, the
  SCC trim and backward-reach rounds, the MIS rounds, the betweenness
  forward levels, the walk loop shared by random walks and node2vec,
  and (via ``traversal.bfs_distances``) the HyperBall ``exact=True``
  mode.
"""

from __future__ import annotations

from itertools import accumulate
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rust_graph_db_spark import probe
from rust_graph_db_spark.operators.pregel import pin, supersteps
from rust_graph_db_spark.operators.traversal import bfs_distances


def _pair_cols(edges: DataFrame) -> tuple:
    """Endpoint columns of an edge list: named ``src``/``dst`` when
    present (e.g. a PropertyGraph edge_frame, whose first column is the
    edge id), else the first two columns."""
    if "src" in edges.columns and "dst" in edges.columns:
        return "src", "dst"
    return edges.columns[0], edges.columns[1]


def _undirected_min_nbr(edges: DataFrame) -> DataFrame:
    """Edge list → symmetric (u, v) pairs without self loops.

    The input is materialized before the self-union: both union branches
    reference ``e``, and when the edge list is an expensive subtree (the
    LSH-verify join of a dedup pair graph) an unmaterialized plan would
    execute it once per branch.
    """
    s, d = _pair_cols(edges)
    e = (edges.select(F.col(s).cast("long").alias("u"),
                      F.col(d).cast("long").alias("v"))
         .where(F.col("u").isNotNull() & F.col("v").isNotNull())
         .localCheckpoint(eager=True))
    return (e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .where(F.col("u") != F.col("v")).distinct())


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., SoCC'14 §3): every node hangs
    its strictly-larger neighbors off the minimum of its closed
    neighborhood. Input/output: (u, v) pair frames."""
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (sym.groupBy("u").agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m")))
    # v > u >= m, so the emitted (v, m) pairs are hi→lo oriented and
    # self-loop-free by construction
    return (sym.where(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: orient edges hi→lo, then every node points its
    smaller neighbors (and itself) at the minimum of that set."""
    o = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    mins = o.groupBy("u").agg(F.min("v").alias("m"))
    return (o.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .unionAll(mins.select("u", F.col("m").alias("v")))
            .distinct())


def connected_components(edges: DataFrame, max_iter: int = 25,
                         driver_threshold: int = 500_000) -> DataFrame:
    """Union-find over an edge list: returns ``(id, component)`` where
    ``component`` is the minimum vertex id in the component.

    Size-adaptive: below ``driver_threshold`` symmetric edges the
    component structure fits trivially on the driver, and a single
    collect + path-compressed union-find replaces distributed join
    rounds — the dedup-clustering case, where the PAIR graph is orders
    of magnitude smaller than the corpus that produced it. Above the
    threshold, alternating large-star/small-star rounds (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14):
    O(log² n) rounds worst-case — in practice ~log n — independent of
    graph DIAMETER, so long-chain components (templated near-dup docs)
    converge in the same handful of rounds as star-shaped ones. Each
    round is two groupBy-mins + two joins on the current pair set.
    Isolated vertices of the edge list don't exist by construction
    (callers union in their full vertex set if needed). Raises
    ``RuntimeError`` when the star rounds reach no fixpoint within
    ``max_iter``: a partial pair set is not a component labeling.
    """
    s, d = _pair_cols(edges)
    e, (n_edges,) = pin(
        edges.select(F.col(s).cast("long").alias("u"),
                     F.col(d).cast("long").alias("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull()),
        n=F.count(F.lit(1)))
    if n_edges <= driver_threshold:
        # Union-find tolerates duplicate and reversed pairs, so the raw
        # checkpointed edge list collects directly — no symmetrize /
        # distinct shuffle on the driver path.
        pairs = e.where(F.col("u") != F.col("v")).collect()
        parent: dict = {}

        def find(x: int) -> int:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:        # path compression
                parent[x], x = root, parent[x]
            return root

        for row in pairs:
            ru, rv = find(row["u"]), find(row["v"])
            if ru != rv:
                # union by min: the smaller id stays root, so every
                # root IS its component's min member
                lo, hi = (ru, rv) if ru < rv else (rv, ru)
                parent[hi] = lo
        ids = {v for row in pairs for v in (row["u"], row["v"])}
        out = [(int(v), int(find(v))) for v in sorted(ids)]
        return edges.sparkSession.createDataFrame(
            out or [], "id LONG, component LONG")
    # distributed path: alternating star rounds on the de-duplicated,
    # self-loop-free pair set; converged when the pair set is fixed,
    # probed as (count, order-free hash sum) — the hash sum needs a
    # decimal accumulator (a long sum of 64-bit hashes overflows under
    # ANSI mode)
    pairs, converged = supersteps(
        e.where(F.col("u") != F.col("v")).distinct(),
        lambda p: _small_star(_large_star(p)), int(max_iter),
        probe={"n": F.count(F.lit(1)),
               "h": F.sum(F.xxhash64("u", "v").cast("decimal(38,0)"))})
    if not converged:
        # the projection below is only valid on the star-forest fixpoint
        raise RuntimeError(
            f"connected_components: not converged within max_iter={max_iter}")
    # fixed point is a star forest oriented (member, root): roots appear
    # only on the right, every non-root exactly once on the left
    return (pairs.select(F.col("u").alias("id"), F.col("v").alias("component"))
            .unionAll(pairs.select(F.col("v").alias("id"),
                                   F.col("v").alias("component")))
            .distinct())


def duplicate_clusters(pairs: DataFrame, id_cols=("i", "j")) -> DataFrame:
    """Near-dup pair list → ``(id, cluster)`` with cluster = min member id.

    The canonical dedup-clustering step after MinHash/SimHash/cosine
    pair generation: documents to DROP are ``id != cluster``.
    """
    e = pairs.select(F.col(id_cols[0]).alias("u"), F.col(id_cols[1]).alias("v"))
    return (connected_components(e)
            .select(F.col("id"), F.col("component").alias("cluster")))


def maximal_independent_set(edges: DataFrame, seed: int = 0,
                            max_rounds: int = 40) -> DataFrame:
    """Deterministic Luby-style maximal independent set over the
    UNDIRECTED graph of ``edges``: ``(id, in_mis)`` for every vertex,
    such that no two in_mis vertices are adjacent and every excluded
    vertex has an in_mis neighbor (maximality).

    Luby's algorithm (Luby, "A Simple Parallel Algorithm for the
    Maximal Independent Set Problem", SIAM J. Comput. 1986),
    derandomized: a vertex's round priority is the cross-engine md5
    hash ``int(md5(seed:id)[:15 hex], 16)`` instead of a random draw —
    a vertex enters the MIS when its priority strictly exceeds every
    ACTIVE neighbor's, then it and its neighbors retire. The run is a
    pure function of (graph, seed), so an unrolled SQL oracle replays
    it exactly. Self-loops: a self-adjacent vertex cannot belong to an
    independent set, so it is reported ``in_mis=false`` (it still
    appears in the output — r4 ADVICE) and, not being an MIS member,
    never excludes its neighbors. Hash ties between neighbors would stall that edge
    (neither side strictly wins); with 60-bit priorities that needs an
    md5 collision, and the ``max_rounds`` guard turns a stall into an
    error instead of an infinite loop.

    The pipeline use is dedup KEEP-SELECTION (see
    ``dedup.keep_maximal_nondup``): over the near-duplicate pair
    graph, an MIS is a maximal set of mutually non-duplicate documents
    — strictly more kept data than min-id-per-component clustering
    when near-duplication is non-transitive (A~B~C but A≁C keeps
    {A, C}, not just {A}).

    100 TB shape: O(log n) expected rounds; each round is one
    neighbor-max aggregation (map-side combinable) + two anti-joins,
    all hash-keyed on vertex id; per-round pins keep lineage O(1), and
    the active pin observes the halting count in its own job. State is
    one (id, priority) row per ACTIVE vertex — monotonically
    shrinking.
    """
    s, d = _pair_cols(edges)
    dir_e = (edges.select(F.col(s).cast("long").alias("u"),
                          F.col(d).cast("long").alias("v"))
             .where(F.col("u").isNotNull() & F.col("v").isNotNull()))
    # a self-adjacent vertex can never be in an independent set: it
    # stays in the OUTPUT universe with in_mis=false but is ineligible
    # for the rounds, and its edges never constrain anyone (a non-MIS
    # vertex excludes no neighbor). Without this, self-loop-only
    # vertices were silently absent from the result (r4 ADVICE).
    loops = (dir_e.where(F.col("u") == F.col("v"))
             .select(F.col("u").alias("id")).distinct()
             .localCheckpoint(eager=True))
    e = (dir_e.unionAll(dir_e.select(F.col("v").alias("u"),
                                     F.col("u").alias("v")))
         .where(F.col("u") != F.col("v")).distinct()
         .join(loops.withColumnRenamed("id", "u"), "u", "left_anti")
         .join(loops.withColumnRenamed("id", "v"), "v", "left_anti")
         .select("u", "v")
         .localCheckpoint(eager=True))
    from rust_graph_db_spark.functions.hashing import md5_key, md5_long

    all_verts = (dir_e.select(F.col("u").alias("id"))
                 .unionAll(dir_e.select(F.col("v").alias("id")))
                 .distinct().localCheckpoint(eager=True))
    pri = md5_long(md5_key(F.lit(int(seed)), F.col("id")))
    count = F.count(F.lit(1))
    active, (n_active,) = pin(all_verts.join(loops, "id", "left_anti")
                              .select("id", pri.alias("pri")), n=count)
    spark = edges.sparkSession
    mis = spark.createDataFrame([], "id LONG")
    act_e = e
    for _ in range(int(max_rounds)):
        if not n_active:
            break
        nbr_max = (act_e.join(active.select(F.col("id").alias("v"),
                                            F.col("pri").alias("npri")),
                              "v")
                   .groupBy("u").agg(F.max("npri").alias("mp")))
        winners, _ = pin(active.join(nbr_max,
                                     active["id"] == nbr_max["u"], "left")
                         .where(F.col("mp").isNull()
                                | (F.col("pri") > F.col("mp")))
                         .select("id"))
        mis = mis.unionAll(winners)
        retired = winners.unionAll(
            act_e.join(winners.withColumnRenamed("id", "u"), "u",
                       "left_semi")
            .select(F.col("v").alias("id"))).distinct()
        active, (n_active,) = pin(active.join(retired, "id", "left_anti"),
                                  n=count)
        act_e, _ = pin(act_e
                       .join(active.select(F.col("id").alias("u")), "u",
                             "left_semi")
                       .join(active.select(F.col("id").alias("v")), "v",
                             "left_semi")
                       .select("u", "v"))
    if n_active:
        raise RuntimeError(
            "maximal_independent_set: not converged within "
            f"max_rounds={max_rounds} (md5 priority tie?)")
    # mis is a lazy union of pinned frames, read once: no pin of its own
    return (all_verts
            .join(mis.withColumn("in_mis", F.lit(True)), "id", "left")
            .select("id", F.coalesce("in_mis", F.lit(False))
                    .alias("in_mis")))


def degrees(edges: DataFrame) -> DataFrame:
    """Per-vertex (id, out_deg, in_deg, deg) from a (src, dst) edge list."""
    s, d = _pair_cols(edges)
    e = (edges.select(F.col(s).cast("long").alias("src"),
                      F.col(d).cast("long").alias("dst"))
         .where(F.col("src").isNotNull() & F.col("dst").isNotNull()))
    out = e.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("out_deg"))
    inn = e.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("in_deg"))
    return (out.join(inn, "id", "full")
            .select("id",
                    F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
                    F.coalesce("in_deg", F.lit(0)).alias("in_deg"))
            .withColumn("deg", F.col("out_deg") + F.col("in_deg")))


# The PageRank family runs co-partitioned at EVERY size: paired warm
# trials at sf0.1 (16.5k edges, 8 iterations) measured it ~25% faster
# than an AQE-on/auto-broadcast loop even on tiny graphs — per-iteration
# adaptive re-planning and broadcast rebuilds cost more than a pinned
# single-partition pipeline.


def _pr_frames(e: DataFrame, nparts: int, sources=(),
               weighted: bool = False) -> tuple:
    """(verts, links) for the PageRank loop, pinned to a shared
    HashPartitioning on vertex id (``localCheckpoint`` captures the
    layout in the LogicalRDD, so every iteration reuses it). ``verts``
    carries each vertex's teleport share ``reset``: 1.0 for plain
    PageRank, uniform over ``sources`` (0 elsewhere) for personalized
    PageRank. ``weighted`` links carry (dst, w) structs + the
    out-weight total."""
    ids = (e.select(F.col("src").alias("id"))
           .unionAll(e.select(F.col("dst").alias("id"))))
    if sources:
        # Sources absent from the edge list (isolated or typo'd ids)
        # would otherwise silently vanish from the vertex universe —
        # their teleport mass dropping to zero EVERYWHERE. An isolated
        # source ranks (1-d)/|S|, the correct PPR fixed point for it.
        ids = ids.unionAll(e.sparkSession.createDataFrame(
            [(s,) for s in sources], "id LONG"))
    verts = ids.distinct().repartition(nparts, F.col("id"))
    if weighted:
        # links drop non-positive-weight edges (they carry no rank and
        # keep tw strictly positive); verts above keep their endpoints
        links = (e.where(F.col("w") > 0)
                 .groupBy("src")
                 .agg(F.collect_list(F.struct(F.col("dst").alias("d"),
                                              F.col("w"))).alias("nbrs"),
                      F.sum("w").alias("tw")))
    else:
        links = e.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    links = links.repartition(nparts, F.col("src"))
    reset = (F.when(F.col("id").isin(list(sources)),
                    F.lit(1.0 / len(sources))).otherwise(F.lit(0.0))
             if sources else F.lit(1.0))
    # withColumn after the checkpoint is a narrow projection — the
    # pinned HashPartitioning survives, so the loop's join side stays
    # Exchange-free
    return (verts.localCheckpoint(eager=True).withColumn("reset", reset),
            links.localCheckpoint(eager=True))


def _pr_step(verts: DataFrame, links: DataFrame, r: DataFrame,
             damping: float, weighted: bool = False) -> DataFrame:
    """One PageRank superstep (pure plan — no action):
    rank = (1-d)·reset + d·Σ_in contribution, a contribution being
    rank/out_deg, or rank·w/(out-weight total) when ``weighted``."""
    if weighted:
        contribs = (links.join(r, links["src"] == r["id"])
                    .select(F.explode("nbrs").alias("nb"),
                            (F.col("rank") / F.col("tw")).alias("rpw"))
                    .select(F.col("nb.d").alias("id"),
                            (F.col("rpw") * F.col("nb.w")).alias("c")))
    else:
        contribs = (links.join(r, links["src"] == r["id"])
                    .select(F.explode("nbrs").alias("id"),
                            (F.col("rank") / F.size("nbrs")).alias("c")))
    contribs = contribs.groupBy("id").agg(F.sum("c").alias("c"))
    return (verts.join(contribs, "id", "left")
            .select("id",
                    (F.lit(1.0 - damping) * F.col("reset")
                     + F.lit(damping) * F.coalesce("c", F.lit(0.0))
                     ).alias("rank")))


def pagerank(edges: DataFrame, iterations: int = 10,
             damping: float = 0.85,
             weight_col: Optional[str] = None) -> DataFrame:
    """Classic damped PageRank over a (src, dst) edge list.

    Returns ``(id, rank)`` (GraphX convention: rank = (1-d) +
    d * sum(in_rank/out_deg); dangling vertices absorb rank — no
    redistribution, so ranks sum to n only on dangling-free graphs).
    Fixed iteration count — deterministic, driver controls convergence.
    ``weight_col`` weighs each out-link by w / (out-weight total).

    Shuffle discipline: ``links`` and ``verts`` are hash-partitioned
    on vertex id ONCE before the loop (``localCheckpoint`` pins the
    layout — LogicalRDD preserves outputPartitioning), every
    downstream frame inherits a compatible HashPartitioning, and each
    iteration pays exactly ONE Exchange (the contribution re-key under
    the groupBy) instead of re-shuffling the static link table every
    round — at 100 TB the link table is the big side and re-shuffling
    it would dominate the algorithm (plan-asserted in
    tests/test_graph_algos.py). AQE is disabled for the loop: under
    AQE a checkpointed frame's outputPartitioning is Unknown (the
    adaptive plan's final layout isn't knowable when the LogicalRDD is
    captured), which would silently re-insert BOTH per-iteration
    exchanges; the explicit partition sizing (one partition per ~250k
    edges, capped at the session's shuffle parallelism) does the work
    AQE's coalescing otherwise would.
    """
    return _pr_run(edges, iterations, damping, weight_col=weight_col)


def personalized_pagerank(edges: DataFrame, sources,
                          iterations: int = 10,
                          damping: float = 0.85) -> DataFrame:
    """Personalized PageRank: the teleport vector is uniform over the
    SOURCE set instead of all vertices, so rank_v scores proximity to
    the sources — the standard recommendation / local-community /
    related-entity measure (GraphX ``personalizedPageRank`` parity).

    r⁰ = u, rᵗ⁺¹ = (1-d)·u + d·Σ_in rᵗ/out_deg with u = 1/|S| on the
    source set, 0 elsewhere. Vertices unreachable from S get rank
    exactly 0 (teleport never lands outside S); dangling vertices
    absorb mass, matching ``pagerank``'s convention. Fixed iteration
    count — deterministic.

    Runs ``pagerank``'s superstep and shuffle discipline with a
    per-vertex teleport share instead of 1.0. ``sources`` ships in the
    plan as an ``isin`` literal list — the personalized query shape
    has small |S| (a user, a session's entities); for set-valued
    sources at scale, join a reset frame instead.
    """
    if not isinstance(sources, (list, tuple, set, frozenset)):
        sources = [sources]
    src = sorted({int(x) for x in sources})
    if not src:
        raise ValueError("personalized_pagerank needs >= 1 source vertex")
    return _pr_run(edges, iterations, damping, sources=src)


def _pr_run(edges: DataFrame, iterations: int, damping: float,
            weight_col: Optional[str] = None, sources=()) -> DataFrame:
    """Shared scaffold of the PageRank family: normalize the edge list
    to (src, dst[, w]), size the partitioning on the edge count, pin AQE
    off + shuffle.partitions == nparts for the loop's duration (see
    ``pagerank``'s docstring for why) and run the supersteps."""
    s, d = _pair_cols(edges)
    spark = edges.sparkSession
    weighted = weight_col is not None
    cols = [F.col(s).cast("long").alias("src"),
            F.col(d).cast("long").alias("dst")]
    if weighted:
        # zero/negative/null weights carry no rank, but their ENDPOINTS
        # stay in the vertex universe (r3 ADVICE: filtering rows here
        # made such vertices vanish from the output entirely, whereas
        # unweighted mode still ranks them (1-d)). _pr_frames drops
        # only the LINKS; normalizing null→0 keeps the filter sargable.
        cols.append(F.coalesce(F.col(weight_col).cast("double"),
                               F.lit(0.0)).alias("w"))
    e, (n_edges,) = pin(
        edges.select(*cols)
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull()),
        n=F.count(F.lit(1)))
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    nparts = max(1, min(cap, -(-n_edges // 250_000)))
    # shuffle.partitions must equal nparts for the loop: the groupBy
    # re-key otherwise lands on a different partition count than the
    # pinned verts/links layout and the join re-shuffles verts anyway
    with probe.conf(spark, **{"spark.sql.adaptive.enabled": "false",
                              "spark.sql.shuffle.partitions": str(nparts)}):
        verts, links = _pr_frames(e, nparts, sources, weighted)
        # two lazy steps per pin: the composed 2-iteration plan runs as
        # one job, halving driver barriers; lineage stays O(1)
        ranks, _ = supersteps(
            verts.select("id", F.col("reset").alias("rank")),
            lambda r: _pr_step(verts, links, r, damping, weighted),
            int(iterations), per_pin=2)
        return ranks


def label_propagation(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007, the GraphX ``LabelPropagation`` workload): returns
    ``(id, label)`` after a FIXED number of synchronous rounds.

    Every vertex starts labeled with its own id; each round it adopts
    the most frequent label among its (undirected) neighbors, ties
    broken by the SMALLEST label — fully deterministic, unlike the
    randomized asynchronous variant, so the result is oracle-checkable
    and identical across engines/partitionings. Fixed rounds also
    sidestep the classic bipartite oscillation non-termination.

    Per round: one equi-join of the symmetric edge list against the
    current labels (shuffle keyed by neighbor id) and a two-level
    aggregation — (vertex, label) counts with map-side partial agg,
    then a per-vertex ``max(struct(count, -label))`` argmax, which is
    partial-aggregable too (no window sort). The edge list is
    checkpointed once; labels re-checkpoint per round so lineage stays
    O(1). At 1000 executors both shuffles are hash-partitioned on
    vertex id — the same discipline as the PageRank loop.
    """
    sym = _undirected_min_nbr(edges)

    def step(labels: DataFrame) -> DataFrame:
        counts = (sym.join(labels, sym["v"] == labels["id"])
                  .groupBy("u", "label").agg(F.count(F.lit(1)).alias("c")))
        return (counts
                .groupBy("u")
                .agg(F.max(F.struct(F.col("c"),
                                    (-F.col("label")).alias("nl")))
                     .alias("m"))
                .select(F.col("u").alias("id"),
                        (-F.col("m.nl")).cast("long").alias("label")))

    labels, _ = supersteps(
        sym.select(F.col("u").alias("id")).distinct()
        .withColumn("label", F.col("id")),
        step, int(iterations))
    return labels


def k_core(edges: DataFrame, k: int = 3, max_rounds: int = 20) -> DataFrame:
    """The k-core of the undirected graph: iteratively peel vertices of
    degree < k until fixpoint; returns ``(id, degree)`` for surviving
    vertices with their WITHIN-CORE degree (Seidman 1983 — the standard
    densest-region filter, used e.g. to pick well-connected seed sets
    from a near-dup or citation graph).

    Deterministic: the peel removes ALL under-degree vertices each
    round (synchronous), so the result is the unique maximal k-core
    regardless of order, partitioning, or engine — an unrolled SQL
    oracle reproduces it round-for-round. Each round is one degree
    aggregation + two semi-joins of the shrinking edge list (shuffles
    keyed on vertex id, same discipline as the PageRank loop);
    convergence is detected by the edge count reaching a fixpoint, and
    extra rounds past convergence are no-ops (which is what lets a
    fixed-unroll oracle match an early-stopping loop). Rounds needed
    ≤ peel depth — in practice a handful; worst case (a path graph
    peeled from the ends, k=2) is O(n), the documented pathological
    shape, bounded by ``max_rounds``. An exhausted bound returns the
    partially-peeled vertex set with its degrees within that set,
    which may still hold vertices of degree < k (a 51-vertex path at
    k=2 keeps 45 after 3 rounds); raise ``max_rounds`` if
    ``min(degree) < k`` in the result — the same bounded-iteration
    contract as ``k_truss``.
    """
    def peel(cur: DataFrame) -> DataFrame:
        keep = (cur.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
                .where(F.col("d") >= int(k)).select("u"))
        return (cur.join(keep, "u")
                .join(keep.withColumnRenamed("u", "v"), "v")
                .select("u", "v"))

    cur, _ = supersteps(_undirected_min_nbr(edges), peel, int(max_rounds),
                        probe={"n": F.count(F.lit(1))})
    return (cur.groupBy(F.col("u").alias("id"))
            .agg(F.count(F.lit(1)).cast("long").alias("degree")))


def triangle_count(edges: DataFrame, symmetric: bool = False) -> DataFrame:
    """Total triangle count of the undirected graph (one-row DataFrame
    ``(triangles)``).

    Standard degree-ordered wedge join: orient each undirected edge from
    the lower to the higher (deg, id) endpoint, self-join wedges, probe
    the closing edge. Each triangle counted exactly once; the
    orientation bounds wedge fan-out by arboricity, which is what keeps
    the self-join tractable on power-law graphs at scale.

    ``symmetric=True`` declares the input ALREADY the symmetrized
    loop-free distinct (u, v) pair set, skipping the union+distinct
    rebuild — callers that built it anyway (``graph_profile``) don't
    pay those shuffles twice.
    """
    sym = edges if symmetric else _undirected_min_nbr(edges)
    deg = sym.groupBy(F.col("u").alias("id")).agg(F.count("*").alias("d"))
    ranked = (sym.join(deg.withColumnRenamed("id", "u").withColumnRenamed("d", "du"), "u")
              .join(deg.withColumnRenamed("id", "v").withColumnRenamed("d", "dv"), "v"))
    oriented = (ranked.where((F.col("du") < F.col("dv"))
                             | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))))
                .select("u", "v"))
    w1 = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"))
    w2 = oriented.select(F.col("u").alias("a"), F.col("v").alias("c"))
    wedges = (w1.join(w2, "a").where(F.col("b") < F.col("c")))
    # wedge endpoints are id-ordered but the closing edge is
    # degree-oriented — normalize it to id order before the probe
    closing = oriented.select(F.least("u", "v").alias("b"),
                              F.greatest("u", "v").alias("c"))
    tri = wedges.join(closing, ["b", "c"])
    return tri.agg(F.count("*").cast("long").alias("triangles"))


def _canon_supports(canon: DataFrame) -> DataFrame:
    """(u, v, support): per-edge triangle participation counts of an
    id-canonical (u < v) loop-free distinct edge set. Degree-ordered
    wedge enumeration (each triangle found exactly ONCE at its
    lowest-degree apex, bounding wedge fan-out by arboricity — the
    same orientation `triangle_count` uses), then each triangle is
    exploded back to its 3 id-normalized edges and counted. Edges in
    no triangle are absent (callers coalesce to 0)."""
    deg = (canon.select(F.col("u").alias("x"))
           .unionAll(canon.select(F.col("v").alias("x")))
           .groupBy("x").agg(F.count(F.lit(1)).alias("d")))
    ranked = (canon
              .join(deg.select(F.col("x").alias("u"),
                               F.col("d").alias("du")), "u")
              .join(deg.select(F.col("x").alias("v"),
                               F.col("d").alias("dv")), "v"))
    lo_hi = ((F.col("du") < F.col("dv"))
             | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))))
    oriented = ranked.select(
        F.when(lo_hi, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lo_hi, F.col("v")).otherwise(F.col("u")).alias("t"))
    w1 = oriented.select(F.col("s").alias("a"), F.col("t").alias("b"))
    w2 = oriented.select(F.col("s").alias("a"), F.col("t").alias("c"))
    wedges = w1.join(w2, "a").where(F.col("b") < F.col("c"))
    tri = wedges.join(canon.select(F.col("u").alias("b"),
                                   F.col("v").alias("c")), ["b", "c"])
    inc = (tri.select(F.least("a", "b").alias("u"),
                      F.greatest("a", "b").alias("v"))
           .unionAll(tri.select(F.least("a", "c").alias("u"),
                                F.greatest("a", "c").alias("v")))
           .unionAll(tri.select(F.col("b").alias("u"),
                                F.col("c").alias("v"))))
    return inc.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("support"))


def k_truss(edges: DataFrame, k: int = 4,
            max_rounds: int = 30) -> DataFrame:
    """The k-truss of the undirected simple graph (Cohen, "Trusses:
    Cohesive Subgraphs for Social Network Analysis", NSA tech report
    2008 — public): the maximal subgraph in which every edge
    participates in at least k-2 triangles WITHIN the subgraph.
    Returns ``(u, v, support)`` — the surviving id-canonical (u < v)
    edges with their within-truss support. The community-core filter
    one notch stronger than `k_core` (every k-truss is inside the
    (k-1)-core), and the standard seed-region picker on near-dup /
    co-occurrence graphs.

    Deterministic: synchronous peeling (ALL under-support edges leave
    each round) makes the result the unique maximal k-truss regardless
    of order or engine, so a fixed-unroll SQL oracle reproduces it
    round-for-round — identical contract to `k_core`. Convergence =
    a round that removes nothing; that round's supports are already
    the final answer, so the fixpoint costs no extra pass. Rounds
    needed ≤ peel depth (a handful on real graphs; bounded by
    ``max_rounds`` against the pathological chain-of-triangles — an
    exhausted bound returns the partially-peeled edge set with its
    true supports, which may still contain under-support edges; raise
    ``max_rounds`` if ``min(support) < k-2`` in the result, the same
    bounded-iteration contract as ``k_core``).

    100 TB shape: each round is one degree agg + the degree-oriented
    wedge self-join of the SHRINKING edge set (the arboricity bound is
    what keeps the wedge join tractable on power-law graphs), one
    triangle→edge explode (3 rows/triangle, 16 bytes each), one
    support agg, one filtering join — all shuffles keyed on vertex or
    edge ids. The edge set is localCheckpoint-pinned per round so no
    round re-executes its predecessors' lineage.
    """
    if int(k) < 2:
        raise ValueError("k_truss: k must be >= 2")
    need = int(k) - 2
    def peel(withs: DataFrame) -> DataFrame:
        canon = withs.where(F.col("support") >= need).select("u", "v")
        return (canon.join(_canon_supports(canon), ["u", "v"], "left")
                .select("u", "v",
                        F.coalesce("support", F.lit(0)).cast("long")
                        .alias("support")))

    # The probe counts the edges the NEXT peel keeps: equal on two pins
    # means a round removed nothing, so its supports are final. The
    # entry's support of k-2 makes the first peel keep every edge,
    # hence max_rounds + 1 support passes for max_rounds peels.
    withs, _ = supersteps(
        _undirected_min_nbr(edges).where(F.col("u") < F.col("v"))
        .select("u", "v", F.lit(need).cast("long").alias("support")),
        peel, int(max_rounds) + 1,
        probe={"kept": F.count_if(F.col("support") >= need)})
    return withs


def link_prediction(edges: DataFrame, min_cn: int = 1) -> DataFrame:
    """(u, v, cn, jac, pa): link-prediction scores for NON-adjacent
    vertex pairs of the undirected simple graph with at least
    ``min_cn`` common neighbors (Liben-Nowell & Kleinberg, "The Link
    Prediction Problem for Social Networks", CIKM 2003 — public):

    - ``cn``  common-neighbor count |N(u) ∩ N(v)|   (exact long)
    - ``jac`` Jaccard |N(u)∩N(v)| / |N(u)∪N(v)|     (unrounded double
      quotient of exact longs — |union| = d(u)+d(v)−cn since the pair
      is non-adjacent and loop-free)
    - ``pa``  preferential attachment d(u)·d(v)     (exact long)

    Adamic-Adar's Σ 1/log(deg) is deliberately omitted: the per-term
    transcendental plus order-dependent float summation would break
    the bitwise oracle contract these integer-exact scores keep.

    100 TB shape: one wedge self-join of the symmetric edge list (the
    same (a,w),(w,b) shape as `triangle_count`, fan-out Σ d(w)² — cap
    hub degrees upstream on power-law graphs, the standard
    recommender mitigation), one (a,b) count aggregation, one
    anti-join against the edge set, two degree hash joins. Everything
    shuffles on vertex/pair ids; no floats until the final quotient.
    """
    sym = _undirected_min_nbr(edges)
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    w1 = sym.select(F.col("v").alias("w"), F.col("u").alias("a"))
    w2 = sym.select(F.col("u").alias("w"), F.col("v").alias("b"))
    cand = (w1.join(w2, "w").where(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).cast("long").alias("cn"))
            .where(F.col("cn") >= int(min_cn)))
    adj = sym.where(F.col("u") < F.col("v")).select(
        F.col("u").alias("a"), F.col("v").alias("b"))
    nonadj = cand.join(adj, ["a", "b"], "left_anti")
    da = deg.select(F.col("u").alias("a"), F.col("d").alias("_da"))
    db = deg.select(F.col("u").alias("b"), F.col("d").alias("_db"))
    return (nonadj.join(da, "a").join(db, "b")
            .select(F.col("a").alias("u"), F.col("b").alias("v"), "cn",
                    (F.col("cn").cast("double")
                     / (F.col("_da") + F.col("_db") - F.col("cn"))
                     .cast("double")).alias("jac"),
                    (F.col("_da") * F.col("_db")).cast("long")
                    .alias("pa")))


def graph_profile(edges: DataFrame) -> DataFrame:
    """One-row whole-graph summary — the graph twin of
    ``profiling.profile`` (deequ/TFDV shape) for dataset audits:

    ``(n_vertices, n_edges, n_self_loops, density, reciprocity,
    max_out_deg, max_in_deg, triangles, wedges, transitivity,
    assortativity)``

    Definitions: ``n_edges`` = distinct directed pairs excluding self
    loops; ``density`` = m/(n·(n−1)); ``reciprocity`` = fraction of
    directed edges whose reverse exists; ``triangles``/``wedges``/
    ``transitivity`` (= 3·tri/wedges) over the undirected simple
    graph; ``assortativity`` = Pearson degree correlation over both
    orientations of every undirected edge (Newman 2002), NULL on
    regular graphs (zero variance).

    Every ratio is a quotient of EXACT integer aggregates (counts,
    Σdeg, Σdeg², Σdeg·deg), so the output is bitwise-deterministic and
    SQL-oracle-able; the quotients are deliberately UNROUNDED —
    identical doubles need no rounding, and rounding integer-quotient
    values is actively wrong cross-engine (they land on exact decimal
    midpoints where Spark's decimal HALF_UP and DuckDB's binary round
    disagree — the g22 sf0.1 lesson). The assortativity num/den are
    formed as DOUBLE products of the integer aggregates: long·long
    (m2·sxx ~ 2e21 on a 1e5-degree hub) would overflow int64 — ANSI
    mode throws — far below the 2^53 double-exactness bound of the
    sums themselves, and identical double arithmetic on both engines
    preserves the bitwise contract without the overflow. Shape: a
    handful of count/sum aggregations plus the degree-ordered triangle
    join (`triangle_count` fed the prebuilt symmetric edge set — the
    union+distinct+degree shuffles are NOT paid twice), all one-row
    results cross-joined at the end — no driver state beyond the
    final row.
    """
    s, d = _pair_cols(edges)
    raw = (edges.select(F.col(s).cast("long").alias("u"),
                        F.col(d).cast("long").alias("v"))
           .where(F.col("u").isNotNull() & F.col("v").isNotNull())
           .localCheckpoint(eager=True))
    loops = raw.where(F.col("u") == F.col("v")) \
               .agg(F.count(F.lit(1)).cast("long").alias("n_self_loops"))
    ed = (raw.where(F.col("u") != F.col("v")).distinct()
          .localCheckpoint(eager=True))
    verts = (raw.select(F.col("u").alias("id"))
             .unionAll(raw.select(F.col("v").alias("id"))).distinct())
    nv = verts.agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
    ne = ed.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    recip = (ed.join(ed.select(F.col("v").alias("u"),
                               F.col("u").alias("v")),
                     ["u", "v"], "left_semi")
             .agg(F.count(F.lit(1)).cast("long").alias("n_recip")))
    mo = (ed.groupBy("u").agg(F.count(F.lit(1)).alias("od"))
          .agg(F.max("od").cast("long").alias("max_out_deg")))
    mi = (ed.groupBy("v").agg(F.count(F.lit(1)).alias("idg"))
          .agg(F.max("idg").cast("long").alias("max_in_deg")))
    # undirected simple graph: both orientations, then degree table
    und = (ed.unionAll(ed.select(F.col("v").alias("u"),
                                 F.col("u").alias("v")))
           .distinct().localCheckpoint(eager=True))
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("dg"))
    wedges = deg.agg(
        F.sum(F.col("dg") * (F.col("dg") - 1) / 2).cast("long")
        .alias("wedges"))
    tri = triangle_count(und, symmetric=True)
    # assortativity sums over both orientations (x = deg(u), y = deg(v)):
    # by symmetry Σx = Σy and Σx² = Σy², so four integer sums suffice
    dd = (und.join(deg, "u")
          .join(deg.select(F.col("u").alias("v"),
                           F.col("dg").alias("dh")), "v"))
    asum = dd.agg(F.count(F.lit(1)).cast("long").alias("m2"),
                  F.sum("dg").cast("long").alias("sx"),
                  F.sum(F.col("dg") * F.col("dg")).cast("long")
                  .alias("sxx"),
                  F.sum(F.col("dg") * F.col("dh")).cast("long")
                  .alias("sxy"))
    row = (nv.crossJoin(ne).crossJoin(loops).crossJoin(recip)
           .crossJoin(mo).crossJoin(mi).crossJoin(tri)
           .crossJoin(wedges).crossJoin(asum))
    n, m = F.col("n_vertices"), F.col("n_edges")
    m2d = F.col("m2").cast("double")
    sxd = F.col("sx").cast("double")
    num = m2d * F.col("sxy").cast("double") - sxd * sxd
    den = m2d * F.col("sxx").cast("double") - sxd * sxd
    return row.select(
        "n_vertices", "n_edges", "n_self_loops",
        F.when(n > 1, m.cast("double") / (n * (n - 1)).cast("double"))
         .otherwise(F.lit(0.0)).alias("density"),
        F.when(m > 0, F.col("n_recip").cast("double")
               / m.cast("double"))
         .otherwise(F.lit(0.0)).alias("reciprocity"),
        F.coalesce("max_out_deg", F.lit(0)).alias("max_out_deg"),
        F.coalesce("max_in_deg", F.lit(0)).alias("max_in_deg"),
        "triangles", F.coalesce("wedges", F.lit(0)).alias("wedges"),
        F.when(F.col("wedges") > 0,
               F.lit(3.0) * F.col("triangles")
               / F.col("wedges").cast("double"))
         .otherwise(F.lit(0.0)).alias("transitivity"),
        F.when(den != 0.0, num / den)
         .otherwise(F.lit(None).cast("double")).alias("assortativity"))


def _walk_choice_hash(hash_mode: str, seed: int, t, walk_id_col, cur_col):
    """The deterministic uniform driving a walk's neighbor choice.

    ``xxhash64`` (default): one JVM hash call — the fast path.
    ``md5``: ``int(md5("seed:walk_id:t:cur")[:15 hex], 16)`` — chosen
    because BOTH Spark (``conv(substring(md5(..)),16,10)``) and DuckDB
    (``('0x' || substr(md5(..),1,15))::BIGINT``) can compute it
    bit-identically, which turns the walk corpus into a full SQL
    oracle (r3 verdict item: walks were rows-only without it). 15 hex
    digits = 60 bits, always a positive BIGINT on both engines.
    """
    if hash_mode == "md5":
        from rust_graph_db_spark.functions.hashing import md5_key, md5_long

        return md5_long(md5_key(F.lit(seed), walk_id_col,
                                F.lit(t), cur_col))
    return F.xxhash64(F.lit(seed), walk_id_col, F.lit(t), cur_col)


def random_walks(edges: DataFrame, walk_length: int = 10,
                 walks_per_vertex: int = 1, seed: int = 0,
                 starts: Optional[DataFrame] = None,
                 hash_mode: str = "xxhash64") -> DataFrame:
    """Deterministic uniform random walks over a (src, dst) edge list —
    the DeepWalk/node2vec(p=q=1) corpus generator: the walk sequences
    are the "sentences" a skip-gram embedding trains on, which makes
    this a training-data pipeline operator as much as a graph one.

    Returns ``(walk_id, start, step, vertex)`` — one row per visited
    vertex; ``walk_id`` = (start, replica) packed via xxhash64. Walks
    stop early at sinks (vertices without out-edges).

    Determinism instead of RNG: step t of walk w leaves vertex v
    through neighbor ``nbrs[xxhash64(seed, w, t, v) % deg(v)]``. The
    walk set is a pure function of (graph, seed) — reruns, retries,
    and stragglers reproduce byte-identical corpora, the same property
    the deterministic samplers (`operators/sampling.py`) guarantee.

    100 TB shape: the adjacency table is built ONCE (groupBy src,
    collect_list — the same ``links`` frame the PageRank family uses)
    and each of the ``walk_length`` rounds is one equi-join of the
    frontier (walk_id, cur) against it, hash-keyed on vertex id; the
    frontier carries three longs per live walk. Each round is one pin
    (lineage O(1)) that also counts the live walks, so walks that all
    die early end the loop early. Hub vertices are one key
    each in the join — skew-salt upstream if a single hub's walks
    exceed a task (standard salting applies because steps are
    independent given the current vertex).
    """
    def choose(frontier: DataFrame, links: DataFrame, h) -> DataFrame:
        return (frontier.join(links, frontier["cur"] == links["src"])
                .select("walk_id", "start",
                        F.element_at(
                            "nbrs",
                            (F.pmod(h, F.size("nbrs")) + 1).cast("int"))
                         .alias("cur")))

    return _walks(edges, walk_length, walks_per_vertex, seed, starts,
                  hash_mode, choose)


def _walks(edges: DataFrame, walk_length: int, walks_per_vertex: int,
           seed: int, starts: Optional[DataFrame], hash_mode: str,
           choose) -> DataFrame:
    """The walk loop shared by :func:`random_walks` and
    :func:`node2vec_walks`: ``choose(frontier, links, h)`` maps the
    live walks ``(walk_id, start, cur, …)`` one step on, given the
    sorted adjacency ``links (src, nbrs)`` and the step's choice hash
    ``h``. Each step is one pin whose observed size is the number of
    live walks; the loop stops at the first step with none."""
    s, d = _pair_cols(edges)
    e = (edges.select(F.col(s).cast("long").alias("src"),
                      F.col(d).cast("long").alias("dst"))
         .where(F.col("src").isNotNull() & F.col("dst").isNotNull()))
    # sort_array is load-bearing for the determinism contract:
    # collect_list's element ORDER is shuffle-fetch order, which Spark
    # does not guarantee across reruns/retries/cluster sizes — indexing
    # an unsorted array would make walks stable only by accident.
    # Sorting keeps duplicate edges (multiplicity still weights the
    # uniform choice) while pinning every index to a value.
    links = (e.groupBy("src")
             .agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
             .localCheckpoint(eager=True))
    base = (starts.select(F.col(starts.columns[0]).cast("long").alias("start"))
            if starts is not None else
            e.select(F.col("src").alias("start")).distinct())
    # md5 mode keeps walk_id SQL-trivial (start*wpv + rep) so the
    # oracle can reproduce it; xxhash64 mode spreads ids for skew.
    wid = (F.col("start") * walks_per_vertex + F.col("rep")
           if hash_mode == "md5" else
           F.xxhash64(F.lit(seed), "start", "rep"))
    count = F.count(F.lit(1))
    frontier, (live,) = pin(base.select(
        "start",
        F.explode(F.array(*[F.lit(r) for r in range(walks_per_vertex)]))
         .alias("rep"))
        .select(wid.cast("long").alias("walk_id"),
                "start", F.col("start").alias("cur"),
                F.lit(None).cast("long").alias("prev")), n=count)
    out = frontier.select("walk_id", "start", F.lit(0).alias("step"),
                          F.col("cur").alias("vertex"))
    for t in range(1, walk_length):
        if not live:
            break
        h = _walk_choice_hash(hash_mode, seed, t,
                              F.col("walk_id"), F.col("cur"))
        frontier, (live,) = pin(choose(frontier, links, h), n=count)
        out = out.unionAll(frontier.select(
            "walk_id", "start", F.lit(t).alias("step"),
            F.col("cur").alias("vertex")))
    return out


def walk_skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """(center, context, dist) skip-gram training pairs from a
    ``random_walks`` output — the step between walk generation and a
    word2vec-style embedding fit. One row per ordered pair of vertices
    within ``window`` steps of each other on the same walk; ``dist``
    (1..window) lets callers weight near pairs higher.

    Shape: a single self-equi-join on walk_id with the banded step
    predicate — the same banded-interval pattern as the temporal range
    join; the join input carries (walk_id, step, vertex) triples only.
    Output volume is walks × length × 2·window rows, linear in corpus
    size, and downstream consumers aggregate it to (center, context)
    co-occurrence counts with map-side combine.
    """
    a = walks.select(F.col("walk_id").alias("w"),
                     F.col("step").alias("sa"),
                     F.col("vertex").alias("center"))
    b = walks.select(F.col("walk_id").alias("w"),
                     F.col("step").alias("sb"),
                     F.col("vertex").alias("context"))
    return (a.join(b, "w")
            .where((F.col("sb") != F.col("sa"))
                   & (F.abs(F.col("sb") - F.col("sa")) <= window))
            .select("center", "context",
                    F.abs(F.col("sb") - F.col("sa")).cast("int")
                     .alias("dist")))


def _hb_frames(edges: DataFrame) -> tuple:
    """``(e, verts)`` shared by the HyperBall sweep and the exact mode:
    the pinned ``(src, dst)`` long edge list with null endpoints
    dropped (both modes read it once per hop) and its vertex set
    ``(id)``. The exact mode is ``bfs_distances(e, verts, max_hops)``:
    bounded all-pairs BFS with O(Σ ball) state — deliberately NOT the
    100 TB path (that's the sketches); it exists so the estimators
    have a driver-checkable ground truth."""
    s, d = _pair_cols(edges)
    e = (edges.select(F.col(s).cast("long").alias("src"),
                      F.col(d).cast("long").alias("dst"))
         .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
         .localCheckpoint(eager=True))
    verts = (e.select(F.col("src").alias("id"))
             .unionAll(e.select(F.col("dst").alias("id"))).distinct())
    return e, verts


def _hyperball(e: DataFrame, verts: DataFrame, max_hops: int,
               lgk: int) -> tuple:
    """The HyperBall sweep (Boldi & Vigna, 2013) behind
    :func:`neighborhood_function`, :func:`harmonic_centrality` and
    :func:`closeness_centrality`. Returns ``(balls, totals)``:
    ``balls`` = ``(id, sk, est, harm, sumd)`` per vertex at the last
    hop run — ``sk`` the HLL sketch of the ball B(v, h), ``est`` its
    estimate, ``harm`` = Σ_t Δ|B(v,t)|/t and ``sumd`` = Σ_t t·Δ|B(v,t)|
    with each per-hop delta clamped at 0 (a sketch estimate can jitter
    slightly downward between hops) — and ``totals`` = [Σ_v |B(v,h)|
    for h = 0, 1, …], strictly increasing.

    100 TB shape: per-vertex state is ONE fixed-size HLL register
    array (Spark's DataSketches ``hll_sketch_agg``, 2^lgk registers)
    plus three doubles, never a reachable set — n·2^lgk bytes no
    matter how big the balls grow. Each hop is one frontier join
    (sketches flow dst→src so balls grow along OUT-edges) and one
    ``hll_union_agg`` groupBy, hash-keyed on vertex id with map-side
    partial merging; the running doubles ride the aggregate as max()
    over NULL-carrying neighbor rows (no extra join). Each hop is
    pinned by ``pregel.pin`` with the hop total read in that same
    job, and the sweep stops at the first hop whose total does not
    exceed the previous one (every ball saturated, up to HLL jitter).
    Estimates carry HLL error ~1.04/√2^lgk (≈1.6% at lgk=12).
    """
    balls, (n,) = pin(
        verts.groupBy("id")
        .agg(F.hll_sketch_agg("id", F.lit(lgk)).alias("sk"))
        .select("id", "sk", F.lit(1.0).alias("est"),    # |B(v,0)| = 1
                F.lit(0.0).alias("harm"), F.lit(0.0).alias("sumd")),
        n=F.count(F.lit(1)))
    totals = [n]
    none = F.lit(None).cast("double")
    for h in range(1, max_hops + 1):
        # B(v,h) = B(v,h-1) ∪ ⋃_{(v,w)∈E} B(w,h-1)
        from_nbrs = (e.join(balls, e["dst"] == balls["id"])
                     .select(e["src"].alias("id"), "sk", none.alias("est"),
                             none.alias("harm"), none.alias("sumd")))
        merged = (balls.unionAll(from_nbrs).groupBy("id")
                  .agg(F.hll_union_agg("sk", True).alias("sk"),
                       F.max("est").alias("est_prev"),
                       F.max("harm").alias("harm"),
                       F.max("sumd").alias("sumd")))
        delta = F.greatest(F.hll_sketch_estimate("sk") - F.col("est_prev"),
                           F.lit(0.0))
        balls, (tot,) = pin(
            merged.select("id", "sk",
                          F.hll_sketch_estimate("sk").cast("double")
                          .alias("est"),
                          (F.col("harm") + delta / F.lit(float(h)))
                          .alias("harm"),
                          (F.col("sumd") + delta * F.lit(float(h)))
                          .alias("sumd")),
            t=F.coalesce(F.sum("est"), F.lit(0.0)))
        if tot <= totals[-1]:
            break
        totals.append(int(tot))
    return balls, totals


def neighborhood_function(edges: DataFrame, max_hops: int = 8,
                          lgk: int = 12, exact: bool = False) -> DataFrame:
    """HyperBall (Boldi & Vigna, 2013): the neighborhood function
    N(h) = number of ordered vertex pairs within distance ≤ h, via one
    HyperLogLog sketch per vertex — the estimator behind effective-
    diameter / average-distance statistics on graphs where exact
    all-pairs BFS (O(n·m)) is unthinkable.

    Returns one row per hop: ``(hop, n_pairs)`` with n_pairs the
    summed per-vertex ball-size estimates (hop 0 = n vertices).
    Callers derive the effective diameter as the first h with
    N(h) ≥ 0.9·N(max_hops), and the average distance from successive
    differences. Once the sweep saturates, the remaining hops repeat
    the last total, so N(h) is monotone by construction. Scale shape
    and HLL error: see :func:`_hyperball`; the pytest checks the
    estimates against exact all-pairs BFS.

    ``exact=True`` swaps the sketches for an exact bounded all-pairs
    BFS (``traversal.bfs_distances`` from every vertex — O(Σ ball)
    state, NOT the scale path): identical output contract, zero
    estimation error, fully mirrorable as a recursive-CTE SQL oracle.
    Use it for correctness gates and small graphs; leave the default
    for production scale.
    """
    e, verts = _hb_frames(edges)
    if exact:
        by_d = dict(bfs_distances(e, verts, max_hops).groupBy("dist")
                    .count().collect())
        totals = list(accumulate(by_d.get(h, 0)
                                 for h in range(max_hops + 1)))
    else:
        totals = _hyperball(e, verts, max_hops, lgk)[1]
    return edges.sparkSession.createDataFrame(
        [(h, totals[min(h, len(totals) - 1)]) for h in range(max_hops + 1)],
        "hop INT, n_pairs LONG")


def harmonic_centrality(edges: DataFrame, max_hops: int = 8,
                        lgk: int = 12, exact: bool = False) -> DataFrame:
    """Approximate harmonic centrality via HyperBall (Boldi & Vigna,
    2013, §5): H(v) = Σ_{u reachable from v, u≠v} 1 / d(v, u),
    accumulated from successive ball-size differences,
    H(v) = Σ_{t≥1} (|B(v,t)| − |B(v,t−1)|) / t.

    Convention: OUTWARD harmonic centrality — balls grow along
    out-edges, so H(v) scores how closely v reaches the rest of the
    graph. For the inward variant (how closely the graph reaches v,
    the common "centrality of a target" reading), pass the edge list
    with src/dst swapped.

    Returns ``(id, harmonic DOUBLE)``, one row per vertex. Scale shape
    and HLL error: see :func:`_hyperball`; per-hop deltas are clamped
    at 0, and the pytest checks the result against exact all-pairs BFS.

    ``exact=True`` computes H(v) = Σ 1/d(v,u) from the exact bounded
    all-pairs BFS (``traversal.bfs_distances``) instead of sketch
    deltas — the driver-checkable oracle path, not the 100 TB path.
    """
    e, verts = _hb_frames(edges)
    if not exact:
        balls = _hyperball(e, verts, max_hops, lgk)[0]
        return balls.select("id", F.col("harm").alias("harmonic"))
    return (bfs_distances(e, verts, max_hops).groupBy("start_id")
            .agg(F.coalesce(F.sum(F.when(F.col("dist") >= 1,
                                         F.lit(1.0) / F.col("dist"))),
                            F.lit(0.0)).alias("harmonic"))
            .select(F.col("start_id").alias("id"), "harmonic"))


def closeness_centrality(edges: DataFrame, max_hops: int = 8,
                         lgk: int = 12, exact: bool = False) -> DataFrame:
    """Approximate closeness centrality via HyperBall (Boldi & Vigna,
    2013, §5), Lin's index so disconnected graphs stay comparable:

        C(v) = r(v)² / (n · S(v))

    with r(v) = |reachable from v, excluding v|, S(v) = Σ d(v, u) over
    those vertices, n = vertex count; vertices reaching nothing score
    0. (Classic closeness r/S is recoverable as n·C/r; Lin's form is
    the one HyperBall recommends because r/S ranks a vertex whose only
    neighbor is one hop away above the center of a large component.)

    Convention matches :func:`harmonic_centrality`: OUTWARD — balls
    grow along out-edges; swap src/dst for the inward variant.

    Returns ``(id, closeness DOUBLE)``, one row per vertex. Scale shape
    and HLL error: see :func:`_hyperball` (S(v) is its ``sumd``
    column, r(v) its estimate minus 1, both clamped at 0).

    ``exact=True`` computes r(v) and S(v) from the exact bounded
    all-pairs BFS (``traversal.bfs_distances``) — the driver-checkable
    oracle path, not the 100 TB path.
    """
    e, verts = _hb_frames(edges)
    if exact:
        acc, (n,) = pin(
            bfs_distances(e, verts, max_hops).groupBy("start_id")
            .agg(F.count_if(F.col("dist") >= 1).cast("double").alias("r"),
                 F.sum("dist").cast("double").alias("sumd"))
            .select(F.col("start_id").alias("id"), "r", "sumd"),
            n=F.count(F.lit(1)))
        r = F.col("r")
    else:
        acc, totals = _hyperball(e, verts, max_hops, lgk)
        n = totals[0]
        r = F.greatest(F.col("est") - 1.0, F.lit(0.0))
    return acc.select(
        "id",
        F.when(F.col("sumd") > 0.0,
               r * r / (F.lit(float(n)) * F.col("sumd")))
         .otherwise(F.lit(0.0)).alias("closeness"))


# ------------------------------------------------------ strong components

def _tarjan_scc(pairs: list) -> list:
    """Iterative Tarjan over a collected (u, v) edge list (driver path).
    Returns (id, component) with component = min member id."""
    adj: dict = {}
    ids = set()
    for u, v in pairs:
        ids.add(u)
        ids.add(v)
        if u != v:
            adj.setdefault(u, []).append(v)
    index: dict = {}
    low: dict = {}
    on_stack: set = set()
    stack: list = []
    sccs: list = []
    counter = [0]
    for root in sorted(ids):
        if root in index:
            continue
        # explicit DFS stack of (vertex, iterator position)
        work = [(root, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            nbrs = adj.get(v, ())
            for i in range(pi, len(nbrs)):
                w = nbrs[i]
                if w not in index:
                    work.append((v, i + 1))
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                sccs.append(comp)
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])
    out = []
    for comp in sccs:
        m = min(comp)
        out.extend((int(v), int(m)) for v in comp)
    return sorted(out)


def strongly_connected_components(
        edges: DataFrame, driver_threshold: int = 500_000,
        max_phases: int = 30, max_prop_iter: int = 100) -> DataFrame:
    """Strongly connected components of the DIRECTED edge list: returns
    ``(id, component)`` with component = min member id (deterministic).
    Every vertex incident to an edge (including self-loops) is assigned.

    Size-adaptive like :func:`connected_components`: below
    ``driver_threshold`` edges, one collect + iterative Tarjan on the
    driver (SCC structure of a pair graph is tiny next to the corpus
    that produced it). Above it, the distributed coloring algorithm
    (Orzan 2004; Salihoglu & Widom, VLDB'14): each phase (1) trims
    vertices with no in- or out-edges in the active subgraph — each is
    its own singleton SCC, (2) propagates the MAX vertex id forward to a
    fixpoint (``color(v)`` = max id with a path to ``v``), (3) walks
    BACKWARD from each color root (``color(v) == v``) within its color
    class — the reached set is exactly that root's SCC — then peels the
    found SCCs and repeats. Every join is an equi-join on vertex id
    (same shuffle discipline as the PageRank loop), per-iteration frames
    are pinned with their emptiness count read in the same job, and
    phases peel one SCC per color class, so phase count is bounded by
    the SCC condensation depth, not vertex count. Forward propagation
    runs on ``pregel.supersteps`` and is diameter-bound like
    :func:`~rust_graph_db_spark.operators.traversal.bfs_distances`;
    it raises ``RuntimeError`` when ``max_prop_iter`` steps reach no
    fixpoint.
    """
    s, d = _pair_cols(edges)
    count = F.count(F.lit(1))
    raw, (n_raw,) = pin(
        edges.select(F.col(s).cast("long").alias("u"),
                     F.col(d).cast("long").alias("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull()), n=count)
    spark = edges.sparkSession
    if n_raw <= driver_threshold:
        out = _tarjan_scc([(r["u"], r["v"]) for r in raw.collect()])
        return spark.createDataFrame(out or [], "id LONG, component LONG")

    active_e = raw.where(F.col("u") != F.col("v")).distinct() \
                  .localCheckpoint(eager=True)
    active_v, (n_active,) = pin(
        raw.select(F.col("u").alias("id"))
        .unionAll(raw.select(F.col("v").alias("id"))).distinct(), n=count)
    assigned = spark.createDataFrame([], "id LONG, component LONG")

    def restrict(e: DataFrame) -> DataFrame:
        """Edges with both endpoints still active, pinned."""
        return (e.join(active_v.withColumnRenamed("id", "u"), "u",
                       "left_semi")
                .join(active_v.withColumnRenamed("id", "v"), "v",
                      "left_semi")
                .select("u", "v").localCheckpoint(eager=True))

    def propagate(colors: DataFrame) -> DataFrame:
        msgs = (colors.join(active_e, colors["id"] == active_e["u"])
                .select(F.col("v").alias("id"), "color"))
        return (colors.unionAll(msgs).groupBy("id")
                .agg(F.max("color").alias("color")))

    for _ in range(max_phases):
        # ---- trim: no out-edges or no in-edges ⇒ singleton SCC
        while True:
            core = (active_e.select(F.col("u").alias("id")).distinct()
                    .join(active_e.select(F.col("v").alias("id")).distinct(),
                          "id"))
            trimmed, (n_trim,) = pin(
                active_v.join(core, "id", "left_anti"), n=count)
            if n_trim == 0:
                break
            assigned = assigned.unionAll(
                trimmed.select("id", F.col("id").alias("component")))
            active_v, (n_active,) = pin(active_v.join(core, "id"), n=count)
            active_e = restrict(active_e)
        if n_active == 0:
            break
        # ---- forward max-id propagation to fixpoint, probed as an
        # order-free hash sum (decimal: a long sum of 64-bit hashes
        # overflows under ANSI mode)
        colors, converged = supersteps(
            active_v.select("id", F.col("id").alias("color")), propagate,
            int(max_prop_iter),
            probe={"h": F.sum(F.xxhash64("id", "color")
                              .cast("decimal(38,0)"))})
        if not converged:
            raise RuntimeError(
                "scc: forward propagation did not converge within "
                f"max_prop_iter={max_prop_iter}")
        # ---- backward reach from color roots within each color class
        # (every class has its root, so the first frontier is non-empty)
        members = colors.where(F.col("id") == F.col("color")) \
                        .localCheckpoint(eager=True)
        frontier = members
        while True:
            step = (active_e.join(frontier.withColumnRenamed("id", "v"), "v")
                    .select(F.col("u").alias("id"), "color")
                    .distinct())
            # stay inside the color class, drop already-found members
            step = (step.join(colors.withColumnRenamed("color", "c"), "id")
                    .where(F.col("color") == F.col("c"))
                    .select("id", "color"))
            frontier, (n_new,) = pin(
                step.join(members, "id", "left_anti"), n=count)
            if n_new == 0:
                break
            members = members.unionAll(frontier).localCheckpoint(eager=True)
        # normalize component = min member id per SCC root
        rel = members.groupBy("color").agg(F.min("id").alias("component"))
        assigned = assigned.unionAll(
            members.join(rel, "color").select("id", "component"))
        # ---- peel found SCCs
        active_v, (n_active,) = pin(
            active_v.join(members, "id", "left_anti"), n=count)
        active_e = restrict(active_e)
        if n_active == 0:
            break
    else:
        if n_active:
            raise RuntimeError(
                f"scc: not converged within max_phases={max_phases}")
    return assigned


# ------------------------------------------------------ betweenness

def _brandes_local(edge_rows: list, pivots: list, max_hops: int) -> dict:
    """Driver-side Brandes BFS + dependency accumulation from the given
    pivot list — the exact per-source recurrence of the distributed
    loops below (level-synchronous sigma counting, depth capped at
    ``max_hops``, backward delta from the deepest level, endpoints
    excluded), on a collected edge list."""
    from collections import defaultdict, deque

    adj = defaultdict(list)
    for u, v in edge_rows:
        adj[u].append(v)
    bc: dict = defaultdict(float)
    for s in pivots:
        dist = {s: 0}
        sigma = {s: 1.0}
        preds = defaultdict(list)
        order = []
        q = deque([s])
        while q:
            u = q.popleft()
            order.append(u)
            if dist[u] >= max_hops:
                continue
            du = dist[u] + 1
            for w in adj[u]:
                if w not in dist:
                    dist[w] = du
                    q.append(w)
                if dist[w] == du:
                    sigma[w] = sigma.get(w, 0.0) + sigma[u]
                    preds[w].append(u)
        delta = defaultdict(float)
        for w in reversed(order):
            for u in preds[w]:
                delta[u] += sigma[u] / sigma[w] * (1.0 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return bc


def betweenness_centrality(
        edges: DataFrame, sources: Optional[DataFrame] = None,
        sample: Optional[int] = None, seed: int = 0,
        max_hops: int = 30,
        auto_sample_threshold: Optional[int] = 4096,
        driver_gate: Optional[int] = 50_000_000) -> DataFrame:
    """Betweenness centrality over the DIRECTED unweighted edge list:
    ``(id, betweenness)``, Brandes' dependency accumulation expressed as
    two level-synchronous DataFrame loops.

    Exact when run from every vertex; pass ``sample=k`` for the
    Brandes–Pich pivot estimator (Centrality Estimation in Large
    Networks, IJBC 2007): BFS from k deterministically-hashed pivots,
    results scaled by n/k — the standard trade at corpus scale, since
    exact betweenness is O(V·E). ``sources`` overrides pivot selection
    with an explicit one-column frame.

    Default SIZE GATE (r3 verdict item 4 — exact-by-default was the
    100×-scale killer): when neither ``sources`` nor ``sample`` is
    given and the graph has more than ``auto_sample_threshold``
    vertices, the sampled path switches on automatically with
    k = clamp(√n, 64, 1024) pivots — the same auto-degradation
    pattern as the SCC driver-Tarjan gate below. Pass
    ``auto_sample_threshold=None`` to force exact regardless of size
    (e.g. for oracles), or an explicit ``sample=k`` to pin k.

    Shape: forward pass = per-level frontier join counting shortest
    paths (``sigma``), backward pass = per-level join pushing
    ``sigma_v/sigma_w * (1 + delta_w)`` from each level to its
    predecessors (Brandes 2001, Thm. 6). All state is (source, vertex)
    keyed — k pivots × reachable vertices — every join an equi-join on
    vertex id, frames pinned per level, each forward pin observing the
    level's size (the halting test) in its own job. Level count
    is diameter-bound like
    :func:`~rust_graph_db_spark.operators.traversal.bfs_distances`;
    paths longer than ``max_hops`` are truncated (contributions from
    deeper vertices are dropped), so raise it for high-diameter graphs.
    """
    s, d = _pair_cols(edges)
    count = F.count(F.lit(1))
    e, (m,) = pin(edges.select(F.col(s).cast("long").alias("u"),
                               F.col(d).cast("long").alias("v"))
                  .where(F.col("u").isNotNull() & F.col("v").isNotNull())
                  .where(F.col("u") != F.col("v")).distinct(), n=count)
    verts, (n,) = pin(e.select(F.col("u").alias("id"))
                      .unionAll(e.select(F.col("v").alias("id"))).distinct(),
                      n=count)
    if (sources is None and sample is None
            and auto_sample_threshold is not None
            and n > auto_sample_threshold):
        sample = max(64, min(1024, int(n ** 0.5)))
    if sources is not None:
        srcs = sources.select(F.col(sources.columns[0]).cast("long")
                              .alias("s")).distinct()
        k = srcs.count()
    elif sample is not None and sample < n:
        # deterministic pivots: k smallest salted hashes — a seeded
        # uniform draw that is a pure function of (vertex set, seed)
        srcs = (verts.orderBy(F.xxhash64("id", F.lit(seed)))
                .limit(int(sample)).select(F.col("id").alias("s")))
        k = int(sample)
    else:
        srcs = verts.select(F.col("id").alias("s"))
        k = n
    scale = float(n) / float(k) if k else 1.0

    # Size-gated driver path (r7): the distributed loops below cost
    # two pinned jobs per BFS level (one in each level-synchronous
    # pass), while the whole per-pivot working set is k·(V+E)
    # recurrence steps. At or below ``driver_gate`` such steps
    # (default 5e7, a few seconds of driver CPU; edges are 16 B/row to
    # collect) the same
    # level-synchronous recurrence runs driver-side: identical sigma /
    # delta arithmetic (IEEE doubles), identical max_hops truncation,
    # identical pivots (the salted-hash draw is still computed by
    # Spark and collected). Pass driver_gate=0/None to force the
    # distributed loops; graphs above the gate take them unchanged —
    # the same auto-degradation discipline as the SCC driver-Tarjan
    # gate.
    if driver_gate and k * (n + m) <= driver_gate:
        pivots = [r["s"] for r in srcs.collect()]
        bc_map = _brandes_local([(r["u"], r["v"]) for r in e.collect()],
                                pivots, int(max_hops))
        spark = edges.sparkSession
        out = spark.createDataFrame(
            [(int(i), float(b)) for i, b in bc_map.items()] or [],
            "id LONG, b DOUBLE")
        return (verts.join(out, "id", "left")
                .select("id", (F.coalesce("b", F.lit(0.0))
                               * F.lit(scale)).alias("betweenness")))

    # ---- forward: per-level shortest-path counts sigma(s, v)
    frontier = srcs.select("s", F.col("s").alias("v"),
                           F.lit(1).cast("double").alias("sigma")) \
                   .localCheckpoint(eager=True)
    vis = frontier.withColumn("dist", F.lit(0))
    levels = [frontier]          # levels[l] = (s, v, sigma) first seen at l
    for lvl in range(1, max_hops + 1):
        cand = (frontier.join(e, frontier["v"] == e["u"])
                .select("s", e["v"].alias("v"), "sigma")
                .groupBy("s", "v").agg(F.sum("sigma").alias("sigma")))
        frontier, (n_new,) = pin(
            cand.join(vis.select("s", "v"), ["s", "v"], "left_anti"), n=count)
        if not n_new:
            break
        # vis stays a LAZY union of checkpointed levels: every branch
        # is pinned, so recomputing the union is a concat, and skipping
        # the per-level vis materialization saves one job per level
        vis = vis.unionAll(frontier.withColumn("dist", F.lit(lvl)))
        levels.append(frontier)

    # ---- backward: delta(s, v) accumulated from the deepest level up
    spark = edges.sparkSession
    delta = spark.createDataFrame([], "s LONG, v LONG, delta DOUBLE")
    acc = spark.createDataFrame([], "id LONG, contrib DOUBLE")
    for lvl in range(len(levels) - 1, 0, -1):
        w_nodes = (levels[lvl]
                   .join(delta, ["s", "v"], "left")
                   .select("s", F.col("v").alias("w"),
                           F.col("sigma").alias("sigma_w"),
                           F.coalesce("delta", F.lit(0.0)).alias("delta_w")))
        # push to predecessors: u at level-1 with an edge u→w
        pred = (e.join(w_nodes, e["v"] == w_nodes["w"])
                .select("s", "u", "sigma_w", "delta_w"))
        pred = (pred.join(
            levels[lvl - 1].select(
                "s", F.col("v").alias("u"), F.col("sigma").alias("sigma_u")),
            ["s", "u"]))
        contrib = (pred.groupBy("s", F.col("u").alias("v"))
                   .agg(F.sum(F.col("sigma_u") / F.col("sigma_w")
                              * (F.lit(1.0) + F.col("delta_w")))
                        .alias("delta"))
                   .localCheckpoint(eager=True))
        delta = contrib
        # endpoints excluded (standard Brandes: v != s)
        acc = acc.unionAll(
            contrib.where(F.col("v") != F.col("s"))
            .select(F.col("v").alias("id"), F.col("delta").alias("contrib")))
        if lvl % 8 == 0:
            acc = acc.localCheckpoint(eager=True)
    bc = (verts.join(acc.groupBy("id").agg(F.sum("contrib").alias("b")),
                     "id", "left")
          .select("id", (F.coalesce("b", F.lit(0.0)) * F.lit(scale))
                  .alias("betweenness")))
    return bc


def node2vec_walks(edges: DataFrame, walk_length: int = 10,
                   p: float = 1.0, q: float = 1.0,
                   walks_per_vertex: int = 1, seed: int = 0,
                   starts: Optional[DataFrame] = None,
                   hash_mode: str = "xxhash64") -> DataFrame:
    """Second-order biased random walks (node2vec — Grover & Leskovec,
    KDD 2016): the step from ``cur`` (having arrived from ``prev``)
    weights each neighbor x by 1/p if x == prev (return), 1 if x is
    also a neighbor of prev (BFS-ish), else 1/q (DFS-ish). p = q = 1
    degenerates to the uniform :func:`random_walks` distribution.

    Same determinism contract as :func:`random_walks`: the weighted
    choice draws its uniform from ``xxhash64(seed, walk_id, t, cur)``
    (or the SQL-mirrorable md5 variant when ``hash_mode="md5"`` — see
    :func:`_walk_choice_hash`), so the corpus is a pure function of
    (graph, p, q, seed). Returns ``(walk_id, start, step, vertex)``.

    Cost shape: per step, TWO adjacency joins (cur's and prev's
    neighbor lists) and an O(deg_cur) fold whose membership probe is
    O(deg_prev) — the inherent node2vec quadratic-in-degree factor;
    all arithmetic stays in Catalyst HOFs (no Python). The alias-table
    trick doesn't apply distributed (it preprocesses per DIRECTED EDGE
    pair — O(Σ deg²) storage), so the fold is the standard trade.
    """
    inv_p, inv_q = 1.0 / float(p), 1.0 / float(q)

    def choose(frontier: DataFrame, links: DataFrame, h) -> DataFrame:
        plinks = (links.select(F.col("src").alias("psrc"),
                               F.col("nbrs").alias("pnbrs")))
        j = (frontier.join(links, frontier["cur"] == links["src"])
             .join(plinks, frontier["prev"] == plinks["psrc"], "left"))
        pn = F.coalesce(F.col("pnbrs"), F.array().cast("array<long>"))
        prev_c = F.col("prev")
        # per-candidate node2vec weight; first step (prev NULL) = uniform
        weights = F.transform(
            F.col("nbrs"),
            lambda x: F.when(prev_c.isNull(), F.lit(1.0))
                       .when(x == prev_c, F.lit(inv_p))
                       .when(F.array_contains(pn, x), F.lit(1.0))
                       .otherwise(F.lit(inv_q)))
        total = F.aggregate(weights, F.lit(0.0), lambda a, w: a + w)
        r = (F.pmod(h, F.lit(1_000_003)).cast("double")
             / F.lit(1_000_003.0)) * total
        # first index whose cumulative weight reaches r (inverse-CDF);
        # fold state = (cumulative, chosen index, position counter)
        idx = F.aggregate(
            weights,
            F.struct(F.lit(0.0).alias("cum"), F.lit(-1).alias("idx"),
                     F.lit(0).alias("i")),
            lambda st, w: F.struct(
                (st["cum"] + w).alias("cum"),
                F.when(st["idx"] >= 0, st["idx"])
                 .when(st["cum"] + w >= r, st["i"])
                 .otherwise(F.lit(-1)).alias("idx"),
                (st["i"] + 1).alias("i")),
            # float-edge fallback: r == total exactly → last index
            lambda st: F.when(st["idx"] >= 0, st["idx"])
                        .otherwise(st["i"] - 1))
        return j.select("walk_id", "start",
                        F.element_at("nbrs", (idx + 1).cast("int"))
                         .alias("cur"),
                        frontier["cur"].alias("prev"))

    return _walks(edges, walk_length, walks_per_vertex, seed, starts,
                  hash_mode, choose)


def modularity(edges: DataFrame, assignment: DataFrame,
               id_col: str = "id", community_col: str = "community",
               decimals: int = 6) -> DataFrame:
    """Newman modularity Q of a community assignment over the
    UNDIRECTED simple graph: Q = Σ_c (e_c/m − (d_c/2m)²), where e_c is
    the intra-community edge count and d_c the community's total degree
    (Newman & Girvan 2004) — the standard evaluation metric for
    :func:`label_propagation` / :func:`connected_components` output.
    Returns one row ``(modularity)``; vertices missing from the
    assignment count as their own singleton communities.

    One symmetric-pair scan: degrees and intra-edges are two
    aggregations off the same (u, v, cu, cv) join; all shuffles are
    vertex- or community-keyed and the result is O(communities).
    """
    und = _undirected_min_nbr(edges)      # symmetric, self-loop-free
    asg = assignment.select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(community_col).cast("long").alias("c"))
    labeled = (und
               .join(asg.withColumnRenamed("vid", "u")
                        .withColumnRenamed("c", "cu"), "u", "left")
               .join(asg.withColumnRenamed("vid", "v")
                        .withColumnRenamed("c", "cv"), "v", "left")
               # singleton fallback: unassigned vertex = own community,
               # encoded as a negative key that cannot collide with a
               # community id (ids are nonneg longs under the packing)
               .select(F.coalesce("cu", -F.col("u") - 1).alias("cu"),
                       F.coalesce("cv", -F.col("v") - 1).alias("cv")))
    # und has each undirected edge as BOTH orientations: m2 = 2m,
    # intra2 = 2·e_c, and per-community degree is the row count
    stats = (labeled.groupBy("cu")
             .agg(F.count("*").alias("d_c"),
                  F.sum((F.col("cu") == F.col("cv")).cast("long"))
                  .alias("intra2")))
    q = (stats.agg(
            F.sum("d_c").alias("m2"),
            F.sum("intra2").alias("i2"),
            F.sum(F.col("d_c") * F.col("d_c")).alias("dsq"))
         .select(F.round(
             F.col("i2") / F.col("m2")
             - F.col("dsq") / (F.col("m2") * F.col("m2")),
             decimals).alias("modularity")))
    return q


def local_clustering(edges: DataFrame) -> DataFrame:
    """Per-vertex local clustering coefficient (Watts & Strogatz 1998):
    ``(id, degree, triangles, lcc)`` with lcc = 2*tri / (deg*(deg-1)),
    0 when deg < 2 — the per-vertex refinement of ``graph_profile``'s
    global transitivity and the LAST member of the triangle family
    (count: :func:`triangle_count`, peel: :func:`k_truss`).

    Same degree-oriented wedge join as :func:`triangle_count` —
    arboricity-bounded fan-out, the property that keeps the self-join
    alive on power-law graphs at 100 TB — then each closed triangle is
    exploded to its THREE corners and counted per vertex (one extra
    map-side explode + one count shuffle keyed by vertex; nothing
    quadratic). Numerator and denominator are exact integers; lcc is
    ONE double division of exact ints, so the oracle hashes bitwise
    (the g22/g24 unrounded-quotient contract).
    """
    sym = _undirected_min_nbr(edges)
    deg = sym.groupBy(F.col("u").alias("id")).agg(F.count("*").alias("deg"))
    ranked = (sym.join(deg.select(F.col("id").alias("u"),
                                  F.col("deg").alias("du")), "u")
              .join(deg.select(F.col("id").alias("v"),
                               F.col("deg").alias("dv")), "v"))
    oriented = (ranked.where((F.col("du") < F.col("dv"))
                             | ((F.col("du") == F.col("dv"))
                                & (F.col("u") < F.col("v"))))
                .select("u", "v"))
    w1 = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"))
    w2 = oriented.select(F.col("u").alias("a"), F.col("v").alias("c"))
    wedges = w1.join(w2, "a").where(F.col("b") < F.col("c"))
    closing = oriented.select(F.least("u", "v").alias("b"),
                              F.greatest("u", "v").alias("c"))
    tri = wedges.join(closing, ["b", "c"])
    per_v = (tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
             .groupBy("id").agg(F.count("*").alias("tri")))
    return (deg.join(per_v, "id", "left")
            .select("id", F.col("deg").cast("long").alias("degree"),
                    F.coalesce("tri", F.lit(0)).cast("long")
                    .alias("triangles"))
            .withColumn(
                "lcc",
                F.when(F.col("degree") < 2, F.lit(0.0)).otherwise(
                    (F.lit(2) * F.col("triangles")).cast("double")
                    / (F.col("degree") * (F.col("degree") - 1))
                    .cast("double"))))
