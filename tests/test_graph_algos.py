"""Whole-graph algorithms (operators/graph_algos.py) + Cypher UNION."""

import pytest
from pyspark.sql import functions as F

from rust_graph_db_spark import probe
from rust_graph_db_spark.operators.graph_algos import (
    connected_components, degrees, duplicate_clusters, pagerank,
    triangle_count,
)


@pytest.fixture(scope="module")
def edges(spark):
    # two chains {1,2,3}, {5,6}, one 3-cycle {8,9,10}
    return spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (10, 8)], "u LONG, v LONG")


def test_connected_components(edges):
    got = {(r.id, r.component) for r in connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (5, 5), (6, 5),
                   (8, 8), (9, 8), (10, 8)}


def test_connected_components_distributed_star_rounds(spark, edges):
    # force the distributed large-star/small-star path on the module graph
    got = {(r.id, r.component)
           for r in connected_components(edges, driver_threshold=0).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (5, 5), (6, 5),
                   (8, 8), (9, 8), (10, 8)}


def test_connected_components_long_chain(spark):
    # A 4096-vertex path is the adversarial high-diameter case: min-label
    # propagation needs O(diameter)=4095 rounds, large-star/small-star
    # ~log n. max_iter=13 only converges with the star algorithm.
    n = 4096
    chain = spark.range(n - 1).select(
        F.col("id").alias("u"), (F.col("id") + 1).alias("v"))
    labels = connected_components(chain, max_iter=13, driver_threshold=0)
    rows = labels.collect()
    assert len(rows) == n
    assert {r.component for r in rows} == {0}


def test_connected_components_exhausted_rounds_raise(spark):
    # one star round leaves a 201-vertex path far from its star-forest
    # fixpoint; projecting it would invent ~199 components
    chain = spark.range(200).select(
        F.col("id").alias("u"), (F.col("id") + 1).alias("v"))
    with pytest.raises(RuntimeError, match="not converged"):
        connected_components(chain, max_iter=1, driver_threshold=0)
    rows = connected_components(chain, driver_threshold=0).collect()
    assert len(rows) == 201
    assert {r.component for r in rows} == {0}


def _jobs_of(spark, fn):
    """(result, number of Spark jobs fn ran)."""
    with probe.jobs(spark) as rec:
        out = fn()
    return out, rec.n


def test_supersteps_probe_rides_in_the_pin_job(spark):
    from rust_graph_db_spark.operators.pregel import pin, supersteps

    state = spark.range(100).select(F.col("id").alias("x"))

    def step(df):
        return df.select((F.col("x") + 1).alias("x"))

    # a probed run also pins (and probes) its entry state, so the
    # unprobed baseline starts from a pinned entry: the same pins
    _, plain_jobs = _jobs_of(
        spark, lambda: supersteps(pin(state)[0], step, 4))
    (probed, conv), probed_jobs = _jobs_of(
        spark, lambda: supersteps(state, step, 4,
                                  probe={"s": F.sum("x")}))
    assert not conv
    assert probed_jobs <= plain_jobs
    assert probed.agg(F.sum("x")).first()[0] == sum(range(4, 104))


def test_supersteps_halts_at_first_repeated_probe(spark):
    from rust_graph_db_spark.operators.pregel import supersteps

    calls = []

    def step(df):
        calls.append(1)
        return df.select(F.greatest(F.col("x") - 10, F.lit(0)).alias("x"))

    # x ≤ 35 reaches 0 after 4 steps; step 5 repeats the probe
    state = spark.range(36).select(F.col("id").alias("x"))
    out, conv = supersteps(state, step, 20,
                           probe={"n": F.count(F.lit(1)), "s": F.sum("x")})
    assert conv and len(calls) == 5
    assert out.agg(F.max("x")).first()[0] == 0
    # two steps per pin: halting is only tested at the pins after steps
    # 2, 4 and 6 — step 4's sum of 0 repeats at step 6
    calls.clear()
    _, conv = supersteps(state, step, 20, per_pin=2,
                         probe={"s": F.sum("x")})
    assert conv and len(calls) == 6


def test_supersteps_reports_exhausted_rounds(spark):
    from rust_graph_db_spark.operators.pregel import supersteps

    state = spark.range(10).select(F.col("id").alias("x"))
    out, conv = supersteps(state, lambda df: df.select(
        (F.col("x") * 2).alias("x")), 3, probe={"s": F.sum("x")})
    assert not conv
    assert out.agg(F.sum("x")).first()[0] == 45 * 8
    # rounds=5 with per_pin=2 pins after steps 2, 4 and 5
    _, conv = supersteps(state, lambda df: df, 5, per_pin=2)
    assert not conv


def test_pin_reports_aggregates_of_empty_frames(spark):
    import threading

    from rust_graph_db_spark.operators.pregel import pin

    empty = spark.createDataFrame([], "x LONG")
    pruned = spark.range(5).select(F.col("id").alias("x")).where(F.lit(False))
    for df in (empty, pruned):
        got = []
        # a daemon thread: an Observation that never fills must fail
        # the test, not hang it
        t = threading.Thread(target=lambda: got.append(
            pin(df, n=F.count(F.lit(1)), s=F.sum("x"))), daemon=True)
        t.start()
        t.join(120)
        assert got, "pin blocked on an empty frame"
        pinned, vals = got[0]
        assert vals == (0, None)
        assert pinned.count() == 0


def test_duplicate_clusters(spark):
    pairs = spark.createDataFrame([(4, 9), (9, 11), (20, 21)], "i LONG, j LONG")
    got = {(r.id, r.cluster) for r in duplicate_clusters(pairs).collect()}
    assert got == {(4, 4), (9, 4), (11, 4), (20, 20), (21, 20)}


def test_degrees(edges):
    got = {(r.id, r.out_deg, r.in_deg, r.deg) for r in degrees(edges).collect()}
    assert (2, 1, 1, 2) in got and (1, 1, 0, 1) in got and (3, 0, 1, 1) in got


def test_triangle_count(edges):
    assert triangle_count(edges).collect()[0].triangles == 1


def test_triangle_count_complete_graph(spark):
    # K4 has 4 triangles
    e = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)], "u LONG, v LONG")
    assert triangle_count(e).collect()[0].triangles == 4


def test_pagerank_star(spark):
    # hub-and-spoke: all spokes point at 0 → 0 has max rank; ranks sum ≈ n
    e = spark.createDataFrame([(i, 0) for i in range(1, 6)], "u LONG, v LONG")
    ranks = {r.id: r.rank for r in pagerank(e, iterations=10).collect()}
    assert max(ranks, key=ranks.get) == 0
    # spokes have no in-links: rank (1-d); hub: (1-d) + d*5*(1-d)
    assert abs(ranks[1] - 0.15) < 1e-9
    assert abs(ranks[0] - (0.15 + 0.85 * 5 * 0.15)) < 1e-9


def test_pagerank_copartition_parity(spark):
    # the co-partitioned loop computes the textbook power iteration
    import collections

    edges = [(i, (i + 1) % 10) for i in range(10)] + [(0, 5), (3, 7)]
    e = spark.createDataFrame(edges, "u LONG, v LONG")
    out = collections.defaultdict(list)
    for s, d in edges:
        out[s].append(d)
    ref = {v: 1.0 for v in range(10)}
    for _ in range(6):
        contrib = collections.defaultdict(float)
        for s, ds in out.items():
            for d in ds:
                contrib[d] += ref[s] / len(ds)
        ref = {v: 0.15 + 0.85 * contrib.get(v, 0.0) for v in ref}
    got = {r.id: r.rank for r in pagerank(e, iterations=6).collect()}
    assert got.keys() == ref.keys()
    assert all(abs(got[k] - ref[k]) < 1e-9 for k in ref)


def test_pagerank_copartitioned_step_single_exchange(spark):
    # The co-partitioned loop's per-iteration plan: links/verts pinned
    # to one HashPartitioning, so the only Exchange is the contribution
    # groupBy re-key — the static link table is NEVER re-shuffled.
    # (Requires AQE off: under AQE a checkpointed frame's partitioning
    # is Unknown and both exchanges come back — the regression this
    # test guards.)
    from rust_graph_db_spark.operators.graph_algos import (
        _pr_frames, _pr_step)

    e = spark.createDataFrame(
        [(i, (i + 3) % 50) for i in range(50)], "src LONG, dst LONG") \
        .localCheckpoint(eager=True)
    with probe.conf(spark, **{"spark.sql.adaptive.enabled": "false",
                              "spark.sql.autoBroadcastJoinThreshold": "-1",
                              "spark.sql.shuffle.partitions": "4"}):
        verts, links = _pr_frames(e, nparts=4)
        ranks = verts.withColumn("rank", F.lit(1.0)).localCheckpoint(
            eager=True)
        step = _pr_step(verts, links, ranks, 0.85)
        n_ex = probe.exchanges(step)
        assert n_ex == 1, f"expected 1 Exchange per iteration, got {n_ex}"


def test_cypher_union(kg):
    both = kg.cypher(
        "MATCH (p:Person) WHERE p.age > 75 RETURN p.name AS name "
        "UNION MATCH (p:Person) WHERE p.age > 75 RETURN p.name AS name")
    alls = kg.cypher(
        "MATCH (p:Person) WHERE p.age > 75 RETURN p.name AS name "
        "UNION ALL MATCH (p:Person) WHERE p.age > 75 RETURN p.name AS name")
    n = kg.cypher(
        "MATCH (p:Person) WHERE p.age > 75 RETURN p.name AS name").count()
    assert both.count() == n
    assert alls.count() == 2 * n


def test_cypher_union_mixed_rejected(kg):
    with pytest.raises(Exception, match="mix"):
        kg.cypher(
            "MATCH (p:Person) RETURN p.name AS n UNION "
            "MATCH (p:Person) RETURN p.name AS n UNION ALL "
            "MATCH (p:Person) RETURN p.name AS n")


def test_register_cypher_function(kg):
    from pyspark.sql import functions as F

    from rust_graph_db_spark.functions.scalar import (
        register_cypher_function, unregister_cypher_function,
    )

    register_cypher_function("double_it", lambda c: c * 2)
    try:
        rows = kg.cypher("MATCH (p:Person {name:'Person3'}) "
                         "RETURN double_it(p.age) AS d").collect()
        assert rows[0]["d"] == 2 * (20 + 3 % 60)
    finally:
        unregister_cypher_function("double_it")
    with pytest.raises(Exception, match="unknown function"):
        kg.cypher("MATCH (p:Person) RETURN double_it(p.age) AS d")


def test_register_pandas_udf_function(kg):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from rust_graph_db_spark.functions.scalar import (
        register_cypher_function, unregister_cypher_function,
    )

    @pandas_udf("long")
    def _vowels(s: pd.Series) -> pd.Series:
        return s.str.count("[aeiouAEIOU]")

    register_cypher_function("vowel_count", _vowels)
    try:
        rows = kg.cypher("MATCH (p:Person {name:'Person3'}) "
                         "RETURN vowel_count(p.name) AS v").collect()
        assert rows[0]["v"] == 2  # 'Person3' -> e, o
    finally:
        unregister_cypher_function("vowel_count")


from hypothesis import HealthCheck, given, settings, strategies as st


@settings(max_examples=6, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_connected_components_random_graphs_star_path(spark, data):
    """Random edge lists through the distributed large-star/small-star
    path (driver_threshold=0) match a reference union-find."""
    n = data.draw(st.integers(min_value=2, max_value=40), label="n")
    m = data.draw(st.integers(min_value=1, max_value=80), label="m")
    edges = [(data.draw(st.integers(min_value=0, max_value=n - 1), label="u"),
              data.draw(st.integers(min_value=0, max_value=n - 1), label="v"))
             for _ in range(m)]

    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    ids = set()
    for u, v in edges:
        if u == v:
            ids.add(u)          # self loop: vertex exists, no union
            continue
        ids.update((u, v))
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = sorted((ru, rv))
            parent[hi] = lo
    want = {v: find(v) for v in ids}
    # star rounds drop vertices that appear ONLY in self loops (no
    # pairs survive the u != v filter) — mirror that in the model
    pure_self = {v for v in ids if not any(
        (a == v or b == v) and a != b for a, b in edges)}
    for v in pure_self:
        want.pop(v, None)

    df = spark.createDataFrame(edges, "u LONG, v LONG")
    got = {r.id: r.component
           for r in connected_components(df, driver_threshold=0).collect()}
    assert got == want


def test_personalized_pagerank_matches_reference_iteration(spark):
    """PPR vs a direct Python power iteration on a graph with a cycle,
    a dangling vertex, and a vertex unreachable from the source set —
    checks single- and multi-source and the unreachable-gets-zero
    property."""
    import collections

    from rust_graph_db_spark.operators.graph_algos import \
        personalized_pagerank

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (9, 1)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")

    out = collections.defaultdict(list)
    nodes = set()
    for s, d in edges:
        out[s].append(d)
        nodes |= {s, d}

    def ref(sources, iters=12, damp=0.85):
        w = 1.0 / len(sources)
        reset = {v: (w if v in sources else 0.0) for v in nodes}
        r = dict(reset)
        for _ in range(iters):
            contrib = collections.defaultdict(float)
            for s, ds in out.items():
                for d in ds:
                    contrib[d] += r[s] / len(ds)
            r = {v: 0.15 * reset[v] + damp * contrib.get(v, 0.0)
                 for v in nodes}
        return r

    for sources in ([1], [1, 4]):
        got = {r.id: r.rank
               for r in personalized_pagerank(df, sources,
                                              iterations=12).collect()}
        want = ref(set(sources))
        assert set(got) == nodes
        assert all(abs(got[v] - want[v]) < 1e-9 for v in nodes)
    # 9 has no in-edges and is not a source → teleport never reaches it
    got1 = {r.id: r.rank
            for r in personalized_pagerank(df, 1, iterations=12).collect()}
    assert got1[9] == 0.0

    # a source absent from the edge list joins the vertex universe and
    # keeps its own teleport share ((1-d)·1) instead of the whole
    # result silently collapsing to all-zeros
    iso = {r.id: r.rank
           for r in personalized_pagerank(df, [99], iterations=6).collect()}
    assert abs(iso[99] - 0.15) < 1e-12
    assert all(v == 0.0 for k, v in iso.items() if k != 99)


def test_random_walks_valid_deterministic(spark):
    """Walk invariants: every consecutive pair is a real edge, step 0 is
    the start vertex, walks stop exactly at sinks, replicas produce
    distinct walk ids, and two runs are byte-identical (determinism is
    the operator's contract — embedding corpora must be reproducible)."""
    from rust_graph_db_spark.operators.graph_algos import random_walks

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (3, 4), (4, 5), (6, 1)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    eset = set(edges)

    rows = random_walks(df, walk_length=8, walks_per_vertex=2,
                        seed=7).collect()
    walks: dict = {}
    starts: dict = {}
    for r in rows:
        walks.setdefault(r.walk_id, {})[r.step] = r.vertex
        starts[r.walk_id] = r.start
    # 5 start vertices (vertices with out-edges) x 2 replicas
    assert len(walks) == 10
    sinks = {v for _, v in edges} - {s for s, _ in edges}
    for wid, steps in walks.items():
        seq = [steps[i] for i in sorted(steps)]
        assert seq[0] == starts[wid]
        assert all((a, b) in eset for a, b in zip(seq, seq[1:]))
        # full length unless the walk hit a sink (which ends it)
        if len(seq) < 8:
            assert seq[-1] in sinks
        assert sorted(steps) == list(range(len(seq)))

    again = random_walks(df, walk_length=8, walks_per_vertex=2,
                         seed=7).collect()
    assert (sorted(map(tuple, rows)) == sorted(map(tuple, again)))
    # a different seed changes at least one walk on this graph
    other = random_walks(df, walk_length=8, walks_per_vertex=2,
                         seed=8).collect()
    assert (sorted((r.start, r.step, r.vertex) for r in other)
            != sorted((r.start, r.step, r.vertex) for r in rows))


def test_walk_skipgram_pairs(spark):
    """Pairs from a hand-built 2-walk frame match the direct window
    enumeration (symmetry, distances, no cross-walk pairs)."""
    from rust_graph_db_spark.operators.graph_algos import \
        walk_skipgram_pairs

    rows = [(100, 1, s, v) for s, v in enumerate([1, 2, 3, 4])] \
         + [(200, 5, s, v) for s, v in enumerate([5, 6])]
    walks = spark.createDataFrame(
        rows, "walk_id LONG, start LONG, step INT, vertex LONG")
    got = sorted((r.center, r.context, r.dist)
                 for r in walk_skipgram_pairs(walks, window=2).collect())
    want = []
    for seq in ([1, 2, 3, 4], [5, 6]):
        for i, c in enumerate(seq):
            for j, x in enumerate(seq):
                if i != j and abs(i - j) <= 2:
                    want.append((c, x, abs(i - j)))
    assert got == sorted(want)


def test_neighborhood_function_vs_exact_bfs(spark):
    """HyperBall estimates vs exact all-pairs BFS on a graph with a
    cycle, a tail, and an isolated-ish edge: N(h) must be monotone,
    start at n, saturate at the true reachable-pair count, and track
    the exact neighborhood function within HLL error (tiny balls at
    lgk=12 are near-exact, so 5% is generous)."""
    import collections

    from rust_graph_db_spark.operators.graph_algos import \
        neighborhood_function

    edges = ([(i, (i + 1) % 20) for i in range(20)]       # 20-cycle
             + [(100, 101), (101, 102)]                   # 3-chain
             + [(0, 100)])                                # bridge in
    df = spark.createDataFrame(edges, "src LONG, dst LONG")

    out = collections.defaultdict(set)
    nodes = set()
    for s, d in edges:
        out[s].add(d)
        nodes |= {s, d}

    def exact_nf(h):
        total = 0
        for v in nodes:
            ball = {v}
            frontier = {v}
            for _ in range(h):
                frontier = {w for u in frontier for w in out.get(u, ())} - ball
                ball |= frontier
            total += len(ball)
        return total

    got = {r.hop: r.n_pairs
           for r in neighborhood_function(df, max_hops=25).collect()}
    assert got[0] == len(nodes)
    assert all(got[h] >= got[h - 1] for h in range(1, 26))
    for h in range(0, 26):
        want = exact_nf(h)
        assert abs(got[h] - want) <= max(2, 0.05 * want), (h, got[h], want)
    # saturation: by hop 25 every ball is the full reachable set
    assert abs(got[25] - exact_nf(30)) <= max(2, 0.05 * exact_nf(30))


def test_harmonic_centrality_vs_exact_bfs(spark):
    """HyperBall harmonic centrality vs exact per-vertex BFS on the
    same cycle+tail+bridge graph: H(v) = sum of 1/d(v,u) over vertices
    reachable from v. Tiny balls at lgk=12 are near-exact, so the
    tolerance is HLL-noise-sized; an isolated sink (102) must score 0."""
    import collections

    from rust_graph_db_spark.operators.graph_algos import \
        harmonic_centrality

    edges = ([(i, (i + 1) % 20) for i in range(20)]
             + [(100, 101), (101, 102)]
             + [(0, 100)])
    df = spark.createDataFrame(edges, "src LONG, dst LONG")

    out = collections.defaultdict(set)
    nodes = set()
    for s, d in edges:
        out[s].add(d)
        nodes |= {s, d}

    def exact_h(v):
        dist = {v: 0}
        frontier = {v}
        h = 0
        while frontier:
            h += 1
            frontier = {w for u in frontier for w in out.get(u, ())
                        if w not in dist}
            for w in frontier:
                dist[w] = h
        return sum(1.0 / d_ for u, d_ in dist.items() if u != v)

    got = {r.id: r.harmonic
           for r in harmonic_centrality(df, max_hops=32).collect()}
    assert set(got) == nodes
    assert got[102] == 0.0
    for v in nodes:
        want = exact_h(v)
        assert abs(got[v] - want) <= max(0.1, 0.05 * want), (v, got[v], want)


def test_closeness_centrality_vs_exact_bfs(spark):
    """HyperBall closeness (Lin's index) vs exact per-vertex BFS on the
    same cycle+tail+bridge graph: C(v) = r(v)² / (n·S(v)) with r the
    reachable count and S the distance sum. Tiny balls at lgk=12 are
    near-exact; the isolated sink (102) must score 0."""
    import collections

    from rust_graph_db_spark.operators.graph_algos import \
        closeness_centrality

    edges = ([(i, (i + 1) % 20) for i in range(20)]
             + [(100, 101), (101, 102)]
             + [(0, 100)])
    df = spark.createDataFrame(edges, "src LONG, dst LONG")

    out = collections.defaultdict(set)
    nodes = set()
    for s, d in edges:
        out[s].add(d)
        nodes |= {s, d}

    def exact_c(v):
        dist = {v: 0}
        frontier = {v}
        h = 0
        while frontier:
            h += 1
            frontier = {w for u in frontier for w in out.get(u, ())
                        if w not in dist}
            for w in frontier:
                dist[w] = h
        r = len(dist) - 1
        s_ = sum(d_ for u, d_ in dist.items() if u != v)
        return (r * r) / (len(nodes) * s_) if s_ else 0.0

    got = {r.id: r.closeness
           for r in closeness_centrality(df, max_hops=32).collect()}
    assert set(got) == nodes
    assert got[102] == 0.0
    for v in nodes:
        want = exact_c(v)
        assert abs(got[v] - want) <= max(0.01, 0.08 * want), \
            (v, got[v], want)


# ------------------------------------------------------ strong components

SCC_EDGES = [
    # 3-cycle {1,2,3} feeding a 2-cycle {4,5}; 6 points in (singleton);
    # 7 has only a self-loop (singleton); 8->9 chain (two singletons)
    (1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4),
    (6, 4), (7, 7), (8, 9),
]
SCC_EXPECT = {(1, 1), (2, 1), (3, 1), (4, 4), (5, 4),
              (6, 6), (7, 7), (8, 8), (9, 9)}


def test_scc_driver(spark):
    from rust_graph_db_spark.operators.graph_algos import (
        strongly_connected_components,
    )

    e = spark.createDataFrame(SCC_EDGES, "u LONG, v LONG")
    got = {(r.id, r.component)
           for r in strongly_connected_components(e).collect()}
    assert got == SCC_EXPECT


def test_scc_distributed(spark):
    from rust_graph_db_spark.operators.graph_algos import (
        strongly_connected_components,
    )

    e = spark.createDataFrame(SCC_EDGES, "u LONG, v LONG")
    got = {(r.id, r.component)
           for r in strongly_connected_components(
               e, driver_threshold=0).collect()}
    assert got == SCC_EXPECT


def test_scc_distributed_propagation_exhausted_raises(spark):
    """A 10-vertex directed cycle needs 9 forward max-colour steps; with
    max_prop_iter=2 the distributed path must raise, not return the
    colouring of an unconverged propagation."""
    from rust_graph_db_spark.operators.graph_algos import (
        strongly_connected_components,
    )

    e = spark.createDataFrame([(i, (i + 1) % 10) for i in range(10)],
                              "u LONG, v LONG")
    with pytest.raises(RuntimeError, match="max_prop_iter=2"):
        strongly_connected_components(
            e, driver_threshold=0, max_prop_iter=2).collect()


def test_scc_distributed_matches_driver_random(spark):
    # random sparse digraph: the distributed coloring path must agree
    # with driver-side Tarjan exactly
    import random

    rng = random.Random(7)
    n = 60
    edges = list({(rng.randrange(n), rng.randrange(n)) for _ in range(150)})
    from rust_graph_db_spark.operators.graph_algos import (
        strongly_connected_components,
    )

    e = spark.createDataFrame(edges, "u LONG, v LONG")
    drv = {(r.id, r.component)
           for r in strongly_connected_components(e).collect()}
    dist = {(r.id, r.component)
            for r in strongly_connected_components(
                e, driver_threshold=0).collect()}
    assert drv == dist


def test_scc_nested_cycles_driver(spark):
    # one big SCC {0..5} built from two overlapping cycles, plus a tail
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 2), (5, 6)],
        "u LONG, v LONG")
    from rust_graph_db_spark.operators.graph_algos import (
        strongly_connected_components,
    )

    got = {(r.id, r.component)
           for r in strongly_connected_components(e).collect()}
    assert got == {(0, 0), (1, 0), (2, 0), (3, 0), (4, 0), (5, 0), (6, 6)}


# ------------------------------------------------------ betweenness

def _exact_betweenness(edges, nodes):
    """Pure-Python directed unweighted Brandes (reference oracle)."""
    from collections import defaultdict, deque

    adj = defaultdict(list)
    for u, v in edges:
        if u != v:
            adj[u].append(v)
    bc = dict.fromkeys(nodes, 0.0)
    for s in nodes:
        # BFS
        sigma = defaultdict(float)
        sigma[s] = 1.0
        dist = {s: 0}
        order = []
        preds = defaultdict(list)
        q = deque([s])
        while q:
            v = q.popleft()
            order.append(v)
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = defaultdict(float)
        for w in reversed(order):
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return bc


def test_betweenness_exact_matches_bruteforce(spark):
    import random

    from rust_graph_db_spark.operators.graph_algos import (
        betweenness_centrality,
    )

    rng = random.Random(11)
    n = 25
    edges = list({(rng.randrange(n), rng.randrange(n)) for _ in range(70)})
    nodes = sorted({x for e in edges for x in e})
    want = _exact_betweenness(edges, nodes)
    e = spark.createDataFrame(edges, "u LONG, v LONG")
    got = {r.id: r.betweenness
           for r in betweenness_centrality(e).collect()}
    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v] - want[v]) < 1e-6, (v, got[v], want[v])


def test_betweenness_path_graph(spark):
    # directed path 0->1->2->3->4: interior v has v*(4-v) pair paths
    from rust_graph_db_spark.operators.graph_algos import (
        betweenness_centrality,
    )

    e = spark.createDataFrame([(i, i + 1) for i in range(4)],
                              "u LONG, v LONG")
    got = {r.id: r.betweenness
           for r in betweenness_centrality(e).collect()}
    assert got == {0: 0.0, 1: 3.0, 2: 4.0, 3: 3.0, 4: 0.0}


def test_betweenness_driver_path_matches_distributed(spark):
    """r7 optimization: at or below driver_gate recurrence steps the
    Brandes loops replay on the driver. driver_gate=0 forces the
    distributed loops; on integer-valued graphs (trees/paths/random
    sparse here) both paths must agree to float tolerance, and pivot
    selection (the salted-hash draw) must be identical."""
    import random

    from rust_graph_db_spark.operators.graph_algos import (
        betweenness_centrality,
    )

    rng = random.Random(7)
    n = 40
    edges = list({(rng.randrange(n), rng.randrange(n))
                  for _ in range(140)})
    e = spark.createDataFrame(edges, "u LONG, v LONG")
    for kw in [dict(), dict(sample=6, seed=2), dict(max_hops=2)]:
        drv = {r.id: r.betweenness
               for r in betweenness_centrality(e, **kw).collect()}
        dist = {r.id: r.betweenness
                for r in betweenness_centrality(
                    e, driver_gate=0, **kw).collect()}
        assert set(drv) == set(dist)
        for v in drv:
            assert abs(drv[v] - dist[v]) < 1e-9, (kw, v)


def test_betweenness_sampled_scales(spark):
    from rust_graph_db_spark.operators.graph_algos import (
        betweenness_centrality,
    )

    # star: center 0 on every shortest path between leaf pairs
    edges = [(0, i) for i in range(1, 9)] + [(i, 0) for i in range(1, 9)]
    e = spark.createDataFrame(edges, "u LONG, v LONG")
    exact = {r.id: r.betweenness for r in betweenness_centrality(e).collect()}
    assert exact[0] == 8 * 7 and all(exact[i] == 0.0 for i in range(1, 9))
    est = {r.id: r.betweenness
           for r in betweenness_centrality(e, sample=4, seed=3).collect()}
    # every pivot's BFS routes through the center, scaled by n/k
    assert est[0] > 0 and all(est[i] == 0.0 for i in range(1, 9))


# ------------------------------------------------------------- node2vec

def test_node2vec_walks_valid_and_deterministic(spark):
    import random

    from rust_graph_db_spark.operators.graph_algos import node2vec_walks

    rng = random.Random(3)
    n = 30
    edges = list({(rng.randrange(n), rng.randrange(n)) for _ in range(120)}
                 - {(i, i) for i in range(n)})
    e = spark.createDataFrame(edges, "u LONG, v LONG")
    w1 = sorted(map(tuple, node2vec_walks(
        e, walk_length=6, p=2.0, q=0.5, seed=4).collect()))
    w2 = sorted(map(tuple, node2vec_walks(
        e, walk_length=6, p=2.0, q=0.5, seed=4).collect()))
    assert w1 == w2 and len(w1) > 0
    # every consecutive step follows a real edge
    eset = set(edges)
    bywalk = {}
    for wid, start, step, v in w1:
        bywalk.setdefault(wid, {})[step] = v
    for steps in bywalk.values():
        for t in range(1, max(steps) + 1):
            if t in steps and t - 1 in steps:
                assert (steps[t - 1], steps[t]) in eset


def test_node2vec_bias(spark):
    # path 0<->1<->2: from 1 (prev 0) the choice is return (1/p) vs
    # advance (1/q) — p>>q must mostly advance, p<<q mostly return
    from pyspark.sql import functions as F

    from rust_graph_db_spark.operators.graph_algos import node2vec_walks

    e = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 1)], "u LONG, v LONG")
    starts = spark.createDataFrame([(0,)], "id LONG")

    def step2_counts(p, q):
        w = node2vec_walks(e, walk_length=3, p=p, q=q,
                           walks_per_vertex=400, seed=9, starts=starts)
        rows = w.where(F.col("step") == 2).groupBy("vertex").count().collect()
        return {r.vertex: r["count"] for r in rows}

    outward = step2_counts(p=10.0, q=0.1)
    homing = step2_counts(p=0.1, q=10.0)
    assert outward.get(2, 0) > outward.get(0, 0) * 5
    assert homing.get(0, 0) > homing.get(2, 0) * 5


def test_modularity_textbook(spark):
    # two triangles joined by a bridge, split at the bridge:
    # m=7, e_c=3 each, d_c=7 each -> Q = 2*(3/7 - 0.25) = 0.357143
    from rust_graph_db_spark.operators.graph_algos import modularity

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3)],
        "u LONG, v LONG")
    asg = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 1), (4, 1), (5, 1)],
        "id LONG, community LONG")
    q = modularity(e, asg).first().modularity
    assert abs(q - 0.357143) < 1e-6
    # everything in ONE community: Q = 1 - sum(d^2)/(2m)^2... for a
    # single community Q = e/m - (d/2m)^2 = 1 - 1 = 0
    one = asg.select("id", (asg.community * 0).alias("community"))
    assert abs(modularity(e, one).first().modularity) < 1e-9
    # unassigned vertices become singletons (bridge endpoints split)
    partial = asg.where("id < 3")
    qp = modularity(e, partial).first().modularity
    assert qp < q


def test_weighted_pagerank_vs_power_iteration(spark):
    import random

    from rust_graph_db_spark.operators.graph_algos import pagerank

    rng = random.Random(5)
    n = 20
    edges = list({(rng.randrange(n), rng.randrange(n))
                  for _ in range(60)} - {(i, i) for i in range(n)})
    wedges = [(u, v, 0.5 + ((u * 7 + v) % 10) / 4.0) for u, v in edges]
    e = spark.createDataFrame(wedges, "u LONG, v LONG, w DOUBLE")
    got = {r.id: r.rank
           for r in pagerank(e, iterations=12, weight_col="w").collect()}

    # reference: direct weighted power iteration (same GraphX-style
    # update: rank = (1-d) + d * sum(in_rank * w / out_weight))
    nodes = sorted({x for u, v, _ in wedges for x in (u, v)})
    out_w = {}
    for u, v, w in wedges:
        out_w[u] = out_w.get(u, 0.0) + w
    r = dict.fromkeys(nodes, 1.0)
    for _ in range(12):
        nxt = dict.fromkeys(nodes, 0.0)
        for u, v, w in wedges:
            nxt[v] += r[u] * w / out_w[u]
        r = {v: 0.15 + 0.85 * nxt[v] for v in nodes}
    for v in nodes:
        assert abs(got[v] - r[v]) < 1e-9, (v, got[v], r[v])
    # uniform weights reproduce the unweighted ranks
    uni = spark.createDataFrame([(u, v, 1.0) for u, v in edges],
                                "u LONG, v LONG, w DOUBLE")
    unw = {r2.id: r2.rank
           for r2 in pagerank(spark.createDataFrame(
               edges, "u LONG, v LONG"), iterations=6).collect()}
    wun = {r2.id: r2.rank
           for r2 in pagerank(uni, iterations=6, weight_col="w").collect()}
    for v in nodes:
        assert abs(unw[v] - wun[v]) < 1e-9


def test_exact_modes_match_ground_truth(spark):
    """exact=True on the HyperBall trio must return the EXACT values
    (zero estimation error) on the cycle+tail+bridge graph — this is
    the driver-oracle path (r4), so equality is strict, not
    within-HLL-error like the sketch tests above."""
    import collections

    from rust_graph_db_spark.operators.graph_algos import (
        closeness_centrality, harmonic_centrality, neighborhood_function)

    edges = ([(i, (i + 1) % 20) for i in range(20)]
             + [(100, 101), (101, 102)]
             + [(0, 100)])
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    out = collections.defaultdict(set)
    nodes = set()
    for s, d in edges:
        out[s].add(d)
        nodes |= {s, d}

    def dists(v, cap):
        dist = {v: 0}
        frontier = {v}
        h = 0
        while frontier and h < cap:
            h += 1
            frontier = {w for u in frontier for w in out.get(u, ())
                        if w not in dist}
            for w in frontier:
                dist[w] = h
        return dist

    cap = 10
    got_nf = {r.hop: r.n_pairs
              for r in neighborhood_function(df, max_hops=cap,
                                             exact=True).collect()}
    for h in range(cap + 1):
        want = sum(sum(1 for d_ in dists(v, cap).values() if d_ <= h)
                   for v in nodes)
        assert got_nf[h] == want, (h, got_nf[h], want)

    got_h = {r.id: r.harmonic
             for r in harmonic_centrality(df, max_hops=cap,
                                          exact=True).collect()}
    for v in nodes:
        want = sum(1.0 / d_ for u, d_ in dists(v, cap).items() if u != v)
        assert abs(got_h[v] - want) < 1e-9, (v, got_h[v], want)
    assert got_h[102] == 0.0

    n = len(nodes)
    got_c = {r.id: r.closeness
             for r in closeness_centrality(df, max_hops=cap,
                                           exact=True).collect()}
    for v in nodes:
        dv = {u: d_ for u, d_ in dists(v, cap).items() if u != v}
        r_, s_ = len(dv), sum(dv.values())
        want = (r_ * r_) / (n * s_) if s_ else 0.0
        assert abs(got_c[v] - want) < 1e-12, (v, got_c[v], want)


def test_walks_md5_mode(spark):
    """hash_mode="md5" (the SQL-replayable oracle mode, r4) keeps every
    walk invariant: valid edges, start at step 0, deterministic across
    runs, walk_id = start*wpv + rep, and node2vec md5 walks are valid
    too. The choice hash differs from xxhash64 so the corpora differ,
    but both are uniform walks over the same graph."""
    from rust_graph_db_spark.operators.graph_algos import (
        node2vec_walks, random_walks)

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (3, 4), (4, 5), (6, 1)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    eset = set(edges)

    rows = random_walks(df, walk_length=6, walks_per_vertex=2, seed=7,
                        hash_mode="md5").collect()
    walks: dict = {}
    starts: dict = {}
    for r in rows:
        walks.setdefault(r.walk_id, {})[r.step] = r.vertex
        starts[r.walk_id] = r.start
    assert len(walks) == 10
    for wid, steps in walks.items():
        seq = [steps[i] for i in sorted(steps)]
        assert seq[0] == starts[wid]
        assert wid in (starts[wid] * 2, starts[wid] * 2 + 1)
        assert all((a, b) in eset for a, b in zip(seq, seq[1:]))
    again = random_walks(df, walk_length=6, walks_per_vertex=2, seed=7,
                         hash_mode="md5").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    n2v = node2vec_walks(df, walk_length=6, p=2.0, q=0.5, seed=7,
                         hash_mode="md5").collect()
    w2: dict = {}
    for r in n2v:
        w2.setdefault(r.walk_id, {})[r.step] = r.vertex
    for wid, steps in w2.items():
        seq = [steps[i] for i in sorted(steps)]
        assert all((a, b) in eset for a, b in zip(seq, seq[1:]))


def test_betweenness_auto_sample_gate(spark):
    """The r4 size gate: above auto_sample_threshold vertices (and with
    no explicit sources/sample) betweenness switches to Brandes-Pich
    pivots automatically. On a 127-vertex binary tree with the
    threshold forced to 100, the sampled path must produce one
    deterministic, non-negative row per vertex; threshold=None forces
    exact, which on a tree equals ancestors x descendants."""
    from rust_graph_db_spark.operators.graph_algos import \
        betweenness_centrality

    n = 127          # full binary out-tree, depth 6
    edges = [(u, v) for u in range(n) for v in (2 * u + 1, 2 * u + 2)
             if v < n]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")

    got = betweenness_centrality(df, auto_sample_threshold=100).collect()
    assert len(got) == n
    assert all(r.betweenness >= 0.0 for r in got)
    again = betweenness_centrality(df, auto_sample_threshold=100).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))

    exact = {r.id: r.betweenness
             for r in betweenness_centrality(
                 df, auto_sample_threshold=None).collect()}

    def desc(v):
        kids = [c for c in (2 * v + 1, 2 * v + 2) if c < n]
        return 1 + sum(desc(c) for c in kids)

    def anc(v):
        c = 0
        while v:
            v = (v - 1) // 2
            c += 1
        return c

    for v in range(n):
        want = float(anc(v) * (desc(v) - 1))
        assert abs(exact[v] - want) < 1e-9, (v, exact[v], want)


def test_weighted_pagerank_keeps_nonpositive_weight_vertices(spark):
    """r4 (ADVICE): a vertex whose incident edges all have null/zero/
    negative weight must still appear in weighted-PageRank output with
    rank (1-d) — dropping the LINK is correct, dropping the VERTEX was
    not (unweighted mode keeps it)."""
    from rust_graph_db_spark.operators.graph_algos import pagerank

    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 2.0), (3, 4, 0.0), (5, 1, -1.0),
         (6, 2, None)],
        "src LONG, dst LONG, w DOUBLE")
    got = {r.id: r.rank
           for r in pagerank(e, iterations=4, weight_col="w").collect()}
    assert set(got) == {1, 2, 3, 4, 5, 6}
    for isolated in (3, 4, 5, 6):
        assert abs(got[isolated] - 0.15) < 1e-12, (isolated, got[isolated])
    assert got[1] > 0.15 and got[2] > 0.15


def test_maximal_independent_set(spark):
    """Deterministic Luby MIS (r4): independence (no adjacent pair in
    the set), maximality (every excluded vertex has an in-set
    neighbor), determinism across runs, and seed sensitivity — on a
    path + triangle + star composite."""
    from rust_graph_db_spark.operators.graph_algos import \
        maximal_independent_set

    edges = ([(0, 1), (1, 2), (2, 3), (3, 4)]          # path
             + [(10, 11), (11, 12), (12, 10)]          # triangle
             + [(20, 21), (20, 22), (20, 23), (20, 24)])  # star
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    und = set(edges) | {(b, a) for a, b in edges}
    nb: dict = {}
    for a, b in und:
        nb.setdefault(a, set()).add(b)

    rows = maximal_independent_set(df, seed=5).collect()
    assert {r.id for r in rows} == set(nb)
    ms = {r.id for r in rows if r.in_mis}
    assert not any((a, b) in und for a in ms for b in ms if a != b)
    assert all(v in ms or (nb[v] & ms) for v in nb)
    again = maximal_independent_set(df, seed=5).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # some seed in a small range flips at least one membership
    flipped = any(
        {r.id for r in maximal_independent_set(df, seed=s).collect()
         if r.in_mis} != ms
        for s in range(6, 12))
    assert flipped


def test_mis_self_loops(spark):
    """r5 ADVICE: self-loop vertices appear in the output as
    in_mis=false (self-adjacent => never independent) and never
    exclude their neighbors; keep_maximal_nondup ignores degenerate
    (i, i) pairs instead of dropping the document."""
    from rust_graph_db_spark.operators.dedup import keep_maximal_nondup
    from rust_graph_db_spark.operators.graph_algos import \
        maximal_independent_set

    # 7: self-loop only; 8: self-loop + edge to 9; 0-1: plain edge
    df = spark.createDataFrame([(7, 7), (8, 8), (8, 9), (0, 1)],
                               "src LONG, dst LONG")
    got = {r.id: r.in_mis
           for r in maximal_independent_set(df, seed=3).collect()}
    assert set(got) == {7, 8, 9, 0, 1}        # nobody vanishes
    assert got[7] is False and got[8] is False
    assert got[9] is True                     # 8 is ineligible, not a blocker
    assert got[0] != got[1] or (got[0] and got[1]) is False
    assert got[0] or got[1]                   # maximality on 0-1

    docs = spark.createDataFrame([(i, f"d{i}") for i in range(3)],
                                 "doc_id LONG, text STRING")
    pairs = spark.createDataFrame([(0, 0), (1, 2)], "i LONG, j LONG")
    kept = sorted(r.doc_id
                  for r in keep_maximal_nondup(docs, pairs).collect())
    assert 0 in kept                          # self-pair is noise
    assert len(set(kept) & {1, 2}) == 1


def test_keep_maximal_nondup_retains_more_than_clustering(spark):
    """r4: on a non-transitive near-dup chain A~B~C (A not~ C), the
    MIS keep rule retains both endpoints while min-id-per-component
    keeps only one document of the three."""
    from rust_graph_db_spark.operators.dedup import (
        drop_near_dups, keep_maximal_nondup)

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id LONG, text STRING")
    # chain 0~1~2; pair 3~4; doc 5 unpaired
    pairs = spark.createDataFrame([(0, 1), (1, 2), (3, 4)],
                                  "i LONG, j LONG")
    kept_mis = sorted(r.doc_id
                      for r in keep_maximal_nondup(docs, pairs).collect())
    kept_cc = sorted(r.doc_id
                     for r in drop_near_dups(docs, pairs).collect())
    assert kept_cc == [0, 3, 5]
    # MIS: one of {1} or {0,2} from the chain, one of {3,4}, plus 5
    assert 5 in kept_mis
    assert set(kept_mis) & {3, 4}
    chain_kept = set(kept_mis) & {0, 1, 2}
    assert chain_kept in ({0, 2}, {1})
    # pair evidence respected: no adjacent pair both kept
    for a, b in [(0, 1), (1, 2), (3, 4)]:
        assert not (a in kept_mis and b in kept_mis)
    assert len(kept_mis) >= len(kept_cc)


def test_graph_profile(spark):
    """r4: one-row graph summary — every field checked against hand
    computation on a triangle + reciprocal pair + self-loop graph."""
    from rust_graph_db_spark.operators.graph_algos import graph_profile

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 4), (4, 3), (5, 5), (0, 1)],
        "src LONG, dst LONG")
    r = graph_profile(e).collect()[0]
    assert r.n_vertices == 6            # 0..5 (loop vertex counts)
    assert r.n_edges == 5               # distinct directed, no loops
    assert r.n_self_loops == 1
    assert abs(r.density - 5 / 30) < 1e-12
    assert abs(r.reciprocity - 0.4) < 1e-9      # (3,4),(4,3) of 5
    assert r.max_out_deg == 1 and r.max_in_deg == 1
    assert r.triangles == 1
    assert r.wedges == 3                # three degree-2 vertices
    assert abs(r.transitivity - 1.0) < 1e-9
    # degree-2s link to degree-2s, degree-1s to degree-1s: perfect
    assert abs(r.assortativity - 1.0) < 1e-9

    # regular graph (4-cycle): zero degree variance -> NULL
    cyc = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (3, 0)],
                                "src LONG, dst LONG")
    r2 = graph_profile(cyc).collect()[0]
    assert r2.assortativity is None
    assert r2.triangles == 0 and r2.transitivity == 0.0


# ------------------------------------------------------------ k-truss

def _py_ktruss(pairs, k):
    """Reference synchronous peeling: support = common neighbors in
    the CURRENT edge set; remove all under-support edges per round."""
    from collections import defaultdict

    es = {(min(u, v), max(u, v)) for u, v in pairs if u != v}
    while True:
        adj = defaultdict(set)
        for u, v in es:
            adj[u].add(v)
            adj[v].add(u)
        sup = {e: len(adj[e[0]] & adj[e[1]]) for e in es}
        nxt = {e for e in es if sup[e] >= k - 2}
        if nxt == es:
            return {e: sup[e] for e in es}
        es = nxt


def test_k_truss_clique_and_empty(spark):
    from rust_graph_db_spark.operators.graph_algos import k_truss

    k6 = [(i, j) for i in range(6) for j in range(i + 1, 6)]
    df = spark.createDataFrame(k6, "src LONG, dst LONG")
    got = {(r.u, r.v): r.support for r in k_truss(df, k=6).collect()}
    # every K6 edge sits in exactly 4 triangles; the 6-truss is K6
    assert got == {e: 4 for e in k6}
    # 7-truss needs support 5 > 4: everything peels
    assert k_truss(df, k=7).count() == 0
    with _kt_pytest().raises(ValueError):
        k_truss(df, k=1)


def _kt_pytest():
    import pytest
    return pytest


def test_k_truss_cascade_matches_reference(spark):
    """Ring + 2-chords + K5 pockets: peeling the standalone chords
    collapses the ring over multiple rounds while the K5 pockets
    survive — exercises the synchronous cascade, not just one pass."""
    from rust_graph_db_spark.operators.graph_algos import k_truss

    n = 50
    pairs = [(i, (i + 1) % n) for i in range(n)]
    pairs += [(i, (i + 2) % n) for i in range(n)]
    for i in (0, 25):
        pairs += [(i, i + 3), (i, i + 4), (i + 1, i + 4)]
    want = _py_ktruss(pairs, 4)
    df = spark.createDataFrame(pairs, "src LONG, dst LONG")
    got = {(r.u, r.v): r.support for r in k_truss(df, k=4).collect()}
    assert got == want
    assert len(got) == 20  # exactly the two K5 pockets survive
    assert set(got.values()) == {3}


def test_k_truss_matches_reference_random(spark):
    import random

    from rust_graph_db_spark.operators.graph_algos import k_truss

    rng = random.Random(23)
    pairs = [(rng.randrange(30), rng.randrange(30)) for _ in range(150)]
    df = spark.createDataFrame(pairs, "src LONG, dst LONG")
    for k in (3, 4, 5):
        want = _py_ktruss(pairs, k)
        got = {(r.u, r.v): r.support
               for r in k_truss(df, k=k).collect()}
        assert got == want, k


# ----------------------------------------------------- link prediction

def test_link_prediction_matches_reference(spark):
    """Random digraph vs a direct python common-neighbor reference."""
    import random
    from collections import defaultdict

    from rust_graph_db_spark.operators.graph_algos import link_prediction

    rng = random.Random(5)
    pairs = [(rng.randrange(25), rng.randrange(25)) for _ in range(80)]
    adj = defaultdict(set)
    for a, b in pairs:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    want = {}
    nodes = sorted(adj)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1:]:
            if v in adj[u]:
                continue
            cn = len(adj[u] & adj[v])
            if cn >= 1:
                want[(u, v)] = (cn, cn / len(adj[u] | adj[v]),
                                len(adj[u]) * len(adj[v]))
    df = spark.createDataFrame(pairs, "src LONG, dst LONG")
    got = {(r.u, r.v): (r.cn, r.jac, r.pa)
           for r in link_prediction(df).collect()}
    assert set(got) == set(want)
    for key, (cn, jac, pa) in want.items():
        assert got[key][0] == cn and got[key][2] == pa, key
        assert abs(got[key][1] - jac) < 1e-15, key


def test_link_prediction_triangle_closure(spark):
    """A path a-b-c predicts the closing edge (a,c) with cn=1; the
    existing edge (a,b) is never predicted."""
    from rust_graph_db_spark.operators.graph_algos import link_prediction

    df = spark.createDataFrame([(0, 1), (1, 2)], "src LONG, dst LONG")
    got = {(r.u, r.v): (r.cn, r.jac, r.pa)
           for r in link_prediction(df).collect()}
    assert got == {(0, 2): (1, 1.0, 1)}


def test_local_clustering_known_graphs(spark):
    from rust_graph_db_spark.operators.graph_algos import (local_clustering,
                                                           triangle_count)

    # K4: every vertex lcc = 1.0 (3 triangles each... deg 3, tri 3)
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b],
        "src LONG, dst LONG")
    rows = {r.id: r for r in local_clustering(k4).collect()}
    assert all(rows[v].degree == 3 and rows[v].triangles == 3
               and rows[v].lcc == 1.0 for v in range(4))

    # path 0-1-2: middle vertex deg 2, no triangle, lcc 0; ends deg 1
    path = spark.createDataFrame([(0, 1), (1, 2)], "src LONG, dst LONG")
    rows = {r.id: r for r in local_clustering(path).collect()}
    assert rows[1].lcc == 0.0 and rows[1].degree == 2
    assert rows[0].lcc == 0.0 and rows[0].degree == 1

    # triangle + pendant: vertex 0 in the triangle with a pendant (deg
    # 3, 1 triangle): lcc = 2*1/(3*2) = 1/3 exactly
    g = spark.createDataFrame([(0, 1), (1, 2), (2, 0), (0, 9)],
                              "src LONG, dst LONG")
    rows = {r.id: r for r in local_clustering(g).collect()}
    assert rows[0].triangles == 1 and rows[0].degree == 3
    assert rows[0].lcc == 2.0 / 6.0
    assert rows[9].degree == 1 and rows[9].lcc == 0.0


def test_local_clustering_sums_to_triangle_count(spark, kg):
    from pyspark.sql import functions as F

    from rust_graph_db_spark.operators.graph_algos import (local_clustering,
                                                           triangle_count)
    from rust_graph_db_spark.model import unpack_locid

    e = kg.edge_frame("KNOWS").select(
        unpack_locid(F.col("src")).alias("src"),
        unpack_locid(F.col("dst")).alias("dst"))
    lc = local_clustering(e)
    total = triangle_count(e).collect()[0].triangles
    # every triangle contributes exactly one count to each corner
    assert lc.agg(F.sum("triangles")).collect()[0][0] == 3 * total


def test_mis_round_runs_no_job_outside_its_pins(spark, pin_jobs):
    """A MIS round's halting count rides in the active-set pin: a second
    round adds pins but no job outside them. (Before the port each
    round also ran an isEmpty() probe job, and nothing ran in a pin:
    on this path one round ran 27 jobs, two rounds 46.)"""
    from rust_graph_db_spark.operators import graph_algos as ga

    path = spark.createDataFrame([(i, i + 1) for i in range(20)],
                                 "src LONG, dst LONG")

    def rounds(r):
        def run():
            with pytest.raises(RuntimeError, match="not converged"):
                ga.maximal_independent_set(path, max_rounds=r)
        _, outside, pins = pin_jobs(ga, run)
        return outside, pins

    (out1, pins1), (out2, pins2) = rounds(1), rounds(2)
    assert out2 == out1
    assert pins2 > pins1


def test_mis_exhausted_rounds_raise(spark):
    # one Luby round cannot settle a 21-vertex path
    from rust_graph_db_spark.operators.graph_algos import \
        maximal_independent_set

    path = spark.createDataFrame([(i, i + 1) for i in range(20)],
                                 "src LONG, dst LONG")
    with pytest.raises(RuntimeError, match="not converged"):
        maximal_independent_set(path, max_rounds=1)
    rows = maximal_independent_set(path).collect()
    assert len(rows) == 21


@pytest.mark.parametrize("walker", ["random_walks", "node2vec_walks"])
def test_walks_stop_when_every_walk_is_dead(spark, walker):
    """On dag5 every walk dies within 2 steps, so walk_length=10 returns
    the rows of walk_length=3 and runs the jobs of walk_length=4: the
    loop stops at the first step with no live walk. (Before the shared
    walk loop, walk_length=10 cost 25 jobs against 17 for random_walks
    and 36 against 22 for node2vec_walks.)"""
    from rust_graph_db_spark.operators import graph_algos as ga

    dag = spark.createDataFrame([(1, 2), (1, 3), (2, 4), (2, 5), (3, 5)],
                                "src LONG, dst LONG")
    kw = {"p": 2.0, "q": 0.5} if walker == "node2vec_walks" else {}

    def walks(n):
        return _jobs_of(spark, lambda: sorted(map(tuple, getattr(ga, walker)(
            dag, walk_length=n, walks_per_vertex=2, seed=3, **kw).collect())))

    (rows10, jobs10), (rows3, _), (_, jobs4) = walks(10), walks(3), walks(4)
    assert rows10 == rows3
    assert max(r[2] for r in rows10) == 2
    assert jobs10 == jobs4
