"""Traversal operators on the F2 dag5 fixture — golden answers from the
reference unit tests (vle.rs:253-441, shortest_path.rs:256-393)."""

import pytest
from pyspark.sql import functions as F

from rust_graph_db_spark import probe
from rust_graph_db_spark.operators import traversal as T

# A=1 B=2 C=3 D=4 E=5;  A→B, A→C, B→D, B→E, C→E
EDGES = [(1, 2), (1, 3), (2, 4), (2, 5), (3, 5)]


@pytest.fixture(scope="module")
def dag(spark):
    return spark.createDataFrame(EDGES, "src LONG, dst LONG")


def test_vle_paths(dag):
    got = sorted(tuple(r.vpath) for r in T.expand_paths(dag, [1], 1, 2).collect())
    assert got == [(1, 2), (1, 2, 4), (1, 2, 5), (1, 3), (1, 3, 5)]


def test_paths_between(dag):
    assert T.paths_between(dag, 1, 5, 1, 2).count() == 2


def test_k_hop(dag):
    assert sorted(r.b for r in T.k_hop_neighbors(dag, [1], 1).collect()) == [2, 3]
    assert sorted(r.b for r in T.k_hop_neighbors(dag, [1], 0).collect()) == [1]


def test_within_k(dag):
    got = sorted(r.b for r in T.neighbors_within_k_hops(dag, [1], 2).collect())
    assert got == [2, 3, 4, 5]


def test_shortest_path(dag):
    sp = T.shortest_path(dag, 1, 4)
    assert sp == {"path": [1, 2, 4], "cost": 2, "hops": 2}


def test_unreachable(dag):
    assert T.shortest_path(dag, 4, 1, max_hops=6) is None


def test_weighted(dag):
    w = dag.withColumn("weight", F.lit(2.0))
    got = sorted((r.id, r.dist) for r in T.weighted_shortest_distances(w, [1]).collect())
    assert got == [(1, 0.0), (2, 2.0), (3, 2.0), (4, 4.0), (5, 4.0)]


def test_grid_shortest_path(spark):
    """F3: 4-connected directed grid, corner→corner cost 2*(s-1)."""
    s = 10
    cells = [(r * s + c, r, c) for r in range(s) for c in range(s)]
    edges = []
    for i, r, c in cells:
        if c + 1 < s:
            edges.append((i, r * s + c + 1))
        if r + 1 < s:
            edges.append((i, (r + 1) * s + c))
    e = spark.createDataFrame(edges, "src LONG, dst LONG")
    sp = T.shortest_path(e, 0, s * s - 1, max_hops=2 * s)
    assert sp["cost"] == 2 * (s - 1)


def test_max_paths_cap(dag):
    capped = T.expand_paths(dag, [1], 1, 2, max_paths=2)
    assert capped.count() <= 4  # cap applies per level inside the loop


def test_bfs_driver_vs_distributed_parity(dag):
    # the size-adaptive driver BFS and the frontier-join rounds must
    # return the identical (start_id, id, dist) set; threshold=0 forces
    # the distributed path on the same input
    drv = {(r.start_id, r.id, r.dist)
           for r in T.bfs_distances(dag, [1, 2]).collect()}
    dist = {(r.start_id, r.id, r.dist)
            for r in T.bfs_distances(dag, [1, 2],
                                     driver_threshold=0).collect()}
    assert drv == dist
    assert (1, 5, 2) in drv and (2, 4, 1) in drv and (1, 1, 0) in drv


def test_bfs_driver_respects_max_hops(dag):
    got = {(r.id, r.dist)
           for r in T.bfs_distances(dag, [1], max_hops=1).collect()}
    assert got == {(1, 0), (2, 1), (3, 1)}


def test_weighted_sssp_driver_vs_distributed_parity(spark):
    # same random weighted digraph through both paths: the driver
    # Dijkstra (default threshold) and the distributed Bellman-Ford
    # rounds (threshold 0)
    import random

    rng = random.Random(7)
    n = 60
    rows = [(rng.randrange(n), rng.randrange(n), rng.choice([1.0, 2.5, 4.0]))
            for _ in range(240)]
    e = spark.createDataFrame(rows, "src LONG, dst LONG, weight DOUBLE")
    fast = sorted((r.id, r.dist) for r in
                  T.weighted_shortest_distances(e, [0]).collect())
    slow = sorted((r.id, r.dist) for r in
                  T.weighted_shortest_distances(
                      e, [0], driver_threshold=0).collect())
    assert fast == slow


def test_weighted_sssp_negative_weights_take_distributed_path(spark):
    # a negative edge must bypass Dijkstra (which would be wrong) and
    # still converge via Bellman-Ford on this DAG
    e = spark.createDataFrame(
        [(0, 1, 5.0), (0, 2, 2.0), (2, 1, -1.0), (1, 3, 1.0)],
        "src LONG, dst LONG, weight DOUBLE")
    got = {r.id: r.dist for r in
           T.weighted_shortest_distances(e, [0]).collect()}
    assert got[1] == 1.0 and got[3] == 2.0


def test_weighted_sssp_distributed_raises_when_sweeps_run_out(spark):
    # a 12-vertex unit-weight path needs 11 sweeps; 4 reach vertex 4
    # and the last round still improved, so the partial answer must
    # not be returned as the shortest distances
    e = spark.createDataFrame([(i, i + 1, 1.0) for i in range(11)],
                              "src LONG, dst LONG, weight DOUBLE")
    with pytest.raises(RuntimeError, match="not converged"):
        T.weighted_shortest_distances(e, [0], max_iter=4, driver_threshold=0)
    got = sorted((r.id, r.dist) for r in T.weighted_shortest_distances(
        e, [0], driver_threshold=0).collect())
    assert got == [(i, float(i)) for i in range(12)]


def test_weighted_sssp_negative_cycle_raises(spark):
    # 1 → 2 → 1 weighs -2: every sweep improves, so no number of
    # sweeps converges and no shortest distance exists
    e = spark.createDataFrame([(0, 1, 1.0), (1, 2, -3.0), (2, 1, 1.0)],
                              "src LONG, dst LONG, weight DOUBLE")
    with pytest.raises(RuntimeError, match="not converged"):
        T.weighted_shortest_distances(e, [0], max_iter=10, driver_threshold=0)


def _vpaths(df):
    return sorted(tuple(r.vpath) for r in df.collect())


def test_vle_directions_and_min_hops(dag):
    assert _vpaths(T.expand_paths(dag, [5], 1, 2, direction="in")) == [
        (5, 2), (5, 2, 1), (5, 3), (5, 3, 1)]
    assert _vpaths(T.expand_paths(dag, [4], 1, 2, direction="both")) == [
        (4, 2), (4, 2, 1), (4, 2, 5)]
    # min_hops > 1, and a last level (3 hops) that is empty
    assert _vpaths(T.expand_paths(dag, [1], 2, 3)) == [
        (1, 2, 4), (1, 2, 5), (1, 3, 5)]


def test_vle_duplicate_starts_yield_each_path_once(dag):
    assert _vpaths(T.expand_paths(dag, [1, 1], 1, 2)) == _vpaths(
        T.expand_paths(dag, [1], 1, 2))


@pytest.mark.parametrize("direction", ["out", "in", "both"])
def test_vle_seeded_matches_unseeded(spark, direction):
    """A DataFrame seed returns exactly the unseeded expansion's paths
    from those starts, edge ids included."""
    edges = spark.createDataFrame(
        [(10 + i, s, d) for i, (s, d) in enumerate(EDGES + [(4, 1), (5, 5)])],
        "id LONG, src LONG, dst LONG")
    seed = spark.createDataFrame([(1,), (4,), (4,), (9,)], "v LONG")

    def rows(df):
        return sorted((r.a, r.b, r.hops, tuple(r.vpath), tuple(r.epath))
                      for r in df.collect())

    for lo, hi in [(1, 1), (1, 3), (2, 4)]:
        got = T.expand_paths(edges, seed, lo, hi, direction=direction)
        ref = T.expand_paths(edges, None, lo, hi, direction=direction)
        assert rows(got) == rows(ref.where(F.col("a").isin(1, 4))), (lo, hi)


def test_max_paths_caps_each_level_when_seeded(dag):
    # both 1-hop paths from vertex 1 extend once more, and no 3-hop path
    # exists, so whichever path each capped level keeps the counts hold
    per_level = {r.hops: r["count"] for r in T.expand_paths(
        dag, [1], 1, 3, max_paths=1).groupBy("hops").count().collect()}
    assert per_level == {1: 1, 2: 1}
    # a capped last level is pinned: every action sees the same subset
    for hi in (1, 2):
        capped = T.expand_paths(dag, [1], 1, hi, max_paths=1)
        assert _vpaths(capped) == _vpaths(capped)


def test_vle_build_runs_one_job_per_pinned_level(spark, dag):
    """Building a *1..2 expansion pins level 1 only (the seed broadcast
    and the pin itself): no edge-set pin, and the last level is neither
    pinned nor probed; *1..1 runs no job at all."""
    def build_jobs(lo, hi):
        with probe.jobs(spark) as rec:
            T.expand_paths(dag, [1], lo, hi)
        return rec.n

    assert build_jobs(1, 1) == 0
    assert build_jobs(1, 2) <= 2


def test_bad_direction_raises(dag):
    w = dag.withColumn("weight", F.lit(1.0))
    with pytest.raises(ValueError, match="bad direction"):
        T.weighted_shortest_distances(w, [1], direction="sideways")
    with pytest.raises(ValueError, match="bad direction"):
        T.expand_paths(dag, [1], direction="sideways")


@pytest.fixture(scope="module")
def path7(spark):
    # 0 → 1 → … → 6
    return spark.createDataFrame([(i, i + 1) for i in range(6)],
                                 "src LONG, dst LONG")


def test_shortest_path_levels_run_inside_their_pins(path7, pin_jobs):
    """Each level's size and target hit are observed by the level's own
    pin, so the only job outside the pins is the edge checkpoint: the
    count does not grow with the path. Before the port, 0 → 6 ran 62
    jobs (10 per level, 0 → 3: 32), all of them outside any pin."""
    from rust_graph_db_spark.operators import traversal

    far, far_out, far_pins = pin_jobs(
        traversal, lambda: T.shortest_path(path7, 0, 6))
    near, near_out, near_pins = pin_jobs(
        traversal, lambda: T.shortest_path(path7, 0, 3))
    assert far == {"path": list(range(7)), "cost": 6, "hops": 6}
    assert near == {"path": list(range(4)), "cost": 3, "hops": 3}
    assert far_out == near_out <= 2
    assert far_pins > near_pins


def test_shortest_path_max_hops_boundary(path7):
    # the target exactly at max_hops is found; one hop beyond is not
    assert T.shortest_path(path7, 0, 4, max_hops=4) == {
        "path": [0, 1, 2, 3, 4], "cost": 4, "hops": 4}
    assert T.shortest_path(path7, 0, 5, max_hops=4) is None


def test_shortest_path_start_is_end(dag):
    assert T.shortest_path(dag, 3, 3) == {"path": [3], "cost": 0, "hops": 0}
    assert T.shortest_path(dag, 3, 3, max_hops=0) == {
        "path": [3], "cost": 0, "hops": 0}


def test_shortest_path_lexicographic_tie_break(dag):
    # 1→2→5 and 1→3→5 tie on cost; the smaller path wins
    assert T.shortest_path(dag, 1, 5) == {"path": [1, 2, 5], "cost": 2,
                                          "hops": 2}
