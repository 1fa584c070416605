"""batch_pipeline: a batch client that, once per pass, commits a Cypher
DML batch to a versioned Person/KNOWS store (see writes.py), runs the
Pregel-style graph algorithms over the freshly loaded KNOWS edges, then
the near-duplicate operators over a generated corpus with planted
near-copies. Every operator runs once per pass in a fixed order; results
are checked afterwards with networkx and plain Python.

There is no warm-up pass: a batch job starts a fresh Spark application
each time, so its users pay the JVM's first-use cost on every run, and
the timed pass includes it. The set-up repetitions still warm the store
and parquet paths."""

from __future__ import annotations

import time

import networkx as nx
import numpy as np

import inputs
import writes

PERSONS = 10_000
OUT_DEGREE = 4
# edges x sources must exceed bfs_distances' 2M driver_threshold so the
# distributed frontier loop runs, not the driver-side BFS.
BFS_SOURCES = 64
BFS_MAX_HOPS = 4
PAGERANK_ITERS = 10
KCORE_K = 3
DOCS = 1_000
PLANTED = 50
EXACT_COPIES = 20
NEARDUP_THRESHOLD = 0.5


def pin(run, path: str):
    df = run.spark.read.parquet(path).localCheckpoint(eager=True)
    df.count()
    return df


def operators(edges, sources, docs) -> dict:
    """Operator name -> zero-argument call building its result frame."""
    from pyspark.sql import functions as F
    from rust_graph_db_spark.operators import dedup as dd
    from rust_graph_db_spark.operators import graph_algos as ga
    from rust_graph_db_spark.operators import traversal as tr

    return {
        "graph_algos.pagerank": lambda: ga.pagerank(edges, PAGERANK_ITERS),
        # driver_threshold=0: the graph is below the 500k-edge driver
        # gate, and the distributed star rounds are the loop under test.
        "graph_algos.connected_components":
            lambda: ga.connected_components(edges, driver_threshold=0),
        "graph_algos.k_core": lambda: ga.k_core(edges, KCORE_K),
        "traversal.bfs": lambda: tr.bfs_distances(
            edges, sources, max_hops=BFS_MAX_HOPS).groupBy("start_id").agg(
                F.count("*").alias("n"), F.sum("dist").alias("s"),
                F.max("dist").alias("m")),
        "dedup.exact_dedup": lambda: dd.exact_dedup(docs, "doc_id", "text")
            .select("doc_id"),
        "dedup.minhash_lsh_pairs": lambda: dd.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=NEARDUP_THRESHOLD),
        "dedup.ngram_jaccard_pairs": lambda: dd.ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=NEARDUP_THRESHOLD),
    }


def clusters_call(run, pairs: list):
    """duplicate_clusters over the MinHash pairs (the CC driver path:
    the pair graph is far below the driver gate)."""
    from rust_graph_db_spark.operators import graph_algos as ga

    frame = run.spark.createDataFrame(
        [(int(r["i"]), int(r["j"])) for r in pairs], "i LONG, j LONG")
    return lambda: ga.duplicate_clusters(frame)


def one_pass(run, edges, sources, docs) -> dict:
    out = {name: _op(run, name, build)
           for name, build in operators(edges, sources, docs).items()}
    rec, pairs = out["dedup.minhash_lsh_pairs"]
    if rec["ok"]:
        out["graph_algos.duplicate_clusters"] = _op(
            run, "graph_algos.duplicate_clusters", clusters_call(run, pairs))
    return out


def _op(run, name: str, build) -> tuple:
    """One operator call: building the frame (eager checkpoint jobs
    included) and the terminal action are separate child spans."""
    def call():
        with run.tracer.span("build"):
            df = build()
        with run.tracer.span("execute.collect"):
            return df.collect()

    return run.op(name, call, span=name)


# ---------------------------------------------------------------- checks

def check_graph(run, results: dict, src, dst, sources) -> None:
    g_dir = nx.DiGraph()
    g_dir.add_edges_from(zip(src.tolist(), dst.tolist()))
    g_und = nx.Graph(g_dir)

    def check(name: str, fn) -> None:
        rec, rows = results.get(name, ({"ok": False}, None))
        if rec["ok"]:
            why = fn(rows)
            if why:
                run.fail(rec, f"{name}: {why}")

    want_pr = _pagerank(src, dst, PAGERANK_ITERS)

    def pagerank_top10(rows):
        got = {int(r["id"]): float(r["rank"]) for r in rows}
        top = sorted(want_pr, key=lambda v: (-want_pr[v], v))[:10]
        bad = [v for v in top if abs(got.get(v, -1.0) - want_pr[v])
               > 1e-6 * max(1.0, want_pr[v])]
        return f"top-10 ranks differ at {bad[:3]}" if bad else None

    def components(rows):
        got = len({r["component"] for r in rows})
        want = nx.number_connected_components(g_und)
        return None if got == want else f"{got} components, expected {want}"

    def kcore(rows):
        got = {int(r["id"]) for r in rows}
        want = set(nx.k_core(g_und, KCORE_K).nodes)
        return None if got == want else f"{len(got)} core vertices, expected {len(want)}"

    def bfs(rows):
        got = {int(r["start_id"]): (r["n"], r["s"], r["m"]) for r in rows}
        for s in sources:
            d = nx.single_source_shortest_path_length(g_dir, s, cutoff=BFS_MAX_HOPS)
            want = (len(d), sum(d.values()), max(d.values()))
            if got.get(s) != want:
                return f"source {s}: reach/sum/ecc {got.get(s)} != {want}"
        return None

    check("graph_algos.pagerank", pagerank_top10)
    check("graph_algos.connected_components", components)
    check("graph_algos.k_core", kcore)
    check("traversal.bfs", bfs)


def check_neardup(run, results: dict, texts: list, planted: list) -> None:
    def rec_rows(name):
        return results.get(name, ({"ok": False}, None))

    rec, rows = rec_rows("dedup.exact_dedup")
    if rec["ok"]:
        first = {}
        for i, t in enumerate(texts):
            first.setdefault(t, i)
        if sorted(r["doc_id"] for r in rows) != sorted(first.values()):
            run.fail(rec, "kept ids differ from first-of-each-text")

    truth = [(a, b) for a, b in planted
             if inputs.jaccard(texts[a], texts[b]) >= NEARDUP_THRESHOLD]
    for name in ("dedup.minhash_lsh_pairs", "dedup.ngram_jaccard_pairs"):
        rec, rows = rec_rows(name)
        if not rec["ok"]:
            continue
        found = {(int(r["i"]), int(r["j"])): float(r["jac"]) for r in rows}
        recall = sum(p in found for p in truth) / len(truth)
        run.report[f"{name}.recall"] = recall
        wrong = [p for p, jac in found.items()
                 if abs(inputs.jaccard(texts[p[0]], texts[p[1]]) - jac) > 1e-9]
        floor = 0.95 if name.startswith("dedup.minhash") else 1.0
        if recall < floor or wrong:
            run.fail(rec, f"recall {recall:.3f}, {len(wrong)} wrong jaccard")

    rec, rows = rec_rows("graph_algos.duplicate_clusters")
    if rec["ok"]:
        g = nx.Graph((int(r["i"]), int(r["j"]))
                     for r in rec_rows("dedup.minhash_lsh_pairs")[1])
        want = {v: min(c) for c in nx.connected_components(g) for v in c}
        got = {int(r["id"]): int(r["cluster"]) for r in rows}
        if got != want:
            run.fail(rec, "clusters differ from the pair graph's components")


def _pagerank(src, dst, iters: int, d: float = 0.85) -> dict:
    """rank = (1-d) + d * sum(in_rank / out_degree), ranks start at 1."""
    verts = np.unique(np.concatenate([src, dst]))
    idx = {v: i for i, v in enumerate(verts.tolist())}
    s = np.array([idx[v] for v in src.tolist()])
    t = np.array([idx[v] for v in dst.tolist()])
    out_deg = np.bincount(s, minlength=verts.size)
    rank = np.ones(verts.size)
    for _ in range(iters):
        rank = (1 - d) + d * np.bincount(t, weights=rank[s] / out_deg[s],
                                         minlength=verts.size)
    return dict(zip(verts.tolist(), rank.tolist()))


# ------------------------------------------------------------- workloads

def run_workload(run) -> None:
    from rust_graph_db_spark.storage import load_graph, save_graph

    def build(rep: int):
        rng = run.input_rng()
        person, knows = inputs.social_graph(rng, PERSONS, OUT_DEGREE)
        keys = sorted(int(v) for v in rng.choice(PERSONS, BFS_SOURCES,
                                                 replace=False))
        table, planted = inputs.corpus(rng, DOCS, PLANTED, EXACT_COPIES)
        person_path = inputs.write(person, run.path("person.parquet"))
        knows_path = inputs.write(knows, run.path("knows.parquet"))
        store = run.path(f"store{rep}")
        with run.tracer.span("storage.save"):
            save_graph(inputs.property_graph(run.spark, person_path, knows_path),
                       store)
        with run.tracer.span("storage.load"):
            graph = load_graph(run.spark, store)
        docs = pin(run, inputs.write(table, run.path("docs.parquet")))
        return (store, graph, keys, docs, table["text"].to_pylist(), planted)

    root, graph, keys, docs, texts, planted = run.setup(build)
    pid = graph.label_id("Person")
    sources = [(pid << 48) | k for k in keys]
    client = writes.Client(run, root, graph, PERSONS, PERSONS * OUT_DEGREE,
                           protected=keys)

    def edges():
        return client.graph.edge_frame("KNOWS").select("src", "dst")

    results = {}

    def one_round(_r: int) -> float:
        checks = client.round(timed=True)
        results.update(one_pass(run, edges(), sources, docs))
        return checks

    run.closed_loop(one_round)
    t0 = time.perf_counter()
    final = edges().collect()
    src = np.array([r["src"] for r in final], dtype=np.int64)
    dst = np.array([r["dst"] for r in final], dtype=np.int64)
    check_graph(run, results, src, dst, sources)
    check_neardup(run, results, texts, planted)
    run.report["check_s"] = time.perf_counter() - t0
    rounds = run.report["rounds"]
    run.report["suite_s"] = run.measured_s / rounds
    neardup_s = sum(r["lat"] for r in run.timed_ops() if r["kind"].startswith(
        ("dedup.", "graph_algos.duplicate_clusters"))) / rounds
    run.report["docs_per_s"] = len(texts) / neardup_s
    run.report.update(client.amplifications())
