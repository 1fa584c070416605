"""interactive_read: one client runs a seeded Cypher read mix over a
generated Person/KNOWS graph opened from a bucketed snapshot. Every
query result is checked afterwards against DuckDB on the generated
parquet."""

from __future__ import annotations

import math
import statistics
import time

import duckdb

import inputs

PERSONS = 20_000
OUT_DEGREE = 10
WARMUP_ROUNDS = 2  # expand latency settles over the first dozen queries

CYPHER = {
    "point": "MATCH (p:Person {key: $k}) RETURN p.name AS name, p.age AS age, "
             "p.city AS city",
    "expand": "MATCH (a:Person {key: $k})-[r:KNOWS]->(b:Person) "
              "WHERE r.since >= $y RETURN b.key AS key, r.since AS since",
    "two_hop_agg": "MATCH (a:Person {key: $k})-[:KNOWS]->(b:Person)"
                   "-[:KNOWS]->(c:Person) RETURN c.city AS city, "
                   "count(*) AS n ORDER BY n DESC, city LIMIT 3",
    "scan_agg": "MATCH (p:Person) WHERE p.age >= $a RETURN p.city AS city, "
                "count(*) AS n, avg(p.age) AS avg_age ORDER BY city",
    "optional": "MATCH (a:Person) WHERE a.key IN $ks "
                "OPTIONAL MATCH (a)<-[:KNOWS]-(b:Person) "
                "RETURN a.key AS key, count(b.key) AS indeg ORDER BY key",
    "topk_indeg": "MATCH (a:Person)-[:KNOWS]->(b:Person) RETURN b.key AS key, "
                  "count(*) AS indeg ORDER BY indeg DESC, key LIMIT 10",
    # *1..2, not *1..3: the compiler expands from every vertex before
    # joining the bound start, so each extra hop multiplies the build.
    "vle": "MATCH (a:Person {key: $k})-[:KNOWS*1..2]->(b:Person) "
           "RETURN count(DISTINCT b.key) AS n",
}

SQL = {
    "point": "SELECT name, age, city FROM person WHERE key = $k",
    "expand": "SELECT e.dst, e.since FROM knows e WHERE e.src = $k "
              "AND e.since >= $y",
    "two_hop_agg": "SELECT c.city, count(*) AS n FROM knows e1 "
                   "JOIN knows e2 ON e1.dst = e2.src "
                   "JOIN person c ON c.key = e2.dst WHERE e1.src = $k "
                   "GROUP BY c.city ORDER BY n DESC, c.city LIMIT 3",
    "scan_agg": "SELECT city, count(*), avg(age) FROM person WHERE age >= $a "
                "GROUP BY city ORDER BY city",
    "optional": "SELECT a.key, count(e.src) FROM person a "
                "LEFT JOIN knows e ON e.dst = a.key "
                "WHERE list_contains($ks, a.key) GROUP BY a.key ORDER BY a.key",
    "topk_indeg": "SELECT dst, count(*) AS c FROM knows GROUP BY dst "
                  "ORDER BY c DESC, dst LIMIT 10",
    "vle": "SELECT count(DISTINCT t) FROM ("
           "SELECT dst AS t FROM knows WHERE src = $k UNION ALL "
           "SELECT e2.dst FROM knows e1 JOIN knows e2 ON e1.dst = e2.src "
           "WHERE e1.src = $k) WHERE t <> $k",
}
ORDERED = {"two_hop_agg", "scan_agg", "optional", "topk_indeg"}


def params(rng, cls: str) -> dict:
    k = int(rng.integers(PERSONS - 2))
    return {"point": {"k": k}, "expand": {"k": k, "y": int(rng.integers(2000, 2025))},
            "two_hop_agg": {"k": k}, "scan_agg": {"a": int(rng.integers(18, 80))},
            "optional": {"ks": [k, k + 1, k + 2]}, "topk_indeg": {},
            "vle": {"k": k}}[cls]


def query(run, graph, cls: str, prm: dict) -> list:
    from rust_graph_db_spark.compiler import compile_query
    from rust_graph_db_spark.parser import parse_cypher

    with run.tracer.span("parser.parse"):
        ast = parse_cypher(CYPHER[cls])
    with run.tracer.span("compiler.compile"):
        df = compile_query(graph, ast, prm)
    with run.tracer.span("execute.collect"):
        return [tuple(r) for r in df.collect()]


def _norm(rows, ordered: bool) -> list:
    rows = [tuple(r) for r in rows]
    return rows if ordered else sorted(rows)


def run_workload(run) -> None:
    from rust_graph_db_spark.storage import load_graph, save_graph

    person_path = run.path("person.parquet")
    knows_path = run.path("knows.parquet")

    def build(rep: int):
        person, knows = inputs.social_graph(run.input_rng(), PERSONS, OUT_DEGREE)
        inputs.write(person, person_path)
        inputs.write(knows, knows_path)
        g = inputs.property_graph(run.spark, person_path, knows_path)
        store = run.path(f"store{rep}")
        with run.tracer.span("storage.save"):
            save_graph(g, store, buckets=run.cpus)
        with run.tracer.span("storage.load"):
            g = load_graph(run.spark, store)
        n = g.vertex_frame("Person").count()
        if n != PERSONS:
            raise RuntimeError(f"snapshot holds {n} persons, expected {PERSONS}")
        return g

    graph = run.setup(build)
    for _ in range(WARMUP_ROUNDS):
        for cls in CYPHER:
            query(run, graph, cls, params(run.rng, cls))

    done = []

    def one_round(_r: int) -> float:
        for cls in CYPHER:
            prm = params(run.rng, cls)
            rec, rows = run.op(f"read.{cls}", lambda: query(run, graph, cls, prm))
            done.append((rec, cls, prm, rows))
        return 0.0

    run.closed_loop(one_round)

    t0 = time.perf_counter()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW person AS SELECT * FROM '{person_path}'")
    con.execute(f"CREATE VIEW knows AS SELECT * FROM '{knows_path}'")
    for rec, cls, prm, rows in done:
        if not rec["ok"]:
            continue
        want = con.execute(SQL[cls], prm).fetchall()
        got, exp = _norm(rows, cls in ORDERED), _norm(want, cls in ORDERED)
        if not _close(got, exp):
            run.fail(rec, f"{cls} {prm}: {got[:3]} != {exp[:3]}")
    con.close()
    run.report["check_s"] = time.perf_counter() - t0
    per_class = {}
    for rec, cls, _, _ in done:
        if rec["ok"]:
            per_class.setdefault(cls, []).append(rec["lat"])
    run.report["read_p50_s_by_class"] = {
        c: statistics.median(v) for c, v in per_class.items()}


def _close(a: list, b: list) -> bool:
    """Row lists equal up to float rounding in the last digits."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if not math.isclose(float(x), float(y), rel_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True
