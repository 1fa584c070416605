"""Cypher DML batches committed to a versioned store. Each batch creates
a person and an edge, sets two ages and detach-deletes a person, then
commits with ``save_graph``. After every commit a fresh ``load_graph``
must show each acknowledged write, none of the deleted entities, and a
higher version; the client goes on with that freshly loaded graph."""

from __future__ import annotations

import json
import os
import statistics
import time

import inputs
from harness import dir_bytes


def statement(run, graph, cypher: str, prm: dict) -> None:
    from rust_graph_db_spark.compiler import compile_query
    from rust_graph_db_spark.parser import parse_cypher

    with run.tracer.span("dml.apply"):
        with run.tracer.span("parser.parse"):
            ast = parse_cypher(cypher)
        df = compile_query(graph, ast, prm)
        with run.tracer.span("execute.collect"):
            df.collect()


class Client:
    """The writer's view: which keys are alive and what it has written."""

    def __init__(self, run, root: str, graph, persons: int, edges: int,
                 protected=()):
        self.run = run
        self.root = root
        self.graph = graph
        self.amplification: list = []
        self.protected = set(protected)       # never deleted
        self.alive = list(range(persons))
        self.next_key = persons
        self.next_eid = edges

    def batch(self) -> dict:
        rng = self.run.rng
        new = self.next_key
        self.next_key += 1
        while True:
            picks = rng.choice(len(self.alive), size=4, replace=False)
            friend, set_a, set_b, victim = (self.alive[i] for i in picks)
            if victim not in self.protected:
                break
        self.alive.remove(victim)
        self.alive.append(new)
        eid = self.next_eid
        self.next_eid += 1
        return {
            "create": {"k": new, "name": f"n{new}", "age": int(rng.integers(18, 80)),
                       "city": str(rng.choice(inputs.CITIES))},
            "edge": {"a": new, "b": friend, "e": eid,
                     "s": int(rng.integers(2000, 2025)), "w": float(rng.random())},
            "set": {"ks": [set_a, set_b], "age": int(rng.integers(18, 80))},
            "delete": {"ks": [victim]},
        }

    def commit(self, b: dict) -> int:
        from rust_graph_db_spark.storage import save_graph

        run, graph = self.run, self.graph
        statement(run, graph, "CREATE (p:Person {key: $k, name: $name, "
                  "age: $age, city: $city})", b["create"])
        statement(run, graph, "MATCH (a:Person {key: $a}), (b:Person {key: $b}) "
                  "CREATE (a)-[:KNOWS {eid: $e, since: $s, weight: $w}]->(b)",
                  b["edge"])
        statement(run, graph, "MATCH (p:Person) WHERE p.key IN $ks "
                  "SET p.age = $age", b["set"])
        statement(run, graph, "MATCH (p:Person) WHERE p.key IN $ks "
                  "DETACH DELETE p", b["delete"])
        with run.tracer.span("storage.save") as attrs:
            version = save_graph(graph, self.root)
            attrs.update(self.staged(version))
        return version

    def staged(self, version: int) -> dict:
        """Bytes, files and label datasets the commit of ``version`` wrote."""
        from rust_graph_db_spark.storage import history

        manifest = next(m for m in history(self.root) if m["version"] == version)
        prefix = f"data/v{version:06d}-"
        rels = {rel for kind in ("vertices", "edges", "edges_by_dst")
                for rel in manifest.get(kind, {}).values()
                if rel.startswith(prefix)}
        size = files = 0
        for rel in rels:
            b, f = dir_bytes(os.path.join(self.root, rel))
            size, files = size + b, files + f
        return {"bytes_staged": size, "files_staged": files,
                "labels_rewritten": len(rels)}

    def verify(self, b: dict, version: int, parent: int) -> list:
        """Problems the freshly loaded snapshot shows after a commit."""
        from pyspark.sql import functions as F
        from rust_graph_db_spark.storage import current_version

        graph = self.graph
        problems = []
        if not version > parent or current_version(self.root) != version:
            problems.append(f"version {version} after {parent}")
        pid = graph.label_id("Person")
        keys = [b["create"]["k"], *b["set"]["ks"], *b["delete"]["ks"]]
        rows = {r["key"]: r for r in graph.vertex_frame("Person")
                .where(F.col("key").isin(keys))
                .select("key", "name", "age", "city").collect()}
        c = b["create"]
        got = rows.get(c["k"])
        if got is None or (got["name"], got["age"], got["city"]) != (
                c["name"], c["age"], c["city"]):
            problems.append(f"created person {c['k']}: {got}")
        for k in b["set"]["ks"]:
            if k not in rows or rows[k]["age"] != b["set"]["age"]:
                problems.append(f"set age on {k}: {rows.get(k)}")
        victim = b["delete"]["ks"][0]
        if victim in rows:
            problems.append(f"deleted person {victim} still present")
        vid = (pid << 48) | victim
        e = b["edge"]
        edges = (graph.edge_frame("KNOWS")
                 .where((F.col("eid") == e["e"]) | (F.col("src") == vid)
                        | (F.col("dst") == vid))
                 .select("eid", "src", "dst", "since").collect())
        if [(r["eid"], r["src"], r["dst"], r["since"]) for r in edges] != [
                (e["e"], (pid << 48) | e["a"], (pid << 48) | e["b"], e["s"])]:
            problems.append(f"edges after commit: {edges[:3]}")
        return problems


    def round(self, timed: bool) -> float:
        """One batch: the timed commit, then (untimed, returned as check
        seconds) a fresh load, the durability check and a vacuum that
        keeps the last two versions."""
        from rust_graph_db_spark.storage import current_version, load_graph, vacuum

        run = self.run
        parent = current_version(self.root)
        b = self.batch()
        rec, version = run.op("commit", lambda: self.commit(b), timed=timed)
        t0 = time.perf_counter()
        if rec["ok"]:
            with run.tracer.span("storage.load"):
                self.graph = load_graph(run.spark, self.root)
            problems = self.verify(b, version, parent)
            if problems:
                run.fail(rec, "; ".join(problems))
            user_bytes = len(json.dumps(b).encode())
            self.amplification.append(
                self.staged(version)["bytes_staged"] / user_bytes)
        else:                    # go on from the last published version
            self.graph = load_graph(run.spark, self.root)
        run.op("vacuum", lambda: vacuum(self.root, keep_last=2, spark=run.spark),
               span="storage.vacuum", timed=False)
        return time.perf_counter() - t0

    def amplifications(self) -> dict:
        """Median bytes staged per byte of user rows, and store bytes on
        disk per byte of the latest snapshot."""
        from rust_graph_db_spark.storage import history

        latest = history(self.root)[-1]
        snapshot = sum(dir_bytes(os.path.join(self.root, rel))[0]
                       for kind in ("vertices", "edges", "edges_by_dst")
                       for rel in set(latest.get(kind, {}).values()))
        amp = self.amplification          # empty if every commit failed
        return {"write_amplification": statistics.median(amp) if amp else None,
                "space_amplification": dir_bytes(self.root)[0] / snapshot}
