"""Evidence for registry queries: Spark job counts, dumped plans and a
physical-plan audit.

Usage:
  python scripts/probe.py jobs  [sf_dir] query [query ...]
  python scripts/probe.py plans <out_dir> <suffix> [sf_dir] [query ...]
  python scripts/probe.py audit [sf_dir] [query ...]

jobs (default sf0.1) counts the Spark jobs a query costs end to end,
build plus count(). Eager builders (trainer loops, checkpoint pins) run
jobs while the DataFrame is CONSTRUCTED, which no explain output shows,
so this is the evidence for optimizations whose win is "fewer jobs".

plans (default sf0.01, every query) writes ``explain("formatted")`` to
<out_dir>/<query>_<suffix>.txt (suffix "before" / "after" for an
optimization round's evidence trail).

audit (default sf0.01, every query) prints, per query, the scan-level
evidence (PushedFilters / PartitionFilters / ReadSchema), the Exchange
count and the whole-stage-codegen span count, then the bucketed-store
check of SCALE.md §1: the reproducible form of SCALE.md's plan claims.

plans and audit build each query with AQE off, so the static plan shows
the real Exchange placement instead of one opaque AdaptiveSparkPlan node.
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__  # noqa: E402 — resolved from this tree
from rust_graph_db_spark import get_spark, probe  # noqa: E402

NO_AQE = {"spark.sql.adaptive.enabled": "false"}


def _sf_and_names(args, default_sf):
    if args and os.path.isdir(args[0]):
        return args[0], args[1:]
    return default_sf, args


def jobs(spark, args) -> None:
    sf_dir, names = _sf_and_names(args, "/root/testdata/sf0.1")
    qs = __spark_entry__.queries()
    for name in names:
        t0 = time.perf_counter()
        with probe.jobs(spark) as rec:
            n = qs[name](spark, sf_dir).count()
        dt = time.perf_counter() - t0
        print(f"{name}: {rec.n} jobs, {dt:.2f}s, {n} rows")


def plans(spark, args) -> None:
    out_dir, suffix = args[0], args[1]
    sf_dir, names = _sf_and_names(args[2:], "/root/testdata/sf0.01")
    qs = __spark_entry__.queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names or list(qs):
        try:
            with probe.conf(spark, **NO_AQE):
                text = probe.plan(qs[name](spark, sf_dir))
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                print(text, file=f)
            print(f"wrote {path}")
        except Exception as e:                      # noqa: BLE001
            print(f"== {name}: ERROR {e}")


def audit(spark, args) -> None:
    sf_dir, names = _sf_and_names(args, "/root/testdata/sf0.01")
    qs = __spark_entry__.queries()
    for name in names or list(qs):
        # ONE build per query: some builders run eager jobs (checkpoint
        # loops) or commit to a store, so they must not run twice per
        # audit row; explain("codegen") on the same frame reports the
        # WholeStage span count AQE's pre-execution plan hides
        try:
            with probe.conf(spark, **NO_AQE):
                df = qs[name](spark, sf_dir)
                plan = probe.plan(df)
                n_exchange = probe.exchanges(df)
                m = re.search(r"Found (\d+) WholeStageCodegen",
                              probe.plan(df, "codegen"))
            n_codegen = int(m.group(1)) if m else -1
        except Exception as e:                      # noqa: BLE001
            print(f"== {name}: ERROR {e}")
            continue
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        part = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        schemas = re.findall(r"ReadSchema: (\S+)", plan)
        n_bnlj = len(re.findall(r"BroadcastNestedLoopJoin", plan))
        n_cart = len(re.findall(r"CartesianProduct", plan))
        print(f"== {name}")
        print(f"   exchanges={n_exchange} codegen_spans={n_codegen} "
              f"nested_loop={n_bnlj} cartesian={n_cart}")
        for s in schemas[:4]:
            print(f"   ReadSchema {s[:100]}")
        for p in [x for x in pushed if x][:4]:
            print(f"   PushedFilters [{p[:100]}]")
        for p in [x for x in part if x][:4]:
            print(f"   PartitionFilters [{p[:100]}]")

    _audit_bucketed_store(spark, sf_dir)


def _audit_bucketed_store(spark, sf_dir: str) -> None:
    """Reproduce the SCALE.md §1 bucketed-store claim: the expand join
    off a `save_graph(buckets=N)` snapshot is Exchange-free, and the
    full 1-hop Cypher plan drops from 4 Exchanges (unbucketed, no
    broadcast) to 1 — the structural minimum for the V⋈E⋈V chain,
    whose intermediate must be re-keyed from src to dst."""
    import tempfile

    from rust_graph_db_spark.graphs import knows_graph
    from rust_graph_db_spark.storage import load_graph, save_graph

    g = knows_graph(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="plan_audit_store_") + "/store"
    save_graph(g, root, buckets=8)
    gb = load_graph(spark, root)
    q = ("MATCH (a:Person)-[r:KNOWS]->(b:Person) WHERE r.since = 2021 "
         "RETURN a.name AS an, b.name AS bn")
    with probe.conf(spark, **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        v, e = gb.vertex_frame("Person"), gb.edge_frame("KNOWS")
        n_raw = probe.exchanges(e.join(v, e["src"] == v["id"]))
        print("== bucketed_store (save_graph(buckets=8) -> load_graph)")
        print(f"   raw expand join exchanges={n_raw}"
              " (bucketed SMJ; 0 = co-located)")
        print(f"   1-hop cypher exchanges: "
              f"bucketed={probe.exchanges(gb.cypher(q))} "
              f"unbucketed={probe.exchanges(g.cypher(q))}")


COMMANDS = {"jobs": jobs, "plans": plans, "audit": audit}


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in COMMANDS:
        sys.exit(__doc__)
    COMMANDS[sys.argv[1]](get_spark("probe"), sys.argv[2:])


if __name__ == "__main__":
    main()
