"""Seeded benchmark of the rust_graph_db_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Imports the package from the tree this file sits in (the parent of
``perfbench/``), runs one workload on ``local[<cpus>]`` with a single
closed-loop client, checks every output, and prints as its last line one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones named in
BENCHMARK.json, with ``--trace 1`` the per-layer ones. The line before it
starts with ``perfbench-report`` and carries the detail (imported package
file, workload-specific figures, errors). Scratch data lives under
``.perfbench/`` in the tree and is removed at exit; a traced run leaves
its spans in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("interactive_read", "batch_pipeline")


def driver_memory() -> str:
    """An eighth of physical memory, between 1 and 4 GiB: the machine
    is shared, and get_spark's own default is larger than many hosts."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    return f"{min(4096, max(1024, total_kb // 1024 // 8))}m"


def configure(work: str) -> None:
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = driver_memory()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def start_spark(work: str):
    import rust_graph_db_spark as rg

    return rg.get_spark("perfbench", **{
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        # keep every job and stage of a run for span attribution
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM this process started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def per_layer(run, spans: list) -> dict:
    from spans import layer_metrics

    out = layer_metrics(spans)
    for cls, v in run.report.get("read_p50_s_by_class", {}).items():
        out[f"read.{cls}.p50_s"] = v
    iters = out.get("graph_algos.pagerank_jobs")
    if iters is not None:
        import analytics
        out["graph_algos.pagerank_jobs_per_iter"] = iters / analytics.PAGERANK_ITERS
    for key in ("write_amplification", "space_amplification"):
        if run.report.get(key) is not None:
            out[f"storage.{key}"] = run.report[key]
    if "dedup.minhash_lsh_pairs.recall" in run.report:
        out["dedup.recall"] = run.report["dedup.minhash_lsh_pairs.recall"]
    out["trace.overhead_s"] = run.tracer.overhead_s / max(1, len(run.timed_ops()))
    return out


def named_figures(workload: str, run, e2e: dict) -> dict:
    """The end-to-end figures under their workload-specific names."""
    tail = run.report["op_tail"]
    fig = {"setup_s": (e2e["setup_s"], "s"),
           "spark_start_s": (run.report["spark_start_s"], "s"),
           "peak_rss_mb": (e2e["peak_rss_mb"], "MiB"),
           "ops_failed_ratio": (1.0 - e2e["ops_ok_ratio"], "ratio")}
    if workload == "interactive_read":
        fig["read_p50_s"] = (e2e["op_p50_s"], "s")
        fig["read_tail_s"] = (e2e["op_tail_s"], "s", tail)
    else:
        commits = sorted(r["lat"] for r in run.timed_ops()
                         if r["kind"] == "commit" and r["ok"])
        if commits:
            fig["commit_p50_s"] = (statistics.median(commits), "s")
            fig["commit_tail_s"] = (commits[-1], "s",
                                    {"percentile": 100.0, "n": len(commits)})
        fig["write_amplification"] = (run.report.get("write_amplification"), "ratio")
        fig["space_amplification"] = (run.report.get("space_amplification"), "ratio")
        fig["analytics_suite_s"] = (run.report["suite_s"], "s")
        fig["neardup_docs_per_s"] = (run.report.get("docs_per_s"), "1/s")
        fig["neardup_recall"] = (run.report.get("dedup.minhash_lsh_pairs.recall"),
                                 "ratio")
    return {k: {"value": v[0], "unit": v[1], **(v[2] if len(v) > 2 else {})}
            for k, v in fig.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "rust_graph_db_spark", "__init__.py")):
        print(f"perfbench: no rust_graph_db_spark package in {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    configure(work)
    sys.path.insert(0, ROOT)
    import rust_graph_db_spark
    from harness import Run
    from spans import Tracer
    import analytics
    import reads

    workload = {"interactive_read": reads.run_workload,
                "batch_pipeline": analytics.run_workload}[args.workload]
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        tracer = Tracer(spark.sparkContext)
        run = Run(spark, tracer, args.seed, work, args.seconds, bool(args.trace))
        run.report["spark_start_s"] = time.perf_counter() - t0
        workload(run)
        e2e = run.end_to_end(jvm.pid if jvm else None)
        spans = []
        if args.trace:
            tracer.attach_stage_metrics()
            spans = tracer.export()
            values = per_layer(run, spans)
        else:
            values = e2e
        report = {
            "workload": args.workload, "seed": args.seed,
            "package": rust_graph_db_spark.__file__,
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "driver_memory": os.environ["SPARK_DRIVER_MEM"],
            "measured_s": run.measured_s, **run.report,
            "figures": named_figures(args.workload, run, e2e),
            "errors": [f"{r['kind']}: {r['error']}" for r in run.ops
                       if not r["ok"]][:10],
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if spans:
        tdir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(spans, f)
    failed = sum(not r["ok"] for r in run.ops)
    metrics = {}
    for m in wanted:
        v = values.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": v if math.isfinite(v) else None,
                              "unit": m["unit"]}
    print("perfbench-report " + json.dumps(report, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": max(1, len(run.ops)),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
