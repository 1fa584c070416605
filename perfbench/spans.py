"""In-memory spans around calls into the engine's layers.

A span records its name, start, end and parent. While a span is the
innermost open one, every Spark job the driver submits carries that
span's job group, so stage metrics (tasks, executor CPU, shuffle and
spill bytes) are attributed to the span after the run. Spans are kept
in memory and read out once, when the measured loop has ended.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

STAGE_FIELDS = ("tasks", "cpu_ns", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes")


class Tracer:
    """Span recorder bound to one SparkContext.

    ``enabled`` is switched by the caller: a disabled tracer records
    nothing and makes no JVM call, so untraced operations pay nothing.
    ``overhead_s`` sums the time spent opening and closing spans, which
    is what tracing adds to a timed operation (the stage metrics are
    read after the loop).
    """

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.overhead_s = 0.0
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        t0 = time.perf_counter()
        rec = {"id": len(self.spans) + len(self._open), "name": name,
               "parent": self._open[-1]["id"] if self._open else None,
               "attrs": attrs}
        rec["group"] = f"perfbench-{rec['id']}"
        self.sc.setJobGroup(rec["group"], name)
        self._open.append(rec)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield attrs
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            if self._open:
                outer = self._open[-1]
                self.sc.setJobGroup(outer["group"], outer["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - rec["end"]

    def attach_stage_metrics(self) -> None:
        """Give every span the jobs and stage metrics of its own group.

        Waits for the listener bus first: stage metrics reach the status
        store asynchronously after an action returns."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            jobs = list(tracker.getJobIdsForGroup(rec["group"]))
            m = dict.fromkeys(STAGE_FIELDS, 0)
            m["jobs"], m["stages"] = len(jobs), 0
            for job in jobs:
                info = tracker.getJobInfo(job)
                for stage in (info.stageIds if info else ()):
                    try:
                        sd = store.lastStageAttempt(stage)
                    except Exception:      # py4j: stage evicted or skipped
                        continue
                    done = sd.numCompleteTasks()
                    if not done:
                        continue           # skipped: shuffle output reused
                    m["stages"] += 1
                    m["tasks"] += done
                    m["cpu_ns"] += sd.executorCpuTime()
                    m["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    m["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    m["spill_bytes"] += (sd.memoryBytesSpilled()
                                         + sd.diskBytesSpilled())
            rec["own"] = m

    def export(self) -> list[dict]:
        """Spans as plain records with self time (duration minus the
        part covered by child spans) and subtree totals."""
        children: dict = {}
        for rec in self.spans:
            children.setdefault(rec["parent"], []).append(rec)
        by_id = {rec["id"]: rec for rec in self.spans}

        def subtree(rec: dict) -> dict:
            tot = dict(rec.get("own", {}))
            for ch in children.get(rec["id"], ()):
                for k, v in subtree(ch).items():
                    tot[k] = tot.get(k, 0) + v
            return tot

        out = []
        for rec in sorted(self.spans, key=lambda r: r["start"]):
            dur = rec["end"] - rec["start"]
            covered = sum(ch["end"] - ch["start"]
                          for ch in children.get(rec["id"], ()))
            out.append({"id": rec["id"], "name": rec["name"],
                        "parent": rec["parent"],
                        "parent_name": (by_id[rec["parent"]]["name"]
                                        if rec["parent"] is not None else None),
                        "start": rec["start"], "end": rec["end"],
                        "dur_s": dur, "self_s": dur - covered,
                        "own": rec.get("own", {}), "total": subtree(rec),
                        **rec["attrs"]})
        return out


def layer_metrics(spans: list[dict]) -> dict:
    """Per-layer figures from exported spans.

    Times are medians per span of that name; counts are means per span
    (a run's operation count varies with machine speed, a per-call
    figure does not)."""
    by_name: dict = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    out: dict = {}

    def med(name: str, key: str = "dur_s"):
        vals = [s[key] for s in by_name.get(name, ()) if key in s]
        return statistics.median(vals) if vals else None

    def mean(name: str, key: str, part: str = "own"):
        vals = [s[part].get(key, 0) for s in by_name.get(name, ())]
        return sum(vals) / len(vals) if vals else None

    def put(metric: str, value) -> None:
        if value is not None:
            out[metric] = value

    put("parser.parse_s", med("parser.parse"))
    put("compiler.compile_s", med("compiler.compile"))
    put("compiler.build_jobs", mean("compiler.compile", "jobs"))
    put("execute.collect_s", med("execute.collect"))
    ex = by_name.get("execute.collect", ())
    if ex:
        tot = {k: sum(s["own"].get(k, 0) for s in ex)
               for k in ("jobs", "stages", *STAGE_FIELDS)}
        n = len(ex)
        for k in ("jobs", "stages", "tasks", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            out[f"execute.{k}"] = tot[k] / n
        out["execute.executor_cpu_s"] = tot["cpu_ns"] / 1e9 / n
        out["execute.cpu_per_task_ms"] = (tot["cpu_ns"] / 1e6 / tot["tasks"]
                                          if tot["tasks"] else 0.0)
        out["execute.tasks_per_job"] = (tot["tasks"] / tot["jobs"]
                                        if tot["jobs"] else 0.0)
    for algo in ("pagerank", "connected_components", "k_core"):
        name = f"graph_algos.{algo}"
        put(f"{name}_s", med(name))
        put(f"{name}_jobs", mean(name, "jobs", "total"))
        put(f"{name}_shuffle_bytes",
            mean(name, "shuffle_write_bytes", "total"))
    put("graph_algos.duplicate_clusters_s", med("graph_algos.duplicate_clusters"))
    put("traversal.bfs_s", med("traversal.bfs"))
    put("traversal.bfs_jobs", mean("traversal.bfs", "jobs", "total"))
    for op in ("exact_dedup", "minhash_lsh_pairs", "ngram_jaccard_pairs"):
        name = f"dedup.{op}"
        put(f"{name}_s", med(name))
        put(f"{name}_jobs", mean(name, "jobs", "total"))
        put(f"{name}_pairs_out", med(name, "rows_out"))
    put("dml.apply_s", med("dml.apply"))
    put("dml.apply_jobs", mean("dml.apply", "jobs"))
    put("storage.save_s", med("storage.save"))
    put("storage.load_s", med("storage.load"))
    put("storage.vacuum_s", med("storage.vacuum"))
    for k in ("bytes_staged", "files_staged", "labels_rewritten"):
        put(f"storage.{k}", med("storage.save", k))
    return out
