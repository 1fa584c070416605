"""Run state shared by the workloads: operation records, the closed
loop, set-up repetitions and the end-to-end figures."""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

import numpy as np

SETUP_REPS = 3


def dir_bytes(path: str) -> tuple:
    """(bytes, files) under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for name in names:
            size += os.path.getsize(os.path.join(root, name))
            files += 1
    return size, files


def peak_rss_mb(jvm_pid) -> float:
    """Peak resident memory of this process plus the Spark JVM (Linux
    VmHWM), in MiB."""
    total_kb = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except FileNotFoundError:
            pass
    return total_kb / 1024.0


class Run:
    """One benchmark run: Spark session, tracer, seeded RNG, scratch
    directory and the records of every operation."""

    def __init__(self, spark, tracer, seed: int, work: str, seconds: float,
                 trace: bool):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        # operation parameters; inputs come from input_rng()
        self.rng = np.random.default_rng([seed, 1])
        self.work = work
        self.seconds = seconds
        self.trace = trace
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        self.ops: list[dict] = []
        self.setup_samples: list[float] = []
        self.measured_s = 0.0
        self.report: dict = {}

    def input_rng(self):
        """A fresh generator for the inputs: every set-up repetition
        regenerates the same inputs from the seed."""
        return np.random.default_rng(self.seed)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def setup(self, build):
        """Run ``build(rep)`` SETUP_REPS times, recording each duration;
        returns the last result. The first repetition also absorbs the
        JVM's class loading and JIT, so the median reflects steady
        set-up cost."""
        result = None
        self.tracer.enabled = self.trace
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            with self.tracer.span("setup"):
                result = build(rep)
            self.setup_samples.append(time.perf_counter() - t0)
        self.tracer.enabled = False
        return result

    def op(self, kind: str, fn, span: str = None, timed: bool = True):
        """Run one operation; an exception marks it failed and the run
        goes on. Returns the record (``ok``, ``lat``, ``error``) and the
        function's result (None on failure)."""
        rec = {"kind": kind, "timed": timed}
        result = None
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span or f"op.{kind}") as attrs:
                result = fn()
                if isinstance(result, list):
                    attrs["rows_out"] = len(result)
            rec["ok"] = True
        except Exception as exc:          # one failed op must not end the run
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {exc}"[:400]
            traceback.print_exc(file=sys.stderr)
        rec["lat"] = time.perf_counter() - t0
        self.ops.append(rec)
        return rec, result

    @staticmethod
    def fail(rec: dict, why: str) -> None:
        """Mark an operation failed by an output check."""
        if rec["ok"]:
            rec["ok"] = False
            rec["error"] = f"check: {why}"[:400]

    def closed_loop(self, round_fn) -> None:
        """One client: run whole rounds back to back until ``seconds``
        have passed. ``round_fn`` returns the seconds it spent on output
        checks, which are not part of the measured time."""
        t0 = time.perf_counter()
        checks = 0.0
        rounds = 0
        self.tracer.enabled = self.trace
        while self.measured_s < self.seconds:
            checks += round_fn(rounds) or 0.0
            rounds += 1
            self.measured_s = time.perf_counter() - t0 - checks
        self.tracer.enabled = False
        self.report["rounds"] = rounds

    def timed_ops(self) -> list:
        return [r for r in self.ops if r["timed"]]

    def end_to_end(self, jvm_pid) -> dict:
        timed = self.timed_ops()
        ok = [r["lat"] for r in timed if r["ok"]]
        # A percentile with ten samples beyond it lies above the median
        # only from 22 samples on; a run yields 14-21 queries or one
        # pass, so the tail is the slowest operation, reported with n.
        self.report["op_tail"] = {"percentile": 100.0, "n": len(ok)}
        self.report["setup_samples_s"] = self.setup_samples
        return {
            # Spark starts once per process: a single sample that swung
            # 5-11 s with host load, so it is reported apart
            "setup_s": statistics.median(self.setup_samples),
            "op_p50_s": statistics.median(ok) if ok else float("nan"),
            "op_tail_s": max(ok) if ok else float("nan"),
            "ops_per_s": len(ok) / self.measured_s if self.measured_s else 0.0,
            "peak_rss_mb": peak_rss_mb(jvm_pid),
            "ops_ok_ratio": (sum(r["ok"] for r in self.ops) / len(self.ops)
                             if self.ops else 0.0),
        }
